package graft.core

import java.io.IOException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}
import java.nio.file.StandardOpenOption.{CREATE, READ, WRITE}
import java.util.UUID
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one way a persisted directory replaces its previous version, on any
  * Hadoop file system: `write` fills a hidden staging sibling, then two
  * renames swap it in (live aside to `.<name>.<uuid>.old`, staging into
  * place). On any failure the previous version is kept: renamed back, or
  * left aside and named in the exception (SCALE.md). Staging never stays.
  */
object Publish {

  /** Publish what `write` writes into the path it is given at `path`, holding [[exclusive]]. */
  def apply[T](s: SparkSession, path: String)(write: Path => T): T =
    exclusive(s, path)(swap(s, path)(write))

  /** [[apply]] for a caller that already holds [[exclusive]]. */
  private[core] def swap[T](s: SparkSession, path: String)(write: Path => T): T = {
    val live = qualified(s, path)
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    def sibling(what: String) = new Path(live.getParent, s".${live.getName}.${UUID.randomUUID}.$what")
    val (staging, old) = (sibling("staging"), sibling("old"))
    try {
      val out = write(staging)
      val aside = fs.exists(live)
      if (aside && !fs.rename(live, old)) throw new IOException(s"cannot move $live aside")
      val put = Try(fs.rename(staging, live))
      if (!put.getOrElse(false)) {
        // a rename onto an existing directory would move `old` into it
        val back = !aside || (!fs.exists(live) && Try(fs.rename(old, live)).getOrElse(false))
        throw new IOException(s"cannot publish $live" +
          (if (back) "" else s"; its previous version is left at $old"), put.failed.toOption.orNull)
      }
      fs.delete(old, true)
      out
    } finally fs.delete(staging, true)
  }

  private val monitors = new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]()

  /** Run `body` holding the publish lock of `path`: a JVM monitor per qualified
    * path (a FileChannel lock is held per process), plus on a local file system
    * a `.<name>.lock` file lock, deleted on release. */
  def exclusive[T](s: SparkSession, path: String)(body: => T): T = {
    val live = qualified(s, path)
    monitors.computeIfAbsent(live, _ => new Object).synchronized {
      if (live.toUri.getScheme != "file") body
      else {
        val lock = Files.createDirectories(Paths.get(live.getParent.toUri)).resolve(s".${live.getName}.lock")
        val chs = locked(lock)
        try body finally try Files.deleteIfExists(lock) finally chs.foreach(_.close())
      }
    }
  }

  /** Channels holding the lock of the file at `f`. A waiter may wake holding
    * a file its holder deleted, so it writes a token and reads it back through
    * `f`. That second channel stays open while the lock is held: closing any
    * channel of a file drops the process's POSIX locks on it. */
  @annotation.tailrec
  private def locked(f: java.nio.file.Path): Seq[FileChannel] = {
    val ch = FileChannel.open(f, CREATE, WRITE)
    val token = UUID.randomUUID.toString.getBytes("UTF-8")
    ch.lock(); ch.write(ByteBuffer.wrap(token), 0)
    val back = Try(FileChannel.open(f, READ)).toOption
    val read = ByteBuffer.allocate(token.length)
    if (back.exists(_.read(read, 0) == token.length) && read.array.sameElements(token)) ch +: back.toSeq
    else { (ch +: back.toSeq).foreach(_.close()); locked(f) }
  }

  private def qualified(s: SparkSession, path: String): Path =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(new Path(path))
}
