package graft

import java.io.IOException
import java.net.URI
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under the `failfs` scheme, whose renames throw
  * while [[FailingRenameFs.failing]] says so. */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (FailingRenameFs.fails(src, dst)) throw new IOException(s"injected: rename $src to $dst")
    else super.rename(src, dst)
}

object FailingRenameFs {
  @volatile private var fails: (Path, Path) => Boolean = (_, _) => false

  /** `failfs://` plus the local `dir`, with the scheme registered (uncached,
    * so no instance outlives a test). */
  def under(spark: SparkSession, dir: java.nio.file.Path): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailingRenameFs].getName)
    conf.set("fs.failfs.impl.disable.cache", "true")
    s"failfs://${dir.toAbsolutePath}"
  }

  /** Runs `body` with every rename whose (source, target) `rule` accepts failing. */
  def failing[T](rule: (Path, Path) => Boolean)(body: => T): T = {
    fails = rule
    try body finally fails = (_, _) => false
  }

  /** A rename that moves a path out of a `*.staging` directory: a publish's
    * last step. Spark's own commit renames stay inside it. */
  def outOfStaging(src: Path, dst: Path): Boolean = inStaging(src) && !inStaging(dst)

  private def inStaging(p: Path): Boolean =
    Iterator.iterate(p)(_.getParent).takeWhile(_ != null).exists(_.getName.endsWith(".staging"))
}
