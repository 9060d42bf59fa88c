package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-if-absent stored indexes: tables derived from a corpus, persisted
  * once and reused across sessions and JVMs while the corpus content is
  * unchanged (a real deployment writes them next to the corpus and keys
  * them by the table format's snapshot id).
  *
  *  - Location: `java.io.tmpdir/graft_<family>_<pathKey(dir)>[suffix]/<table>`,
  *    always a LOCAL path, so java.nio reads and writes the marker.
  *  - Stamp: the build params plus an order-independent content hash of
  *    the source, `count` and the exact `sum(xxhash64(key, payload))`
  *    from ONE aggregate (a single corpus scan). A regenerated corpus at
  *    the same path and cardinality invalidates the index.
  *  - Stamp memo: a source's (rows, fp) is computed once per session and
  *    reused while its key holds: the source's canonical plan (equal keys
  *    are exactly the plans `sameSemantics` calls equal, hashed by their
  *    `semanticHash`), the key and payload columns, and the (path, size,
  *    mtime) of every file in `source.inputFiles` ([[Tables.versions]]).
  *    So a repeat probe of an unchanged corpus runs no stamp scan, two
  *    families over one source share one scan, a differently filtered
  *    source gets its own, and a rewritten corpus is scanned afresh. A
  *    nondeterministic source is never memoized. The memo is a
  *    [[SessionMemo]] slot, so `SessionMemo.release()` drops it.
  *  - Marker: `_GRAFT_INDEX`, the stamp line followed by optional
  *    `name=Long` metadata lines. An index is current iff the first line
  *    of its marker is the stamp.
  *  - Publish: a build is a [[Publish]] whose last step writes the marker,
  *    under the same [[Publish.exclusive]] as the stamp check, so two JVMs
  *    sharing a tmpdir (Verify and Bench) never swap each other's index out.
  */
object StoredIndex {

  val Marker = "_GRAFT_INDEX"

  /** Collision-resistant path key for per-corpus index locations: SHA-256
    * of the corpus dir, truncated to 16 hex chars (64 bits — collisions
    * astronomically unlikely, and a collision is caught by the content
    * stamp at the cost of a rebuild, never a wrong answer).
    */
  def pathKey(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** The published location of `family`'s index over the corpus at `dir`. */
  def location(family: String, dir: String, suffix: String = ""): Path =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${family}_${pathKey(dir)}$suffix")

  /** A published index: its parquet tables and the metadata its build
    * recorded. */
  final class Index private[StoredIndex] (s: SparkSession, root: Path,
                                          val meta: Map[String, Long]) {
    def apply(table: String): DataFrame = Tables.parquet(s, root.resolve(table).toString)
  }

  /** A build in progress: where to write each table, the source row count
    * the stamp measured, and metadata to record in the marker. */
  final class Build private[StoredIndex] (root: org.apache.hadoop.fs.Path, val rows: Long) {
    private[StoredIndex] val meta = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def path(table: String): String = new org.apache.hadoop.fs.Path(root, table).toString
    def record(name: String, value: Long): Unit = meta(name) = value
  }

  /** The index `family` over `source` (the corpus at `dir`), built by
    * `build` unless a current one is already published. `params` names
    * every build knob that is not derived from the source content. */
  def apply(family: String, params: String, dir: String, source: DataFrame,
            key: String, payload: String, suffix: String = "")
           (build: Build => Unit): Index = {
    val live = location(family, dir, suffix)
    val s = source.sparkSession
    val (rows, fp) = contentStamp(source, key, payload)
    val stamp = s"$params rows=$rows fp=$fp src=$dir"
    current(s, live, stamp).getOrElse(Publish.exclusive(s, live.toString) {
      current(s, live, stamp).getOrElse(Publish.swap(s, live.toString) { staging =>
        val b = new Build(staging, rows)
        build(b)
        val root = Files.createDirectories(Paths.get(staging.toUri))
        Files.write(root.resolve(Marker),
          (stamp +: b.meta.map { case (k, v) => s"$k=$v" }.toSeq).mkString("\n").getBytes(UTF_8))
        new Index(s, live, b.meta.toMap)
      })
    })
  }

  private val stamps = SessionMemo[ConcurrentHashMap[AnyRef, (Long, Any)]]()

  /** `source`'s (count, exact hash sum) stamp, through the stamp memo. */
  private def contentStamp(source: DataFrame, key: String, payload: String): (Long, Any) = {
    def scan(): (Long, Any) = {
      // the hash sum is exact (decimal), so no session's overflow mode matters
      val row = source.agg(count(lit(1)),
        sum(xxhash64(col(key), col(payload)).cast("decimal(38,0)"))).first()
      (row.getLong(0), row.get(1))
    }
    val plan = source.queryExecution.analyzed
    if (!plan.deterministic) scan()
    else {
      val s = source.sparkSession
      val memo = stamps(s, "")(new ConcurrentHashMap[AnyRef, (Long, Any)]())
      val files = source.inputFiles.toSeq.map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)))
      val k = (plan.canonicalized, key, payload, Tables.versions(s, files))
      Option(memo.get(k)).getOrElse { val v = scan(); memo.put(k, v); v }
    }
  }

  private def current(s: SparkSession, live: Path, stamp: String): Option[Index] = {
    val lines =
      try new String(Files.readAllBytes(live.resolve(Marker)), UTF_8).split("\n").toSeq
      catch { case _: NoSuchFileException => Nil }
    if (!lines.headOption.contains(stamp)) None
    else Some(new Index(s, live, lines.tail.map { l =>
      val Array(k, v) = l.split("=", 2)
      k -> v.toLong
    }.toMap))
  }
}
