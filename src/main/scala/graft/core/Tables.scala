package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.sources.BaseRelation

/** Loaders for the driver-generated testdata tables (repo:TESTDATA.md).
  *
  * Each table is a single parquet directory/file under the scale-factor dir.
  * All engine operators are pure `DataFrame => DataFrame` functions; these
  * loaders are the only place that touches paths, mirroring the reference's
  * path registry (reference jobs/common.py:13-19) but parameterized so the
  * same queries run at any scale factor.
  *
  * '''Table catalog.''' Every load, and every stored-index table read
  * ([[StoredIndex.Index]]), goes through [[parquet]], which resolves each
  * (session, path) once instead of on every call:
  *
  *  - Cached: the resolved `HadoopFsRelation` — the file listing and the
  *    footer schema, never data. Resolving it is a listing plus a
  *    footer-inference Spark job; a cached load runs no job.
  *  - Validity key: the (path, size, mtime) of every file under the path
  *    ([[versions]]). Each call re-lists the path (one stat for a
  *    single-file table) and re-resolves on any difference, so a table
  *    rewritten in place, at the same row count or not, is read fresh and
  *    a load never hands out a listing of deleted files. Session confs are
  *    not part of the key: the one conf the engine sets that changes a
  *    resolved schema, the nanos flag of [[events]], concerns only
  *    `events` and is set before its first resolution.
  *  - Fresh ids: each call wraps the relation in a new `LogicalRelation`
  *    (`baseRelationToDataFrame`, which is what `spark.read.parquet` does),
  *    so two loads of one table have disjoint attribute ids and self-joins
  *    resolve as before.
  *  - Release: the entries live in one [[SessionMemo]] slot, so a new
  *    session resolves its own relations and `SessionMemo.release()` drops
  *    them all.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftConf.ensure(spark)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** A resolved relation and the file versions it was resolved against. */
  private final case class Entry(files: Seq[(String, Long, Long)], rel: BaseRelation)

  // one path -> entry map per session (the memo's dir key is not used)
  private val catalog = SessionMemo[ConcurrentHashMap[String, Entry]]()

  /** The parquet table at `path`, resolved through the session catalog. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val entries = catalog(spark, "")(new ConcurrentHashMap[String, Entry]())
    // listed before resolving: a change that races the resolution leaves
    // the entry keyed by the older listing, so the next call re-resolves
    val files = versions(spark, Seq(new Path(path)))
    val rel = Option(entries.get(path)).filter(_.files == files).map(_.rel).getOrElse {
      val r = spark.read.parquet(path).queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l.relation }.get
      entries.put(path, Entry(files, r))
      r
    }
    spark.baseRelationToDataFrame(rel)
  }

  /** (path, size, mtime) of every file under `paths`, sorted: a file
    * stands for itself, a directory for its files at any depth, and a
    * missing path contributes nothing. */
  def versions(spark: SparkSession, paths: Seq[Path]): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else s.getPath.getFileSystem(conf).listStatus(s.getPath).toSeq.flatMap(walk)
    paths.flatMap { p =>
      try walk(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => Nil }
    }.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** events.parquet has shipped with different physical types for `ts`
    * across testdata generations; normalize all of them to a session-tz
    * TimestampType so every downstream operator sees one stable schema:
    *
    *   - TIMESTAMP(NANOS): Spark 4 rejects it by default — read as long via
    *     the legacy conf, then floor-divide to microseconds (integer `div`,
    *     not `/` — double division loses precision at 1.7e18 ns). This is
    *     exactly what DuckDB's µs-precision TIMESTAMP does with the same
    *     file, so oracle comparisons line up.
    *   - TIMESTAMP(µs, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *     cast to TimestampType (wall-clock interpreted in the session tz,
    *     UTC here — same instants DuckDB's naive TIMESTAMP yields).
    *   - TIMESTAMP(µs, adjusted): already TimestampType — pass through.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Name-dispatching loader that applies per-table normalization —
    * currently just `events`' TIMESTAMP(NANOS) handling. This is the loader
    * harnesses (Harness.warmUp, registerAll) must use when walking
    * [[names]] generically: a raw `load` of `events` throws
    * PARQUET_TYPE_ILLEGAL before the nanos conf is set.
    */
  def loadNormalized(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else load(spark, dir, name)

  /** Register every testdata table as a temp view so ad-hoc ANSI SQL runs
    * directly via `spark.sql(...)` — the engine's SQL entry point (the
    * DataFrame registry and Spark SQL share Catalyst, so plans and
    * results are identical; SqlSpec pins that). `events` goes through the
    * nanos-normalizing loader above.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(t => loadNormalized(spark, dir, t).createOrReplaceTempView(t))
}
