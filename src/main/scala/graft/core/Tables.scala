package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Loaders for the driver-generated testdata tables (repo:TESTDATA.md).
  *
  * Each table is a single parquet directory/file under the scale-factor dir.
  * All engine operators are pure `DataFrame => DataFrame` functions; these
  * loaders are the only place that touches paths, mirroring the reference's
  * path registry (reference jobs/common.py:13-19) but parameterized so the
  * same queries run at any scale factor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftConf.ensure(spark)
    spark.read.parquet(s"$dir/$name.parquet")
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
