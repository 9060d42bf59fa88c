package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.{Climate, ClimateFixture}
import graft.sources.Sinks

/** `Sinks.singleFileCsv` against the reference's `coalesce(1)` export:
  * the same bytes in the one `.csv` file, and an atomic publish.
  */
class CsvExportSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's export (jobs/03_silver_to_gold.py:5-17), the parity
    * reference for the parallel one. */
  private def coalescedCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("delimiter", ",")
      .option("encoding", "UTF-8")
      .csv(path)

  /** The bytes of the one `.csv` file in `dir`. */
  private def csvBytes(dir: Path): Array[Byte] = {
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, s"$dir holds ${files.length} .csv files")
    Files.readAllBytes(files.head.toPath)
  }

  /** Export `df` both ways and compare; also checks no staging is left. */
  private def assertParity(df: DataFrame, what: String): Unit = {
    val dir = Files.createTempDirectory("graft_csv_parity")
    coalescedCsv(df, dir.resolve("reference").toString)
    Sinks.singleFileCsv(df, dir.resolve("parallel").toString)
    val want = csvBytes(dir.resolve("reference"))
    val got = csvBytes(dir.resolve("parallel"))
    assert(got.sameElements(want),
      s"$what: ${got.length} bytes vs the reference's ${want.length}:\n" +
        new String(got.take(400), "UTF-8"))
    assert(dir.toFile.list().sorted.toSeq == Seq("parallel", "reference"))
  }

  test("parity: the fixture's four gold tables") {
    val (b, st) = ClimateFixture.default
    val g = Climate.run(spark, b, st)
    try Seq("kpis" -> g.kpis, "dim" -> g.stationsDim, "fact" -> g.fact,
        "extremes" -> g.extremes).foreach { case (t, df) => assertParity(df, t) }
    finally g.lineage.unpersist(blocking = true)
  }

  test("parity: an empty DataFrame (no partitions) is a header-only file") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(empty.rdd.getNumPartitions == 0)
    assertParity(empty, "empty")
  }

  test("parity: a frame whose partition 0 is empty") {
    val df = spark.range(0, 100, 1, 4).filter(col("id") >= 25)
      .withColumn("s", concat(lit("v"), col("id").cast("string")))
    assert(df.rdd.mapPartitionsWithIndex((i, it) => Iterator(i -> it.size)).collect()
      .toSeq == Seq(0 -> 0, 1 -> 25, 2 -> 25, 3 -> 25))
    assertParity(df, "partition 0 empty")
  }

  test("parity: strings holding a comma, a quote and a newline") {
    val rows = Seq((1, "a,b"), (2, "say \"hi\""), (3, "two\nlines"), (4, "plain"),
      (5, "all \"three\",\nat once"), (6, ""))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("id", "s")
    assertParity(df, "quoting")
  }

  test("a failing export leaves the previous export intact and no staging") {
    val dir = Files.createTempDirectory("graft_csv_atomic")
    val live = dir.resolve("out")
    val df = spark.range(0, 100, 1, 4).withColumn("s", col("id").cast("string"))
    Sinks.singleFileCsv(df, live.toString)
    val before = csvBytes(live)
    val listing = live.toFile.list().sorted.toSeq
    val boom = df.withColumn("s",
      when(col("id") === 77, raise_error(lit("boom"))).otherwise(col("s")))
    val e = intercept[Exception](Sinks.singleFileCsv(boom, live.toString))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e.toString)
    assert(csvBytes(live).sameElements(before))
    assert(live.toFile.list().sorted.toSeq == listing)
    assert(dir.toFile.list().toSeq == Seq("out"), "a staging directory was left behind")
  }
}
