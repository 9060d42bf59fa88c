package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** `core.Publish` through the sinks that use it: a failed write or a
  * failed final rename leaves the previous version at the path readable
  * and byte-for-byte unchanged with no sibling left, and concurrent
  * publishes of one path each succeed with one writer's output last. */
class PublishSpec extends SparkSpec {

  /** Every file under `dir`, by relative path, with its bytes. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).orderBy("id").collect().map(_.toString).toSeq

  private val df = spark.range(0, 100, 1, 4).withColumn("s", col("id").cast("string"))
  private val next = df.withColumn("s", concat(col("s"), lit("'")))

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq

  test("a parquet write that fails mid-job leaves the previous table readable and unchanged") {
    val dir = Files.createTempDirectory("graft_publish_pq")
    val live = dir.resolve("t").toString
    Sinks.parquetOverwrite(df, live)
    val (before, published) = (snapshot(dir), rows(live))
    val boom = next.withColumn("s",
      when(col("id") === 77, raise_error(lit("boom"))).otherwise(col("s")))
    val e = intercept[Exception](Sinks.parquetOverwrite(boom, live))
    assert(causes(e).exists(_.contains("boom")), e.toString)
    assert(rows(live) == published)
    assert(snapshot(dir) == before, "the table's files changed or a sibling was left")
    assert(dir.toFile.list().toSeq == Seq("t"))
  }

  /** Publishes `df` then `next` at a `failfs` path in a fresh directory
    * with the final renames failing by `rule`; returns the directory, what
    * it held before the second publish and the second publish's error. */
  private def failedRename(write: (DataFrame, String) => Unit,
                           rule: (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) => Boolean)
      : (Path, Map[String, Seq[Byte]], Throwable) = {
    val dir = Files.createTempDirectory("graft_publish_fs")
    val live = FailingRenameFs.under(spark, dir) + "/out"
    write(df, live)
    val before = snapshot(dir)
    val e = intercept[java.io.IOException](FailingRenameFs.failing(rule)(write(next, live)))
    (dir, before, e)
  }

  test("a failed final rename restores the previous CSV export byte-for-byte") {
    val (dir, before, e) = failedRename(Sinks.singleFileCsv, FailingRenameFs.outOfStaging)
    assert(snapshot(dir) == before)
    assert(e.getMessage.contains("cannot publish"), e.toString)
    assert(dir.toFile.list().toSeq == Seq("out"), "a sibling was left behind")
  }

  test("a failed final rename restores the previous parquet table") {
    val (dir, before, e) = failedRename(Sinks.parquetOverwrite, FailingRenameFs.outOfStaging)
    assert(snapshot(dir) == before)
    assert(e.getMessage.contains("cannot publish"), e.toString)
    assert(rows(dir.resolve("out").toString) == df.orderBy("id").collect().map(_.toString).toSeq)
    assert(dir.toFile.list().toSeq == Seq("out"), "a sibling was left behind")
  }

  test("when the move back fails too, the previous version is kept aside and named") {
    val (dir, before, e) = failedRename(Sinks.parquetOverwrite, (src, dst) =>
      FailingRenameFs.outOfStaging(src, dst) || src.getName.endsWith(".old"))
    val aside = dir.toFile.list().toSeq
    assert(aside.length == 1 && aside.head.startsWith(".out.") && aside.head.endsWith(".old"), aside)
    assert(e.getMessage.contains(aside.head), e.toString)
    assert(snapshot(dir) == before.map { case (f, b) => f.replaceFirst("^out", aside.head) -> b })
  }

  test("8 threads publishing one path all succeed and leave one writer's output") {
    val dir = Files.createTempDirectory("graft_publish_race")
    val live = dir.resolve("t").toString
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val writes = (0 until 8).map { w =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            start.await()
            Sinks.parquetOverwrite(spark.range(0, 50, 1, 2).withColumn("w", lit(w)), live)
          }
        })
      }
      start.countDown()
      writes.foreach(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()
    val got = spark.read.parquet(live)
    val writers = got.select("w").distinct().collect().map(_.getInt(0)).toSeq
    assert(writers.length == 1, s"rows from writers $writers")
    assert(got.count() == 50)
    assert(dir.toFile.list().toSeq == Seq("t"), "a sibling or lock file was left behind")
  }
}
