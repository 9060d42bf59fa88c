package graft

import org.apache.spark.graft.BusListeners
import org.apache.spark.sql.functions._
import graft.core.Profile

/** ScaleCheck's sections: each is its body's [[Profile]] plus its wall
  * time, so the run's report is exactly what Spark ran per section. */
class ScaleCheckSpec extends SparkSpec {

  /** Four tasks, one of which sorts two million doubles. */
  private def skewed(): Long =
    spark.sparkContext.parallelize(0 until 4, 4).map { i =>
      if (i < 3) 0L
      else {
        val r = new scala.util.Random(i)
        val a = Array.fill(2000000)(r.nextDouble())
        java.util.Arrays.sort(a)
        (a(0) * 10).toLong
      }
    }.count()

  test("a section counts exactly the jobs and tasks of Profile.of over the same forced body") {
    def body(): Unit = Harness.force(spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count())
    body() // warm
    val section = new ScaleCheck.Sections(spark)
    section("agg")(body())
    val (_, p) = Profile.of(spark)(body())
    val Seq(s) = section.all
    assert(s.name == "agg" && s.sec > 0)
    assert((s.profile.jobs, s.profile.stages.size, s.profile.tasks.size) ==
      (p.jobs, p.stages.size, p.tasks.size))
    assert(p.jobs > 0 && p.tasks.nonEmpty)
    assert(s.json.startsWith(""""agg":{"sec":""") && Seq("jobs", "stages", "tasks", "cpu_s",
      "shuffle_mb", "slowest_task_ms", "median_task_ms").forall(k => s.json.contains(s""""$k":""")))
  }

  test("a section's slowest and median task are its body's tasks") {
    skewed() // warm
    val section = new ScaleCheck.Sections(spark)
    assert(section("skewed")(skewed()) == 4)
    val Seq(s) = section.all
    val runs = s.profile.tasks.map(_.executorRunTime).sorted
    assert(runs.size == 4)
    assert(s.slowestMs == runs.last && s.medianMs == runs(2))
    // the sorting task is the slowest, the idle ones set the median
    assert(s.slowestMs > s.medianMs, s"slowest ${s.slowestMs} ms, median ${s.medianMs} ms")
  }

  test("a section whose body throws rethrows, records nothing and leaves the bus's listener count unchanged") {
    val sc = spark.sparkContext
    val before = BusListeners.count(sc)
    val section = new ScaleCheck.Sections(spark)
    val e = intercept[IllegalStateException] {
      section("boom")(throw new IllegalStateException("body failed"))
    }
    assert(e.getMessage == "body failed")
    assert(section.all.isEmpty)
    assert(BusListeners.count(sc) == before)
  }
}
