package graft

import java.nio.file.Files

/** Each Probe mode on the shared session (never `Probe.main`, whose
  * `spark.stop()` would end the suite's session). */
class ProbeSpec extends SparkSpec {

  private def printed(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  test("time: one min-of-two row per name, UNKNOWN for an unknown name") {
    val out = printed(Probe.time(spark, sf, Seq("q01_pricing_summary", "no_such_query")))
    assert(out.size == 2, out)
    assert(out(0).matches("""q01_pricing_summary: \d+\.\d{3} s \(runs: \d+\.\d{3}, \d+\.\d{3}\)"""), out)
    assert(out(1) == "no_such_query: UNKNOWN")
  }

  test("profile: header, one listener row per name, UNKNOWN for an unknown name") {
    val out = printed(Probe.profile(spark, sf, Seq("q01_pricing_summary", "no_such_query")))
    assert(out.size == 3, out)
    assert(out(0).split("\\s+").toSeq ==
      Seq("query", "wall", "jobs", "stgs", "tasks", "runS", "cpuS", "gcS", "shufMB"))
    val row = out(1).split("\\s+")
    assert(row.length == 9 && row(0) == "q01_pricing_summary", out)
    assert(row(2).toInt >= 1 && row(4).toInt >= 1, out) // jobs, tasks
    assert(out(2) == "no_such_query: UNKNOWN")
  }

  test("profile: under a lagging listener bus, the row's jobs/stgs/tasks equal a Profile of the next forced run") {
    val q = "q01_pricing_summary"
    lagging(500) {
      val row = printed(Probe.profile(spark, sf, Seq(q)))(1).split("\\s+")
      val p = profile(Harness.timeForced(spark, sf, Harness.registry(q)))
      assert(row.slice(2, 5).toSeq.map(_.toInt) ==
        Seq(p.jobs, p.stages.size, p.stages.map(_.numTasks).sum), row.mkString(" "))
    }
  }

  test("explain: writes <dir>/<query>_<suffix>.txt with the physical plan") {
    val dir = Files.createTempDirectory("probe-explain")
    printed(Probe.explain(spark, sf, dir.toString, "after", Seq("q01_pricing_summary")))
    val plan = Files.readString(dir.resolve("q01_pricing_summary_after.txt"))
    assert(plan.contains("Physical Plan"))
  }

  test("countprune: flags q04's z-score window pruned under count(), not q01") {
    val out = printed(Probe.countPrune(spark, sf, Seq("q01_pricing_summary", "q04_zscore_events")))
    assert(out == Seq(
      "FLAG q04_zscore_events: joins 0->0 windows 1->0 aggs 0->0",
      "AUDIT DONE: 1 of 2 queries lose plan nodes under count()"))
  }
}
