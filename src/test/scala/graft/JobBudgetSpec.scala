package graft

import graft.core.Profile
import graft.pipeline.{Climate, ClimateFixture}
import graft.sources.Sinks

/** Job and task budgets: a pinned count fails on a fixed-cost regression
  * (an extra job, a stage funnelled into one task) without depending on
  * timings.
  */
class JobBudgetSpec extends SparkSpec {

  test("climate pass: the cached fact lineage builds in shuffle-partitions tasks; Climate.run + 8 sinks run 15 jobs") {
    // fresh input paths, so no lineage another suite cached is reused
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs")
    val (b, st) = ClimateFixture.writeTo(dir.resolve("in").toString)
    val out = dir.resolve("gold")
    val (lineage, p) = Profile.of(spark) {
      val g = Climate.run(spark, b, st)
      val tables = Seq("kpis" -> g.kpis, "dim" -> g.stationsDim,
        "fact" -> g.fact, "extremes" -> g.extremes)
      tables.foreach { case (t, df) => Sinks.parquetOverwrite(df, out.resolve(t).toString) }
      tables.foreach { case (t, df) => Sinks.singleFileCsv(df, out.resolve(t + "_csv").toString) }
      g.lineage
    }
    val (n, done) = (p.jobs, p.stages)
    lineage.unpersist(blocking = true)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a stage that holds the cached lineage's RDD builds or reads the cache
    val cached = done.filter(_.rddInfos.exists(_.storageLevel.isValid))
    assert(cached.nonEmpty, "no stage touched the cached lineage")
    val building = cached.minBy(_.stageId)
    assert(building.numTasks == parts,
      s"the lineage-building stage runs ${building.numTasks} tasks, not $parts")
    // no stage moves station×day rows (shuffled or written) in fewer tasks:
    // not the cross join feeding the window, not a CSV export
    val factRows = spark.read.parquet(out.resolve("fact").toString).count()
    val narrow = done.filter { s =>
      val m = s.taskMetrics
      math.max(m.shuffleWriteMetrics.recordsWritten, m.outputMetrics.recordsWritten) >= factRows &&
        s.numTasks < parts
    }
    assert(narrow.isEmpty, s"stages move the $factRows fact rows in fewer than $parts tasks: " +
      narrow.map(s => s"stage ${s.stageId} (${s.numTasks} tasks) ${s.name}").mkString("; "))
    assert(n == 15, s"Climate.run + 8 sinks ran $n jobs")
  }
}
