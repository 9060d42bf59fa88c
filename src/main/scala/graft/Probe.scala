package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Window => LWindow}

/** Dev tool for single board entries on [[Harness]]'s session, warm-up
  * and noop forcing, so a probe measures what [[Bench]] measures:
  * `time names…` (min of two forced runs), `profile names…|all` (a warm
  * run, then one under [[StageTotals]]), `explain <outDir> <suffix>
  * names…` (writes `<outDir>/<query>_<suffix>.txt`, the plans/rNN/
  * evidence) and `countprune` ([[countPrune]]). Usage:
  * `sbt "runMain graft.Probe time s07_ann_pq t06_jaccard_topk"`, with
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    val sfDir = Harness.sfDir
    try args.toSeq match {
      case "time" +: names => time(spark, sfDir, names)
      case "profile" +: names => profile(spark, sfDir, names)
      case "explain" +: outDir +: suffix +: names => explain(spark, sfDir, outDir, suffix, names)
      case Seq("countprune") => countPrune(spark, sfDir)
      case _ => System.err.println("usage: graft.Probe time <names> | profile <names>|all | " +
        "explain <outDir> <suffix> <names> | countprune")
    } finally spark.stop()
  }

  /** Runs `body` on each named registry entry; prints `<name>: UNKNOWN`
    * for a name the registry lacks and `<name> FAILED: …` for an entry
    * that throws, and goes on with the next name. */
  private def eachEntry(names: Seq[String])(body: (String, Harness.QueryFn) => Unit): Unit =
    names.foreach { name =>
      Harness.registry.get(name) match {
        case None => println(s"$name: UNKNOWN")
        case Some(fn) =>
          try body(name, fn)
          catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}") }
      }
    }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Harness.warmUp(spark, sfDir)
    eachEntry(names) { (name, fn) =>
      val times = (1 to 2).map(_ => Harness.timeForced(spark, sfDir, fn))
      println(f"$name: ${times.min}%.3f s (runs: ${times.map(t => f"$t%.3f").mkString(", ")})")
    }
  }

  /** Job/stage/task counts and executor run/CPU/GC time and shuffle
    * writes, summed since [[reset]]. The gap between wall and per-core
    * task time is driver-side cost (planning, codegen, scheduling,
    * collect barriers). */
  private class StageTotals extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var runMs = 0L
    @volatile var cpuMs = 0L
    @volatile var gcMs = 0L
    @volatile var shufWrite = 0L
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuMs = 0; gcMs = 0; shufWrite = 0 }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1000000L
        gcMs += m.jvmGCTime
        shufWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Harness.warmUp(spark, sfDir)
    val acc = new StageTotals
    spark.sparkContext.addSparkListener(acc)
    try {
      val todo =
        if (names.isEmpty || names == Seq("all")) Harness.registry.keys.toSeq.sorted
        else names
      println(f"${"query"}%-28s ${"wall"}%7s ${"jobs"}%5s ${"stgs"}%5s ${"tasks"}%6s ${"runS"}%7s ${"cpuS"}%7s ${"gcS"}%6s ${"shufMB"}%7s")
      eachEntry(todo) { (name, fn) =>
        // run 1 warms codegen caches (the min-of-two idea); run 2 is the
        // instrumented one
        Harness.force(fn(spark, sfDir))
        Thread.sleep(300)
        acc.reset()
        val wall = Harness.timeForced(spark, sfDir, fn)
        Thread.sleep(300) // let async listener events drain
        println(f"$name%-28s $wall%7.2f ${acc.jobs}%5d ${acc.stages}%5d ${acc.tasks}%6d ${acc.runMs / 1e3}%7.2f ${acc.cpuMs / 1e3}%7.2f ${acc.gcMs / 1e3}%6.2f ${acc.shufWrite / 1e6}%7.1f")
      }
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  def explain(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
              names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    eachEntry(names) { (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
  }

  /** Census of how much of each graded query's plan SURVIVES under a
    * count-only consumer. count() lets the optimizer prune every column
    * nobody aggregates — terminal window columns, un-referenced aggregate
    * expressions, and (Spark 4's unique-key join removal) entire
    * outer-join subtrees. Found in round 13 when t56's whole span
    * computation vanished under the bench's count() forcing (q04's
    * z-score — the point of the query — timed at 0); Bench forces through
    * the noop sink because of this census, and it stays runnable so a
    * future count-shaped consumer can re-check the board. Prints one FLAG
    * line per query whose count() plan holds fewer joins, windows or
    * aggregates than its full plan. Plan-only: nothing executes.
    */
  def countPrune(spark: SparkSession, sfDir: String,
                 names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted): Unit = {
    def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size
    def windows(p: LogicalPlan): Int = p.collect { case w: LWindow => w }.size
    def aggs(p: LogicalPlan): Int = p.collect { case a: Aggregate => a }.size
    val graded = SparkEntry.queries
    var flagged = 0
    names.foreach { name =>
      try {
        val q = graded(name)(spark, sfDir)
        val full = q.queryExecution.optimizedPlan
        val cnt = q.groupBy().count().queryExecution.optimizedPlan
        val (jf, jc) = (joins(full), joins(cnt))
        val (wf, wc) = (windows(full), windows(cnt))
        val (af, ac) = (aggs(full), aggs(cnt) - 1) // -1: the count itself
        if (jc < jf || wc < wf || ac < af) {
          flagged += 1
          println(s"FLAG $name: joins $jf->$jc windows $wf->$wc aggs $af->$ac")
        }
      } catch { case e: Throwable =>
        println(s"ERR $name: ${Option(e.getMessage).getOrElse("").take(80)}")
      }
    }
    println(s"AUDIT DONE: $flagged of ${names.size} queries lose plan nodes under count()")
  }
}
