package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.core.Tables
import graft.pipeline.Climate
import graft.sources.Sinks

/** The benchmark's JVM: sets up a session, runs timed passes over one
  * workload, dumps outputs for the checker, and writes `result.json` (and,
  * when traced, `spans.jsonl`) into the work directory. `run.py` starts it
  * and turns the record into metrics.
  *
  * Args (`--key value`): workload, data, check-data, work, seconds, trace
  * (0|1), cores, seed (shuffles the op order of every pass).
  */
object Main {
  /** Each workload's ops (registry names) and the tables its set-up warms. */
  final case class Workload(ops: Seq[String], tables: Seq[String])

  val workloads: Map[String, Workload] = Map(
    // exact and shingle-similarity dedup, a probe of the prebuilt prefix
    // index, cosine top-k and embedding dedup, and two media kernels: the
    // LLM data-curation surface
    "llm_curation" -> Workload(
      Seq("t05_exact_dedup", "t06_jaccard_topk", "t55_prefix_pairs_stored",
        "s01_cosine_topk", "s06_embedding_dedup",
        "m04_frame_chunk_dedup", "m06_wav_frame_rms"),
      Seq("documents", "embeddings")),
    // one op = the whole medallion job (run + 4 parquet + 4 CSV writes)
    "climate_medallion" -> Workload(Seq("climate_pass"), Nil))

  final case class OpRun(name: String, pass: Int, traced: Boolean,
                         buildS: Double, execS: Double, ok: Boolean,
                         counters: Option[Counters], extra: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val data = kv("data")
    val checkData = kv("check-data")
    val work = Paths.get(kv("work")).toAbsolutePath
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val cores = kv("cores").toInt
    val shuffle = new scala.util.Random(kv("seed").toLong)
    val climate = workload == "climate_medallion"
    val Workload(ops, warmTables) = workloads(workload)
    val registry = SparkEntry.queries
    // every registry op is graded by a DuckDB oracle that reads only the
    // input tables; an op without one cannot be checked here
    val outToken = graft.queries.ClimateQueries.OutToken
    val oracles: Map[String, String] = if (climate) Map.empty else ops.map { n =>
      n -> SparkEntry.oracleSql.get(n).filterNot(_.contains(outToken))
        .getOrElse(sys.error(s"$n has no self-contained oracle"))
    }.toMap
    val tracer = new Tracer(traced)
    val berkeley = s"$data/berkeley_daily.txt"
    val stations = s"$data/ghcnd_stations.txt"

    // ---------- set-up: session, table warm-up, index prebuild
    case class Setup(total: Double, session: Double, warm: Double,
                     prebuild: Double, built: Int, reused: Int)
    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    // run.py starts the JVM with a fresh java.io.tmpdir: every stored index
    // is built here, never found from an earlier JVM
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val (spark, setup) = tracer.span("setup") {
      val t0 = System.nanoTime()
      val spark = tracer.span("setup.session")(newSession())
      val tSession = secs(t0)
      val t1 = System.nanoTime()
      tracer.span("setup.warmup") {
        if (climate) Seq(berkeley, stations).foreach(p => spark.read.text(p).count())
        else warmTables.foreach(t => Tables.loadNormalized(spark, data, t).limit(1).count())
      }
      val tWarm = secs(t1)
      val before = indexDirs(tmp)
      val t2 = System.nanoTime()
      // the text-side stored indexes (prefix, capped prefix, stable) that
      // t55 probes
      val tPre = if (workload != "llm_curation") 0.0 else {
        tracer.span("ext.prebuild")(
          graft.queries.TextQueries.prewarmStoredIndexes(spark, data))
        secs(t2)
      }
      val after = indexDirs(tmp)
      val reused = after.count { case (d, m) => before.get(d).contains(m) }
      (spark, Setup(secs(t0), tSession, tWarm, tPre, after.size - reused, reused))
    }

    // ---------- timed passes
    val probe = new Probe(tracer)
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)
    def attach(on: Boolean): Unit =
      if (on) {
        drain() // events of untraced ops must not reach the probe
        sc.addSparkListener(probe); spark.listenerManager.register(probe)
      } else { sc.removeSparkListener(probe); spark.listenerManager.unregister(probe) }
    val gold = work.resolve("gold")
    val runs = ArrayBuffer.empty[OpRun]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
    var opCounter = 0

    def runRegistryOp(name: String, pass: Int, tr: Boolean): OpRun = {
      opCounter += 1
      val id = opCounter
      val fn = registry(name)
      var buildS = 0.0
      var execS = 0.0
      var ok = true
      tracer.span(s"op:$name", id) {
        probe.spanParent = tracer.current; probe.opId = id
        try {
          val t0 = System.nanoTime()
          sc.setLocalProperty(probe.PhaseKey, "build")
          val df = tracer.span("queries.build", id)(fn(spark, data))
          buildS = secs(t0)
          val t1 = System.nanoTime()
          sc.setLocalProperty(probe.PhaseKey, "exec")
          tracer.span("exec.noop_write", id)(
            df.write.format("noop").mode("overwrite").save())
          execS = secs(t1)
        } catch { case e: Throwable =>
          ok = false
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        } finally sc.setLocalProperty(probe.PhaseKey, null)
      }
      val counters = if (tr) { drain(); Some(probe.take()) } else None
      OpRun(name, pass, tr, buildS, execS, ok, counters, Map.empty)
    }

    def runClimatePass(pass: Int, tr: Boolean): OpRun = {
      opCounter += 1
      val id = opCounter
      var ok = true
      var runS, parquetS, csvS = 0.0
      var lineage: Option[DataFrame] = None
      val t0 = System.nanoTime()
      tracer.span("op:climate_pass", id) {
        probe.spanParent = tracer.current; probe.opId = id
        try {
          sc.setLocalProperty(probe.PhaseKey, "build")
          val g = tracer.span("pipeline.run", id)(Climate.run(spark, berkeley, stations))
          lineage = Some(g.lineage)
          runS = secs(t0)
          sc.setLocalProperty(probe.PhaseKey, "exec")
          val tables = Seq("kpis" -> g.kpis, "dim" -> g.stationsDim,
            "fact" -> g.fact, "extremes" -> g.extremes)
          val t1 = System.nanoTime()
          tables.foreach { case (n, df) =>
            tracer.span("sources.parquet_write", id)(
              Sinks.parquetOverwrite(df, gold.resolve(n).toString))
          }
          parquetS = secs(t1)
          val t2 = System.nanoTime()
          tables.foreach { case (n, df) =>
            tracer.span("sources.csv_write", id)(
              Sinks.singleFileCsv(df, gold.resolve(n + "_csv").toString))
          }
          csvS = secs(t2)
        } catch { case e: Throwable =>
          ok = false
          System.err.println(s"[perfbench] climate pass failed: ${e.getMessage}")
        } finally sc.setLocalProperty(probe.PhaseKey, null)
      }
      val total = secs(t0)
      lineage.foreach(_.unpersist(blocking = true))
      val counters = if (tr) { drain(); Some(probe.take()) } else None
      val writtenMb = if (tr) dirBytes(gold) / 1e6 else 0.0
      OpRun("climate_pass", pass, tr, runS, total - runS, ok, counters,
        Map("run_s" -> runS, "parquet_s" -> parquetS, "csv_s" -> csvS,
          "written_mb" -> writtenMb))
    }

    // pass 0 is the cold pass; warm passes follow until they have run for
    // `seconds`, and at least three untraced ones: the JIT is still warming
    // in the first, and their median drops it. Traced runs trace the even
    // warm passes, so each traced pass sits between two untraced ones and
    // the same JVM measures the tracing overhead.
    val minPasses = if (traced) 6 else 4
    var warmT0 = 0L
    var pass = 0
    while (pass < minPasses || secs(warmT0) < seconds) {
      if (pass == 1) warmT0 = System.nanoTime()
      val tr = traced && pass > 0 && pass % 2 == 0
      if (tr) attach(on = true)
      val t0 = System.nanoTime()
      tracer.span("pass") {
        if (climate) runs += runClimatePass(pass, tr)
        else shuffle.shuffle(ops).foreach(n => runs += runRegistryOp(n, pass, tr))
      }
      passWall += ((pass, tr, secs(t0)))
      if (tr) attach(on = false)
      pass += 1
    }

    // ---------- per-layer probes that are not part of a pass (traced only)
    val tableLoadMs: Seq[Double] =
      if (!traced || climate) Nil
      else tracer.span("core.table_load_probe") {
        (1 to 3).flatMap(_ => Tables.names.map { t =>
          val t0 = System.nanoTime()
          Tables.loadNormalized(spark, data, t)
          (System.nanoTime() - t0) / 1e6
        })
      }
    val peakRssMb = vmHwmMb()

    // ---------- output dumps for the checker (not timed)
    val dump = work.resolve("dump")
    val dumpFailed = ArrayBuffer.empty[String]
    def writeOut(df: => DataFrame, name: String): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(name).toString)
      catch { case e: Throwable =>
        dumpFailed += name
        System.err.println(s"[perfbench] dump $name failed: ${e.getMessage}")
      }
    if (climate) {
      // the fixed check fixture, fingerprinted against recorded values
      val g = Climate.run(spark, s"$checkData/berkeley_daily.txt",
        s"$checkData/ghcnd_stations.txt")
      Seq("kpis" -> g.kpis, "dim" -> g.stationsDim, "fact" -> g.fact,
        "extremes" -> g.extremes).foreach { case (n, df) => writeOut(df, n) }
      g.lineage.unpersist(blocking = true)
    } else ops.foreach(n => writeOut(registry(n)(spark, data), n))
    Files.createDirectories(dump)
    Files.writeString(dump.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))

    // ---------- record
    def counterJson(c: Counters): String = Json.obj(
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString, "task_failures" -> c.taskFailures.toString,
      "task_ms" -> c.taskMs.toString, "cpu_ns" -> c.cpuNs.toString,
      "gc_ms" -> c.gcMs.toString, "shuffle_write" -> c.shuffleWrite.toString,
      "shuffle_read" -> c.shuffleRead.toString, "spill" -> c.spill.toString,
      "input" -> c.input.toString, "build_jobs" -> c.buildJobs.toString,
      "build_input" -> c.buildInput.toString,
      "query_executions" -> c.queryExecutions.toString,
      "analysis_ms" -> c.analysisMs.toString,
      "optimization_ms" -> c.optimizationMs.toString,
      "planning_ms" -> c.planningMs.toString,
      "codegen_fallback" -> c.codegenFallback.toString,
      "wscg" -> c.wscgStages.toString)
    val record = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup" -> Json.obj(
        "total_s" -> Json.num(setup.total), "session_s" -> Json.num(setup.session),
        "warmup_s" -> Json.num(setup.warm), "prebuild_s" -> Json.num(setup.prebuild),
        "indexes_built" -> setup.built.toString,
        "indexes_reused" -> setup.reused.toString),
      "passes" -> Json.arr(passWall.map { case (p, tr, w) => Json.obj(
        "pass" -> p.toString, "traced" -> tr.toString, "wall_s" -> Json.num(w)) }),
      "ops" -> Json.arr(runs.map(r => Json.obj(
        "name" -> Json.str(r.name), "pass" -> r.pass.toString,
        "traced" -> r.traced.toString, "build_s" -> Json.num(r.buildS),
        "exec_s" -> Json.num(r.execS), "ok" -> r.ok.toString,
        "counters" -> r.counters.map(counterJson).getOrElse("null"),
        "extra" -> Json.obj(r.extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)))),
      "table_load_ms" -> Json.arr(tableLoadMs.map(Json.num)),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "dump_failed" -> Json.arr(dumpFailed.map(Json.str)))
    Files.writeString(work.resolve("result.json"), record)
    if (traced) tracer.write(work.resolve("spans.jsonl"))
    spark.stop()
  }

  /** graft_* stored-index directories under a tmpdir, with their marker's
    * modification time (a directory whose marker is unchanged was reused). */
  def indexDirs(tmp: Path): Map[String, Long] = {
    val s = Files.list(tmp)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("graft_"))
      .map { d =>
        val m = d.resolve("_GRAFT_INDEX")
        d.getFileName.toString ->
          (if (Files.exists(m)) Files.getLastModifiedTime(m).toMillis else -1L)
      }.toMap
    finally s.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
