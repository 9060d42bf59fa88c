package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the mains share: the environment they read, the
  * local session, the warm-up, the forcing action, the timed registry and
  * the board JSON format. */
object Harness {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Scale-factor directory the mains read: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[n]` workers: `SPARK_GRAFT_CPUS`, default 4 (Bench's setting). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Every timed entry: the graded queries and the bench-only ones. */
  lazy val registry: Map[String, QueryFn] = SparkEntry.queries ++ SparkEntry.benchOnly

  /** Local session with one shuffle partition per worker, no UI, UTC
    * session time and WARN logging; `extraConf` adds main-specific keys. */
  def session(cpus: String, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stops the active session and clears the active and default slots, so
    * the next [[session]] call builds a fresh one. */
  def stopSession(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** JVM/codegen/parquet-footer costs land here, not on whichever query
    * happens to run first (measured ~6 s of pure first-query noise).
    * Per-table try: one missing/odd table must not abort the rest of the
    * warm-up (r4 shipped exactly that bug — the raw `events` load threw on
    * TIMESTAMP(NANOS) and silently skipped the remaining tables + q01). */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables.loadNormalized(spark, sfDir, t).limit(1).count()
      catch { case e: Throwable => System.err.println(s"[harness] warm-up $t failed: ${e.getMessage}") }
    }
    try SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    catch { case e: Throwable => System.err.println(s"[harness] warm-up query failed: ${e.getMessage}") }
  }

  /** Runs `df` to completion through the noop sink, not count(): count()
    * lets the optimizer prune every column nobody aggregates — a plan
    * census (r13, `Probe countprune`) found 66 of 275 queries losing work
    * under count(), from terminal window columns (q04's z-score, timed at
    * 0) up to entire join+window subtrees (t56's unique-key LEFT-join
    * elimination). The noop write consumes every output column and keeps
    * the final sort, i.e. it times the DECLARED result — the same work
    * Verify's parquet dump pays, minus encoding. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds to build `fn`'s DataFrame and [[force]] it. */
  def timeForced(spark: SparkSession, sfDir: String, fn: QueryFn): Double = {
    val t0 = System.nanoTime()
    force(fn(spark, sfDir))
    (System.nanoTime() - t0) / 1e9
  }

  /** One board: the `{"metric":"total",…}` JSON object Bench writes per
    * sweep (the full-board file, and the stdout headline with a subset of
    * `queries`) and Sf1Sweep merges from its segments (only a merged board
    * has `segments`). Keys are `[A-Za-z0-9_]` and values plain numbers by
    * construction, so a regex parse suffices. */
  final case class Board(
      total: Double, queries: Seq[(String, Double)], sf: String, action: String,
      hostCpus: Int, loadavg1m: Double, loadavgPreflight: Double,
      preflightWaitSec: Double, rerunNames: Seq[String], prebuildSec: Double,
      provenance: String, out: String, segments: Option[Int] = None) {

    def render: String = {
      val qs = queries.map { case (k, v) => "\"" + k + "\":" + Board.fmt(v) }
        .mkString("{", ",", "}")
      val names = rerunNames.map("\"" + _ + "\"").mkString("[", ",", "]")
      val segs = segments.fold("")(n => s""","segments":$n""")
      s"""{"metric":"total","value":${Board.fmt(total)},"unit":"sec","queries":$qs,"sf":"$sf","action":"$action","host_cpus":$hostCpus,"loadavg_1m":${Board.fmt(loadavg1m)},"loadavg_preflight":${Board.fmt(loadavgPreflight)},"preflight_wait_sec":${Board.fmt(preflightWaitSec)},"rerun_outliers":${rerunNames.size},"rerun_names":$names,"prebuild_sec":${Board.fmt(prebuildSec)},"provenance":"$provenance","out":"$out"$segs}"""
    }
  }

  object Board {
    /** The forcing action every board is measured with; a board with
      * another action is not comparable (the r13 count()→noop re-baseline
      * raised most per-query times). */
    val Action = "noop"

    /** `provenance` stamped into a board: `SPARK_GRAFT_PROVENANCE`. */
    def provenance: String = sys.env.getOrElse("SPARK_GRAFT_PROVENANCE", "driver")

    /** A failed entry is -1, never its time-to-exception. */
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

    private val Entry = """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r
    private val Name = """"([A-Za-z0-9_]+)"""".r

    /** Parses a board; a field the text lacks reads as -1, "" or empty,
      * so boards from before a field existed still parse. */
    def parse(s: String): Board = {
      def first(re: String): Option[String] = re.r.findFirstMatchIn(s).map(_.group(1))
      def num(key: String) = first("\"" + key + "\":(-?[0-9.]+)")
      def dbl(key: String) = num(key).fold(-1.0)(_.toDouble)
      def str(key: String) = first("\"" + key + "\":\"([^\"]*)\"").getOrElse("")
      val qs = Entry.findAllMatchIn(first("\"queries\":\\{([^}]*)").getOrElse(""))
      val reruns = Name.findAllMatchIn(first("\"rerun_names\":\\[([^\\]]*)").getOrElse(""))
      Board(dbl("value"), qs.map(m => m.group(1) -> m.group(2).toDouble).toSeq,
        str("sf"), str("action"), num("host_cpus").fold(-1)(_.toInt),
        dbl("loadavg_1m"), dbl("loadavg_preflight"), dbl("preflight_wait_sec"),
        reruns.map(_.group(1)).toSeq, dbl("prebuild_sec"), str("provenance"),
        str("out"), num("segments").map(_.toInt))
    }

    /** The board at `path`, or None when it is missing or unreadable. */
    def read(path: String): Option[Board] =
      try Some(parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path))))
      catch { case _: Exception => None }

    def write(path: String, board: Board): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), board.render)
  }
}
