package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Drives the StreamOps transforms through actual Structured Streaming
  * (MemoryStream source → memory sink) and checks batch/stream parity —
  * the same `DataFrame => DataFrame` code must produce the same result in
  * both modes.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  private val rows = Seq(
    (1L, ts(0), 1.0), (1L, ts(10), 2.0),             // session A (user 1)
    (1L, ts(60), 3.0),                                // session B (gap 50min)
    (2L, ts(5), 4.0), (2L, ts(34), 5.0),              // gap 29min -> same session
    (2L, ts(64), 6.0),                                // gap 30min EXACTLY -> still merged
    (3L, ts(0), 7.0), (3L, ts(31), 8.0)               // gap 31min -> two sessions
  )

  test("sessionAgg batch: 30-min gap islands with exact-gap boundary") {
    val df = rows.toDF("user_id", "ts", "value")
    val got = StreamOps.sessionAgg("ts", "user_id", "30 minutes")(df)
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSeq
    // session_window's merge boundary is INCLUSIVE: a 30-min-exact gap
    // still merges (user 2 is one 3-event session); only > gap splits.
    assert(got == Seq((1L, 1L, 3.0), (1L, 2L, 3.0), (2L, 3L, 15.0),
      (3L, 1L, 7.0), (3L, 1L, 8.0)))
  }

  test("sessionAgg streaming == batch on the same data (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sdf = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "2 hours")
    val q = StreamOps.sessionAgg("ts", "user_id", "30 minutes")(sdf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_out").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("sess_out")
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSeq
    q.stop()
    assert(streamed == Seq((1L, 1L, 3.0), (1L, 2L, 3.0), (2L, 3L, 15.0),
      (3L, 1L, 7.0), (3L, 1L, 8.0)))
  }

  test("tumblingAgg streaming: watermarked hourly counts via memory sink") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sdf = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "2 hours")
    val q = StreamOps.tumblingAgg("ts", "user_id", "1 hour")(sdf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("tumb_out").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val n = spark.table("tumb_out").agg(sum("n")).as[Long].head()
    q.stop()
    assert(n == rows.length)
  }

  test("slidingAgg: streaming == batch; every event lands in exactly width/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sdf = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "2 hours")
    val q = StreamOps.slidingAgg("ts", "user_id", "30 minutes", "15 minutes")(sdf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("slide_out").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("slide_out")
      .select(col("window.start").as("w"), col("user_id"), col("n"), col("sum_value"))
      .orderBy("w", "user_id").collect().toSeq
    q.stop()
    val batch = StreamOps.slidingAgg("ts", "user_id", "30 minutes", "15 minutes")(
        rows.toDF("user_id", "ts", "value"))
      .select(col("window.start").as("w"), col("user_id"), col("n"), col("sum_value"))
      .orderBy("w", "user_id").collect().toSeq
    assert(streamed == batch)
    // 30/15 ⇒ every event is counted exactly twice across windows
    assert(batch.map(_.getLong(2)).sum == 2L * rows.length)
  }

  test("st02 exact config: streaming 15-min tumbling agg == batch query") {
    // the st02 oracle query's precise shape (15-minute windows keyed by
    // event_type, decimal-exact sums) replayed through MemoryStream —
    // pins the batch==stream claim for the config the driver verifies
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.events(spark, sf)
      .select("ts", "event_type", "value").limit(500).collect()
    val mem = MemoryStream[(Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
    val q = StreamOps.tumblingAgg("ts", "event_type", "15 minutes")(sdf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("st02_out").start()
    mem.addData(ev.map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))): _*)
    q.processAllAvailable()
    val streamed = spark.table("st02_out")
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("w", "event_type").collect().toSeq
    q.stop()
    val batch = StreamOps.tumblingAgg("ts", "event_type", "15 minutes")(
        spark.createDataFrame(spark.sparkContext.parallelize(ev.toSeq),
          graft.core.Tables.events(spark, sf)
            .select("ts", "event_type", "value").schema))
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("w", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st03 chain: streaming dedup -> enrich -> tumbling agg == batch, dups across batches") {
    // the st03 oracle query's composed chain through MemoryStream, with a
    // duplicate (user_id, ts, value) row re-delivered in a LATER micro-batch
    // (absorbed by dedup state) AND a crafted (user_id, ts) collision with a
    // DIFFERENT value — both collision rows must survive, matching the
    // oracle's DISTINCT (user_id, ts, value) semantics
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("user_id", "c_mktsegment")
    def chain(df: org.apache.spark.sql.DataFrame) =
      df.transform(StreamOps.dedupStream(Seq("user_id", "value"), "ts", "1 hour"))
        .transform(StreamOps.enrich(dim, Seq("user_id")))
        .withColumn("seg", coalesce(col("c_mktsegment"), lit("(none)")))
        .transform(StreamOps.tumblingAgg("ts", "seg", "15 minutes"))
        .select(col("window.start").as("w"), col("seg"), col("n"), col("sum_value"))
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = chain(mem.toDF().toDF("user_id", "ts", "value"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("st03_out").start()
    mem.addData((1L, ts(0), 1.0), (2L, ts(5), 2.0), (9L, ts(10), 3.0))
    q.processAllAvailable()
    // re-delivery (dropped) + same (user_id, ts) different value (kept)
    mem.addData((1L, ts(0), 1.0), (2L, ts(5), 7.5), (1L, ts(20), 4.0))
    q.processAllAvailable()
    val streamed = spark.table("st03_out").orderBy("w", "seg").collect().toSeq
    q.stop()
    val batch = chain(Seq(
      (1L, ts(0), 1.0), (2L, ts(5), 2.0), (2L, ts(5), 7.5),
      (9L, ts(10), 3.0), (1L, ts(20), 4.0)
    ).toDF("user_id", "ts", "value")).orderBy("w", "seg").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_.getString(1)).contains("(none)"))
    // the collision pair contributed BOTH values to MACHINERY's window
    assert(streamed.filter(_.getString(1) == "MACHINERY")
      .map(r => (r.getLong(2), r.getDouble(3))) == Seq((2L, 9.5)))
  }

  test("dropDuplicatesWithinWatermark: id-only dedup drops a re-delivery with a DIFFERENT ts") {
    // the API StreamOps.dedupStream's scaladoc points to for id-only
    // semantics: a replayed event whose timestamp drifted (retry after
    // delay) still deduplicates, which (key, ts)-keyed dedupStream
    // deliberately would NOT
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = mem.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ddww_out").start()
    mem.addData((1L, ts(0), 1.0), (2L, ts(5), 2.0))
    q.processAllAvailable()
    // same event_id, ts drifted by 3 minutes → still a duplicate
    mem.addData((1L, ts(3), 1.0), (3L, ts(10), 3.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ddww_out").select("event_id")
      .as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("foreachBatchUpsert: micro-batches converge the parquet state to latest-per-key") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val state = s"$dir/state"
    val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[(Long, String, Double)]
    val q = StreamOps.foreachBatchUpsert(
      mem.toDF().toDF("k", "status", "amount"), Seq("k"), state, ckpt)
    mem.addData((1L, "new", 10.0), (2L, "new", 20.0))
    q.processAllAvailable()
    // batch 2 updates key 1 (full-row replacement) and inserts key 3
    mem.addData((1L, "shipped", 11.0), (3L, "new", 30.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(state).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "shipped", 11.0), (2L, "new", 20.0), (3L, "new", 30.0)))
  }

  test("foreachBatchUpsert: a batch whose merge throws leaves the previous state unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_fail")
    val state = s"$dir/state"
    val mem = MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("k", "status", "amount").withColumn("amount",
      when(col("k") === 99L, raise_error(lit("boom"))).otherwise(col("amount")))
    val q = StreamOps.foreachBatchUpsert(stream, Seq("k"), state, s"$dir/ckpt")
    mem.addData((1L, "new", 10.0), (2L, "new", 20.0))
    q.processAllAvailable()
    def read() = spark.read.parquet(state).orderBy("k").as[(Long, String, Double)].collect().toSeq
    def files() = new java.io.File(state).list().sorted.toSeq
    val (before, listing) = (read(), files())
    mem.addData((1L, "shipped", 11.0), (99L, "new", 0.0))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
    q.stop()
    assert(before == Seq((1L, "new", 10.0), (2L, "new", 20.0)))
    assert(read() == before)
    assert(files() == listing)
    assert(dir.toFile.list().sorted.toSeq == Seq("ckpt", "state"), "a staging directory was left behind")
  }

  test("enrich: stream-static broadcast join adds dimension columns") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sdf = mem.toDF().toDF("user_id", "ts", "value")
    val q = StreamOps.enrich(dim, Seq("user_id"))(sdf)
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    mem.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (9L, ts(2), 3.0))
    q.processAllAvailable()
    val got = spark.table("enrich_out")
      .select("user_id", "tier").as[(Long, Option[String])]
      .collect().toMap
    q.stop()
    assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 9L -> None))
  }

  test("intervalJoin stream-stream: watermarked time-bounded matches == batch") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, Timestamp, Long)]
    val rmem = MemoryStream[(Long, Timestamp, Double)]
    def shape(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      StreamOps.intervalJoin(
        l.toDF("user_id", "l_ts", "l_id"), r.toDF("user_id", "r_ts", "r_v"),
        "user_id", "l_ts", "r_ts", lookback = "10 minutes", watermark = "1 hour")
    val q = shape(lmem.toDF(), rmem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ij_out").start()
    // left at t=20min; right at 10min (edge, in), 21min (after, out),
    // 9min (too old, out), other key (out)
    lmem.addData((1L, ts(20), 100L))
    rmem.addData((1L, ts(10), 1.0), (1L, ts(21), 2.0), (1L, ts(9), 3.0),
      (2L, ts(12), 4.0))
    q.processAllAvailable()
    val streamed = spark.table("ij_out").select("l_id", "r_v")
      .as[(Long, Double)].collect().toSeq.sorted
    q.stop()
    assert(streamed == Seq((100L, 1.0)))
    // batch parity: same transform over spark.read-style DataFrames
    val batch = shape(
        Seq((1L, ts(20), 100L)).toDF("user_id", "l_ts", "l_id"),
        Seq((1L, ts(10), 1.0), (1L, ts(21), 2.0), (1L, ts(9), 3.0),
          (2L, ts(12), 4.0)).toDF("user_id", "r_ts", "r_v"))
      .select("l_id", "r_v").as[(Long, Double)].collect().toSeq.sorted
    assert(batch == streamed)
  }

  test("intervalJoin: event arriving behind the watermark no longer joins (state evicted)") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, Timestamp, Long)]
    val rmem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.intervalJoin(
        lmem.toDF().toDF("user_id", "l_ts", "l_id"),
        rmem.toDF().toDF("user_id", "r_ts", "r_v"),
        "user_id", "l_ts", "r_ts", lookback = "10 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ij_evict_out").start()
    // in-window match at t≈200
    lmem.addData((1L, ts(200), 100L))
    rmem.addData((1L, ts(195), 1.0))
    q.processAllAvailable()
    // advance BOTH watermarks far past t=200 (global watermark = min of sources)
    lmem.addData((99L, ts(600), 0L))
    rmem.addData((99L, ts(601), 0.0))
    q.processAllAvailable()
    // this right event WOULD match the t=200 left row, but that row's join
    // state is evicted and the event is behind the watermark → no new output
    rmem.addData((1L, ts(199), 2.0))
    q.processAllAvailable()
    val got = spark.table("ij_evict_out").select("l_id", "r_v")
      .as[(Long, Double)].collect().toSeq.sorted
    q.stop()
    assert(got == Seq((100L, 1.0)), s"late event must not join: $got")
  }

  test("st05 exact config: streaming click-view attribution join == batch query") {
    // the st05 oracle query's precise shape (clicks ⋈ views within 12h per
    // user) replayed through MemoryStream on a real events slice
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").limit(800).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val clicks = df.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val views = df.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      StreamOps.intervalJoin(clicks, views, "user_id", "click_ts", "view_ts",
        lookback = "12 hours", watermark = "1 hour")
    }
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val q = shape(mem.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.outputMode("append").format("memory")
      .queryName("st05_out").start()
    mem.addData(ev.toSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("st05_out").select("click_id", "view_id")
      .as[(Long, Long)].collect().toSeq.sorted
    q.stop()
    val batch = shape(ev.toSeq.toDF("user_id", "ts", "event_id", "event_type"))
      .select("click_id", "view_id").as[(Long, Long)].collect().toSeq.sorted
    assert(streamed == batch)
    assert(streamed.nonEmpty, "slice produced no click-view matches — weak test")
  }

  test("intervalJoin left_outer: null-padded row emitted ONLY once the watermark closes the window") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, Timestamp, Long)]
    val rmem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.intervalJoin(
        lmem.toDF().toDF("user_id", "l_ts", "l_id"),
        rmem.toDF().toDF("user_id", "r_ts", "r_v"),
        "user_id", "l_ts", "r_ts", lookback = "10 minutes",
        watermark = "10 minutes", joinType = "left_outer")
      .writeStream.outputMode("append").format("memory")
      .queryName("oj_out").start()
    // matched left at t=20; UNMATCHED left at t=30
    lmem.addData((1L, ts(20), 100L), (2L, ts(30), 200L))
    rmem.addData((1L, ts(15), 1.0))
    q.processAllAvailable()
    val early = spark.table("oj_out").select("l_id", "r_v")
      .as[(Long, Option[Double])].collect().toSeq
    // the unmatched row must NOT be emitted yet — a view could still arrive
    assert(!early.map(_._1).contains(200L),
      s"null-pad must wait for the watermark: $early")
    // advance both watermarks far past t=30 → no match can arrive anymore
    lmem.addData((99L, ts(600), 0L))
    rmem.addData((99L, ts(600), 0.0))
    q.processAllAvailable()
    q.processAllAvailable()
    val late = spark.table("oj_out").select("l_id", "r_v")
      .as[(Long, Option[Double])].collect().toSeq.sortBy(_._1)
    q.stop()
    assert(late.filter(_._1 == 100L) == Seq((100L, Some(1.0))))
    assert(late.filter(_._1 == 200L) == Seq((200L, None)),
      s"unmatched left row must null-pad after watermark: $late")
  }

  test("dedupStream: duplicates across micro-batches dropped, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sdf = mem.toDF().toDF("event_id", "ts", "value")
    val q = StreamOps.dedupStream(Seq("event_id"), "ts", "1 hour")(sdf)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    mem.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (1L, ts(0), 1.0))
    q.processAllAvailable()
    // batch 2: exact dup dropped, but same id at a DIFFERENT ts survives —
    // pins the dedup key to (event_id, ts), not id-only or all-columns
    mem.addData((1L, ts(0), 1.0), (1L, ts(5), 9.0), (3L, ts(2), 3.0))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 1L, 2L, 3L))
  }

  test("file source + checkpointed restart: session agg is exactly-once end to end") {
    // The real-deployment shape for st01: parquet files arrive in a
    // directory, the sessionizer runs in append mode with a checkpoint,
    // the query is STOPPED and RESTARTED twice mid-stream. Exactly-once =
    // after the final batch, the emitted sessions equal the batch-mode
    // session agg over the same rows — nothing duplicated by the
    // restarts, nothing lost.
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val (srcDir, chkDir, outDir) = (s"$root/src", s"$root/chk", s"$root/out")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def writeBatch(data: Seq[(Long, Timestamp, Double)]): Unit =
      data.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def runQuery(): Unit = {
      val sdf = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "10 minutes")
      val q = StreamOps.sessionAgg("ts", "user_id", "30 minutes")(sdf)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", chkDir).start()
      q.processAllAvailable()
      q.stop()
    }
    writeBatch(rows)                                    // users 1-3, min 0-64
    runQuery()                                          // watermark -> 54m, no emits yet
    writeBatch(Seq((9L, ts(300), 1.0), (9L, ts(310), 2.0)))
    runQuery()                                          // RESTART 1: emits early sessions
    writeBatch(Seq((8L, ts(360), 0.5)))                 // pushes watermark past users 1-3
    writeBatch(Seq((7L, ts(600), 0.5)))                 // pushes watermark past user 9
    runQuery()                                          // RESTART 2: emits the rest
    val emitted = spark.read.parquet(outDir)
      .select(col("user_id"), col("n_events"), col("sum_value").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    // ground truth: batch session agg over the users whose sessions the
    // final watermark (590m) has sealed — only user 7's is still open
    val expected = StreamOps.sessionAgg("ts", "user_id", "30 minutes")(
        (rows ++ Seq((9L, ts(300), 1.0), (9L, ts(310), 2.0), (8L, ts(360), 0.5)))
          .toDF("user_id", "ts", "value"))
      .select(col("user_id"), col("n_events"), col("sum_value").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(emitted == expected,
      s"emitted=$emitted\nexpected=$expected")
  }

  test("Trigger.AvailableNow: drains all available input then stops; next run picks up only new files") {
    // the incremental-batch deployment pattern (cron-scheduled streaming):
    // each run processes exactly the files that arrived since the last
    // checkpoint, emits, and terminates — no long-running query needed
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val (srcDir, chkDir, outDir) = (s"$root/src", s"$root/chk", s"$root/out")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def runOnce(): Unit = {
      val sdf = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "10 minutes")
      val q = StreamOps.tumblingAgg("ts", "user_id", "1 hour")(sdf)
        .select(col("window.start").as("w"), col("user_id"), col("n"), col("sum_value"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", chkDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000) // AvailableNow self-terminates when drained
      assert(!q.isActive, "AvailableNow query must stop after draining")
    }
    Seq((1L, ts(0), 1.0), (1L, ts(10), 2.0), (2L, ts(30), 3.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.mode("append").parquet(srcDir)
    // a far-future row pushes the watermark so the early windows finalize
    Seq((9L, ts(600), 0.0)).toDF("user_id", "ts", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    val firstRun = spark.read.parquet(outDir)
      .select("user_id", "n").as[(Long, Long)].collect().toSet
    assert(firstRun == Set((1L, 2L), (2L, 1L)), s"first drain: $firstRun")
    // second run: ONLY the new file is processed (checkpoint carries the
    // offset); user 9's window finalizes once the new watermark passes it
    Seq((9L, ts(1200), 0.0)).toDF("user_id", "ts", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runOnce()
    val secondRun = spark.read.parquet(outDir)
      .select("user_id", "n").as[(Long, Long)].collect().toSet
    assert(secondRun == firstRun + ((9L, 1L)),
      s"second drain must add exactly user 9's sealed window: $secondRun")
  }

  test("flatMapGroupsWithState running totals accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Ev]
    val q = StreamOps.runningTotals(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("run_out").start()
    mem.addData(StreamOps.Ev(7L, 1L, 1.5), StreamOps.Ev(7L, 2L, 2.5))
    q.processAllAvailable()
    mem.addData(StreamOps.Ev(7L, 3L, 6.0))
    q.processAllAvailable()
    val last = spark.table("run_out").orderBy(col("n_events").desc)
      .as[StreamOps.UserRunning].head()
    q.stop()
    assert(last == StreamOps.UserRunning(7L, 3L, 10.0))
  }

  test("transformWithState record-breakers: batch == stream, state carries across batches") {
    // The Spark 4 StatefulProcessor API needs the RocksDB provider (the
    // only store implementing the TWS column-family layout) — scope the
    // conf to this query and restore the default after.
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamOps.RecordEv]
      val q = StreamOps.recordBreakers(mem.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("rb_out").start()
      // batch 1 arrives OUT of event-time order within the batch — the
      // processor must sort by (ts, event_id) before comparing
      mem.addData(
        StreamOps.RecordEv(1L, 2L, ts(10), 5.0),
        StreamOps.RecordEv(1L, 1L, ts(0), 3.0),
        StreamOps.RecordEv(2L, 3L, ts(0), 7.0))
      q.processAllAvailable()
      // batch 2: user 1's 4.0 is under the carried best (5.0) → silent;
      // 9.0 breaks the record with prev_best = the CROSS-BATCH state
      mem.addData(
        StreamOps.RecordEv(1L, 4L, ts(20), 4.0),
        StreamOps.RecordEv(1L, 5L, ts(30), 9.0))
      q.processAllAvailable()
      val streamed = spark.table("rb_out")
        .as[StreamOps.RecordBreak].collect().toSet
      q.stop()
      assert(streamed == Set(
        StreamOps.RecordBreak(1L, 1L, 3.0, None),
        StreamOps.RecordBreak(1L, 2L, 5.0, Some(3.0)),
        StreamOps.RecordBreak(2L, 3L, 7.0, None),
        StreamOps.RecordBreak(1L, 5L, 9.0, Some(5.0))))
      // batch twin over the same rows gives the same set
      val batchRows = Seq(
        (1L, 2L, ts(10), 5.0), (1L, 1L, ts(0), 3.0), (2L, 3L, ts(0), 7.0),
        (1L, 4L, ts(20), 4.0), (1L, 5L, ts(30), 9.0))
        .toDF("user_id", "event_id", "ts", "value")
      val batch = StreamOps.recordBreakersBatch(
          batchRows, "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("event_id"), col("value"), col("prev_best"))
        .as[StreamOps.RecordBreak].collect().toSet
      assert(batch == streamed)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState event-time timers: session closes on watermark, not on data") {
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamOps.RecordEv]
      val q = StreamOps.sessionTimeouts(
          mem.toDS().withWatermark("ts", "0 seconds"), gapMs = 30L * 60000L)
        .writeStream.outputMode("append").format("memory")
        .queryName("sto_out").start()
      // user 1's burst — no summary yet: the timer at ts(10)+30min is
      // ahead of the watermark (max seen = ts(10))
      mem.addData(
        StreamOps.RecordEv(1L, 1L, ts(0), 2.0),
        StreamOps.RecordEv(1L, 2L, ts(10), 3.0))
      q.processAllAvailable()
      assert(spark.table("sto_out").isEmpty,
        "session must not close while the watermark is inside the gap")
      // a far-future event on ANOTHER key advances the watermark past
      // user 1's gap — the timer fires on silence, emitting the summary
      mem.addData(StreamOps.RecordEv(2L, 3L, ts(120), 7.0))
      q.processAllAvailable()
      mem.addData(StreamOps.RecordEv(2L, 4L, ts(240), 1.0))
      q.processAllAvailable()
      val got = spark.table("sto_out").as[StreamOps.SessionSummary]
        .collect().filter(_.user_id == 1L).toSeq
      q.stop()
      assert(got == Seq(StreamOps.SessionSummary(1L, 2L, 5.0)),
        s"user 1's session must close exactly once with (2 events, 5.0): $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("st07 chain: dedup -> stream-stream join -> windowed agg == batch (append)") {
    // THREE chained stateful operators — the watermark must propagate
    // THROUGH the dedup state and the join's delayed event-time domain
    // for the final windowed agg to ever finalize in append mode (this
    // composition, not any single operator, is where streaming engines
    // break). Re-delivered click in a LATER micro-batch must be absorbed
    // by dedup state BEFORE it can double the join's pair count.
    implicit val sqlCtx = spark.sqlContext
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val clicks = df.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .transform(StreamOps.dedupStream(Seq("user_id", "click_id"),
          "click_ts", "1 hour"))
      val views = df.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("value"))
      StreamOps.intervalJoin(clicks, views, "user_id", "click_ts", "view_ts",
          lookback = "2 hours", watermark = "1 hour")
        .groupBy(window(col("click_ts"), "15 minutes"))
        .agg(count(lit(1)).as("n_pairs"),
          graft.core.Exact.decimalSum(col("value"), "sum_view_value"))
        .select(col("window.start").as("w"), col("n_pairs"),
          col("sum_view_value"))
    }
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = shape(mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("st07_out").start()
    // user 1: click t=30; views at t=25 (in window), t=-100 (older than
    // 2h lookback, out), t=31 (after the click, out)
    val batch1 = Seq(
      (1L, ts(30), 100L, "click", 0.0),
      (1L, ts(25), 200L, "view", 2.0),
      (1L, ts(-100), 201L, "view", 3.0),
      (1L, ts(31), 202L, "view", 5.0))
    // re-delivered click 100 (dedup drops it — pair must NOT double) +
    // user 2 click/view pair
    val batch2 = Seq(
      (1L, ts(30), 100L, "click", 0.0),
      (2L, ts(40), 300L, "click", 0.0),
      (2L, ts(35), 400L, "view", 7.0))
    // watermark-advancing tail on both filters' sides (no pairs of its
    // own: user 98 has no views, user 99 no clicks) — closes all windows
    val tail = Seq(
      (98L, ts(5000), 900L, "click", 0.0),
      (99L, ts(5001), 901L, "view", 0.0))
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    mem.addData(tail: _*); q.processAllAvailable()
    val streamed = spark.table("st07_out")
      .as[(Timestamp, Long, Double)].collect().toSeq.sortBy(_._1.getTime)
    q.stop()
    val batch = shape((batch1 ++ batch2 ++ tail)
        .toDF("user_id", "ts", "event_id", "event_type", "value"))
      .as[(Timestamp, Long, Double)].collect().toSeq.sortBy(_._1.getTime)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // exactly the two true pairs — the re-delivered click added none
    assert(streamed.map(_._2).sum == 2L, s"pair count: $streamed")
  }

  test("firstPerKey streaming: key-only within-horizon drop, beyond-horizon re-emit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sdf = mem.toDF().toDF("user_id", "ts", "value")
    val q = StreamOps.firstPerKey("user_id", "ts", "30 minutes")(sdf)
      .writeStream.outputMode("append").format("memory")
      .queryName("fpk_out").start()
    // user 1 twice within the horizon at DIFFERENT timestamps — the
    // key-only rule drops the second (dedupStream would keep both)
    mem.addData((1L, ts(0), 1.0), (1L, ts(10), 2.0), (2L, ts(5), 3.0))
    q.processAllAvailable()
    val batch1 = spark.table("fpk_out")
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(batch1 == Set((1L, 1.0), (2L, 3.0)), s"got $batch1")
    // in-order replay within one horizon == the batch twin on the same data
    val batchTwin = StreamOps.firstPerKey("user_id", "ts", "30 minutes")(
        Seq((1L, ts(0), 1.0), (1L, ts(10), 2.0), (2L, ts(5), 3.0))
          .toDF("user_id", "ts", "value"))
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(batchTwin == batch1, s"stream $batch1 != batch $batchTwin")
    // advance the watermark far past user 1's horizon, then re-deliver the
    // key: its state was evicted, so it MUST re-emit (the bounded-memory
    // trade the operator is designed around)
    mem.addData((9L, ts(1000), 0.0))
    q.processAllAvailable()
    mem.addData((1L, ts(1010), 9.0))
    q.processAllAvailable()
    val all = spark.table("fpk_out")
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    q.stop()
    assert(all.contains((1L, 9.0)), s"beyond-horizon key must re-emit: $all")
    assert(!all.contains((1L, 2.0)), s"within-horizon dup must stay dropped: $all")
  }

  test("streamNearDupScreen: stream == batch against a static band index; clean docs pass") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "pack my box with five dozen liquor jugs for the long winter"),
      (3L, "sphinx of black quartz judge my vow said the old keeper"))
      .toDF("doc_id", "text")
    val staticBands = graft.ext.Dedup.lshBandTable(corpus, col("doc_id"), col("text"))
      .localCheckpoint(true)
    // arrivals: 101 = near-copy of doc 1 (one word changed), 102 = unique
    // text sharing no shingles, 103 = too short to shingle (no bands)
    val arrivals = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and AGAIN extra"),
      (102L, "completely different words that never appeared in anything before now"),
      (103L, "too short"))
    val batch = StreamOps.streamNearDupScreen(
        arrivals.toDF("doc_id", "text"), col("doc_id"), col("text"), staticBands)
      .orderBy("doc", "partner").as[(Long, Long, Long)].collect().toSeq

    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.streamNearDupScreen(sdf, col("doc_id"), col("text"), staticBands)
      .writeStream.outputMode("complete").format("memory")
      .queryName("neardup_out").start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    val streamed = spark.table("neardup_out")
      .orderBy("doc", "partner").as[(Long, Long, Long)].collect().toSeq
    q.stop()

    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the near-copy collides with static doc 1 on >=1 band; the clean and
    // the too-short arrivals produce no candidate pairs at all
    assert(batch.map(_._1) == Seq(101L), s"got $batch")
    assert(batch.head._2 == 1L && batch.head._3 >= 1L, s"got $batch")
  }

  test("streamPrefixProbe: stream == batch == crossPrefixProbe against the stored stable index") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "pack my box with five dozen liquor jugs for the long cold winter"),
      (3L, "sphinx of black quartz judge my vow said the old keeper at dusk"))
      .toDF("doc_id", "text")
    val corpusSh = graft.ext.Dedup.shingleHashTable(corpus, col("doc_id"), col("text"))
    // the maintainable (order-stable) index — what st12 probes in prod
    val pref = graft.ext.Dedup.stablePrefixIndexTable(corpusSh, 2, 5)
      .localCheckpoint(true)
    val sigs = graft.ext.Dedup.signatureTable(corpusSh).localCheckpoint(true)
    // 101 = near-copy of doc 1 (J >= 2/5), 102 = clean, 103 = too short
    val arrivals = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (102L, "completely different words that never appeared in anything before now"),
      (103L, "too short"))
    def key(r: (Long, Long, Long, Long, Long, Double)) = r
    val batch = StreamOps.streamPrefixProbe(
        arrivals.toDF("doc_id", "text"), col("doc_id"), col("text"),
        pref, sigs, tauNum = 2, tauDen = 5)
      .orderBy("doc", "partner")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq

    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.streamPrefixProbe(sdf, col("doc_id"), col("text"),
        pref, sigs, tauNum = 2, tauDen = 5)
      .writeStream.outputMode("complete").format("memory")
      .queryName("prefix_probe_out").start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    val streamed = spark.table("prefix_probe_out")
      .orderBy("doc", "partner")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    q.stop()
    assert(streamed.map(key) == batch.map(key), s"stream $streamed vs batch $batch")
    // the near-copy is found with the EXACT intersection stats; clean and
    // too-short arrivals emit nothing
    assert(batch.map(_._1) == Seq(101L) && batch.head._2 == 1L, s"got $batch")
    // and the streaming gate agrees with the batch incremental probe
    // (same index, same τ) — the two deployment faces of one operator
    val viaBatchProbe = graft.ext.Dedup.crossPrefixProbe(
        graft.ext.Dedup.shingleHashTable(arrivals.toDF("doc_id", "text"),
          col("doc_id"), col("text")),
        pref.select(col("doc"), col("h"), col("n_sh")), sigs,
        tauNum = 2, tauDen = 5, broadcastSigs = true)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(batch.map(key) == viaBatchProbe.map(key),
      s"stream-gate $batch vs batch-probe $viaBatchProbe")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Multimodal

  test("binary round-trip: bytes length and frame slicing") {
    val df = Seq((1L, "a" * 250)).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(
        Multimodal.withMediaBytes(df, col("text")), col("media"), n = 4, stride = 100)
      .select(col("frame_idx"), length(col("frame")).as("len"))
      .orderBy("frame_idx").as[(Int, Int)].collect().toSeq
    // 250 bytes -> frames of 100, 100, 50, and an empty slice
    assert(frames.map(_._2) == Seq(100, 100, 50, 0))
  }

  test("bmpMeta/wavMeta parse hand-assembled spec-valid header bytes") {
    // golden arrays built byte-by-byte from the format specs — pins the
    // parsers against REAL format bytes independent of the in-plan builders
    def le(v: Int, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    val bmp: Array[Byte] =
      "BM".getBytes("ASCII") ++ le(54 + 18, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(2, 4) ++ le(3, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(18, 4) ++ le(0, 4) ++ le(0, 4) ++ le(0, 4) ++ le(0, 4)
    assert(bmp.length == 54)
    val bdf = Seq(Tuple1(bmp)).toDF("media")
    val (bw, bh) = Multimodal.bmpMeta(bdf, col("media"))
      .select("width", "height").as[(Int, Int)].head()
    assert((bw, bh) == ((2, 3)))
    val wav: Array[Byte] =
      "RIFF".getBytes("ASCII") ++ le(36 + 64, 4) ++ "WAVE".getBytes("ASCII") ++
        "fmt ".getBytes("ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(2, 2) ++
        le(16000, 4) ++ le(64000, 4) ++ le(4, 2) ++ le(16, 2) ++
        "data".getBytes("ASCII") ++ le(64, 4)
    assert(wav.length == 44)
    val wdf = Seq(Tuple1(wav)).toDF("media")
    val parsed = Multimodal.wavMeta(wdf, col("media"))
      .select("n_channels", "sample_rate", "bits_per_sample", "data_len")
      .as[(Int, Int, Int, Long)].head()
    assert(parsed == ((2, 16000, 16, 64L)))
  }

  test("bmpHeader/wavHeader round-trip through their parsers") {
    val df = Seq((1920, 1080, 100L), (2, 3, 7L), (640, 480, 0L))
      .toDF("w", "h", "n")
    val bmp = df.withColumn("media",
      Multimodal.bmpHeader(col("w"), col("h"), col("n")))
    val back = Multimodal.bmpMeta(bmp, col("media"))
      .select("w", "h", "width", "height", "byte_len")
      .as[(Int, Int, Int, Int, Int)].collect()
    back.foreach { case (w, h, pw, ph, bl) =>
      assert(pw == w && ph == h && bl == 54)
    }
    val wav = df.withColumn("media",
      Multimodal.wavHeader(lit(44100), lit(2), lit(16), col("n")))
    val wback = Multimodal.wavMeta(wav, col("media"))
      .select("n", "n_channels", "sample_rate", "bits_per_sample", "data_len")
      .as[(Long, Int, Int, Int, Long)].collect()
    wback.foreach { case (n, ch, sr, bps, dl) =>
      assert(ch == 2 && sr == 44100 && bps == 16 && dl == n)
    }
  }

  test("decodeBatched: deterministic fake codec through mapPartitions") {
    val ds = Seq(
      Multimodal.MediaRow(1L, "hello".getBytes),
      Multimodal.MediaRow(2L, "hello".getBytes),
      Multimodal.MediaRow(3L, "other-bytes".getBytes)).toDS()
    val out = Multimodal.decodeBatched(ds).collect().sortBy(_.doc_id)
    assert(out(0).checksum == out(1).checksum)   // same bytes, same decode
    assert(out(0).checksum != out(2).checksum)
    assert(out.forall(r => r.n_pixels == r.width.toLong * r.height))
  }
  test("wavFrameRms: negative int16 fold, frame split, odd trailing byte ignored") {
    def le(v: Int, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    // data: samples [1, -1, -32768] (LE int16) + one trailing odd byte
    val data: Array[Byte] = le(1, 2) ++ le(0xFFFF, 2) ++ le(0x8000, 2) ++ le(0x7A, 1)
    val wav: Array[Byte] =
      "RIFF".getBytes("ASCII") ++ le(36 + data.length, 4) ++ "WAVE".getBytes("ASCII") ++
        "fmt ".getBytes("ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(1, 2) ++
        le(8000, 4) ++ le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
        "data".getBytes("ASCII") ++ le(data.length, 4) ++ data
    val df = Seq(Tuple1(wav)).toDF("media").withColumn("doc", lit(1L))
    // frameSamples = 2: frame 0 = {1, -1} -> rms 1; frame 1 = {-32768}
    val got = Multimodal.wavFrameRms(df, col("doc"), col("media"), frameSamples = 2)
      .orderBy("frame").select("frame", "n_samples", "rms")
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((0, 2L), (1, 1L)), s"got $got")
    assert(math.abs(got(0)._3 - 1.0) < 1e-12 && math.abs(got(1)._3 - 32768.0) < 1e-12,
      s"rms $got")
  }
  test("patchPool: cycling payload gives exact column-dependent patch means") {
    // payload = "ABCD" x 16 -> sample(i) = byte i; every patch pools
    // indices {a, a+1, a+8, a+9} with a = 16r + 2c, and (byte % 4)
    // depends only on the column parity: mean 65.5 (c even) / 67.5 (c odd)
    val payload = ("ABCD" * 16).getBytes("ASCII")
    val df = Seq(Tuple1(payload)).toDF("p")
      .withColumn("doc", lit(7L))
      .withColumn("media",
        concat(Multimodal.bmpHeader(lit(8), lit(8), length(col("p"))), col("p")))
    val got = Multimodal.patchPool(df, col("doc"), col("media"))
      .orderBy("pr", "pc").select("pr", "pc", "mean_byte")
      .as[(Int, Int, Double)].collect().toSeq
    assert(got.size == 16)
    got.foreach { case (_, pc, m) =>
      val want = if (pc % 2 == 0) 65.5 else 67.5
      assert(m == want, s"patch col $pc: $m != $want")
    }
  }

  private def wavOf(payload: String) =
    Seq((1L, payload)).toDF("id", "p")
      .withColumn("media", concat(
        Multimodal.wavHeader(lit(8000), lit(1), lit(16),
          length(col("p").cast("binary"))),
        col("p").cast("binary")))

  test("wavZeroCrossings: hand-decoded 2-sample payload crosses the mean once") {
    // "aazz" → u0 = 97+256·97 = 24929, u1 = 122+256·122 = 31354;
    // mean test: 2·u0 < Σu < 2·u1 → exactly one crossing, zcr = 1.
    val got = Multimodal.wavZeroCrossings(wavOf("aazz"), col("id"), col("media"))
      .select("n_samples", "crossings", "zcr")
      .as[(Long, Long, Double)].head()
    assert(got == ((2L, 1L, 1.0)))
  }

  test("wavZeroCrossings: constant signal never crosses; alternating crosses every step") {
    val const = Multimodal.wavZeroCrossings(wavOf("abababab"), col("id"), col("media"))
      .select("n_samples", "crossings").as[(Long, Long)].head()
    assert(const == ((4L, 0L))) // all samples equal → u·n == Σu, no side flips
    // "aa" (24929) vs "zz" (31354) alternating: every adjacent pair flips
    val alt = Multimodal.wavZeroCrossings(wavOf("aazzaazz"), col("id"), col("media"))
      .select("n_samples", "crossings", "zcr").as[(Long, Long, Double)].head()
    assert(alt == ((4L, 3L, 1.0)))
  }

  test("wavDeltaAudit: hand-decoded deltas, bit width via bin-length (no log2)") {
    // "aazz" → samples 24929, 31354 → one delta of 6425;
    // bin(6425) = "1100100011001" (13 chars) → delta_bits 13
    val got = Multimodal.wavDeltaAudit(wavOf("aazz"), col("id"), col("media"))
      .select("n_deltas", "max_abs_delta", "mean_abs_delta", "delta_bits")
      .as[(Long, Long, Double, Int)].head()
    assert(got == ((1L, 6425L, 6425.0, 13)))
    // constant signal: all deltas 0 → bin(0) = "0" → 1 bit
    val const = Multimodal.wavDeltaAudit(wavOf("abababab"), col("id"), col("media"))
      .select("max_abs_delta", "delta_bits").as[(Long, Int)].head()
    assert(const == ((0L, 1)))
  }

  test("wavZeroCrossings: negative PCM samples are sign-converted before the mean test") {
    // signed samples [-1, -32768, 100] (LE hex ffff 0080 6400):
    // tot = -32669, n = 3 → high pattern T,F,T → 2 crossings.
    // The old UNSIGNED decode saw [65535, 32768, 100] / tot 98403 →
    // T,F,F → only 1 crossing — this pins the signed fix.
    val df = Seq((1L, "ffff00806400")).toDF("id", "hx")
      .withColumn("p", unhex(col("hx")))
      .withColumn("media", concat(
        Multimodal.wavHeader(lit(8000), lit(1), lit(16), length(col("p"))),
        col("p")))
    val got = Multimodal.wavZeroCrossings(df, col("id"), col("media"))
      .select("n_samples", "crossings", "zcr")
      .as[(Long, Long, Double)].head()
    assert(got == ((3L, 2L, 1.0)))
  }

  test("wavZeroCrossings: single-sample and empty clips drop out") {
    assert(Multimodal.wavZeroCrossings(wavOf("ab"), col("id"), col("media"))
      .count() == 0)
    assert(Multimodal.wavZeroCrossings(wavOf(""), col("id"), col("media"))
      .count() == 0)
  }

  test("wavZeroCrossings agrees with a driver-side decode on real docs") {
    val docs = graft.core.Tables.documents(spark, sf).limit(50)
    val ch = (col("doc_id") % 3 + 1).cast("int")
    val media = docs.withColumn("media", concat(
      Multimodal.wavHeader(lit(8000), ch, lit(16),
        length(col("text").cast("binary"))),
      col("text").cast("binary")))
    val got = Multimodal.wavZeroCrossings(media, col("doc_id"), col("media"))
      .select("id", "crossings").as[(Long, Long)].collect().toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, t) =>
      val bytes = t.getBytes("UTF-8").map(_ & 0xff)
      val us = bytes.grouped(2).collect { case Array(lo, hi) =>
        val u = lo + 256 * hi
        if (u >= 32768) u - 65536 else u // two's-complement, as the engine
      }.toArray
      if (us.length > 1) {
        val tot = us.map(_.toLong).sum
        val n = us.length.toLong
        val expect = us.sliding(2).count { case Array(v, u) =>
          (u * n > tot) != (v * n > tot)
        }
        assert(got(id) == expect.toLong, s"doc $id")
      } else assert(!got.contains(id))
    }
  }

  test("streamCellOccupancy: stream == batch; occupancy sums to arrival count; cells from the stored quantizer") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 40L).map(i =>
      (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt * 2) 5.0 else 0.1 * d)))
      .toDF("vec_id", "embedding")
    val cents = graft.ext.IVF.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 4, iters = 2).localCheckpoint(true)
    val arrivals = (101L to 112L).map(i =>
      (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt * 2) 4.8 else 0.1 * d)))
    val batch = StreamOps.streamCellOccupancy(
        arrivals.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), cents)
      .orderBy("cell").as[(Int, Long)].collect().toSeq
    assert(batch.map(_._2).sum == arrivals.size.toLong,
      "every arrival lands in exactly one cell")
    // cell ids must come from the stored quantizer's id space
    val validCells = cents.select("cell").as[Int].collect().toSet
    assert(batch.map(_._1).forall(validCells), s"unknown cell in $batch")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.streamCellOccupancy(
        mem.toDF().toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), cents)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cell_occ_out").start()
    // two micro-batches: the grouped count must accumulate across them
    mem.addData(arrivals.take(5): _*)
    q.processAllAvailable()
    mem.addData(arrivals.drop(5): _*)
    q.processAllAvailable()
    val streamed = spark.table("cell_occ_out")
      .orderBy("cell").as[(Int, Long)].collect().toSeq
    q.stop()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("st11 CMS cells: streaming == batch across micro-batches; merge == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.events(spark, sf)
      .select("ts", "user_id").limit(600).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)))
    val mem = MemoryStream[(Timestamp, Long)]
    val sdf = mem.toDF().toDF("ts", "user_id")
    val q = StreamOps.cmsDailyCells("ts", col("user_id"))(sdf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("st11_out").start()
    // split across two micro-batches: daily cells must keep ACCUMULATING
    // state per (day, j, bucket) across the batch boundary
    val (b1, b2) = ev.splitAt(300)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("st11_out")
      .orderBy("day", "j", "bucket")
      .as[(java.sql.Date, Int, Long, Long)].collect().toSeq
    q.stop()
    val batchDf = ev.toSeq.toDF("ts", "user_id")
    val batch = StreamOps.cmsDailyCells("ts", col("user_id"))(batchDf)
      .orderBy("day", "j", "bucket")
      .as[(java.sql.Date, Int, Long, Long)].collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // cell-wise merge of the daily partials == a one-shot sketch over all
    // rows (counts add exactly — the property st11's estimates rely on)
    val merged = StreamOps.cmsMergeCells(
        StreamOps.cmsDailyCells("ts", col("user_id"))(batchDf))
      .orderBy("j", "bucket").as[(Int, Long, Long)].collect().toSeq
    val oneShot = graft.ops.Mining
      .cmsCounters(batchDf, col("user_id"))
      .orderBy("j", "bucket").as[(Int, Long, Long)].collect().toSeq
    assert(merged == oneShot)
  }
}
