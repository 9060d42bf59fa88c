package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.ext.Dedup

/** Structured-Streaming-ready transforms. Every function here is a pure
  * `DataFrame => DataFrame` over event-time columns, so THE SAME CODE runs
  * under `spark.read` (batch, oracle-checkable) and `spark.readStream`
  * (incremental with watermark-bounded state) — the design SURVEY.md §7.5
  * calls for. StreamingSpec drives them through MemoryStream; the batch
  * form backs the q23/st01 oracle queries.
  */
object StreamOps {

  /** Tumbling event-time window aggregate. Under readStream add
    * `.withWatermark(tsCol, horizon)` upstream; state is then bounded by
    * the watermark and windows finalize in append mode.
    */
  def tumblingAgg(tsCol: String, keyCol: String, width: String,
                  valueCol: String = "value")(df: DataFrame): DataFrame =
    df.groupBy(window(col(tsCol), width), col(keyCol))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.decimalSum(col(valueCol), "sum_value"))

  /** Sliding event-time window aggregate: width > slide ⇒ every event
    * contributes to width/slide overlapping windows (the trend-smoothing
    * form tumbling can't express — a spike shows in every window it
    * touches). The generate-per-window expansion happens inside the
    * `window()` expression, map-side; state under streaming is
    * width/slide × the tumbling equivalent, still watermark-bounded.
    */
  def slidingAgg(tsCol: String, keyCol: String, width: String, slide: String,
                 valueCol: String = "value")(df: DataFrame): DataFrame =
    df.groupBy(window(col(tsCol), width, slide), col(keyCol))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.decimalSum(col(valueCol), "sum_value"))

  /** Event-time sessionization via the built-in session_window: events
    * within `gap` of each other merge into one session per key. Identical
    * semantics batch and streaming (streaming needs a watermark).
    */
  def sessionAgg(tsCol: String, keyCol: String, gap: String,
                 valueCol: String = "value")(df: DataFrame): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        graft.core.Exact.decimalSum(col(valueCol), "sum_value"))

  /** Stream-static enrichment: join the stream against a (small, slowly
    * changing) dimension — broadcast per micro-batch, no stream-side
    * state. The standard lookup-join shape; for stream-stream joins use
    * watermarked equi-joins instead.
    */
  def enrich(dim: DataFrame, keys: Seq[String], joinType: String = "left")(
      stream: DataFrame): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream interval join: for each left row, matching right rows
    * of the same key whose event time falls in [left.ts − lookback,
    * left.ts]. Both sides carry watermarks, and the time-bound condition
    * is what lets the engine expire right-side state (without it, a
    * stream-stream join buffers forever). Batch mode: the same range
    * equi-join, oracle-checkable (q35 is the banded batch analog).
    *
    * joinType "left_outer": an unmatched left row is emitted null-padded
    * — under streaming ONLY once the watermark proves no match can still
    * arrive (the row sits in state until its window closes), which is why
    * outer stream-stream joins REQUIRE the watermark + time bound where
    * inner joins merely use them to bound state. Batch mode emits the
    * null-padded row immediately, same result set (StreamingSpec pins
    * both the parity and the deferred-emission behavior).
    *
    * Expects `ts` columns pre-named distinctly via the select aliases.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, lookback: String,
                   watermark: String, joinType: String = "inner"): DataFrame = {
    // a side arriving from an UPSTREAM stateful operator (st07's deduped
    // clicks) already carries its watermark — redefining it downstream is
    // disallowed under multi-stateful-operator propagation, so only set
    // one where none exists (the column's delay metadata is the marker)
    def hasWm(df: DataFrame, c: String): Boolean =
      df.schema.exists(f => f.name == c &&
        f.metadata.contains("spark.watermarkDelayMs"))
    val l = if (left.isStreaming && !hasWm(left, leftTs))
      left.withWatermark(leftTs, watermark) else left
    val r = if (right.isStreaming && !hasWm(right, rightTs))
      right.withWatermark(rightTs, watermark) else right
    // dataset aliases, not l(key)/r(key): when both sides derive from the
    // SAME source (self-join — st05/st06's clicks vs views), the attribute
    // ids coincide and an unaliased drop can remove the LEFT key, which
    // null-pads the key on outer-join rows. Aliases make the drop precise.
    l.alias("__ijl").join(r.alias("__ijr"),
      col(s"__ijl.$key") === col(s"__ijr.$key") &&
        col(rightTs) >= col(leftTs) - expr(s"interval $lookback") &&
        col(rightTs) <= col(leftTs),
      joinType)
      .drop(col(s"__ijr.$key"))
  }

  /** Streaming EXACT-re-delivery dedup: the dedup key is `keyCols` PLUS
    * the event timestamp — a replayed row with identical (key, ts) drops,
    * the same key at a different ts survives (StreamingSpec pins this).
    * State is bounded by the watermark (late duplicates beyond the
    * horizon are the accepted trade — unbounded-state dedup doesn't exist
    * at scale). For id-only dedup regardless of ts, use
    * `dropDuplicatesWithinWatermark(keyCols)` instead — different
    * semantics, same bounded-state posture. Batch mode: plain
    * dropDuplicates on the same (key, ts) set.
    */
  def dedupStream(keyCols: Seq[String], tsCol: String, watermark: String)(
      df: DataFrame): DataFrame =
    (if (df.isStreaming) df.withWatermark(tsCol, watermark) else df)
      .dropDuplicates(keyCols :+ tsCol)

  /** KEY-ONLY dedup with watermark-bounded state —
    * `dropDuplicatesWithinWatermark`: a row drops when ANY row with the
    * same key was seen within the watermark horizon, whatever its own
    * timestamp ([[dedupStream]] by contrast matches on exact (key, ts)
    * identity). Batch twin: the event-time-EARLIEST row per key via a
    * row_number window (deterministic, `tieBreak` for equal timestamps).
    * The two coincide exactly when replay is event-time-ordered and every
    * re-occurrence of a key falls within one horizon; StreamingSpec pins
    * both that equality AND the divergence the streaming form is
    * DESIGNED to have — a key recurring beyond the horizon re-emits,
    * because unbounded key memory does not exist at scale.
    */
  def firstPerKey(keyCol: String, tsCol: String, watermark: String,
                  tieBreak: Seq[String] = Nil)(df: DataFrame): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(Seq(keyCol))
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
        .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Streaming near-dup SCREENING against a STATIC MinHash band index —
    * the "is this incoming document a near-copy of anything already in
    * the corpus" admission gate, run in-stream before a doc lands in
    * training data. The arriving doc's band hashes come from the SAME
    * fused native expression the batch pipeline uses
    * (graft_minhash_bands), but fed by the EXPRESSION-LEVEL shingle
    * builder (Dedup.shingles — array HOFs, no explode/groupBy), so the
    * entire per-doc derivation is stateless row arithmetic: the stream
    * stays a plain projection until the band join, which is a
    * stream-STATIC equi-join Spark executes as a broadcast probe per
    * micro-batch (no watermark, no stream-state). Works identically on
    * a batch frame — the graded st10 twin IS this function on the same
    * inputs (StreamingSpec pins stream == batch).
    *
    * Output: one row per (arriving doc, colliding static partner) with
    * the number of shared band buckets — exactly the candidate-pair
    * granularity the downstream exact-Jaccard verify consumes
    * (minhashNearDups' second stage). Zero-hit docs drop out (inner
    * join): at 100 TB the gate forwards only collisions, never the
    * clean majority. A single (doc, partner) aggregate — deliberately
    * NOT a per-doc distinct-partner rollup, which streaming forbids
    * (no countDistinct) and batch consumers can do in one more line.
    */
  def streamNearDupScreen(stream: DataFrame, id: Column, text: Column,
                          staticBands: DataFrame): DataFrame = {
    val bands = stream
      .select(id.as("doc"), Dedup.shingles(text).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
      .select(col("doc"),
        posexplode(graft.functions.GraftFunctions.minhashBands(col("sh_arr"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bands.join(
        broadcast(staticBands.select(col("doc").as("partner"),
          col("band"), col("bucket"))),
        Seq("band", "bucket"))
      .filter(col("partner") =!= col("doc"))
      .groupBy("doc", "partner")
      .agg(count(lit(1)).as("n_band_hits"))
  }

  /** Streaming ANN admission + occupancy telemetry — the VECTOR-side
    * face of the streaming ingestion family (st10/st12 gate arriving
    * documents; this gates arriving vectors): each arriving embedding
    * takes its coarse cell from the STORED quantizer as a STATELESS
    * map-only projection (s35's batch move under readStream — the k-row
    * centroid table folds into the native argmin kernel as literals at
    * plan build: no join, no training, no stream state), then ONE
    * bounded grouped count aggregates per-cell arrival occupancy — at
    * most k rows of stream state regardless of arrival volume, the CMS
    * discipline (st11) applied to the quantizer. The output is exactly
    * the arrival-side half of s38's drift audit: a deployment runs this
    * continuously and hands the occupancy vector to the drift test that
    * decides when s42's warm retrain fires.
    *
    * Works identically on a batch frame — the graded st13 twin IS this
    * function on the s35 arrival slice (StreamingSpec pins
    * stream == batch).
    */
  def streamCellOccupancy(stream: DataFrame, id: Column, vec: Column,
                          centroids: DataFrame): DataFrame =
    graft.ext.IVF.assignWithCentroids(
        stream.select(id.as("vid"), vec.as("v")), "vid", "v", centroids)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_arrivals"))

  /** EXACT-τ prefix-index probe as a streaming ADMISSION GATE — the
    * in-stream face of [[graft.ext.Dedup.crossPrefixProbe]], closing the
    * loop between the streaming screen family (st10's probabilistic LSH
    * band gate) and the stored maintainable index (t60's order-stable
    * prefix index): each arriving doc is checked against the PERSISTED
    * corpus index with the full exact-Jaccard-≥-τ guarantee before it
    * would be inserted.
    *
    * Streaming-legal topology: the per-doc signature (sorted xxhash64
    * array over distinct shingles — identical bytes to
    * [[graft.ext.Dedup.signatureTable]]'s collect_list path) is a pure
    * MAP-SIDE projection, the token explode is a flatMap, both corpus
    * joins broadcast the static index, and the verify kernel runs per
    * joined row — so the ONLY stateful operator is the single trailing
    * per-(doc, partner) aggregate that collapses the one-row-per-shared-
    * prefix-token duplication (~1.2×, the r14 measurement; run it in
    * update/complete mode, or window it by arrival time under a
    * watermark for bounded state — st10's discipline).
    *
    * Completeness is [[graft.ext.Dedup.crossPrefixProbe]]'s pigeonhole
    * argument verbatim: full(arrival) ⋈ prefix(corpus) is exhaustive for
    * ANY per-doc prefix order, so the stream needs zero knowledge of
    * corpus statistics and the stored index never recomputes per batch.
    *
    * Honest scale note: each exploded token row carries its doc's
    * signature array (the batch probe joins signatures BY KEY instead) —
    * per-micro-batch cost is tokens × sig bytes, the right trade for
    * arrival-sized batches; and a corpus whose signature table exceeds
    * broadcast reach should gate with st10's band screen and run the
    * exact verify as the batch probe (the two-stage deployment).
    *
    * Output: (doc, partner, n_inter, n_a, n_b, jaccard) for exact
    * J ≥ tauNum/tauDen cross pairs.
    */
  def streamPrefixProbe(stream: DataFrame, id: Column, text: Column,
                        corpusPref: DataFrame, corpusSigs: DataFrame,
                        tauNum: Int, tauDen: Int): DataFrame = {
    val sig = stream
      .select(id.as("doc"),
        sort_array(transform(Dedup.shingles(text),
          x => xxhash64(x))).as("ha"))
      .filter(size(col("ha")) > 0)
      .withColumn("n_a", size(col("ha")).cast("long"))
    sig
      .select(col("doc"), col("ha"), col("n_a"), explode(col("ha")).as("h"))
      .join(broadcast(corpusPref.select(col("doc").as("partner"), col("h"),
        col("n_sh").as("n_b"))), "h")
      .filter(col("partner") =!= col("doc"))
      .filter(Dedup.tauLengthOk(col("n_a"), col("n_b"), tauNum, tauDen))
      .join(broadcast(corpusSigs.select(col("doc").as("partner"),
        col("hs").as("hb"))), "partner")
      .select(col("doc"), col("partner"),
        Dedup.interCount(col("ha"), col("hb")), col("n_a"), col("n_b"))
      .filter(Dedup.tauOk(col("n_inter"), col("n_a"), col("n_b"), tauNum, tauDen))
      .groupBy("doc", "partner")
      .agg(first(col("n_inter")).as("n_inter"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .withColumn("jaccard",
        round(Dedup.jaccard(col("n_inter"), col("n_a"), col("n_b")), 6))
  }

  /** Per-day count-min-sketch PARTIAL cells over a streaming (or batch)
    * key column — the frequency-sketch sibling of q59's daily HLL
    * partials, and the streaming face of [[graft.ops.Mining.cmsCounters]]
    * (same [[graft.ops.Prep.portableHash]] cells, so the DuckDB oracle
    * re-derives every cell). Under readStream this is ONE watermarked
    * grouped aggregate whose state is AT MOST d·w cells per open day —
    * fixed regardless of event volume, the property that makes CMS the
    * streaming counting primitive (a per-key count would hold
    * key-cardinality state). Works identically on a batch frame: the
    * graded st11 twin IS this function on the same input.
    */
  def cmsDailyCells(tsCol: String, key: Column, watermark: String = "1 day",
                    d: Int = 4, w: Int = 1024)(df: DataFrame): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    src.select(to_date(col(tsCol)).as("day"), key.as("k"))
      .select(col("day"), explode(sequence(lit(0), lit(d - 1))).as("j"), col("k"))
      .withColumn("bucket", graft.ops.Prep.portableHash(col("j"), col("k")) % w)
      .groupBy(col("day"), col("j"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Merge daily CMS partials into one sketch by CELL-WISE ADDITION —
    * exact (counts add), so merged point-estimates equal a one-shot
    * sketch over the union of days bit-for-bit (StreamingSpec pins it).
    * This is the incremental re-aggregation move: store d·w cells per
    * day, re-merge ANY date range without rescanning history.
    */
  def cmsMergeCells(daily: DataFrame): DataFrame =
    daily.groupBy(col("j"), col("bucket")).agg(sum(col("c")).as("c"))

  /** Continuous gold-table maintenance: every micro-batch SCD1-upserts
    * into a parquet state table via [[graft.ops.Maintenance.upsert]]
    * (key-unique enforced per batch with a dropDuplicates on the keys).
    * This is the streaming deployment of q47's batch merge — the
    * foreachBatch escape hatch exists precisely for sinks whose write
    * semantics (read-modify-write) exceed append/update modes.
    *
    * Exactly-once EFFECTIVE state: a replayed batch re-upserts the same
    * key-unique rows, and upsert is idempotent for identical updates, so
    * the state table converges regardless of micro-batch retries (the
    * checkpoint still dedupes source offsets — this is defense in depth).
    *
    * The merged state is written through [[graft.core.Publish]]: into a
    * staging directory while the live state it reads stays intact, so a
    * failing micro-batch leaves the accumulated state as it was. At 100 TB
    * this helper's rewrite becomes a transactional-format MERGE (the
    * read-modify-write shape is identical); partition the state by a key
    * prefix and the per-batch rewrite touches only affected partitions.
    */
  def foreachBatchUpsert(stream: DataFrame, keys: Seq[String],
                         statePath: String, checkpointPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val updates = batch.dropDuplicates(keys)
        // existence via Hadoop FS, not java.io.File: on hdfs:// or s3a://
        // File.exists() is always false and each batch would drop the state
        val state = new org.apache.hadoop.fs.Path(statePath)
        val fs = state.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.core.Publish(spark, statePath) { staging =>
          val merged = if (!fs.exists(state)) updates.toDF()
            else graft.ops.Maintenance.upsert(spark.read.parquet(statePath), updates, keys)
          merged.write.parquet(staging.toString)
        }
      }
      .start()

  // ---------- custom-state example: per-key running counter ----------

  final case class Ev(user_id: Long, event_id: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total: Double)

  /** flatMapGroupsWithState: running per-user totals — the custom-state
    * escape hatch for semantics session_window can't express. Emits the
    * updated running row per input batch. NoTimeout: with
    * ProcessingTimeTimeout the engine schedules continuous empty
    * micro-batches to re-check timers, which spins a local test forever;
    * state eviction at scale should use event-time timeouts + watermark.
    */
  def runningTotals(ds: Dataset[Ev]): Dataset[UserRunning] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Ev], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n_events
          var t = prev.total
          events.foreach { e => n += 1; t += e.value }
          val next = UserRunning(user, n, t)
          state.update(next)
          Iterator(next)
      }
  }

  // ---------- transformWithState: per-key record-breaker detection ----------

  final case class RecordEv(user_id: Long, event_id: Long,
                            ts: java.sql.Timestamp, value: Double)
  final case class RecordBreak(user_id: Long, event_id: Long, value: Double,
                               prev_best: Option[Double])

  /** Spark 4's arbitrary-state API ([[StatefulProcessor]], SPARK-46815 —
    * the successor to flatMapGroupsWithState, typed state handles instead
    * of one opaque blob): per-user RECORD-BREAKER detection. State is one
    * `ValueState[Double]` — the best value seen so far; an input emits
    * iff it strictly exceeds it (first event per key always emits, with
    * prev_best = None). Rows are processed in (ts, event_id) order WITHIN
    * each micro-batch; cross-batch order is arrival order, which equals
    * event-time order whenever the source replays in order — StreamingSpec
    * pins both the parity and the state carrying across batches.
    * Requires the RocksDB state-store provider (the only one implementing
    * the TWS column-family layout).
    */
  final class RecordBreakProcessor
      extends StatefulProcessor[Long, RecordEv, RecordBreak] {
    @transient private var best: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      best = getHandle.getValueState[Double]("best", Encoders.scalaDouble,
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[RecordEv],
                                 tv: TimerValues): Iterator[RecordBreak] = {
      val out = Seq.newBuilder[RecordBreak]
      var cur: Option[Double] = if (best.exists()) Some(best.get()) else None
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (cur.forall(e.value > _)) {
          out += RecordBreak(key, e.event_id, e.value, cur)
          cur = Some(e.value)
        }
      }
      cur.foreach(best.update)
      out.result().iterator
    }
  }

  /** Streaming record-breakers via [[RecordBreakProcessor]]. */
  def recordBreakers(ds: Dataset[RecordEv]): Dataset[RecordBreak] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new RecordBreakProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  final case class SessAgg(n: Long, total: Double, lastMs: Long)
  final case class SessionSummary(user_id: Long, n_events: Long, total: Double)

  /** transformWithState with EVENT-TIME TIMERS: inactivity-timeout session
    * close. Each input batch folds into per-key (count, sum, last-seen)
    * state and re-arms one timer at `lastSeen + gapMs`; when the
    * WATERMARK crosses it, [[StatefulProcessor.handleExpiredTimer]] emits
    * the session summary and clears state — the emit-on-silence shape
    * (`session_window` can only emit rows it has seen; a timer fires
    * because nothing arrived). This is the other half of the TWS surface
    * next to [[RecordBreakProcessor]]'s value-state path; StreamingSpec
    * pins that the summary appears only after the watermark passes the
    * gap, and that a re-keyed event later opens a FRESH session.
    */
  final class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, RecordEv, SessionSummary] {
    @transient private var agg: ValueState[SessAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[SessAgg]("agg",
        Encoders.product[SessAgg], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[RecordEv],
                                 tv: TimerValues): Iterator[SessionSummary] = {
      val prev = if (agg.exists()) agg.get() else SessAgg(0L, 0.0, Long.MinValue)
      val next = rows.foldLeft(prev) { (a, e) =>
        SessAgg(a.n + 1, a.total + e.value, math.max(a.lastMs, e.ts.getTime))
      }
      agg.update(next)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(next.lastMs + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionSummary] = {
      val out =
        if (agg.exists()) Iterator(SessionSummary(key, agg.get().n, agg.get().total))
        else Iterator.empty
      agg.clear()
      out
    }
  }

  /** Streaming inactivity-closed sessions via [[SessionTimeoutProcessor]].
    * `ds` must already carry a watermark on `ts` — timers fire against it.
    */
  def sessionTimeouts(ds: Dataset[RecordEv], gapMs: Long): Dataset[SessionSummary] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin of [[recordBreakers]]: the prior per-key running max via
    * an UNBOUNDED PRECEDING..1 PRECEDING window (deterministic
    * (ts, tieBreak) order), keep rows that beat it. This is the form the
    * st09 oracle grades — under batch the declarative window lets Catalyst
    * plan one sort per partition instead of a row-at-a-time state store.
    */
  def recordBreakersBatch(df: DataFrame, keyCol: String, tsCol: String,
                          tieBreak: String, valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col(tieBreak))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("prev_best", max(col(valueCol)).over(w))
      .filter(col("prev_best").isNull || col(valueCol) > col("prev_best"))
      .select(col(keyCol), col(tieBreak), col(valueCol), col("prev_best"))
  }
}
