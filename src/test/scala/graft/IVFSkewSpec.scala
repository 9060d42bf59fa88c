package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{IVF, Similarity}
import graft.ops.Skew

class IVFSpec extends SparkSpec {
  import spark.implicits._

  test("kmeans: k centroids, deterministic across runs, right dimensionality") {
    val emb = Tables.embeddings(spark, sf)
    val a = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("cell").collect()
    val b = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("cell").collect()
    assert(a.length == 4)
    assert(a.map(_.getSeq[Double](1).length).toSeq == Seq(64, 64, 64, 64))
    assert(a.map(_.getSeq[Double](1)).toSeq == b.map(_.getSeq[Double](1)).toSeq)
  }

  test("kmeansRefine: warm-start identity — refine(train(i), 1 round) == train(i+1) bit-for-bit") {
    val emb = Tables.embeddings(spark, sf)
    val trained2 = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val refined = IVF.kmeansRefine(emb, "vec_id", "embedding", trained2, iters = 1)
      .orderBy("cell").collect()
    val trained3 = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
      .orderBy("cell").collect()
    assert(refined.map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq ==
      trained3.map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq,
      "one warm-started Lloyd round from the stored centroids must equal one more training round")
  }

  test("refreshAssignment: cell == fresh assignment under refined; moved iff argmin changed; no-op refresh moves nothing") {
    val emb = Tables.embeddings(spark, sf)
    val stored = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val refined = IVF.kmeansRefine(emb, "vec_id", "embedding", stored, iters = 1)
    val refresh = IVF.refreshAssignment(emb, "vec_id", "embedding", stored, refined)
      .orderBy("vid").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val fresh = IVF.assignWithCentroids(emb, "vec_id", "embedding", refined)
      .orderBy("vid").collect().map(r => (r.getLong(0), r.getInt(1)))
    val old = IVF.assignWithCentroids(emb, "vec_id", "embedding", stored)
      .orderBy("vid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(refresh.map(t => (t._1, t._2)).toSeq == fresh.toSeq,
      "refreshed cells must equal a from-scratch assignment under the refined centroids")
    refresh.foreach { case (vid, cell, moved) =>
      assert((moved == 1) == (old(vid) != cell), s"vid=$vid moved flag wrong")
    }
    // refreshing against the SAME centroids is the identity: zero churn
    val noop = IVF.refreshAssignment(emb, "vec_id", "embedding", stored, stored)
      .agg(sum(col("moved"))).first().getLong(0)
    assert(noop == 0L, s"self-refresh must move nothing, moved=$noop")
  }

  test("kmeansRefine: a centroid no vector picks drops out (plain Lloyd on empties)") {
    val emb = Tables.embeddings(spark, sf)
    val far = Seq((99, Seq.fill(64)(1e6))).toDF("cell", "c")
    val init = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 3, iters = 1)
      .union(far)
    val refined = IVF.kmeansRefine(emb, "vec_id", "embedding", init, iters = 1)
      .select("cell").as[Int].collect().toSet
    assert(!refined.contains(99), "the unreachable centroid must not survive the update")
    assert(refined.nonEmpty)
  }

  test("kmeans init: first-k-ids collapses on id-clustered data; hash-spread does not") {
    // ids arrive sorted by cluster (the common ingestion order): ids 1-10
    // are all ~A, 11-20 ~B, 21-30 ~C, 31-40 ~D. First-k init then seeds
    // every centroid inside cluster A — all points assign to cell 1 and
    // the other cells die (k-means returns 1 cell, not 4). The hash-spread
    // init picks seeds decorrelated from id order and keeps 4 live cells.
    val bases = Seq(
      Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0), Seq(0.0, 0.0, 0.0, 10.0))
    val data = (0 until 40).map { i =>
      // identical within each cluster: the k identical first-k seeds give
      // k-means nothing to separate — every point ties to cell 1
      ((i + 1).toLong, bases(i / 10))
    }.toDF("vec_id", "embedding")
    val naive = IVF.kmeansCentroidsInit(data, "vec_id", "embedding",
      k = 4, iters = 3, spreadInit = false).collect()
    val spread = IVF.kmeansCentroidsInit(data, "vec_id", "embedding",
      k = 4, iters = 3, spreadInit = true).collect()
    assert(naive.length < 4,
      s"expected first-k init to lose cells on id-clustered data, got ${naive.length}")
    assert(spread.length == 4,
      s"hash-spread init must keep all 4 cells live, got ${spread.length}")
    // and the spread centroids actually sit in distinct clusters: each has
    // a distinct dominant dimension
    val doms = spread.map(_.getSeq[Double](1).zipWithIndex.maxBy(_._1)._2).toSet
    assert(doms.size == 4, s"dominant dims: $doms")
  }

  test("ivfTopK: k true-cosine results per query, no self matches") {
    val emb = Tables.embeddings(spark, sf)
    val pred = col("vec_id") % 50 === 0
    val got = IVF.ivfTopK(emb, "vec_id", "embedding", pred, k = 3,
      cells = 4, nprobe = 2)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.values.forall(_.length == 3))
    // probing ALL cells must equal brute force exactly
    val all = IVF.ivfTopK(emb, "vec_id", "embedding", pred, k = 3,
        cells = 4, nprobe = 4)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(all == brute, "nprobe == cells must reduce to exact search")
  }

  test("ivf2TopK: probing every leaf reduces to brute force; honest probe returns k per query") {
    val emb = Tables.embeddings(spark, sf)
    val pred = col("vec_id") % 50 === 0
    // full hierarchical probe = all k1·k2 leaves = every vector is a
    // candidate → must equal exact search, like the flat nprobe==cells pin
    val all = IVF.ivf2TopK(emb, "vec_id", "embedding", pred, k = 3,
        k1 = 3, k2 = 3, nprobe1 = 3, nprobe2 = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(all == brute, "full leaf probe must reduce to exact search")
    val honest = IVF.ivf2TopK(emb, "vec_id", "embedding", pred, k = 3,
      k1 = 3, k2 = 3, nprobe1 = 2, nprobe2 = 2).collect()
    assert(honest.nonEmpty)
    assert(honest.forall(r => r.getLong(0) != r.getLong(1)))
    assert(honest.groupBy(_.getLong(0)).values.forall(_.length == 3))
  }

  test("twoLevelAssignTable: total over the corpus, cell1 == flat L1 assignment, valid leaf ids") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val assigned = IVF.twoLevelAssignTable(emb, "vec_id", "embedding",
      k1 = 4, k2 = 4, iters = 3).collect()
    assert(assigned.length == n, "every vector must get a leaf")
    // cell1 must be exactly the flat quantizer's assignment under the
    // same deterministic L1 training — the two-level index refines the
    // flat one, never disagrees with it
    val l1 = IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
    val flat = IVF.assignCells(
        emb.select(col("vec_id").as("vid"),
          col("embedding").cast("array<double>").as("v")), l1)
      .select("vid", "cell").as[(Long, Int)].collect().toMap
    assert(assigned.forall(r => flat(r.getLong(0)) == r.getInt(1)),
      "cell1 diverges from the flat L1 assignment")
    val l1Ids = l1.select("cell").as[Int].collect().toSet
    assert(assigned.map(_.getInt(1)).toSet.subsetOf(l1Ids))
    // L2 ids come from the residual codebook (possibly sparse after
    // empty-cell dropout) — every assigned cell2 must be one of them
    val l2Ids = IVF.twoLevelModel(emb, "vec_id", "embedding", 4, 4, 3)
      ._2.select("cell").as[Int].collect().toSet
    assert(assigned.map(_.getInt(2)).toSet.subsetOf(l2Ids))
  }
}

/** Measured evidence for SCALE.md's "AQE owns skew" claim: with skew-join
  * handling on, the oversized shuffle partition is SPLIT — observed at the
  * TASK level via a metrics listener (max shuffle-read records per task),
  * not inferred from the plan string.
  */
class AqeSkewSpec extends SparkSpec {
  import spark.implicits._

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Runs `action`, returns every task's shuffle-read record count. */
  private def taskShuffleReads(action: => Unit): Seq[Long] =
    profile(action).tasks.map(_.shuffleReadMetrics.recordsRead)

  test("AQE skew join: the hot partition is split — no task reads the whole key") {
    // one key carries 50k of 60k left rows (a ~5 MB shuffle partition vs
    // ~250 KB for the rest); with skew handling ON the hot partition must
    // be split so the max per-task read drops by >4x vs OFF
    // payload must be INCOMPRESSIBLE: skew detection compares compressed
    // shuffle-partition bytes against the threshold, and a repeated-char
    // payload lz4-compresses below it no matter how many rows it has
    // 16 input splits: a skewed reduce partition can only be split at
    // map-output granularity, so the mapper count bounds how finely AQE
    // can carve the hot partition
    val left = spark.range(0, 60000, 1, 16)
      .select(when(col("id") < 50000, 0L).otherwise(col("id") % 99 + 1).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1000000).cast("string")),
          md5((col("id") + 2000000).cast("string"))).as("payload"))
    val right = spark.range(0, 100).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"))
    // sum(length(...)) — not count: count(concat) folds to count(1) and
    // column pruning then drops payload from the shuffle entirely, leaving
    // the hot partition too small in bytes to ever register as skewed
    def runJoin(): Long = left.join(right, "k")
      .agg(sum(length(concat(col("payload"), col("name"))))).first().getLong(0)

    val common = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "512k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128k")

    var totalUnskewed = 0L
    var maxOff = 0L
    withConf(common :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
      val reads = taskShuffleReads { totalUnskewed = runJoin() }
      maxOff = reads.max
    }
    var totalSkewed = 0L
    var maxOn = 0L
    withConf(common :+ ("spark.sql.adaptive.skewJoin.enabled" -> "true"): _*) {
      val reads = taskShuffleReads { totalSkewed = runJoin() }
      maxOn = reads.max
    }
    assert(totalSkewed == totalUnskewed, "skew handling must not change results")
    assert(maxOff >= 50000L, s"without skew handling one task reads the hot key: $maxOff")
    assert(maxOn * 4 <= maxOff,
      s"skew split must cap per-task reads: maxOn=$maxOn vs maxOff=$maxOff")
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin == plain join on a deliberately skewed key") {
    // 90% of left rows share one hot key
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 0L, i))
      .toDF("k", "payload")
    val right = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val plain = left.join(right, "k")
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(left, right, "k", salts = 8)
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("zscoreViaAgg: hot key never funnels the fact rows through one task") {
    // the claim Stats.zscoreViaAgg exists for, measured at the TASK level:
    // one user carries 50k of 60k rows. The window form moves every row of
    // the hot key into ONE task (max per-task shuffle read ≥ 50k); the
    // agg+join form shuffles only per-key (avg, stddev) partials and
    // broadcast-joins them back, so no task ever shuffle-reads more than a
    // sliver regardless of key skew.
    def taskReads(action: => Unit): Seq[Long] =
      profile(action).tasks.map(_.shuffleReadMetrics.recordsRead)
    val hot = spark.range(0, 60000, 1, 16)
      .select(col("id").as("event_id"),
        when(col("id") < 50000, 7L).otherwise(col("id") % 97).as("user_id"),
        (col("id") % 1000).cast("double").as("value"))
    def collect4dp(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select(col("event_id"), round(col("z_score"), 4).as("z"))
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
    var winRows: Seq[(Long, Double)] = null
    val winMax = taskReads {
      winRows = collect4dp(
        graft.ops.Stats.zscore(col("value"), Seq(col("user_id")))(hot))
    }.max
    var aggRows: Seq[(Long, Double)] = null
    val aggMax = taskReads {
      aggRows = collect4dp(
        graft.ops.Stats.zscoreViaAgg(col("value"), Seq(col("user_id")))(hot))
    }.max
    assert(winRows == aggRows, "forms must agree at 4dp")
    assert(winMax >= 50000L,
      s"window form funnels the hot key through one task: max read $winMax")
    assert(aggMax <= 5000L,
      s"agg form must stay skew-immune: max per-task read $aggMax (vs window's $winMax)")
  }

  test("saltedJoin: MapType left column and explicit saltBy discriminator") {
    // regression: the salt used to hash EVERY left column, so a map-typed
    // column failed analysis (hash() rejects MapType); the fallback now
    // skips unhashable columns, and saltBy hashes only key+discriminator
    val left = (1 to 500).map(i => (0L, i)).toDF("k", "payload")
      .withColumn("attrs", map(lit("seen"), col("payload")))
    val right = Seq((0L, "hot"), (1L, "cold")).toDF("k", "name")
    val plain = left.join(right, "k")
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    val fallback = Skew.saltedJoin(left, right, "k", salts = 4)
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    assert(fallback == plain)
    val byPk = Skew.saltedJoin(left, right, "k", salts = 4, saltBy = Seq("payload"))
      .select("k", "payload", "name").as[(Long, Int, String)].collect().sorted.toSeq
    assert(byPk == plain)
    assert(plain.size == 500)
  }

  test("assignCells native kernel == join-formulation argmin, incl. ties and sparse cell ids") {
    import spark.implicits._
    // The r13 map-only NearestCell kernel must reproduce the
    // crossJoin+min_by argmin bit-for-bit: same d2 float chain, same
    // (d2, cell) tie-break (lowest id wins), and ACTUAL cell ids carried
    // through even when the id set is sparse (empty cells drop out of
    // the k-means update, so ids are not 1..k).
    val emb = graft.core.Tables.embeddings(spark, sf)
    val v = emb.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("v"))
    // sparse, non-contiguous cell ids; duplicate centroid VALUES force a
    // tie every row between cells 7 and 9 — the lowest id must win
    val someVecs = v.orderBy("vid").limit(3).collect().map(_.getSeq[Double](1))
    val centroids = Seq(
      (3, someVecs(0)), (7, someVecs(1)), (9, someVecs(1)), (12, someVecs(2)))
      .toDF("cell", "c")
    val native = graft.ext.IVF.assignCells(v, centroids)
      .select("vid", "cell").as[(Long, Int)].collect().sorted.toSeq
    val joined = graft.ext.IVF.assignCellsViaJoin(v, centroids)
      .select("vid", "cell").as[(Long, Int)].collect().sorted.toSeq
    assert(native == joined, "kernel diverges from the join argmin")
    assert(!native.exists(_._2 == 9), "tie must break to the lower cell id (7, never 9)")
  }
}
