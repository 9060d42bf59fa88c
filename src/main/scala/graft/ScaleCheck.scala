package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Scale exercise: run the heaviest iterative pipelines (t16-style LSH
  * near-dup clustering, s08-style semantic dedup) on a synthetically
  * multiplied + skew-injected fixture (~sf1 when SPARK_GRAFT_SCALE_MULT=10
  * over sf0.1), with a stage-metrics listener asserting the partition
  * story holds:
  *
  *  - every stage that processes a non-trivial record volume runs
  *    MULTI-TASK (a single-task stage over big data is the local-mode bug
  *    that becomes the 1000-executor bottleneck);
  *  - per-stage max/median task-time skew is reported, so a hot LSH
  *    bucket or k-means cell shows up as a number, not an anecdote;
  *  - the injected structure is verified exactly (the 400-copy hot
  *    cluster must come back as ONE component with 400 members; scaled
  *    copies of each doc must cluster with their original), so the scale
  *    run is also a correctness run.
  *
  * Usage: `sbt "runMain graft.ScaleCheck"` (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_SCALE_MULT). Prints one JSON line;
  * exits nonzero on any assertion failure. Measured results live in
  * SCALE.md ("Scale exercise" section).
  */
object ScaleCheck {

  /** Per-stage snapshot: task count, record volume, task-time skew. */
  final case class StageStat(stageId: Int, name: String, numTasks: Int,
                             records: Long, maxTaskMs: Long, runMs: Long)

  final class StageStats extends SparkListener {
    val stats: mutable.ArrayBuffer[StageStat] = mutable.ArrayBuffer.empty
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val recs =
        if (m == null) 0L
        else m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val run = (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(0L)
      stats.synchronized {
        stats += StageStat(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, recs, m match { case null => 0L; case mm => mm.executorRunTime }, run)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus.toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    // the check asserts the CONSTRUCTED layout (no operator funnels big
    // record counts through one task). AQE's byte-based coalescing would
    // legitimately fold this fixture's ~1-2 MB shuffles to 1 partition —
    // an optimization that never engages at real volumes — and mask
    // exactly the class of bug the record-count assertions exist to catch
    val spark = Harness.session(Harness.cpus,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val listener = new StageStats
    spark.sparkContext.addSparkListener(listener)

    val out = new StringBuilder("{")
    var failed = List.empty[String]
    def check(cond: Boolean, what: String): Unit =
      if (!cond) failed ::= what

    // ---------- scaled + skewed documents fixture ----------
    // mult near-copies of every doc (suffix perturbation → jaccard just
    // under 1, so clusters must MERGE copies with originals, not only
    // exact-dup them) plus a 400-copy hot near-dup cluster of one doc —
    // the skewed LSH bucket / giant component case. Staged to parquet so
    // the scan partitions like real input, not like a local relation.
    val base = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val copies = (0 until mult).map { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i * 10_000_000L)).as("doc_id"),
        concat(col("text"), lit(s" scalecopy$i")).as("text"))
    }.reduce(_ union _)
    val hotId = 42L
    val hot = base.filter(col("doc_id") === hotId)
      .crossJoin(spark.range(1, 400).select(col("id")))
      .select((lit(900_000_000L) + col("id")).as("doc_id"),
        concat(col("text"), lit(" hotcopy"), col("id") % 7).as("text"))
    val docDir = s"/tmp/graft_scale/documents_x$mult"
    copies.union(hot).write.mode("overwrite").parquet(docDir)
    val docs = spark.read.parquet(docDir)
    val nDocs = docs.count()

    // ---------- t16-shape: LSH near-dup clustering at scale ----------
    val t0 = System.nanoTime()
    val pairs = graft.ext.Dedup
      .minhashNearDups(docs, col("doc_id"), col("text"))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"))
      .union(docs.select(col("doc_id"), col("doc_id")))
    val comp = graft.ext.Dedup
      .connectedComponents(pairs, col("id_a"), col("id_b"))
      .localCheckpoint()
    val tCluster = (System.nanoTime() - t0) / 1e9

    // the hot cluster: original 42 + 399 hot copies + its mult suffix
    // copies all share >=0.5 jaccard with the original → one component
    val hotComp = comp.filter(col("node") === hotId)
      .select(col("component")).first().getLong(0)
    val hotSize = comp.filter(col("component") === hotComp).count()
    check(hotSize >= 400, s"hot cluster merged: size=$hotSize (want >=400)")
    // every scaled copy clusters with its original: component count must
    // stay ~nBase, not ~nDocs (copies collapse); allow docs too short to
    // shingle (< 3 words) to stay singletons across copies
    val nComponents = comp.select(col("component")).distinct().count()
    val nBase = base.count()
    check(nComponents <= nBase + mult.toLong * 50,
      s"copies collapsed into base components: $nComponents components for $nDocs docs (base=$nBase)")

    // ---------- t43-shape: sorted-neighborhood blocking at scale ----------
    // The structural claim vs LSH bucket joins: SN candidates are LINEAR
    // in block size (≤ windowSize per doc — a hard integer bound, however
    // skewed the blocks), so the 800-doc hot block contributes ≤3·|block|
    // pairs where a bucket self-join would pay |block|²; and the sort
    // order still CHAINS the hot near-copies — every hot doc appears in a
    // verified ≥0.5-Jaccard pair with a neighbor, so a downstream closure
    // recovers the cluster from O(|block|) links. (The chain topology is
    // exactly why SN pairs feed large-star-style CC at production scale:
    // an 800-link path is the worst case for per-hop label propagation,
    // measured here — minLabelProp wants hub graphs like LSH's.)
    val tSn0 = System.nanoTime()
    val snPairs = graft.ext.Dedup
      .sortedNeighborhoodPairs(docs, col("doc_id"), col("text"),
        windowSize = 3, minJaccard = 0.5)
      .localCheckpoint()
    val nSnPairs = snPairs.count()
    // the 399 hot COPIES all share a sort key and chain among themselves.
    // The ORIGINAL doc 42 does NOT link here — its copies' injected
    // marker words ("hotcopyK"/"scalecopyI") land at the head of the
    // sorted vocabulary and shift their keys away from the original's:
    // the textbook SN limitation (blocking-key sensitivity — the reason
    // production ER runs SN as ONE pass of a multi-pass blocker next to
    // LSH, which catches exactly this case: t16's hot cluster is 409
    // strong INCLUDING the original). Recorded as sn_orig_linked, not
    // asserted.
    val isHotCopy = (c: org.apache.spark.sql.Column) =>
      c >= 900_000_000L && c < 900_000_000L + 400L
    val snHotLinked = snPairs
      .filter(isHotCopy(col("id_a")) && isHotCopy(col("id_b")))
      .select(explode(array(col("id_a"), col("id_b"))).as("n"))
      .distinct().count()
    val snOrigLinked = snPairs
      .filter(col("id_a") === hotId || col("id_b") === hotId).count()
    val tSn = (System.nanoTime() - tSn0) / 1e9
    check(nSnPairs <= 3L * nDocs,
      s"SN candidate linearity: $nSnPairs pairs > 3·$nDocs")
    check(snHotLinked >= 399,
      s"SN chained the hot copies: $snHotLinked of 399 linked")

    // ---------- t45-shape: SAMPLE-TRAINED BPE at scale ----------
    // The trainFrac discipline's two scale claims, checked on the 10×
    // corpus: (a) ORACLE RELATION — the sampled trainer is bit-identical
    // to training on the externally md5-filtered subset (what the DuckDB
    // oracle replays), so sampling is a pure input restriction, never a
    // different algorithm; (b) the md5-nibble sample actually lands near
    // 1/trainFrac of docs (a skewed hash here would silently bias every
    // merge statistic). Wall-clock for the sampled trainer is recorded
    // (t_bpe_sec) — at 10× it stays round-count-bounded, not corpus-
    // scan-dominated (bench_sf1.json: 9.4 s full-scan r9 → 3.2 s sampled).
    val tBpe0 = System.nanoTime()
    val bpeSampled = graft.ext.TextOps.bpeTrainRounds(docs, col("text"),
        rounds = 3, trainFrac = 4, sampleId = Some(col("doc_id")))
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val tBpe = (System.nanoTime() - tBpe0) / 1e9
    val bpeManual = graft.ext.TextOps.bpeTrainRounds(
        docs.filter(substring(md5(col("doc_id").cast("string")), 32, 1) < "4"),
        col("text"), rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    check(bpeSampled.nonEmpty && bpeSampled == bpeManual,
      s"sampled BPE == manually-prefiltered train at 10x: $bpeSampled vs $bpeManual")
    val bpeKept = docs.filter(
      substring(md5(col("doc_id").cast("string")), 32, 1) < "4").count()
    check(math.abs(bpeKept.toDouble / nDocs - 0.25) < 0.05,
      s"md5-nibble sample near 1/4: kept $bpeKept of $nDocs")

    // ---------- s08-shape: semantic dedup at scale ----------
    // mult copies of every vector (identical → cos 1 with the original →
    // every non-first copy must drop). cells scale with n (~n/600) — the
    // deployment rule SCALE.md documents.
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val embScaled = (0 until mult).map { i =>
      if (i == 0) emb
      else emb.select((col("vec_id") + lit(i * 10_000_000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ union _)
    val embDir = s"/tmp/graft_scale/embeddings_x$mult"
    embScaled.write.mode("overwrite").parquet(embDir)
    val embBig = spark.read.parquet(embDir)
    val nVec = embBig.count()
    val cells = math.max(8, (nVec / 600).toInt)
    val t1 = System.nanoTime()
    val survivors = graft.ext.Similarity
      .clusterDedup(embBig, "vec_id", "embedding",
        threshold = 0.35, cells = cells)
      .count()
    val tDedup = (System.nanoTime() - t1) / 1e9
    // identical copies share a cell (same vector → same nearest centroid),
    // so at most one survivor per original plus the originals' own
    // near-dup structure — never more than the base vector count
    check(survivors <= nVec / mult,
      s"exact-copy drop at scale: $survivors survivors of $nVec (base=${nVec / mult})")

    // ---------- s12-shape: kNN graph at scale ----------
    // the graph inherits clusterDedup's cell-blocking geometry but adds
    // the per-node top-k window; the assertions pin (a) identical copies
    // are each other's rank-1 neighbors THROUGH the scaled index, (b) no
    // node exceeds k edges, (c) the stage story stays multi-task.
    val t2 = System.nanoTime()
    val knn = graft.ext.Similarity
      .knnGraph(embBig, "vec_id", "embedding", k = 3, cells = cells)
      .localCheckpoint()
    val nEdges = knn.count()
    val tKnn = (System.nanoTime() - t2) / 1e9
    check(nEdges <= nVec * 3, s"kNN graph edge bound: $nEdges > 3·$nVec")
    // vec 0's exact copy lives at id 10_000_000: cos 1 → mutual rank-1
    val rank1Of0 = knn.filter(col("q_id") === 0L && col("rn") === 1)
      .select(col("c_id"), col("cos")).first()
    check(rank1Of0.getDouble(1) == 1.0,
      s"vec 0's rank-1 neighbor must be an exact copy (cos 1.0), got $rank1Of0")

    // ---------- q63-shape: PageRank at scale ----------
    // mult DISJOINT copies of the co-purchase graph (orderkeys AND
    // partkeys offset per copy): every copy has identical structure, so
    // (a) total rank mass stays exactly 1 per iteration (the co-occurrence
    // graph is symmetric → no dangling mass), and (b) corresponding nodes
    // across copies must get BIT-IDENTICAL ranks — the decimal-sum
    // order-independence claim tested at 10× the data, where partial-agg
    // partitioning actually differs per copy.
    val li = graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
    val liScaled = (0 until mult).map { i =>
      if (i == 0) li
      else li.select((col("g") + lit(i * 100_000_000L)).as("g"),
        (col("item") + lit(i * 10_000_000L)).as("item"))
    }.reduce(_ union _)
    val t3 = System.nanoTime()
    val edges = graft.ops.Graph
      .coOccurrenceEdges(liScaled, "g", "item", minSupport = 2)
      .localCheckpoint()
    val nEdgesPr = edges.count()
    // rank mass conserved per iteration: |Σr − 1| at each depth 1..3;
    // the depth-3 run doubles as THE ranks table (no duplicate pipeline)
    var ranks: DataFrame = null
    val massErrs = (1 to 3).map { iters =>
      val r = graft.ops.Graph.pageRank(edges, iterations = iters)
      if (iters == 3) ranks = r.localCheckpoint()
      math.abs((if (iters == 3) ranks else r)
        .agg(sum(col("r"))).first().getDouble(0) - 1.0)
    }
    massErrs.zipWithIndex.foreach { case (err, i) =>
      check(err < 1e-9, s"rank mass conserved at iter ${i + 1}: |Σr−1|=$err")
    }
    val tPr = (System.nanoTime() - t3) / 1e9
    // copy-symmetry: node v in copy i must rank exactly as v in copy 0
    val base0 = ranks.filter(col("node") < 10_000_000L)
      .select(col("node").as("n0"), col("r").as("r0"))
    val rankDiff = (1 until mult).map { i =>
      ranks.filter(col("node") >= i * 10_000_000L &&
          col("node") < (i + 1) * 10_000_000L)
        .select((col("node") - lit(i * 10_000_000L)).as("n0"), col("r"))
        .join(base0, "n0")
        .agg(max(abs(col("r") - col("r0")))).first().getDouble(0)
    }.maxOption.getOrElse(0.0) // mult=1: no copies, nothing to compare
    check(rankDiff == 0.0,
      s"disjoint-copy ranks bit-identical (decimal-sum order independence): max diff $rankDiff")

    // ---------- q84-shape: triangle counting at scale ----------
    // same mult-disjoint-copy graph (reuses the checkpointed edges): the
    // per-node triangle counts are exact integers, so each copy must
    // reproduce copy 0 EXACTLY and the global participation total must be
    // exactly mult × copy 0's — any orientation or join bug that double-
    // counts or drops a wedge breaks an equality, not a tolerance.
    // copy offsets put copy i's items at i·1e7 + partkey; triangleCounts'
    // order-key pack base requires ids < 1e8, so the stage only runs for
    // mult ≤ 10 (the default) — above that it reports a skip rather than
    // dying on the mid-scan raise_error
    val t3b = System.nanoTime()
    var triTotal = 0L
    var triCopyMismatch = 0L
    if (mult.toLong * 10_000_000L <= 100_000_000L) {
      val tri = graft.ops.Graph.triangleCounts(edges).localCheckpoint()
      // coalesce: an (unexpectedly) triangle-free graph must surface as a
      // failed CHECK below, not a NullPointerException on a NULL sum
      triTotal = tri.agg(coalesce(sum(col("n_tri")), lit(0L)))
        .first().getLong(0)
      val tri0 = tri.filter(col("node") < 10_000_000L)
        .select(col("node").as("n0"), col("n_tri").as("t0")).localCheckpoint()
      val tri0Total = tri0.agg(coalesce(sum(col("t0")), lit(0L)))
        .first().getLong(0)
      check(tri0Total > 0, s"copy-0 graph has triangles: $tri0Total")
      check(triTotal == mult.toLong * tri0Total,
        s"triangle total scales exactly: $triTotal vs $mult × $tri0Total")
      triCopyMismatch = (1 until mult).map { i =>
        tri.filter(col("node") >= i * 10_000_000L &&
            col("node") < (i + 1) * 10_000_000L)
          .select((col("node") - lit(i * 10_000_000L)).as("n0"), col("n_tri"))
          .join(tri0, Seq("n0"), "full_outer")
          .filter(col("n_tri").isNull || col("t0").isNull ||
            col("n_tri") =!= col("t0"))
          .count()
      }.maxOption.getOrElse(0L)
      check(triCopyMismatch == 0L,
        s"disjoint-copy triangle counts identical: $triCopyMismatch mismatches")
    } else System.err.println(
      s"[scale] triangle stage skipped: mult=$mult exceeds the id pack range")
    val tTri = (System.nanoTime() - t3b) / 1e9

    // ---------- q102-shape: k-core peeling at scale ----------
    // same mult-disjoint-copy graph (reuses the checkpointed edges):
    // peeling is per-component, so the 2-core of the disjoint union is
    // exactly the union of per-copy 2-cores — membership count scales
    // EXACTLY ×mult and each copy's (node, core_deg) table reproduces
    // copy 0 bit-for-bit (integer degrees: equality, not tolerance).
    val t3c = System.nanoTime()
    val core = graft.ops.Graph.kCore(edges, k = 2, rounds = 6)
      .localCheckpoint()
    val coreTotal = core.count()
    val core0 = core.filter(col("node") < 10_000_000L)
      .select(col("node").as("n0"), col("core_deg").as("d0"))
      .localCheckpoint()
    val core0N = core0.count()
    check(core0N > 0, s"copy-0 2-core non-empty: $core0N")
    check(coreTotal == mult.toLong * core0N,
      s"k-core membership scales exactly: $coreTotal vs $mult × $core0N")
    val coreMismatch = (1 until mult).map { i =>
      core.filter(col("node") >= i * 10_000_000L &&
          col("node") < (i + 1) * 10_000_000L)
        .select((col("node") - lit(i * 10_000_000L)).as("n0"), col("core_deg"))
        .join(core0, Seq("n0"), "full_outer")
        .filter(col("core_deg").isNull || col("d0").isNull ||
          col("core_deg") =!= col("d0"))
        .count()
    }.maxOption.getOrElse(0L)
    check(coreMismatch == 0L,
      s"disjoint-copy k-core degrees identical: $coreMismatch mismatches")
    val tKcore = (System.nanoTime() - t3c) / 1e9

    // ---------- q132-shape: label propagation at scale ----------
    // same mult-disjoint-copy graph: LPA is purely neighbourhood-local,
    // so each copy's (node, community) table must reproduce copy 0 with
    // the community label offset by the copy's id shift — an integer
    // equality (the q84/q102 discipline), bit-exact or broken.
    val tLp0 = System.nanoTime()
    val lpa = graft.ops.Graph.labelPropagation(edges, rounds = 3)
      .localCheckpoint()
    val lpa0 = lpa.filter(col("node") < 10_000_000L)
      .select(col("node").as("n0"), col("community").as("c0"))
      .localCheckpoint()
    val lpa0N = lpa0.count()
    check(lpa0N > 0, s"copy-0 LPA non-empty: $lpa0N")
    val lpaMismatch = (1 until mult).map { i =>
      lpa.filter(col("node") >= i * 10_000_000L &&
          col("node") < (i + 1) * 10_000_000L)
        .select((col("node") - lit(i * 10_000_000L)).as("n0"),
          (col("community") - lit(i * 10_000_000L)).as("ci"))
        .join(lpa0, Seq("n0"), "full_outer")
        .filter(col("ci").isNull || col("c0").isNull || col("ci") =!= col("c0"))
        .count()
    }.maxOption.getOrElse(0L)
    check(lpaMismatch == 0L,
      s"disjoint-copy LPA communities identical (mod offset): $lpaMismatch mismatches")
    val tLpa = (System.nanoTime() - tLp0) / 1e9

    // ---------- s14/s15-shape: stored-index IVF-PQ at scale ----------
    // the deployment geometry: IVF assignment persisted PARTITIONED BY
    // cell + PQ codebooks/codes persisted once; the probe scan must read
    // only the probed cells' rows (partition pruning measured via the
    // stage listener, not asserted from the plan), and the ADC query path
    // runs with zero training against the 10× corpus.
    val ivfCells = 8
    val ivfDir = s"/tmp/graft_scale/ivf_index_x$mult"
    val t4 = System.nanoTime()
    graft.ext.IVF.assignTable(embBig, "vec_id", "embedding",
        cells = ivfCells, iters = 2)
      .select(col("vid"), col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(ivfDir)
    val idx = spark.read.parquet(ivfDir)
    val cellSizes = idx.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probedCells = cellSizes.keys.toSeq.sorted.take(2) // nprobe = 2
    val probedRows = probedCells.map(cellSizes).sum
    // stage-completed events post ASYNC: settle the listener before
    // snapshotting (else a straggler from the cellSizes job lands inside
    // the probe window) and after the probe (else the probe's own events
    // may not have arrived and the assertion reads 0 = vacuously green)
    def settle(): Int = {
      var last = -1; var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val now = listener.stats.synchronized(listener.stats.size)
        if (now == last) same += 1 else { same = 0; last = now }
      }
      last
    }
    val beforeProbe = settle()
    val gotProbe = idx.filter(col("cell").isin(probedCells.map(Integer.valueOf): _*)).count()
    settle()
    val probeRead = listener.stats.synchronized {
      listener.stats.drop(beforeProbe).map(_.records).sum
    }
    check(gotProbe == probedRows, s"probe row count: $gotProbe vs $probedRows")
    // pruning: the scan reads the probed cells' rows only (small slack for
    // agg partials riding the same stages), never the full index
    check(probeRead <= probedRows + 10_000L,
      s"stored-index probe pruned: read $probeRead records for $probedRows probed rows (n=$nVec)")
    check(probedRows < nVec,
      s"probe fraction sane: $probedRows of $nVec")
    // stored PQ index + ADC query path at 10×: exact copies must surface
    // as rank-1 (cos 1.0) through shortlist + re-rank, with no training
    // in the query
    val pqDir = s"/tmp/graft_scale/pq_index_x$mult"
    val cbBig = graft.ext.PQ.codebooks(embBig, "vec_id", "embedding", m = 8, k = 16)
    cbBig.write.mode("overwrite").parquet(s"$pqDir/codebooks")
    graft.ext.PQ.encode(embBig, "vec_id", "embedding", cbBig, m = 8)
      .write.mode("overwrite").parquet(s"$pqDir/codes")
    val adc = graft.ext.PQ.adcTopKFromIndex(embBig, "vec_id", "embedding",
        col("vec_id") === 0L || col("vec_id") === 7L,
        spark.read.parquet(s"$pqDir/codebooks"),
        spark.read.parquet(s"$pqDir/codes"), k = 5, m = 8)
      .localCheckpoint()
    val tIvfPq = (System.nanoTime() - t4) / 1e9
    val adcRank1 = adc.filter(col("rn") === 1).select(col("q_id"), col("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    check(adcRank1.values.forall(_ == 1.0),
      s"ADC rank-1 at 10x must be an exact copy (cos 1.0): $adcRank1")

    // ---------- q77-shape: bounded-depth recursive BFS at scale ----------
    // the recursion over the SAME mult-disjoint-copy edge table (reused
    // checkpoint — q77's materialize-the-edges-once posture): seed each
    // copy with copy 0's max-degree node + its offset images, so every
    // BFS level must contain EXACTLY mult × copy 0's rows (disjoint
    // identical copies), and the recursion's joins must show up as
    // multi-task stages — a recursion whose levels funnel through one
    // task is the local-mode bug that serializes at 1000 executors.
    val t5 = System.nanoTime()
    val seed0 = edges.filter(col("src") < 10_000_000L)
      .groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(1)
      .select(col("src")).first().getLong(0)
    edges.createOrReplaceTempView("__scale_edges")
    edges.filter(col("src") < 10_000_000L && col("dst") < 10_000_000L)
      .createOrReplaceTempView("__scale_edges0")
    def bfsLevels(view: String, seeds: Seq[Long]): Map[Int, Long] =
      spark.sql(
        s"""WITH RECURSIVE reach(node, depth) AS (
           |  SELECT s, 0 FROM (VALUES ${seeds.map(s => s"(${s}L)").mkString(", ")} AS t(s))
           |  UNION ALL
           |  SELECT e.dst, r.depth + 1
           |  FROM reach r JOIN $view e ON e.src = r.node
           |  WHERE r.depth < 2)
           |SELECT depth, count(*) AS n FROM reach GROUP BY depth""".stripMargin)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val beforeBfs = settle()
    val lvlScaled = bfsLevels("__scale_edges",
      (0 until mult).map(i => seed0 + i * 10_000_000L))
    settle()
    val bfsStages = listener.stats.synchronized {
      listener.stats.drop(beforeBfs).toVector
    }
    val lvl0 = bfsLevels("__scale_edges0", Seq(seed0))
    val tBfs = (System.nanoTime() - t5) / 1e9
    check(lvl0.size == 3 && lvl0.values.forall(_ > 0),
      s"copy-0 BFS reaches depth 2 with nonempty levels: $lvl0")
    check(lvlScaled == lvl0.map { case (d, n) => d -> n * mult },
      s"per-level BFS rows scale exactly with the copy multiplier: " +
        s"$lvlScaled vs $mult × $lvl0")
    // threshold tracks the actual edge-table volume: the fixture's graph
    // density depends on the testdata generation (the r7 regen dropped
    // the co-occurrence edges from >100k to ~71k rows and a fixed 100k
    // bar started skipping the assertion entirely) — what matters is
    // that the per-level edge scans, whatever their size, stay multi-task
    val bfsBig = bfsStages.filter(_.records >= math.min(100_000L, nEdgesPr))
    check(bfsBig.nonEmpty && bfsBig.forall(_.numTasks > 1),
      s"BFS levels run multi-task over non-trivial volume: " +
        bfsStages.map(s => s"${s.stageId}(${s.numTasks}t,${s.records}r)").mkString(", "))

    // ---------- q92-shape: Hilbert layout clustering at scale ----------
    // mult copies preserve (l_partkey, l_suppkey), so the hilbert-key
    // HISTOGRAM must scale exactly mult× (the key is pure arithmetic on
    // the values — any drift under volume is a bug), and the clustered
    // layout must still hold globally-disjoint contiguous key ranges per
    // partition — that contiguity IS the tight-min/max-envelope claim
    // file skipping rests on.
    val t6 = System.nanoTime()
    val liRaw = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val liBig = (0 until mult).map(_ => liRaw).reduce(_ union _)
    val mmLi = liRaw.agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
    def hkeyed(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Layout.withHilbertKey(
        df.crossJoin(broadcast(mmLi))
          .withColumn("qx", graft.ops.Layout.quantize(
            col("l_partkey"), col("pmin"), col("pmax"), 8))
          .withColumn("qy", graft.ops.Layout.quantize(
            col("l_suppkey"), col("smin"), col("smax"), 8)),
        col("qx"), col("qy"), 8, "hkey")
    val histMismatch = hkeyed(liRaw).groupBy("hkey").count()
      .withColumnRenamed("count", "cb")
      .join(hkeyed(liBig).groupBy("hkey").count()
        .withColumnRenamed("count", "cs"), Seq("hkey"), "full_outer")
      .filter(coalesce(col("cs"), lit(0L)) =!=
        coalesce(col("cb"), lit(0L)) * mult)
      .count()
    check(histMismatch == 0,
      s"hilbert key histogram must scale exactly mult×: $histMismatch keys off")
    val hParts = graft.ops.Layout.clusterByHilbert(
        liBig, "l_partkey", "l_suppkey", bits = 8, numPartitions = cpus)
      .select(col("__hkey"), org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .groupBy("pid").agg(min("__hkey").as("lo"), max("__hkey").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("lo").collect()
    val hOverlaps = hParts.sliding(2).count {
      case Array(a, b) => a.getLong(2) > b.getLong(1)
      case _           => false
    }
    check(hParts.length > 1 && hOverlaps == 0,
      s"hilbert-clustered partitions must hold disjoint ranges: " +
        s"${hParts.length} parts, $hOverlaps overlaps")
    val tHilbert = (System.nanoTime() - t6) / 1e9

    // ---------- s18-shape: MIPS at scale ----------
    // the norm-augmented LSH probe over the 10× (disjoint-id, identical-
    // vector) corpus: candidate generation must stay band-bucket-blocked
    // (the global single-task assertions below catch any all-pairs
    // funnel), and because every vector now has mult exact duplicates,
    // any duplicate of the true inner-product argmax that shares a
    // bucket with the query must surface at rank 1 — dot ties broken by
    // id, so rank-1 is the LOWEST surviving duplicate id.
    val t7 = System.nanoTime()
    val mipsRes = graft.ext.Similarity.mipsTopK(
        embBig, "vec_id", "embedding",
        col("vec_id") % 499 === 0, k = 5)
      .localCheckpoint()
    val nMips = mipsRes.count()
    val mipsQs = mipsRes.select(countDistinct(col("q_id"))).first().getLong(0)
    check(nMips > 0 && nMips <= mipsQs * 5,
      s"MIPS at 10×: $nMips rows for $mipsQs queries (≤5 each)")
    val tMips = (System.nanoTime() - t7) / 1e9

    // ---------- s20-shape: PCA power iteration at scale ----------
    // mult identical-vector copies: the covariance of the 10× corpus is
    // exactly mult× the base covariance, and each round's normalization
    // cancels the scalar — the top component must match the base corpus'
    // to fp noise. Data size only enters the one-pass d²-moment
    // reduction (multi-task by the stage assertions below); the 8
    // iteration rounds run on the d²-row matrix regardless of n.
    val t8 = System.nanoTime()
    val pcBig = graft.ext.Similarity.topComponent(embBig, col("embedding"))
      .select(col("dim"), col("loading").as("lb")).localCheckpoint()
    val pcBase = graft.ext.Similarity.topComponent(
        graft.core.Tables.embeddings(spark, sfDir), col("embedding"))
      .select(col("dim"), col("loading").as("l0"))
    val pcaDiff = pcBig.join(pcBase, "dim")
      .agg(max(abs(col("lb") - col("l0")))).first().getDouble(0)
    check(pcaDiff < 1e-9, s"10× PCA component matches base: max diff $pcaDiff")
    val tPca = (System.nanoTime() - t8) / 1e9

    // ---------- t40-shape: prefix-filter similarity join at scale ----------
    // the scaled docs fixture (mult near-copies + 400-doc hot cluster) is
    // exactly the workload prefix filtering exists for: the hot doc's 399
    // near-copies share almost every shingle, so candidate generation must
    // find all of them at τ=0.4 while staying blocked on RARE prefix
    // tokens (never all-pairs — the global single-task assertions below
    // catch any funnel). Completeness under skew is the claim: every hot
    // copy must pair with the original.
    val t9 = System.nanoTime()
    val pfPairs = graft.ext.Dedup
      .prefixFilterPairs(docs, col("doc_id"), col("text"))
      .localCheckpoint()
    val nPf = pfPairs.count()
    val hotPf = pfPairs.filter(col("id_a") === hotId).count()
    check(hotPf >= 399,
      s"prefix filter finds the whole hot cluster: $hotPf pairs with doc $hotId (want >=399)")
    val tPrefix = (System.nanoTime() - t9) / 1e9

    // ---------- s23-shape: mutual NN at scale ----------
    // mult identical copies (disjoint ids): every point has a 0-distance
    // duplicate, so every NN sits at ROUNDED dist2 0 and ties break to
    // the lowest other id. Distinct locations closer than the 6-dp
    // rounding radius merge into one effective tie group (the fixture
    // has such near-coincident locations), so the EXACT invariant is:
    // one mutual pair per connected component of the rounded-zero-
    // distance graph — NN(lowest) = second-lowest and vice versa, every
    // other member's reciprocity fails. Computed with the same 3×3 grid
    // candidate relation + the engine's own connectedComponents.
    val t10 = System.nanoTime()
    val mnn = graft.ext.Similarity.mutualNN2d(embBig, "vec_id", "embedding",
        cellSize = 0.1)
      .localCheckpoint()
    val nMnn = mnn.count()
    val mnnNonzero = mnn.filter(col("dist2") =!= 0.0).count()
    val zpts = embBig.select(col("vec_id").as("pid"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      .withColumn("gx", floor(col("x") / 0.1).cast("long"))
      .withColumn("gy", floor(col("y") / 0.1).cast("long"))
    val zprobe = zpts
      .withColumn("dx", explode(lit(Array(-1L, 0L, 1L))))
      .withColumn("dy", explode(lit(Array(-1L, 0L, 1L))))
      .select(col("pid").as("qid"), col("x").as("qx"), col("y").as("qy"),
        (col("gx") + col("dx")).as("jgx"), (col("gy") + col("dy")).as("jgy"))
    val zeroEdges = zpts.join(zprobe,
        col("gx") === col("jgx") && col("gy") === col("jgy") &&
          col("pid") < col("qid"))
      .filter(round((col("x") - col("qx")) * (col("x") - col("qx")) +
        (col("y") - col("qy")) * (col("y") - col("qy")), 6) === 0.0)
      .select(col("pid").as("id_a"), col("qid").as("id_b"))
    val zcomp = graft.ext.Dedup.connectedComponents(
      zeroEdges.union(zpts.select(col("pid"), col("pid"))),
      col("id_a"), col("id_b"))
    val nZeroGroups = zcomp.groupBy("component").count()
      .filter(col("count") >= 2).count()
    check(nMnn == nZeroGroups && mnnNonzero == 0,
      s"mutual pairs = one per rounded-zero-distance component: " +
        s"$nMnn pairs vs $nZeroGroups components, $mnnNonzero nonzero-dist")
    val tMutual = (System.nanoTime() - t10) / 1e9

    // ---------- partition-story assertions ----------
    // every stage reading >=100k records must be multi-task; the only
    // single-task stages allowed at ANY volume are the documented
    // driver-side materializations (k-means centroid collects: k rows)
    val big = listener.stats.synchronized { listener.stats.toVector }
      .filter(_.records >= 100_000)
    val singleBig = big.filter(_.numTasks <= 1)
    check(singleBig.isEmpty,
      s"single-task big stages: ${singleBig.map(s => s"${s.stageId}:${s.name}(${s.records})").mkString(", ")}")
    val worstSkew = big.sortBy(-_.runMs).take(5)
      .map(s => f""""s${s.stageId}":{"tasks":${s.numTasks},"records":${s.records},"run_ms":${s.runMs}}""")
      .mkString(",")

    out ++= s""""n_docs":$nDocs,"n_vec":$nVec,"mult":$mult,"cells":$cells,"""
    out ++= f""""t_cluster_sec":$tCluster%.1f,"t_semdedup_sec":$tDedup%.1f,"t_knn_sec":$tKnn%.1f,"""
    out ++= f""""t_pagerank_sec":$tPr%.1f,"t_triangles_sec":$tTri%.1f,"t_ivfpq_sec":$tIvfPq%.1f,"t_bfs_sec":$tBfs%.1f,"""
    out ++= f""""t_hilbert_sec":$tHilbert%.1f,"hilbert_parts":${hParts.length},"t_mips_sec":$tMips%.1f,"mips_rows":$nMips,"""
    out ++= f""""t_kcore_sec":$tKcore%.1f,"kcore_total":$coreTotal,"kcore_copy_mismatch":$coreMismatch,"""
    out ++= f""""t_lpa_sec":$tLpa%.1f,"lpa_nodes":${lpa0N * mult},"lpa_copy_mismatch":$lpaMismatch,"""
    out ++= f""""t_pca_sec":$tPca%.1f,"pca_copy_diff":$pcaDiff%.2e,"""
    out ++= f""""t_prefix_sec":$tPrefix%.1f,"prefix_pairs":$nPf,"prefix_hot":$hotPf,"""
    out ++= f""""t_mutual_sec":$tMutual%.1f,"mutual_pairs":$nMnn,"mutual_groups":$nZeroGroups,"""
    out ++= f""""t_sn_sec":$tSn%.1f,"sn_pairs":$nSnPairs,"sn_hot_linked":$snHotLinked,"sn_orig_linked":$snOrigLinked,"""
    out ++= f""""t_bpe_sec":$tBpe%.1f,"bpe_rounds":${bpeSampled.size},"bpe_sample_kept":$bpeKept,"""
    out ++= s""""bfs_levels":{${lvlScaled.toSeq.sorted.map { case (d, n) => s""""$d":$n""" }.mkString(",")}},"""
    out ++= s""""pr_edges":$nEdgesPr,"pr_mass_err":${massErrs.max},"pr_copy_diff":$rankDiff,"""
    out ++= s""""tri_total":$triTotal,"tri_copy_mismatch":$triCopyMismatch,"""
    out ++= s""""probe_rows":$probedRows,"probe_read":$probeRead,"""
    out ++= s""""hot_cluster_size":$hotSize,"components":$nComponents,"survivors":$survivors,"knn_edges":$nEdges,"""
    out ++= s""""big_stages":${big.size},"top_stages":{$worstSkew},"""
    out ++= s""""failed":[${failed.reverse.map("\"" + _ + "\"").mkString(",")}]}"""
    println(out.result())
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
