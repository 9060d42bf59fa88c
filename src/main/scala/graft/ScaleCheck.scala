package graft

import java.nio.file.Paths
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Profile, Tables}
import graft.sources.Sinks

/** Scale exercise: run the heaviest iterative pipelines (t16-style LSH
  * near-dup clustering, s08-style semantic dedup) on a synthetically
  * multiplied + skew-injected fixture (~sf1 when SPARK_GRAFT_SCALE_MULT=10
  * over sf0.1), as a sequence of named sections, each run with its checks
  * under one [[Profile]], asserting the partition story holds:
  *
  *  - every stage that processes a non-trivial record volume runs
  *    MULTI-TASK (a single-task stage over big data is the local-mode bug
  *    that becomes the 1000-executor bottleneck);
  *  - each section prints its wall time, jobs, stages, tasks, task CPU,
  *    shuffle write and its slowest and median task (`sections`), and the
  *    five longest big stages are printed with their section
  *    (`top_stages`: tasks, records, stage wall time `run_ms`), so a hot
  *    LSH bucket or k-means cell shows up as a number, not an anecdote;
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

  /** Records a stage read: from its input plus from shuffles. */
  private def records(s: StageInfo): Long = Option(s.taskMetrics)
    .fold(0L)(m => m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)

  /** A stage's wall time, submission to completion. */
  private def runMs(s: StageInfo): Long =
    (for {a <- s.submissionTime; c <- s.completionTime} yield c - a).getOrElse(0L)

  private def seconds(): Double = System.nanoTime() / 1e9

  /** One named part of the run: its wall time, checks included, and what
    * Spark ran for it. */
  private[graft] final case class Section(name: String, sec: Double, profile: Profile) {
    private val taskMs = profile.tasks.map(_.executorRunTime).sorted
    /** The slowest and the median (upper middle) task's run time; 0 without tasks. */
    def slowestMs: Long = taskMs.lastOption.getOrElse(0L)
    def medianMs: Long = taskMs.lift(taskMs.size / 2).getOrElse(0L)
    def json: String = {
      val t = profile.tasks
      f""""$name":{"sec":$sec%.1f,"jobs":${profile.jobs},"stages":${profile.stages.size},""" +
        f""""tasks":${t.size},"cpu_s":${t.map(_.executorCpuTime).sum / 1e9}%.1f,""" +
        f""""shuffle_mb":${t.map(_.shuffleWriteMetrics.bytesWritten).sum / 1e6}%.1f,""" +
        s""""slowest_task_ms":$slowestMs,"median_task_ms":$medianMs}"""
    }
  }

  /** `section(name) { body }` runs the body, its Spark work and its checks,
    * under [[Profile.of]] and keeps its [[Section]]; `all` in run order. */
  private[graft] final class Sections(spark: SparkSession) {
    private var done = Vector.empty[Section]
    def all: Seq[Section] = done
    def apply[T](name: String)(body: => T): T = {
      val t0 = seconds()
      val (v, p) = Profile.of(spark)(body)
      done :+= Section(name, seconds() - t0, p)
      v
    }
  }

  /** `mult` copies of `df` in one union: copy 0 as it is, copy i as `copy(i)`. */
  private def copies(df: DataFrame, mult: Int)(copy: Int => DataFrame): DataFrame =
    (0 until mult).map(i => if (i == 0) df else copy(i)).reduce(_ union _)

  /** Publishes `df` as parquet (partitioned by `by`) under
    * `java.io.tmpdir/graft_scale/name` and reads it back, so its scans
    * partition like real input, not like a local relation. */
  private def staged(df: DataFrame, name: String, by: String*): DataFrame = {
    val path = Paths.get(System.getProperty("java.io.tmpdir"), "graft_scale", name).toString
    Sinks.partitionedParquet(df, path, by)
    df.sparkSession.read.parquet(path)
  }

  /** Copy i of the ×mult graph holds the node ids [i·Stride, (i+1)·Stride). */
  private val Stride = 10_000_000L

  /** Copy `i`'s rows of a per-node table over the ×mult graph, their ids
    * shifted onto copy 0's as `n0` next to `cols(shift)`, joined (`how`) on
    * `n0` to copy 0's table `base`. */
  private def copyJoin(df: DataFrame, i: Int, base: DataFrame, how: String)(
      cols: Long => Seq[Column]): DataFrame = {
    val shift = i * Stride
    df.filter(col("node") >= shift && col("node") < shift + Stride)
      .select((col("node") - lit(shift)).as("n0") +: cols(shift): _*)
      .join(base, Seq("n0"), how)
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
    val section = new Sections(spark)

    val out = new StringBuilder("{")
    var failed = List.empty[String]
    def check(cond: Boolean, what: String): Unit =
      if (!cond) failed ::= what

    // mult near-copies of every doc (suffix perturbation → jaccard just
    // under 1, so clusters must MERGE copies with originals, not only
    // exact-dup them) plus a 400-copy hot near-dup cluster of one doc —
    // the skewed LSH bucket / giant component case.
    val hotId = 42L
    val (base, docs, nDocs) = section("docs_fixture") { // scaled + skewed documents fixture
      val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val hot = base.filter(col("doc_id") === hotId)
        .crossJoin(spark.range(1, 400).select(col("id")))
        .select((lit(900_000_000L) + col("id")).as("doc_id"),
          concat(col("text"), lit(" hotcopy"), col("id") % 7).as("text"))
      val docs = staged(copies(base, mult)(i =>
          base.select((col("doc_id") + lit(i * Stride)).as("doc_id"),
            concat(col("text"), lit(s" scalecopy$i")).as("text"))).union(hot),
        s"documents_x$mult")
      (base, docs, docs.count())
    }

    section("cluster") { // t16-shape: LSH near-dup clustering
      val pairs = graft.ext.Dedup
        .minhashNearDups(docs, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        .union(docs.select(col("doc_id"), col("doc_id")))
      val comp = graft.ext.Dedup
        .connectedComponents(pairs, col("id_a"), col("id_b"))
        .localCheckpoint()
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
      out ++= s""""hot_cluster_size":$hotSize,"components":$nComponents,"""
    }

    // SN candidates are LINEAR in block size (≤ windowSize per doc, however
    // skewed the blocks), so the 800-doc hot block contributes ≤3·|block|
    // pairs where an LSH bucket self-join pays |block|²; and the sort order
    // still CHAINS the hot near-copies, so a downstream closure recovers
    // the cluster from O(|block|) links (a chain is the worst case for
    // per-hop label propagation: SN pairs feed large-star-style CC).
    section("sn") { // t43-shape: sorted-neighborhood blocking
      val snPairs = graft.ext.Dedup
        .sortedNeighborhoodPairs(docs, col("doc_id"), col("text"),
          windowSize = 3, minJaccard = 0.5)
        .localCheckpoint()
      val nSnPairs = snPairs.count()
      // the 399 hot COPIES share a sort key and chain among themselves; the
      // ORIGINAL doc 42 does not link, because the copies' marker words
      // ("hotcopyK"/"scalecopyI") shift their keys away from its own: SN's
      // blocking-key sensitivity, why production ER runs it next to LSH
      // (t16's hot cluster is 409 strong INCLUDING the original). Recorded
      // as sn_orig_linked, not asserted.
      val isHotCopy = (c: Column) => c >= 900_000_000L && c < 900_000_000L + 400L
      val snHotLinked = snPairs
        .filter(isHotCopy(col("id_a")) && isHotCopy(col("id_b")))
        .select(explode(array(col("id_a"), col("id_b"))).as("n"))
        .distinct().count()
      val snOrigLinked = snPairs
        .filter(col("id_a") === hotId || col("id_b") === hotId).count()
      check(nSnPairs <= 3L * nDocs,
        s"SN candidate linearity: $nSnPairs pairs > 3·$nDocs")
      check(snHotLinked >= 399,
        s"SN chained the hot copies: $snHotLinked of 399 linked")
      out ++= s""""sn_pairs":$nSnPairs,"sn_hot_linked":$snHotLinked,"sn_orig_linked":$snOrigLinked,"""
    }

    // The trainFrac discipline at 10×: (a) the sampled trainer is
    // bit-identical to training on the md5-filtered subset (what the DuckDB
    // oracle replays), so sampling only restricts the input; (b) the
    // md5-nibble sample lands near 1/trainFrac of docs (a skewed hash would
    // bias every merge statistic).
    section("bpe") { // t45-shape: SAMPLE-TRAINED BPE
      def rounds(df: DataFrame, sampleId: Option[Column], trainFrac: Int) =
        graft.ext.TextOps.bpeTrainRounds(df, col("text"), rounds = 3,
            trainFrac = trainFrac, sampleId = sampleId)
          .orderBy("round").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      val sampled = substring(md5(col("doc_id").cast("string")), 32, 1) < "4"
      val bpeSampled = rounds(docs, Some(col("doc_id")), trainFrac = 4)
      val bpeManual = rounds(docs.filter(sampled), None, trainFrac = 1)
      check(bpeSampled.nonEmpty && bpeSampled == bpeManual,
        s"sampled BPE == manually-prefiltered train at 10x: $bpeSampled vs $bpeManual")
      val bpeKept = docs.filter(sampled).count()
      check(math.abs(bpeKept.toDouble / nDocs - 0.25) < 0.05,
        s"md5-nibble sample near 1/4: kept $bpeKept of $nDocs")
      out ++= s""""bpe_rounds":${bpeSampled.size},"bpe_sample_kept":$bpeKept,"""
    }

    // mult copies of every vector (identical → cos 1 with the original).
    // cells scale with n (~n/600) — the deployment rule SCALE.md documents.
    val (embBig, nVec) = section("emb_fixture") { // embeddings fixture
      val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      val embBig = staged(copies(emb, mult)(i =>
          emb.select((col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding"))),
        s"embeddings_x$mult")
      (embBig, embBig.count())
    }
    val cells = math.max(8, (nVec / 600).toInt)
    out ++= s""""n_docs":$nDocs,"n_vec":$nVec,"mult":$mult,"cells":$cells,"""

    // every non-first exact copy must drop: identical copies share a cell
    // (same vector → same nearest centroid), so at most one survivor per
    // original plus the originals' own near-dup structure — never more
    // than the base vector count
    section("semdedup") { // s08-shape: semantic dedup
      val survivors = graft.ext.Similarity
        .clusterDedup(embBig, "vec_id", "embedding",
          threshold = 0.35, cells = cells)
        .count()
      check(survivors <= nVec / mult,
        s"exact-copy drop at scale: $survivors survivors of $nVec (base=${nVec / mult})")
      out ++= s""""survivors":$survivors,"""
    }

    // clusterDedup's cell blocking plus the per-node top-k window: (a)
    // identical copies are each other's rank-1 neighbors THROUGH the scaled
    // index, (b) no node exceeds k edges.
    section("knn") { // s12-shape: kNN graph
      val knn = graft.ext.Similarity
        .knnGraph(embBig, "vec_id", "embedding", k = 3, cells = cells)
        .localCheckpoint()
      val nEdges = knn.count()
      check(nEdges <= nVec * 3, s"kNN graph edge bound: $nEdges > 3·$nVec")
      // vec 0's exact copy lives at id 10_000_000: cos 1 → mutual rank-1
      val rank1Of0 = knn.filter(col("q_id") === 0L && col("rn") === 1)
        .select(col("c_id"), col("cos")).first()
      check(rank1Of0.getDouble(1) == 1.0,
        s"vec 0's rank-1 neighbor must be an exact copy (cos 1.0), got $rank1Of0")
      out ++= s""""knn_edges":$nEdges,"""
    }

    // mult DISJOINT copies of the co-purchase graph (orderkeys AND
    // partkeys offset per copy): every copy has identical structure, so
    // (a) total rank mass stays exactly 1 per iteration (the co-occurrence
    // graph is symmetric → no dangling mass), and (b) corresponding nodes
    // across copies must get BIT-IDENTICAL ranks — the decimal-sum
    // order-independence claim tested at 10× the data, where partial-agg
    // partitioning actually differs per copy.
    val (edges, nEdgesPr) = section("pagerank") { // q63-shape: PageRank
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
      val liScaled = copies(li, mult)(i =>
        li.select((col("g") + lit(i * 100_000_000L)).as("g"),
          (col("item") + lit(i * Stride)).as("item")))
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
      // copy-symmetry: node v in copy i must rank exactly as v in copy 0
      val base0 = ranks.filter(col("node") < Stride)
        .select(col("node").as("n0"), col("r").as("r0"))
      val rankDiff = (1 until mult).map { i =>
        copyJoin(ranks, i, base0, "inner")(_ => Seq(col("r")))
          .agg(max(abs(col("r") - col("r0")))).first().getDouble(0)
      }.maxOption.getOrElse(0.0) // mult=1: no copies, nothing to compare
      check(rankDiff == 0.0,
        s"disjoint-copy ranks bit-identical (decimal-sum order independence): max diff $rankDiff")
      out ++= s""""pr_edges":$nEdgesPr,"pr_mass_err":${massErrs.max},"pr_copy_diff":$rankDiff,"""
      (edges, nEdgesPr)
    }

    // same graph (the checkpointed edges): per-node triangle counts are
    // exact integers, so each copy must reproduce copy 0 EXACTLY and the
    // total must be exactly mult × copy 0's — a double-counted or dropped
    // wedge breaks an equality, not a tolerance. triangleCounts packs ids
    // < 1e8, so above mult 10 the section reports a skip rather than dying
    // on the mid-scan raise_error
    section("triangles") { // q84-shape: triangle counting
      var triTotal = 0L
      var triCopyMismatch = 0L
      if (mult.toLong * Stride <= 100_000_000L) {
        val tri = graft.ops.Graph.triangleCounts(edges).localCheckpoint()
        // coalesce: an (unexpectedly) triangle-free graph must surface as a
        // failed CHECK below, not a NullPointerException on a NULL sum
        triTotal = tri.agg(coalesce(sum(col("n_tri")), lit(0L)))
          .first().getLong(0)
        val tri0 = tri.filter(col("node") < Stride)
          .select(col("node").as("n0"), col("n_tri").as("t0")).localCheckpoint()
        val tri0Total = tri0.agg(coalesce(sum(col("t0")), lit(0L)))
          .first().getLong(0)
        check(tri0Total > 0, s"copy-0 graph has triangles: $tri0Total")
        check(triTotal == mult.toLong * tri0Total,
          s"triangle total scales exactly: $triTotal vs $mult × $tri0Total")
        triCopyMismatch = (1 until mult).map { i =>
          copyJoin(tri, i, tri0, "full_outer")(_ => Seq(col("n_tri")))
            .filter(col("n_tri").isNull || col("t0").isNull ||
              col("n_tri") =!= col("t0"))
            .count()
        }.maxOption.getOrElse(0L)
        check(triCopyMismatch == 0L,
          s"disjoint-copy triangle counts identical: $triCopyMismatch mismatches")
      } else System.err.println(
        s"[scale] triangle stage skipped: mult=$mult exceeds the id pack range")
      out ++= s""""tri_total":$triTotal,"tri_copy_mismatch":$triCopyMismatch,"""
    }

    // same mult-disjoint-copy graph (reuses the checkpointed edges):
    // peeling is per-component, so the 2-core of the disjoint union is
    // exactly the union of per-copy 2-cores — membership count scales
    // EXACTLY ×mult and each copy's (node, core_deg) table reproduces
    // copy 0 bit-for-bit (integer degrees: equality, not tolerance).
    section("kcore") { // q102-shape: k-core peeling
      val core = graft.ops.Graph.kCore(edges, k = 2, rounds = 6)
        .localCheckpoint()
      val coreTotal = core.count()
      val core0 = core.filter(col("node") < Stride)
        .select(col("node").as("n0"), col("core_deg").as("d0"))
        .localCheckpoint()
      val core0N = core0.count()
      check(core0N > 0, s"copy-0 2-core non-empty: $core0N")
      check(coreTotal == mult.toLong * core0N,
        s"k-core membership scales exactly: $coreTotal vs $mult × $core0N")
      val coreMismatch = (1 until mult).map { i =>
        copyJoin(core, i, core0, "full_outer")(_ => Seq(col("core_deg")))
          .filter(col("core_deg").isNull || col("d0").isNull ||
            col("core_deg") =!= col("d0"))
          .count()
      }.maxOption.getOrElse(0L)
      check(coreMismatch == 0L,
        s"disjoint-copy k-core degrees identical: $coreMismatch mismatches")
      out ++= s""""kcore_total":$coreTotal,"kcore_copy_mismatch":$coreMismatch,"""
    }

    // same mult-disjoint-copy graph: LPA is purely neighbourhood-local,
    // so each copy's (node, community) table must reproduce copy 0 with
    // the community label offset by the copy's id shift — an integer
    // equality (the q84/q102 discipline), bit-exact or broken.
    section("lpa") { // q132-shape: label propagation
      val lpa = graft.ops.Graph.labelPropagation(edges, rounds = 3)
        .localCheckpoint()
      val lpa0 = lpa.filter(col("node") < Stride)
        .select(col("node").as("n0"), col("community").as("c0"))
        .localCheckpoint()
      val lpa0N = lpa0.count()
      check(lpa0N > 0, s"copy-0 LPA non-empty: $lpa0N")
      val lpaMismatch = (1 until mult).map { i =>
        copyJoin(lpa, i, lpa0, "full_outer")(shift =>
            Seq((col("community") - lit(shift)).as("ci")))
          .filter(col("ci").isNull || col("c0").isNull || col("ci") =!= col("c0"))
          .count()
      }.maxOption.getOrElse(0L)
      check(lpaMismatch == 0L,
        s"disjoint-copy LPA communities identical (mod offset): $lpaMismatch mismatches")
      out ++= s""""lpa_nodes":${lpa0N * mult},"lpa_copy_mismatch":$lpaMismatch,"""
    }

    // the deployment geometry: IVF assignment persisted PARTITIONED BY
    // cell + PQ codebooks/codes persisted once; the probe scan must read
    // only the probed cells' rows (partition pruning measured via the
    // stage listener, not asserted from the plan), and the ADC query path
    // runs with zero training against the 10× corpus.
    section("ivfpq") { // s14/s15-shape: stored-index IVF-PQ
      val idx = staged(graft.ext.IVF.assignTable(embBig, "vec_id", "embedding",
          cells = 8, iters = 2).select(col("vid"), col("cell")),
        s"ivf_index_x$mult", "cell")
      val cellSizes = idx.groupBy("cell").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val probedCells = cellSizes.keys.toSeq.sorted.take(2) // nprobe = 2
      val probedRows = probedCells.map(cellSizes).sum
      // the probe's own profile: no straggler from the cellSizes job lands
      // in it, and none of its events is missing (a 0 would be vacuously green)
      val (gotProbe, probe) = Profile.of(spark)(
        idx.filter(col("cell").isin(probedCells.map(Integer.valueOf): _*)).count())
      val probeRead = probe.stages.map(records).sum
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
      val cbBig = graft.ext.PQ.codebooks(embBig, "vec_id", "embedding", m = 8, k = 16)
      val codebooks = staged(cbBig, s"pq_index_x$mult/codebooks")
      val codes = staged(graft.ext.PQ.encode(embBig, "vec_id", "embedding", cbBig, m = 8),
        s"pq_index_x$mult/codes")
      val adc = graft.ext.PQ.adcTopKFromIndex(embBig, "vec_id", "embedding",
          col("vec_id") === 0L || col("vec_id") === 7L, codebooks, codes, k = 5, m = 8)
        .localCheckpoint()
      val adcRank1 = adc.filter(col("rn") === 1).select(col("q_id"), col("cos"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      check(adcRank1.values.forall(_ == 1.0),
        s"ADC rank-1 at 10x must be an exact copy (cos 1.0): $adcRank1")
      out ++= s""""probe_rows":$probedRows,"probe_read":$probeRead,"""
    }

    // the recursion over the SAME mult-disjoint-copy edge table (reused
    // checkpoint — q77's materialize-the-edges-once posture): seed each
    // copy with copy 0's max-degree node + its offset images, so every
    // BFS level must contain EXACTLY mult × copy 0's rows (disjoint
    // identical copies), and the recursion's joins must show up as
    // multi-task stages — a recursion whose levels funnel through one
    // task is the local-mode bug that serializes at 1000 executors.
    section("bfs") { // q77-shape: bounded-depth recursive BFS
      val seed0 = edges.filter(col("src") < Stride)
        .groupBy("src").agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).limit(1)
        .select(col("src")).first().getLong(0)
      edges.createOrReplaceTempView("__scale_edges")
      edges.filter(col("src") < Stride && col("dst") < Stride)
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
      val (lvlScaled, bfs) = Profile.of(spark)(bfsLevels("__scale_edges",
        (0 until mult).map(i => seed0 + i * Stride)))
      val bfsStages = bfs.stages
      val lvl0 = bfsLevels("__scale_edges0", Seq(seed0))
      check(lvl0.size == 3 && lvl0.values.forall(_ > 0),
        s"copy-0 BFS reaches depth 2 with nonempty levels: $lvl0")
      check(lvlScaled == lvl0.map { case (d, n) => d -> n * mult },
        s"per-level BFS rows scale exactly with the copy multiplier: " +
          s"$lvlScaled vs $mult × $lvl0")
      // the threshold tracks the edge table's volume (~71k rows since the
      // r7 testdata; a fixed 100k bar skipped the assertion): the per-level
      // edge scans, whatever their size, must stay multi-task
      val bfsBig = bfsStages.filter(records(_) >= math.min(100_000L, nEdgesPr))
      check(bfsBig.nonEmpty && bfsBig.forall(_.numTasks > 1),
        s"BFS levels run multi-task over non-trivial volume: " +
          bfsStages.map(s => s"${s.stageId}(${s.numTasks}t,${records(s)}r)").mkString(", "))
      out ++= s""""bfs_levels":{${lvlScaled.toSeq.sorted.map { case (d, n) => s""""$d":$n""" }.mkString(",")}},"""
    }

    // mult copies preserve (l_partkey, l_suppkey), so the hilbert-key
    // HISTOGRAM must scale exactly mult× (the key is pure arithmetic on
    // the values — any drift under volume is a bug), and the clustered
    // layout must still hold globally-disjoint contiguous key ranges per
    // partition — that contiguity IS the tight-min/max-envelope claim
    // file skipping rests on.
    section("hilbert") { // q92-shape: Hilbert layout clustering
      val liRaw = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val liBig = copies(liRaw, mult)(_ => liRaw)
      val mmLi = liRaw.agg(
        min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
        min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      def hkeyed(df: DataFrame) =
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
        .select(col("__hkey"), spark_partition_id().as("pid"))
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
      out ++= s""""hilbert_parts":${hParts.length},"""
    }

    // the norm-augmented LSH probe over the 10× corpus: candidates stay
    // band-bucket-blocked (the single-task census below catches an
    // all-pairs funnel), and at most k rows come back per query.
    section("mips") { // s18-shape: MIPS
      val mipsRes = graft.ext.Similarity.mipsTopK(
          embBig, "vec_id", "embedding",
          col("vec_id") % 499 === 0, k = 5)
        .localCheckpoint()
      val nMips = mipsRes.count()
      val mipsQs = mipsRes.select(countDistinct(col("q_id"))).first().getLong(0)
      check(nMips > 0 && nMips <= mipsQs * 5,
        s"MIPS at 10×: $nMips rows for $mipsQs queries (≤5 each)")
      out ++= s""""mips_rows":$nMips,"""
    }

    // the 10× covariance is exactly mult× the base one and each round's
    // normalization cancels the scalar, so the top component must match
    // the base corpus' to fp noise. Only the one-pass d²-moment reduction
    // sees n; the 8 rounds run on the d²-row matrix.
    section("pca") { // s20-shape: PCA power iteration
      val pcBig = graft.ext.Similarity.topComponent(embBig, col("embedding"))
        .select(col("dim"), col("loading").as("lb")).localCheckpoint()
      val pcBase = graft.ext.Similarity.topComponent(
          Tables.embeddings(spark, sfDir), col("embedding"))
        .select(col("dim"), col("loading").as("l0"))
      val pcaDiff = pcBig.join(pcBase, "dim")
        .agg(max(abs(col("lb") - col("l0")))).first().getDouble(0)
      check(pcaDiff < 1e-9, s"10× PCA component matches base: max diff $pcaDiff")
      out ++= f""""pca_copy_diff":$pcaDiff%.2e,"""
    }

    // the scaled docs fixture (mult near-copies + 400-doc hot cluster) is
    // exactly the workload prefix filtering exists for: the hot doc's 399
    // near-copies share almost every shingle, so candidate generation must
    // find all of them at τ=0.4 while staying blocked on RARE prefix
    // tokens (never all-pairs — the global single-task assertions below
    // catch any funnel). Completeness under skew is the claim: every hot
    // copy must pair with the original.
    section("prefix") { // t40-shape: prefix-filter similarity join
      val pfPairs = graft.ext.Dedup
        .prefixFilterPairs(docs, col("doc_id"), col("text"))
        .localCheckpoint()
      val nPf = pfPairs.count()
      val hotPf = pfPairs.filter(col("id_a") === hotId).count()
      check(hotPf >= 399,
        s"prefix filter finds the whole hot cluster: $hotPf pairs with doc $hotId (want >=399)")
      out ++= s""""prefix_pairs":$nPf,"prefix_hot":$hotPf,"""
    }

    // every point has mult−1 0-distance duplicates, so every NN sits at
    // ROUNDED dist2 0, ties broken to the lowest other id. Locations closer
    // than the 6-dp rounding radius merge into one tie group, so the EXACT
    // invariant is one mutual pair per connected component of the
    // rounded-zero-distance graph (the lowest two ids), computed with the
    // same 3×3 grid relation and connectedComponents at s23's derived cell.
    section("mutual") { // s23-shape: mutual NN
      val mnnCell = graft.ext.Similarity.autoCellSize(nVec)
      val mnn = graft.ext.Similarity.mutualNN2d(embBig, "vec_id", "embedding",
          cellSize = mnnCell)
        .localCheckpoint()
      val nMnn = mnn.count()
      val mnnNonzero = mnn.filter(col("dist2") =!= 0.0).count()
      val zpts = embBig.select(col("vec_id").as("pid"),
          element_at(col("embedding"), 1).cast("double").as("x"),
          element_at(col("embedding"), 2).cast("double").as("y"))
        .withColumn("gx", floor(col("x") / mnnCell).cast("long"))
        .withColumn("gy", floor(col("y") / mnnCell).cast("long"))
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
      out ++= f""""mutual_cell":$mnnCell%.6f,"mutual_pairs":$nMnn,"mutual_groups":$nZeroGroups,"""
    }

    // ---------- partition-story assertions ----------
    // every stage reading >=100k records, in any section, must be
    // multi-task; the only single-task stages allowed at ANY volume are
    // the documented driver-side materializations (k-means centroid
    // collects: k rows)
    val big = for (s <- section.all; st <- s.profile.stages if records(st) >= 100_000) yield s.name -> st
    val singleBig = big.filter(_._2.numTasks <= 1)
    check(singleBig.isEmpty,
      s"single-task big stages: ${singleBig.map { case (n, s) => s"$n/${s.stageId}:${s.name.takeWhile(_ != '\n')}(${records(s)})" }.mkString(", ")}")
    val worstSkew = big.sortBy(b => -runMs(b._2)).take(5)
      .map { case (n, s) => s""""s${s.stageId}":{"section":"$n","tasks":${s.numTasks},"records":${records(s)},"run_ms":${runMs(s)}}""" }
      .mkString(",")

    // a fixture build has no t_*_sec key of its own
    section.all.filterNot(_.name.endsWith("_fixture"))
      .foreach(s => out ++= f""""t_${s.name}_sec":${s.sec}%.1f,""")
    out ++= s""""sections":{${section.all.map(_.json).mkString(",")}},"""
    out ++= s""""big_stages":${big.size},"top_stages":{$worstSkew},"""
    out ++= s""""failed":[${failed.reverse.map("\"" + _ + "\"").mkString(",")}]}"""
    println(out.result())
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
