package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Similarity.{dot, norm, probe, roundedCos, topK}

/** IVF (inverted-file) approximate nearest-neighbor search: coarse-quantize
  * vectors into k cells via a small k-means, then search only the `nprobe`
  * cells nearest to each query — the second scale path for ANN alongside
  * random-projection LSH (Similarity.annTopK).
  *
  * Everything is DataFrame-native: assignment is a map-only projection
  * through the native NearestCell argmin kernel (the k·d centroid matrix
  * rides in as literals); centroid recomputation is a posexplode +
  * per-(cell, dim) decimal-exact average. Centroids are driver-collected
  * between iterations — k·d doubles, the same order of driver state as
  * any broadcast dimension; the VECTORS never leave the executors.
  *
  * At 100 TB: cells are the partition pruning unit — a query touches
  * nprobe/k of the data. The cell assignment is written once (a stored
  * column / partition key), not recomputed per query.
  */
object IVF {

  /** Loud-failure guard on decimal-mean inputs: with ANSI off,
    * `cast(x as decimal(38,18))` silently NULLs any |x| ≥ 1e20, which
    * would surface as a NULL centroid dimension instead of an error
    * (the repo's documented decimal-overflow trap). Components are
    * required |x| < 1e8 — generous for any normalized/quantized
    * embedding corpus, and low enough that even 10^12 rows per cell
    * (100 TB territory) cannot overflow the 38-digit sum — and a
    * violation raises with the offending value instead of corrupting
    * the quantizer. Shared by [[kmeansCentroidsInit]] and
    * PQ.trainCodebooks.
    */
  private[ext] def decimalSafe(c: Column): Column =
    when(c.isNull || abs(c) < 1e8d, c)
      .otherwise(raise_error(concat(
        lit("graft: embedding component outside decimal-safe range (|x| >= 1e8): "),
        c.cast("string"))))

  /** Deterministic small k-means over an embedding column.
    * Init = the k vectors FIRST IN xxhash64(id) ORDER — deterministic (no
    * RNG) but decorrelated from id locality: the k smallest ids often
    * share a region (sorted/clustered ingestion), which would start every
    * centroid in one cluster and leave most cells empty (IVFSpec has the
    * degenerate case). Returns the final (cell, centroid array) table,
    * k rows.
    */
  def kmeansCentroids(emb: DataFrame, id: String, vec: String,
                      k: Int = 8, iters: Int = 3): DataFrame =
    kmeansCentroidsInit(emb, id, vec, k, iters, spreadInit = true)

  /** [[kmeansCentroids]] with the init strategy exposed — spreadInit=false
    * is the naive first-k-ids pick, kept only so the test suite can
    * demonstrate the degeneracy the hash-spread init avoids.
    */
  private[graft] def kmeansCentroidsInit(emb: DataFrame, id: String, vec: String,
                                         k: Int, iters: Int,
                                         spreadInit: Boolean): DataFrame = {
    val v = emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v"))
    val seedOrder =
      if (spreadInit) Seq(xxhash64(col("vid")), col("vid")) else Seq(col("vid"))
    val seeds = v.orderBy(seedOrder: _*).limit(k)
      .select(row_number().over(Window.orderBy(seedOrder: _*)).as("cell"),
        col("v").as("c"))
    lloydRounds(v, seeds, iters)
  }

  /** `iters` Lloyd rounds warm-started from an EXISTING centroid table —
    * the drift-triggered RETRAIN path (s38's audit decides WHEN; this is
    * the action): once the frozen quantizer the maintenance family folds
    * batches into (s35/s37) has drifted, refining it costs one
    * assignment pass + one mean-update per round over corpus∪batch —
    * no seed pick, no from-scratch iteration budget, and the init is
    * already near-optimal so one round is the standard dose. Same
    * decimal-sum mean determinism as [[kmeansCentroids]]; cells that
    * receive no vectors drop out (plain Lloyd on empties). By the
    * training identity, refine(stored, 1 round) over the same corpus ==
    * kmeansCentroids(iters+1) bit-for-bit (IVFSkewSpec pins it) — which
    * is exactly what lets s42's oracle re-derive the whole round.
    */
  def kmeansRefine(emb: DataFrame, id: String, vec: String,
                   init: DataFrame, iters: Int = 1): DataFrame = {
    lloydRounds(
      emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v")),
      init.select(col("cell").cast("int").as("cell"), col("c")), iters)
  }

  /** The Lloyd iteration shared by seed-initialized training and
    * warm-started refinement: assign (native argmin kernel) → exact
    * decimal-mean update → driver-materialize the k centroids (lineage
    * truncation between rounds).
    */
  private def lloydRounds(v: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    var centroids = init
    var i = 0
    while (i < iters) {
      // mean via DECIMAL(38,18) sum / count, not avg(): decimal addition
      // is exact and therefore merge-order-independent, so the centroids
      // are bit-stable across runs and partitionings BY CONSTRUCTION —
      // the property every staged-centroid oracle (s08/s09) and every
      // repeated-training call (s15's build vs s09's dump) depends on.
      // A double avg() leaves the reduce-side merge order to Spark's
      // scheduler; same rationale as Graph.pageRank's contribution sums.
      //
      // The per-iteration plan stops at the (cell, pos) grain: the k·d
      // mean rows are collected and the centroid ARRAYS assembled on the
      // driver (group by cell, sort by pos — exactly the
      // array_sort(collect_list(struct(pos, m))) the second groupBy used
      // to run). Same doubles, one exchange per round instead of two
      // (r15, guide §2.4): the collect was already happening — pulling
      // k·d scalar rows instead of k array rows costs nothing, and the
      // dropped shuffle + ObjectHashAggregate stage was pure overhead.
      val meanRows = assignCells(v, centroids)
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(decimalSafe(col("col")).cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
      // Materialize the k centroids driver-side between iterations: k·d
      // doubles of driver state, and it TRUNCATES the lineage — otherwise
      // each iteration's plan nests the previous cross-join+window and
      // every downstream action recomputes the whole chain.
      centroids = meanRows
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).toSeq
        .map { case (cell, rs) => (cell, rs.sortBy(_._2).map(_._3).toSeq) }
        .sortBy(_._1)
        .toDF("cell", "c")
      i += 1
    }
    centroids
  }

  /** The stored-index build: every vector labeled with its coarse cell —
    * (vid, v, cell). Persist this partitioned BY `cell` and a probe scan
    * reads nprobe/cells of the data via partition pruning instead of the
    * full table (PartitionPruningSpec proves the pruned scan). This is
    * the at-scale deployment of [[ivfTopK]]'s in-query assignment.
    */
  def assignTable(emb: DataFrame, id: String, vec: String,
                  cells: Int = 8, iters: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(emb, id, vec, cells, iters)
    assignCells(
      emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v")),
      centroids)
  }

  /** Nearest-centroid assignment: (vid, v, cell) as a MAP-ONLY projection
    * through the native [[graft.functions.NearestCell]] argmin — the
    * centroid matrix (k·d doubles, the same driver state the training
    * loop already materializes) rides into the expression as literals,
    * and each vector pays one tight k·d flop loop inside whole-stage
    * codegen. This replaced the crossJoin(broadcast(centroids)) +
    * min_by(struct(d2, cell)) formulation in r13: that pays Spark row
    * overhead on n·k JOINED rows plus a shuffle, which turns quadratic
    * once cells scale with the corpus (autoCells) — measured ~600 s of
    * s12's 698 s at sf10 (200k vectors × 800 cells × 4 passes). The
    * kernel reproduces the join's float chain and (d2, cell) tie-break
    * bit-for-bit (java.lang.Double.compare ordering), so every
    * staged-centroid oracle and hash grade is unchanged — pinned by
    * IVFSkewSpec's kernel-vs-join parity test. Bonus: assignment no
    * longer shuffles at all.
    */
  private[graft] def assignCells(v: DataFrame, centroids: DataFrame): DataFrame =
    v.select(col("vid"), col("v"), nearestCellExpr(centroids, col("v")).as("cell"))

  /** Batch assignment against an ALREADY-TRAINED centroid table — the
    * continuous-ingestion shape for the ANN index (t58's move applied to
    * the vector side): new vectors take cells from the STORED quantizer
    * with zero training, zero corpus scan and zero shuffle in the query
    * path (the k-row centroid table folds into the kernel expression as
    * literals at plan build). Returns (vid, cell).
    */
  def assignWithCentroids(emb: DataFrame, id: String, vec: String,
                          centroids: DataFrame): DataFrame =
    assignCells(
      emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v")),
      centroids)
      .select(col("vid"), col("cell"))

  /** The post-retrain index REFRESH — the step that makes [[kmeansRefine]]
    * useful: every stored artifact (cell-partitioned codes, merged
    * assignments) keys on the OLD cells until the assignment follows the
    * refined centroids. ONE map-only kernel pass over the vectors: both
    * centroid tables fold into native argmin expressions as literals, so
    * the pass has no join, no window, and no shuffle of its own (PlanSpec
    * pins the shape). Returns (vid, cell, moved) where `cell` is the
    * refined assignment and `moved` flags rows whose argmin changed —
    * the churn bound of the rewrite: a cell-partitioned artifact only
    * rewrites partitions that moved rows leave or enter, so one warm
    * Lloyd round's refresh costs a small measured fraction of the corpus
    * in write amplification (SCALE.md records the fraction; s43's graded
    * output carries the flag itself).
    */
  def refreshAssignment(emb: DataFrame, id: String, vec: String,
                        oldCentroids: DataFrame,
                        newCentroids: DataFrame): DataFrame = {
    emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v"))
      .select(col("vid"),
        nearestCellExpr(oldCentroids, col("v")).as("cell_old"),
        nearestCellExpr(newCentroids, col("v")).as("cell"))
      .select(col("vid"), col("cell"),
        (col("cell_old") =!= col("cell")).cast("int").as("moved"))
  }

  /** The [[assignCells]] argmin as a bare Column, so callers that carry
    * extra columns (the two-level residual assignment keeps cell1) can
    * project it in place. Collects the k-row centroid table into the
    * expression as literals — the established k-row-collect discipline.
    */
  private def nearestCellExpr(centroids: DataFrame, v: Column): Column = {
    val rows = centroids.select(col("cell").cast("int"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    graft.functions.GraftFunctions.nearestCell(v,
      typedLit(rows.map(_._1).toSeq),
      typedLit(rows.map(_._2).toSeq))
  }

  /** The r12 join-formulation argmin, kept as the parity REFERENCE the
    * suite pins [[assignCells]]'s native kernel against (IVFSkewSpec).
    */
  private[graft] def assignCellsViaJoin(v: DataFrame, centroids: DataFrame): DataFrame = {
    val d2 = dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("c")) +
      dot(col("c"), col("c"))
    v.crossJoin(broadcast(centroids))
      .withColumn("d2", d2)
      .groupBy(col("vid"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"),
        first(col("v")).as("v"))
      .select(col("vid"), col("v"), col("cell"))
  }

  /** IVF top-k: probe the `nprobe` nearest cells per query, exact-cosine
    * rank within the probed candidates. Returns (q_id, c_id, cos, rn).
    */
  def ivfTopK(emb: DataFrame, id: String, vec: String, queryPred: Column,
              k: Int = 5, cells: Int = 8, nprobe: Int = 2,
              iters: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(emb, id, vec, cells, iters)
    val v = emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v"))
    ivfTopKWith(centroids, assignCells(v, centroids),
      emb.filter(queryPred)
        .select(col(id).as("q_id"), col(vec).cast("array<double>").as("q_vec")),
      k, nprobe)
  }

  /** [[ivfTopK]] against a PRE-TRAINED quantizer: caller supplies the
    * centroid table, the assigned corpus, and the query vectors — the
    * shape a parameter sweep (s27) or a stored-index deployment uses, so
    * k-means trains once however many probe configurations run.
    */
  def ivfTopKWith(centroids: DataFrame, assigned: DataFrame, q: DataFrame,
                  k: Int, nprobe: Int): DataFrame = {
    val probes = probe(q, centroids, "q_vec", nprobe, Seq("q_id"),
      col("q_id"), col("q_vec"), col("cell"))
    probedTopK(probes, assigned, Seq("cell"), k)
  }

  /** Exact-cosine top-k over the vectors of the probed cells: `probes`
    * (q_id, q_vec, `keys`…) joins the assigned corpus (vid, v, `keys`…)
    * on the cell key(s). Norms are computed once per side BEFORE the join
    * (per-pair norm folds would double the ranking cost — the posture
    * Similarity documents).
    */
  private def probedTopK(probes: DataFrame, assigned: DataFrame, keys: Seq[String],
                         k: Int): DataFrame =
    exactTopK(probes.withColumn("q_norm", norm("q_vec"))
      .join(assigned.withColumn("v_norm", norm("v")), keys)
      .filter(col("vid") =!= col("q_id")), k)

  /** The exact-cosine ranking of (q_id, q_vec, q_norm) × (vid, v, v_norm)
    * pairs: (q_id, c_id, cos, rn ≤ k), ties to the lowest vid. The tail of
    * every IVF and PQ query (PQ's re-rank of its ADC shortlist).
    */
  private[ext] def exactTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(pairs.withColumn("cos", roundedCos("q_vec", "v", "q_norm", "v_norm")),
      k, Seq(col("cos").desc, col("vid")), col("q_id"), col("vid").as("c_id"), col("cos"))

  // ---------- two-level (residual) coarse quantizer ----------
  //
  // The flat quantizer's assignment costs n·cells·d flops; with cells
  // scaled to the corpus (Similarity.autoCells) that is quadratic in
  // FLOPS even after the map-only kernel made it linear in ROWS — the
  // wall SCALE.md documents at ~10⁷ vectors/shard. The classic fix is
  // hierarchical: a k1-cell first level over the vectors plus a k2-cell
  // SECOND level trained on the residuals (v − c1), giving k1·k2
  // addressable leaves for n·(k1+k2)·d assignment flops — √ of the flat
  // cost at equal leaf count. The leaf key (cell1, cell2) is the
  // partition pair a 100 TB deployment persists, exactly like the flat
  // assignTable's single cell column.

  /** Corpus-derived level sizes: k1·k2 ≈ Similarity.autoCells(n) leaves
    * (the flat deployment's constant-occupancy knob), split ~evenly so
    * assignment flops are the minimal k1+k2 per vector. The registered
    * queries AND Verify's staging both derive from the same corpus
    * count, so the staged model tables always match the graded query's
    * training — the s12 derived-knob discipline.
    */
  def autoK1K2(n: Long): (Int, Int) = {
    val cells = Similarity.autoCells(n)
    val k1 = math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
    (k1, math.max(2, math.ceil(cells.toDouble / k1).toInt))
  }

  private def resolveK(emb: DataFrame, k1: Int, k2: Int): (Int, Int) =
    if (k1 > 0 && k2 > 0) (k1, k2) else autoK1K2(emb.count())

  /** Train both levels. Returns (l1 centroids, l2 residual centroids,
    * assigned) where assigned = (vid, v, cell1, cell2). Deterministic by
    * construction end-to-end: both k-means are [[kmeansCentroids]]
    * (hash-spread init, decimal-sum means), the L1 assignment is the
    * native argmin kernel, and the residual is exact IEEE elementwise
    * subtraction — so a second call (Verify's staging) reproduces every
    * value bit-for-bit, the property the s31 oracle relies on.
    */
  private[graft] def twoLevelModel(emb: DataFrame, id: String, vec: String,
                                   k1: Int, k2: Int, iters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val v = emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v"))
    val l1 = kmeansCentroids(emb, id, vec, k1, iters)
    // residuals against the OWN cell's centroid: one broadcast join with
    // the k1-row centroid table, materialized once (localCheckpoint) —
    // the L2 training loop would otherwise re-run scan+assign+join per
    // iteration, the Mining.decileLiftBucketed lesson.
    val res = assignCells(v, l1)
      .join(broadcast(l1), "cell")
      .select(col("vid"), col("v"), col("cell").as("cell1"),
        zip_with(col("v"), col("c"), (a, b) => a - b).as("r"))
      .localCheckpoint(true)
    val l2 = kmeansCentroids(res, "vid", "r", k2, iters)
    val assigned = res.select(col("vid"), col("v"), col("cell1"),
      nearestCellExpr(l2, col("r")).as("cell2"))
    (l1, l2, assigned)
  }

  /** The stored two-level index: (vid, cell1, cell2) for every vector —
    * the composite partition key of the hierarchical deployment. Same
    * contract as [[assignTable]], one level deeper. k1/k2 ≤ 0 (the
    * default) derives both from the corpus count ([[autoK1K2]]).
    */
  def twoLevelAssignTable(emb: DataFrame, id: String, vec: String,
                          k1: Int = 0, k2: Int = 0, iters: Int = 3): DataFrame = {
    val (kk1, kk2) = resolveK(emb, k1, k2)
    val (_, _, assigned) = twoLevelModel(emb, id, vec, kk1, kk2, iters)
    assigned.select(col("vid"), col("cell1"), col("cell2"))
  }

  /** Two-level IVF top-k: probe the nprobe1 nearest L1 cells, then within
    * each the nprobe2 nearest L2 residual cells — candidates are the
    * vectors in the probed (cell1, cell2) leaves, exact-cosine ranked.
    * Query-side probing touches k1 + nprobe1·k2 centroids per query
    * instead of the flat form's k1·k2; the corpus side reads
    * ~(nprobe1·nprobe2)/(k1·k2) of the data via leaf pruning. Returns
    * (q_id, c_id, cos, rn) — the [[ivfTopKWith]] contract.
    */
  def ivf2TopK(emb: DataFrame, id: String, vec: String, queryPred: Column,
               k: Int = 5, k1: Int = 0, k2: Int = 0,
               nprobe1: Int = 2, nprobe2: Int = 2, iters: Int = 3): DataFrame = {
    val (kk1, kk2) = resolveK(emb, k1, k2)
    val (l1, l2, assigned) = twoLevelModel(emb, id, vec, kk1, kk2, iters)
    val q = emb.filter(queryPred)
      .select(col(id).as("q_id"), col(vec).cast("array<double>").as("q_vec"))
    ivf2TopKWith(l1, l2, assigned, q, k, nprobe1, nprobe2)
  }

  /** [[ivf2TopK]] against a pre-trained model — the s27-style shape that
    * lets a probe sweep reuse one training run.
    */
  private[graft] def ivf2TopKWith(l1: DataFrame, l2: DataFrame,
                                  assigned: DataFrame, q: DataFrame,
                                  k: Int, nprobe1: Int, nprobe2: Int): DataFrame = {
    val probes1 = probe(q, l1, "q_vec", nprobe1, Seq("q_id"),
      col("q_id"), col("q_vec"), col("cell").as("cell1"),
      zip_with(col("q_vec"), col("c"), (a, b) => a - b).as("rq"))
    // second level: the residual's nearest L2 cells within each probed L1 cell
    val probes = probe(probes1, l2, "rq", nprobe2, Seq("q_id", "cell1"),
      col("q_id"), col("q_vec"), col("cell1"), col("cell").as("cell2"))
    probedTopK(probes, assigned, Seq("cell1", "cell2"), k)
  }
}
