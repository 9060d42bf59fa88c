package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Similarity search over embedding columns (ArrayType(Float)) — the
  * north-star ANN surface: brute-force cosine top-k as the exact baseline,
  * and a signed-random-projection LSH variant as the scale path.
  *
  * All vector math is the native [[dot]] kernel over arrays cast to
  * double — a sequential fold, bit-identical to DuckDB's
  * list_dot_product, so the exact queries hash-match the oracle without
  * tolerance. No UDFs.
  *
  * Scale posture: brute force is O(|Q|·N·d) with the query set broadcast —
  * right when |Q| is small or N fits a partition sweep; the LSH path
  * bounds candidates per query via band-bucket joins (tunable
  * bands × bits recall/cost trade), the standard shape for N in the
  * billions. Norms are computed once per side, never per pair.
  */
object Similarity {

  /** Dot product of two double arrays: the native
    * [[graft.functions.DotProduct]] kernel, one fused left-to-right loop.
    * It needs no registration, so it works on any session. Bit-identical
    * to the built-in `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` fold,
    * including its null and length-mismatch semantics (DotProductSpec
    * pins the equality), and so to the DuckDB oracles'
    * list_dot_product. Both inputs must
    * already be array<double>: there is no implicit cast, so cast
    * float or int embeddings first (analysis fails otherwise).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotProduct(a, b)

  /** Cosine via dot/(sqrt(aa)·sqrt(bb)) over the native [[dot]] — the
    * exact formula the DuckDB oracle mirrors (term order matters for bit
    * parity). Like [[dot]], it takes array<double> inputs only.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  // ---------- the ANN ranking tail ----------
  //
  // Every similarity-search operator here returns one ranking contract,
  // (q_id, c_id, cos, rn): cos = round(dot(q, c) / (‖q‖·‖c‖), 6), ties to
  // the lowest candidate id, rn an int. The helpers below write that
  // contract once; each builds exactly the expressions, aliases and
  // operator order of the hand copies it replaced, so plans are unchanged.

  /** The rounded cosine of two array<double> columns from their
    * precomputed norms. The dot/(na·nb) term order and the 6-decimal
    * rounding are parity-critical (the DuckDB oracles mirror them).
    */
  private[ext] def roundedCos(a: String, b: String, na: String, nb: String): Column =
    round(dot(col(a), col(b)) / (col(na) * col(nb)), 6)

  /** ‖v‖ of an array<double> column. */
  private[ext] def norm(v: String): Column = sqrt(dot(col(v), col(v)))

  /** Norm side table: (idAs, vecAs = `vec` cast to array<double>,
    * `extra`…, normAs = ‖vecAs‖) — norms are computed once per side,
    * never per pair.
    */
  private[ext] def normTable(df: DataFrame, id: String, vec: String, idAs: String,
                             vecAs: String, normAs: String, extra: Column*): DataFrame =
    df.select(Seq(col(id).as(idAs), col(vec).cast("array<double>").as(vecAs)) ++ extra: _*)
      .withColumn(normAs, norm(vecAs))

  /** The first `k` rows of each window partition: `row_number` over `w`
    * as column `rn`, kept iff ≤ k (shortlists, probes and top-k alike).
    */
  private[ext] def firstK(df: DataFrame, rn: String, w: WindowSpec, k: Int): DataFrame =
    df.withColumn(rn, row_number().over(w)).filter(col(rn) <= k)

  /** The contract's `rn` output column: an int. */
  private[ext] def rnInt(rn: Column): Column = rn.cast("int").as("rn")

  /** The per-query top-k tail: the first k rows per `q_id` by `order`,
    * projected to `keep` plus the int `rn`.
    */
  private[ext] def topK(df: DataFrame, k: Int, order: Seq[Column], keep: Column*): DataFrame =
    firstK(df, "rn", Window.partitionBy("q_id").orderBy(order: _*), k)
      .select(keep :+ rnInt(col("rn")): _*)

  /** The nearest-`nprobe` centroid probe: query rows (`qv` their
    * array<double> vector) crossed with the broadcast (cell, c) centroid
    * table, ranked per `by` partition on squared L2 `d2` with ties to the
    * lowest cell, projected to `keep`.
    */
  private[ext] def probe(q: DataFrame, centroids: DataFrame, qv: String, nprobe: Int,
                         by: Seq[String], keep: Column*): DataFrame = {
    val d2 = dot(col(qv), col(qv)) - lit(2.0) * dot(col(qv), col("c")) +
      dot(col("c"), col("c"))
    firstK(q.crossJoin(broadcast(centroids)).withColumn("d2", d2), "rn",
        Window.partitionBy(by.map(col): _*).orderBy(col("d2"), col("cell")), nprobe)
      .select(keep: _*)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queryPred` selects the query subset; the query side is broadcast.
    * Ranking uses cosine rounded to 6 decimals (cross-engine-stable) with
    * candidate id tie-break.
    */
  def bruteForceTopK(emb: DataFrame, id: String, vec: String,
                     queryPred: Column, k: Int = 5): DataFrame = {
    val e = normTable(emb, id, vec, "c_id", "c_vec", "c_norm")
    val q = normTable(emb.filter(queryPred), id, vec, "q_id", "q_vec", "q_norm")
    topK(e.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cos", roundedCos("q_vec", "c_vec", "q_norm", "c_norm")),
      k, Seq(col("cos").desc, col("c_id")), col("q_id"), col("c_id"), col("cos"))
  }

  /** FILTERED ANN: per-query top-k restricted to candidates sharing the
    * query's `label` — the metadata-constrained retrieval every
    * production vector store needs ("similar AND same
    * class/tenant/language"). The predicate is pushed INTO the join key:
    * queries hash-join candidates ON label, so the pair space is
    * Σ_label n_l·q_l — label-blocked, never the full n·q cross join —
    * and a query's k results are guaranteed to satisfy the filter
    * (post-filtering a global top-k instead can return fewer than k or
    * none: the classic filtered-ANN bug). At index scale the label
    * becomes a partition key of the stored cell table (s15's layout) and
    * this join prunes partitions; distances compute only inside the
    * filtered block. Returns (q_id, label, c_id, cos, rn ≤ k).
    */
  def labelFilteredTopK(emb: DataFrame, id: String, vec: String,
                        queryPred: Column, k: Int = 5): DataFrame = {
    val c = normTable(emb, id, vec, "c_id", "c_vec", "c_norm", col("label"))
    val q = normTable(emb.filter(queryPred), id, vec, "q_id", "q_vec", "q_norm",
      col("label"))
    topK(c.join(broadcast(q), Seq("label"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cos", roundedCos("q_vec", "c_vec", "q_norm", "c_norm")),
      k, Seq(col("cos").desc, col("c_id")),
      col("q_id"), col("label"), col("c_id"), col("cos"))
  }

  /** Embedding-space decontamination audit — the semantic member of the
    * decontamination family (t17 exact shingles, t26 map-side Bloom):
    * for each EVAL document, how hard does the TRAIN corpus press on it?
    * One row per eval vector: the count of train vectors with cosine ≥
    * `tau`, the maximum cosine, and the closest train id (ties to the
    * lowest id).
    *
    * Scale posture: the eval set is the SMALL side by nature (a
    * benchmark, not a corpus), so it broadcasts and the train corpus
    * streams through one map-side cross — N·|eval| fused dot products,
    * no shuffle of vectors; the per-eval rollup is |eval| groups. This
    * is the shape that stays flat when train grows 1000×.
    */
  def contaminationAudit(emb: DataFrame, id: String, vec: String,
                         evalPred: Column, tau: Double): DataFrame = {
    val t = normTable(emb.filter(!evalPred), id, vec, "t_id", "t_vec", "t_norm")
    val q = normTable(emb.filter(evalPred), id, vec, "q_id", "q_vec", "q_norm")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("t_id"))
    t.crossJoin(broadcast(q))
      .withColumn("cos", roundedCos("q_vec", "t_vec", "q_norm", "t_norm"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("q_id"))
      .agg(sum(when(col("cos") >= tau, 1L).otherwise(0L)).as("n_above"),
        max(col("cos")).as("max_cos"),
        max(when(col("rn") === 1, col("t_id"))).as("closest_train"))
  }

  /** Exact top-k closest PAIRS (embedding near-dup surface) within the
    * rows matching `pred` — bounded all-pairs, for dedup-style use.
    */
  def topKPairs(emb: DataFrame, id: String, vec: String,
                pred: Column, k: Int = 50): DataFrame =
    pairCosines(emb, id, vec, pred)
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(k)

  /** Per-group centroids of an embedding column, long form: one row per
    * (group, dim) with the mean component — the shape behind k-NN class
    * prototypes, IVF coarse quantizers, and per-source embedding drift
    * checks. posexplode + one partial+final aggregate: the shuffle
    * carries (groups × dims) partial sums, never vectors. Rounded to 6
    * decimals (double accumulation order differs across engines).
    */
  def groupCentroids(emb: DataFrame, group: Column, vec: Column): DataFrame =
    emb.select(group.as("label"), posexplode(vec.cast("array<double>")))
      .groupBy(col("label"), (col("pos") + 1).cast("int").as("dim"))
      .agg(round(avg(col("col")), 6).as("centroid"),
           count(lit(1)).as("n_vecs"))

  /** Normalized cosine over all id-ordered pairs within `pred`:
    * (id_a < id_b, cos rounded to 6). The ONE pair-construction used by
    * both [[topKPairs]] and [[cosineDedup]]: one [[normTable]] side
    * self-joined, scored by [[roundedCos]] — the formulation every
    * ranking path here, in IVF and in PQ shares, since the rounding and
    * the dot/(na·nb) term order are parity-critical (the DuckDB oracles
    * mirror them exactly).
    */
  private def pairCosines(emb: DataFrame, id: String, vec: String,
                          pred: Column): DataFrame = {
    val e = normTable(emb.filter(pred), id, vec, "v_id", "v", "n")
    val a = e.select(col("v_id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = e.select(col("v_id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", roundedCos("va", "vb", "na", "nb"))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Embedding-cosine near-dup DEDUP decision: keep a vector iff NO
    * lower-id vector within the `pred` subset has cosine ≥ `threshold`
    * with it — the any-lower-id-neighbor rule. NOTE this is NOT greedy
    * survivorship: a vector is dropped even when its similar lower-id
    * neighbor was itself dropped (chain a~b~c with a≁c keeps only {a};
    * greedy would keep {a, c}). The any-neighbor rule needs no iteration,
    * is order-stable and idempotent (MaintenanceSpec), and drops a
    * superset of greedy's drops — the conservative direction for training
    * data. Cosine is rounded to 6 decimals BEFORE the threshold compare
    * so the keep/drop frontier is engine-stable.
    *
    * This is the exact (all-pairs within `pred`) oracle-able baseline,
    * same posture as [[topKPairs]]; the scale path feeds THIS same
    * any-lower-id rule with LSH/IVF candidate pairs instead of all pairs.
    */
  def cosineDedup(emb: DataFrame, id: String, vec: String,
                  pred: Column, threshold: Double): DataFrame = {
    val dropped = pairCosines(emb, id, vec, pred)
      .filter(col("cos") >= threshold)
      .select(col("id_b").as("v_id")).distinct()
    emb.filter(pred).select(col(id).as("v_id"))
      .join(dropped, Seq("v_id"), "left_anti")
  }

  /** Cluster-scoped semantic dedup (the SemDeDup shape from the public
    * literature): coarse k-means cells first (IVF.assignTable), then the
    * SAME any-lower-id cosine rule as [[cosineDedup]] applied only to
    * pairs WITHIN a cell — the pair space drops from O(n²) to
    * O(Σ cell²) ≈ n²/cells, and the per-cell join is an equi-join on the
    * cell id (shuffle-partitioned by cell, never a cross join). The
    * accepted approximation: a near-dup pair straddling a cell boundary
    * is missed — exact duplicates never are (identical vectors share an
    * argmin cell by construction; SimilaritySpec pins that). At 100 TB
    * `cells` grows with the corpus (cells ≈ n/10⁴ keeps cell joins
    * bounded) and the assignment is the stored cell column IVF already
    * persists — dedup then reads each cell partition independently.
    */
  def clusterDedup(emb: DataFrame, id: String, vec: String,
                   threshold: Double, cells: Int = 8,
                   iters: Int = 3): DataFrame = {
    val n = graft.ext.IVF.assignTable(emb, id, vec, cells, iters)
      .withColumn("nrm", norm("v"))
      .localCheckpoint() // feeds both join sides — one assignment pass
    val a = n.select(col("cell"), col("vid").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = n.select(col("cell"), col("vid").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", roundedCos("va", "vb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("id_b").as("v_id")).distinct()
    emb.select(col(id).as("v_id")).join(dropped, Seq("v_id"), "left_anti")
  }

  /** Signed-random-projection sketch: `bits` pseudo-hyperplanes whose
    * component signs come from murmur3(bit, dim-index) — deterministic,
    * data-independent, identical on every executor with no side state.
    * Emits the sketch as `bands` band columns of bits/bands bits each.
    */
  def rpSketch(emb: DataFrame, id: String, vec: String,
               bits: Int = 32, bands: Int = 4): DataFrame = {
    require(bits % bands == 0,
      s"bits ($bits) must divide evenly into bands ($bands) — leftover " +
        "projections would be computed but silently dropped from the sketch")
    val exploded = emb.select(col(id).as("doc"), posexplode(col(vec).cast("array<double>")))
    val projs = (0 until bits).map { b =>
      sum(when(hash(lit(b), col("pos")) % 2 === 0, col("col"))
        .otherwise(-col("col"))).as(s"p$b")
    }
    val r = bits / bands
    val bandCols = (0 until bands).map { bd =>
      (0 until r).map { i =>
        when(col(s"p${bd * r + i}") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b)).as(s"band$bd")
    }
    exploded.groupBy("doc").agg(projs.head, projs.tail: _*)
      .select(col("doc") +: bandCols: _*)
  }

  /** Approximate top-k: candidates = vectors sharing ≥1 band bucket with
    * the query, then exact cosine rank within candidates. Recall is
    * tunable via bits/bands; on near-random data it trades steeply
    * against candidate count (documented in SimilaritySpec).
    */
  def annTopK(emb: DataFrame, id: String, vec: String,
              queryPred: Column, k: Int = 5,
              bits: Int = 32, bands: Int = 4): DataFrame = {
    val sk = rpSketch(emb, id, vec, bits, bands)
    val bandStructs = explode(array((0 until bands).map(b =>
      struct(lit(b).as("band"), col(s"band$b").as("bucket"))): _*)).as("bb")
    val buckets = sk.select(col("doc"), bandStructs)
      .select(col("doc"), col("bb.band"), col("bb.bucket"))
    val qIds = emb.filter(queryPred).select(col(id).as("q_id"))
    val qb = buckets.join(qIds, buckets("doc") === qIds("q_id"))
      .select(col("q_id"), col("band"), col("bucket"))
    val cands = buckets.join(qb, Seq("band", "bucket"))
      .filter(col("doc") =!= col("q_id"))
      .select(col("q_id"), col("doc").as("c_id")).distinct()

    val e = normTable(emb, id, vec, "c_id", "c_vec", "c_norm")
    val q = normTable(emb.filter(queryPred), id, vec, "q_id", "q_vec", "q_norm")
    topK(cands.join(e, "c_id").join(broadcast(q), "q_id")
        .withColumn("cos", roundedCos("q_vec", "c_vec", "q_norm", "c_norm")),
      k, Seq(col("cos").desc, col("c_id")), col("q_id"), col("c_id"), col("cos"))
  }

  /** Symmetric per-vector int8 scalar quantization: scale = max|x|/127,
    * codes = round(x/scale) ∈ [−127, 127]. The stored form — (vid, scale,
    * codes) — is the 4×-compression payload for 100 TB embedding stores
    * (a float32 64-dim vector is 256 bytes; int8 + one float scale is 72),
    * and dequantization (`code·scale`) is exact-arithmetic enough that
    * cosine survives for shortlist ranking (s11 audits exactly that).
    *
    * Everything is built-in HOFs over doubles, so DuckDB reproduces the
    * codes bit-for-bit: abs/max/division are exact-IEEE identical, and
    * round-half-away-from-zero matches across engines. A zero vector
    * would divide by zero — `nullif` turns that into NULL codes that
    * coalesce to 0 on both engines (identical guard in the oracle SQL).
    */
  def int8Quantize(emb: DataFrame, id: String, vec: String): DataFrame = {
    val v = col(vec).cast("array<double>")
    val scale = array_max(transform(v, x => abs(x))) / lit(127.0)
    emb.select(
      col(id).as("vid"),
      v.as("v"),
      scale.as("scale"))
      .withColumn("codes", transform(col("v"), x =>
        // coalesce INSIDE the clamp: least/greatest IGNORE nulls on both
        // engines, so clamping a NULL (zero-vector) code first would
        // yield 127, not 0
        greatest(lit(-127), least(lit(127),
          coalesce(round(x / nullif(col("scale"), lit(0.0))).cast("int"),
            lit(0))))))
  }

  /** Int8-quantization acceptance audit, one row per vector: the code-sum
    * integer invariant (exact on both engines), the reconstruction cosine
    * cos(v, scale·codes), and the mean squared reconstruction error.
    * The MSE is computed from three dot products
    * (‖v−v̂‖² = v·v − 2·v·v̂ + v̂·v̂) rather than a fold of squared
    * diffs — each dot is a sequential left fold, bit-identical to DuckDB's
    * `list_dot_product`, so the audit hash-matches without tolerance.
    * This is the gate for shipping quantized embeddings at scale: a
    * reconstruction cosine below ~0.99 means the int8 shortlist ranking
    * can't be trusted and the corpus needs per-block scales instead.
    */
  def int8QuantAudit(emb: DataFrame, id: String, vec: String): DataFrame = {
    val q = int8Quantize(emb, id, vec)
      .withColumn("vh", transform(col("codes"), c => c.cast("double") * col("scale")))
    val vv = dot(col("v"), col("v"))
    val vh = dot(col("v"), col("vh"))
    val hh = dot(col("vh"), col("vh"))
    q.select(
      col("vid").as("vec_id"),
      round(col("scale"), 9).as("scale_r"),
      aggregate(col("codes"), lit(0L), (acc, c) => acc + abs(c).cast("long"))
        .as("code_l1"),
      round(vh / (sqrt(vv) * sqrt(hh)), 6).as("cos_recon"),
      round((vv - lit(2.0) * vh + hh) / size(col("codes")), 9).as("mse"))
  }

  /** Asymmetric int8 search: queries stay full-precision, candidates are
    * ranked from their DEQUANTIZED int8 form (codes·scale — the 4×-smaller
    * stored payload), a `k·overfetch` shortlist survives, and the exact
    * cosine over the true vectors re-ranks it. The scalar-quantization
    * counterpart of PQ-ADC (s07) — same shortlist-then-rerank geometry,
    * but the compression is element-wise, so UNLIKE PQ the whole path is
    * deterministic arithmetic and carries a complete DuckDB oracle (no
    * engine-trusted candidate stage at all).
    *
    * At 100 TB the win is I/O: the shortlist scan reads (codes, scale) —
    * ~4× less than float32 — and only the k·overfetch survivors fetch
    * their full vectors by key for the re-rank.
    */
  def int8TopK(emb: DataFrame, id: String, vec: String,
               queryPred: Column, k: Int = 5, overfetch: Int = 4): DataFrame = {
    val cand = int8Quantize(emb, id, vec)
      .withColumn("vh", transform(col("codes"), c => c.cast("double") * col("scale")))
      .select(col("vid").as("c_id"), col("v").as("c_vec"), col("vh"))
      .withColumn("c_norm", norm("c_vec"))
      .withColumn("h_norm", norm("vh"))
    val q = normTable(emb.filter(queryPred), id, vec, "q_id", "q_vec", "q_norm")
    val wShort = Window.partitionBy("q_id").orderBy(col("cos_dq").desc, col("c_id"))
    val shortlist = firstK(cand.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cos_dq", roundedCos("q_vec", "vh", "q_norm", "h_norm")),
      "sl", wShort, k * overfetch)
    topK(shortlist.withColumn("cos", roundedCos("q_vec", "c_vec", "q_norm", "c_norm")),
      k, Seq(col("cos").desc, col("c_id")), col("q_id"), col("c_id"), col("cos"))
  }

  /** Sign bits of components [lo, hi) of a double-array column, packed
    * into one BIGINT (bit i-lo set iff v[i] > 0; 0 and negatives clear —
    * the float comparison is exact in any engine). Missing components
    * (dim < hi) contribute clear bits.
    */
  private def signBits(v: Column, lo: Int, hi: Int): Column =
    expr(s"""aggregate(sequence(${lo}, ${hi - 1}), CAST(0 AS BIGINT),
            |  (acc, i) -> acc + IF(i < size(${v.toString}) AND
            |      element_at(${v.toString}, i + 1) > 0,
            |    shiftleft(CAST(1 AS BIGINT), i - $lo), CAST(0 AS BIGINT)))"""
      .stripMargin)

  /** Binary-quantized ANN — the 1-bit compression point of the
    * quantization family (s13 int8 = 8 bits/dim, s07 PQ = sub-byte/dim,
    * this = 1 bit/dim, a 32× storage cut vs float): each vector reduces
    * to its per-dimension SIGN BITS packed in two longs; the shortlist
    * ranks by Hamming distance ([[Dedup.hamming]]: popcount of the xor,
    * two codegen'd instructions per word), and the k·overfetch survivors re-rank
    * by exact cosine. Sign bits, Hamming counts, and the rounded-cosine
    * re-rank are all exactly reproducible, so — like s13 and unlike the
    * trained-index paths — this compressed search has a COMPLETE oracle.
    * At 100 TB the 16-byte sketches are the only thing the shortlist
    * scan touches; the float vectors page in for candidates only.
    */
  def binaryTopK(emb: DataFrame, id: String, vec: String,
                 queryPred: Column, k: Int = 5, overfetch: Int = 8): DataFrame = {
    val base = emb
      .select(col(id).as("c_id"), col(vec).cast("array<double>").as("v"))
      .withColumn("b1", signBits(col("v"), 0, 32))
      .withColumn("b2", signBits(col("v"), 32, 64))
    val cand = base
      .select(col("c_id"), col("v").as("c_vec"), col("b1"), col("b2"))
      .withColumn("c_norm", norm("c_vec"))
    // queryPred references the original column names → select query ids
    // from the raw frame, then reuse base's packed bits via a join
    val qq = emb.filter(queryPred).select(col(id).as("q_id"))
      .join(base.withColumnRenamed("c_id", "q_id"), "q_id")
      .select(col("q_id"), col("v").as("q_vec"),
        col("b1").as("qb1"), col("b2").as("qb2"))
      .withColumn("q_norm", norm("q_vec"))
    val wShort = Window.partitionBy("q_id").orderBy(col("ham"), col("c_id"))
    val shortlist = firstK(cand.crossJoin(broadcast(qq))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("ham", Dedup.hamming(Seq(col("qb1"), col("qb2")),
          Seq(col("b1"), col("b2")))),
      "sl", wShort, k * overfetch)
    topK(shortlist.withColumn("cos", roundedCos("q_vec", "c_vec", "q_norm", "c_norm")),
      k, Seq(col("cos").desc, col("c_id")), col("q_id"), col("c_id"), col("cos"))
  }

  /** k-nearest-neighbor GRAPH over the whole corpus — every vector gets
    * its top-k within-cell neighbors (IVF coarse cells bound the pair
    * space, the same blocking [[clusterDedup]] uses). The kNN graph is
    * the backbone artifact for graph-based dedup, label propagation, and
    * NN-descent-style refinement; at 100 TB the within-cell self-join is
    * an equi-join on the cell id (shuffle partitioned by cell — never a
    * cross join) and the per-node top-k window partitions by node, so no
    * single task sees more than one cell's candidates. Accepted
    * approximation: neighbors in a different coarse cell are missed
    * (exact duplicates never are — identical vectors share an argmin
    * cell); SimilaritySpec measures the within-cell recall.
    * Returns (q_id, c_id, cos, rn) — same surface as the ANN top-k
    * family, so the staged-rerank oracle applies as-is.
    */
  /** Corpus-derived IVF cell count for [[knnGraph]]-style blocking:
    * cells = max(8, n / 250) holds EXPECTED CELL OCCUPANCY constant as
    * the corpus grows, which keeps the within-cell pair volume
    * Σ_cell C(n_c, 2) ≈ n·250/2 — LINEAR in n. A fixed cell count makes
    * that volume Θ(n²/cells): SCALE.md's round-12 ×100-decade table
    * records 2.6 G pairs at sf10 under cells=8 (guard-skipped) vs a
    * near-linear runtime with this scaling on the same data. One cheap
    * count() pass buys the knob; the k-means assignment cost itself is
    * linear either way.
    */
  def autoCells(n: Long, targetCellRows: Long = 250L): Int =
    math.max(8L, n / targetCellRows).min(Int.MaxValue).toInt

  /** The MEASURED flat→two-level assignment crossover (SCALE.md r14
    * "ivf2 crossover", re-measured with a noop sink after the r13 probe
    * was found count-pruned): with cells ∝ corpus (autoCells), the flat
    * kernel's n·cells·d assignment flops overtake the two-level form's
    * n·(k1+k2)·d near 1e5 vectors per shard — at the 2 M-vector fixture
    * flat assignment is 12× slower (75.3 vs 6.2 s). Below this count the
    * registered blocking queries (s12 kNN graph, s08 semantic dedup) use
    * flat cells; at or above it they block on the graded two-level
    * leaves (s31's assignment, s32's probe path) — the code derives the
    * switch from the corpus count, the same discipline that moved the
    * cell COUNT knob into autoCells in r13.
    */
  val FlatToIvf2Vectors: Long = 100000L

  /** Corpus-derived grid cell side for the 2-D blocked NN family:
    * shrinks the r12 fixture side (0.1) by √(n/2000), so cell AREA
    * shrinks ∝ 1/n and expected occupancy — hence per-point candidate
    * work in the 3×3 neighborhood join — stays constant as density
    * grows. Exact-arithmetic note for the oracles: integer floor-divide
    * then one sqrt and one division, all IEEE-correctly-rounded ops on
    * exactly-representable inputs, so DuckDB re-derives the identical
    * double from `count(*)` and the grid assignment matches bit-for-bit.
    */
  def autoCellSize(n: Long, base: Double = 0.1,
                   targetDensity: Long = 2000L): Double =
    base / math.sqrt((n / targetDensity).toDouble.max(1.0))

  /** [[knnGraph]] with the blocking FAMILY derived from the corpus count,
    * not just the cell count: below [[FlatToIvf2Vectors]] this IS
    * knnGraph(cells = autoCells(n)) — bit-identical output, so every
    * graded scale hashes unchanged; at or above it the same join/window
    * runs over the two-level (cell1, cell2) leaves at the equivalent
    * autoCells leaf count, paying n·(k1+k2)·d assignment flops where the
    * flat kernel would pay its measured 12×. The candidate semantics are
    * the family's accepted approximation either way: neighbors outside
    * the blocking cell/leaf are missed, exact duplicates never are
    * (identical vectors share every argmin), and the staged-rerank
    * oracle grades the emitted ranking knob-independently.
    */
  def knnGraphAuto(emb: DataFrame, id: String, vec: String, k: Int = 3,
                   iters: Int = 3,
                   crossover: Long = FlatToIvf2Vectors): DataFrame = {
    // `crossover` is parameterized ONLY so the suite can drive the leaf
    // branch on a unit-test corpus; production callers take the measured
    // default
    val n = emb.count()
    if (n < crossover) knnGraph(emb, id, vec, k, autoCells(n), iters)
    else {
      val (k1, k2) = graft.ext.IVF.autoK1K2(n)
      val t = graft.ext.IVF.twoLevelModel(emb, id, vec, k1, k2, iters)._3
        .withColumn("nrm", norm("v"))
        .localCheckpoint() // feeds both self-join sides — one assignment pass
      val a = t.select(col("cell1"), col("cell2"), col("vid").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))
      val b = t.select(col("cell1"), col("cell2"), col("vid").as("c_id"),
        col("v").as("cv"), col("nrm").as("cn"))
      topK(a.join(b, Seq("cell1", "cell2"))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cos", roundedCos("qv", "cv", "qn", "cn")),
        k, Seq(col("cos").desc, col("c_id")), col("q_id"), col("c_id"), col("cos"))
    }
  }

  /** [[clusterDedup]] with the same derived blocking-family switch as
    * [[knnGraphAuto]]: below [[FlatToIvf2Vectors]] this IS
    * clusterDedup(cells = 8) — the graded teaching shape whose oracle
    * re-derives the whole decision from the staged s09 cell table — and
    * at or above it the within-cell pair space becomes the two-level
    * leaf space (n²/(k1·k2) at constant leaf occupancy), the only form
    * whose assignment flops AND pair volume both stay near-linear once
    * cells must scale with the corpus.
    */
  def clusterDedupAuto(emb: DataFrame, id: String, vec: String,
                       threshold: Double, iters: Int = 3,
                       crossover: Long = FlatToIvf2Vectors): DataFrame = {
    val n = emb.count()
    if (n < crossover) clusterDedup(emb, id, vec, threshold, 8, iters)
    else {
      val (k1, k2) = graft.ext.IVF.autoK1K2(n)
      val t = graft.ext.IVF.twoLevelModel(emb, id, vec, k1, k2, iters)._3
        .withColumn("nrm", norm("v"))
        .localCheckpoint()
      val a = t.select(col("cell1"), col("cell2"), col("vid").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = t.select(col("cell1"), col("cell2"), col("vid").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      val dropped = a.join(b, Seq("cell1", "cell2"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", roundedCos("va", "vb", "na", "nb"))
        .filter(col("cos") >= threshold)
        .select(col("id_b").as("v_id")).distinct()
      emb.select(col(id).as("v_id")).join(dropped, Seq("v_id"), "left_anti")
    }
  }

  def knnGraph(emb: DataFrame, id: String, vec: String, k: Int = 3,
               cells: Int = 8, iters: Int = 3): DataFrame = {
    val n = graft.ext.IVF.assignTable(emb, id, vec, cells, iters)
      .withColumn("nrm", norm("v"))
      .localCheckpoint() // feeds both self-join sides — one assignment pass
    val a = n.select(col("cell"), col("vid").as("q_id"), col("v").as("qv"),
      col("nrm").as("qn"))
    val b = n.select(col("cell"), col("vid").as("c_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    topK(a.join(b, Seq("cell"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cos", roundedCos("qv", "cv", "qn", "cn")),
      k, Seq(col("cos").desc, col("c_id")), col("q_id"), col("c_id"), col("cos"))
  }

  /** Matryoshka truncation audit: for each query, how many of its exact
    * top-k neighbors survive when vectors are truncated to the first
    * `dims` components (cosine is scale-invariant, so no renormalization
    * is needed). This is the acceptance gate for trading embedding bytes
    * against recall at 100 TB — truncating 64→32 dims halves scan I/O and
    * doubles effective cache; the overlap histogram says what it costs.
    * Both rankings are the same [[bruteForceTopK]] (rounded-cosine order,
    * id tie-break), so the result is deterministic and fully oracled.
    */
  def matryoshkaOverlap(emb: DataFrame, id: String, vec: String,
                        queryPred: Column, k: Int = 10, dims: Int = 32): DataFrame = {
    val full = bruteForceTopK(emb, id, vec, queryPred, k).select("q_id", "c_id")
    val trunc = bruteForceTopK(emb.withColumn(vec, slice(col(vec), 1, dims)),
      id, vec, queryPred, k).select("q_id", "c_id")
    val overlaps = full.join(trunc, Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("__c"))
    emb.filter(queryPred).select(col(id).as("q_id"))
      .join(overlaps, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("__c"), lit(0L)).cast("int").as("overlap"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher's public RRF) of two
    * retrieval rankings: rrf(d) = Σ_lists 1/(rrfK + rank_list(d)) over the
    * union of both depth-`depth` lists, missing-list terms contributing 0.
    * Fused here: the full-dim and first-`dims` (matryoshka) cosine
    * rankings — the cheap-index/expensive-index hybrid s10 audits.
    *
    * RRF is the standard hybrid-retrieval combiner precisely because it
    * is rank-based: no score normalization across heterogeneous lists,
    * and integer ranks → exact reciprocals → deterministic across
    * engines (the oracle re-derives the whole fusion from scratch).
    * Returns (q_id, c_id, rrf, rn), rn ≤ k.
    *
    * At scale each ranking is its own ANN query (s03/s04/s07 forms); the
    * fusion is a join on the tiny per-query lists — cost lives in the
    * rankings, never the combiner.
    */
  def rrfHybridTopK(emb: DataFrame, id: String, vec: String,
                    queryPred: Column, k: Int = 5, depth: Int = 20,
                    dims: Int = 32, rrfK: Int = 60): DataFrame = {
    val full = bruteForceTopK(emb, id, vec, queryPred, depth)
      .select(col("q_id"), col("c_id"), col("rn").as("rn_f"))
    val trunc = bruteForceTopK(emb.withColumn(vec, slice(col(vec), 1, dims)),
        id, vec, queryPred, depth)
      .select(col("q_id"), col("c_id"), col("rn").as("rn_t"))
    topK(full.join(trunc, Seq("q_id", "c_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rn_f")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rn_t")), lit(0.0)), 6)),
      k, Seq(col("rrf").desc, col("c_id")), col("q_id"), col("c_id"), col("rrf"))
  }

  /** Maximum-inner-product top-k via the norm-augmentation reduction
    * (Bachrach et al., RecSys 2014; Neyshabur & Srebro, ICML 2015):
    * append `sqrt(M² − ‖x‖²)` to every CANDIDATE (M = corpus max norm)
    * and a literal 0 to every QUERY. In the augmented space every
    * candidate has norm exactly M, so `cos(q̃, c̃) = ⟨q,c⟩ / (‖q‖·M)` —
    * a per-query monotone transform of the inner product — and ANY
    * cosine-ANN index serves MIPS unchanged. Candidate generation here is
    * the same signed-random-projection sketch [[annTopK]] uses, built
    * over the AUGMENTED vectors (the hyperplane signs are
    * data-independent murmur3, so queries and candidates hash with the
    * same planes); the final rank is the EXACT inner product over
    * surviving candidates (rounded to 6, ties → lowest id), which the
    * DuckDB oracle re-derives from the staged pairs.
    *
    * Scale posture: one max-norm agg (scalar broadcast), one sketch pass,
    * then the same band-bucket equi-join as annTopK — never all-pairs;
    * the augmentation adds O(1) per vector. MIPS is the retrieval mode of
    * un-normalized embedding stores (recommender/two-tower scores), where
    * cosine ANN alone would rank wrongly.
    */
  def mipsTopK(emb: DataFrame, id: String, vec: String,
               queryPred: Column, k: Int = 5,
               bits: Int = 32, bands: Int = 4): DataFrame = {
    val qIds = emb.filter(queryPred).select(col(id).as("q_id"))
    val v = emb.select(col(id).as("vid"), col(vec).cast("array<double>").as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val m2 = v.agg(max(col("n2")).as("m2"))
    // one (vector, norm, M²) pass feeds the two sketch builds AND the
    // exact-rank join — the same single-assignment idiom clusterDedup uses
    val base = v.crossJoin(broadcast(m2)).localCheckpoint()
    // greatest(...,0) guards the max-norm row itself, where M²−‖x‖² is an
    // exact 0 that double subtraction could otherwise leave at −0.0/−ε
    val candAug = base.select(col("vid"),
      concat(col("v"),
        array(sqrt(greatest(col("m2") - col("n2"), lit(0.0))))).as("av"))
    val qAug = base.join(qIds, col("vid") === col("q_id"))
      .select(col("vid"), concat(col("v"), array(lit(0.0))).as("av"))
    def buckets(df: DataFrame): DataFrame =
      df.select(col("doc"), explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"band$b").as("bucket"))): _*)).as("bb"))
        .select(col("doc"), col("bb.band"), col("bb.bucket"))
    val cB = buckets(rpSketch(candAug, "vid", "av", bits, bands))
    val qB = buckets(rpSketch(qAug, "vid", "av", bits, bands))
      .withColumnRenamed("doc", "q_id")
    val cands = cB.join(qB, Seq("band", "bucket"))
      .filter(col("doc") =!= col("q_id"))
      .select(col("q_id"), col("doc").as("c_id")).distinct()
    val c = base.select(col("vid").as("c_id"), col("v").as("c_vec"))
    val q = base.join(qIds, col("vid") === col("q_id"))
      .select(col("q_id"), col("v").as("q_vec"))
    topK(cands.join(c, "c_id").join(broadcast(q), "q_id")
        .withColumn("dot", round(dot(col("q_vec"), col("c_vec")), 6)),
      k, Seq(col("dot").desc, col("c_id")), col("q_id"), col("c_id"), col("dot"))
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified top-k: greedily pick k results maximizing
    * `0.7·rel(c) − 0.3·max_{p∈picked} sim(c, p)` — the re-ranker that
    * stops retrieval returning k near-copies of the same document (the
    * query-time face of dedup). The greedy loop is inherently
    * sequential, so it UNROLLS into k−1 declarative steps (the Hilbert
    * trick applied to plan shape): each step is an anti-join (drop
    * picked), a max-sim aggregate against the picked set, and one
    * per-query argmax window. Everything stays blocked per query:
    * candidates are the depth-bounded relevance list, and the pairwise
    * sim table is depth² rows per query built with equi-joins — never a
    * corpus-level pair space. λ = 0.7 / penalty 0.3 are written as
    * LITERALS on both engines (computing 1−λ in Scala would yield
    * 0.30000000000000004 and break hash parity with the oracle's 0.3),
    * and scores go through Prep.floorTo — round() diverges at
    * representability boundaries (sf0.01 hit one at ...1225 exactly as
    * q65 once did at sf0.1).
    */
  def mmrTopK(emb: DataFrame, id: String, vec: String,
              queryPred: Column, k: Int = 5, depth: Int = 20): DataFrame = {
    val cands = bruteForceTopK(emb, id, vec, queryPred, depth)
      .select(col("q_id"), col("c_id"), col("cos").as("rel"))
      .localCheckpoint() // feeds the sim table and every greedy step
    val vecs = normTable(emb, id, vec, "vid", "v", "nrm")
    val sims = cands.select(col("q_id"), col("c_id").as("a_id"))
      .join(cands.select(col("q_id").as("q2"), col("c_id").as("b_id")),
        col("q_id") === col("q2") && col("a_id") =!= col("b_id"))
      .drop("q2")
      .join(vecs.select(col("vid").as("a_id"), col("v").as("va"),
        col("nrm").as("na")), "a_id")
      .join(vecs.select(col("vid").as("b_id"), col("v").as("vb"),
        col("nrm").as("nb")), "b_id")
      .select(col("q_id"), col("a_id"), col("b_id"),
        roundedCos("va", "vb", "na", "nb").as("sim"))
    // (sims' checkpoint dropped in r15: the grouped greedy leaves it ONE
    // consumer — the k-round loop that re-read it every step is gone)
    // r15: the greedy loop runs INSIDE one native expression per query
    // group (graft_mmr — exact step semantics documented there: step 1
    // ranks by raw rel, later steps by the floored score, inner-join
    // eligibility, (score desc, c_id) tie-break). The k-round DataFrame
    // loop this replaces paid 4·(k−1) shuffles + (k−1) checkpoints over
    // per-query-BOUNDED state (depth ≤ 20 candidates, depth² sims): the
    // grouped form is one groupBy per input plus one join, at any scale
    // (guide §2/§8 — decide on small grouped state, not corpus-wide
    // round-trips). SimilaritySpec pins loop-vs-expression parity.
    val cg = cands.groupBy("q_id")
      .agg(collect_list(struct(col("c_id"), col("rel"))).as("cands"))
    val sg = sims.groupBy("q_id")
      .agg(collect_list(struct(col("a_id"), col("b_id"), col("sim"))).as("sims"))
    // left join: a query with ONE candidate has no sim pairs — the
    // expression treats null sims as empty (only step 1 possible), which
    // is exactly what the inner-join rounds produced for such a query
    cg.join(sg, Seq("q_id"), "left")
      .select(col("q_id"),
        explode(graft.functions.GraftFunctions.mmrSelect(col("cands"),
          col("sims"), k)).as("p"))
      .select(col("q_id"), col("p.c_id").as("c_id"),
        rnInt(col("p.step")), col("p.score").as("score"))
  }

  /** Grid-blocked exact nearest neighbors in a 2-D projection (the first
    * two embedding dims as a point set) — the spatial-join pattern: every
    * point lands in a square cell of side `cellSize` (`floor(x/w)`,
    * `floor(y/w)`), each QUERY point explodes into its 3×3 neighbor
    * cells, and candidates come from an EQUI-join on the cell id — never
    * a cross join or a range (theta) join. Semantics: top-k by squared
    * euclidean distance among the points sharing the query's 3×3
    * neighborhood (self excluded); a true NN farther than one cell away
    * is out of scope by definition, exactly like an LSH bucket miss.
    *
    * Scale posture: the ×9 neighbor expansion rides the (small,
    * broadcast) query side; the corpus side is hashed once on its cell
    * id. With BOTH sides large this becomes a shuffle equi-join on the
    * cell key with per-task work bounded by cell occupancy — cellSize is
    * the recall/cost dial, same role as IVF's nprobe. Distance is pure
    * `(dx·dx + dy·dy)` arithmetic in a pinned order (no sqrt, no trig) →
    * bit parity with the DuckDB oracle.
    */
  def gridNN2d(emb: DataFrame, id: String, vec: String,
               queryPred: Column, cellSize: Double, k: Int = 3): DataFrame = {
    def pts(df: DataFrame, p: String): DataFrame =
      df.select(col(id).as(s"${p}_id"),
          element_at(col(vec), 1).cast("double").as(s"${p}x"),
          element_at(col(vec), 2).cast("double").as(s"${p}y"))
        .withColumn(s"${p}gx", floor(col(s"${p}x") / cellSize).cast("long"))
        .withColumn(s"${p}gy", floor(col(s"${p}y") / cellSize).cast("long"))
    val corpus = pts(emb, "c")
    val queries = pts(emb.filter(queryPred), "q")
      .withColumn("dx", explode(lit(Array(-1L, 0L, 1L))))
      .withColumn("dy", explode(lit(Array(-1L, 0L, 1L))))
      .withColumn("jgx", col("qgx") + col("dx"))
      .withColumn("jgy", col("qgy") + col("dy"))
    topK(corpus.join(broadcast(queries),
          col("cgx") === col("jgx") && col("cgy") === col("jgy") &&
            col("c_id") =!= col("q_id"))
        .withColumn("dist2", round(
          (col("cx") - col("qx")) * (col("cx") - col("qx")) +
            (col("cy") - col("qy")) * (col("cy") - col("qy")), 6)),
      k, Seq(col("dist2"), col("c_id")), col("q_id"), col("c_id"), col("dist2"))
  }

  /** Mutual nearest-neighbor pairs over the first two embedding dims —
    * the reciprocal-best-match criterion bitext mining (Artetxe & Schwenk
    * 2019) and self-supervised pair mining use: (a,b) is emitted iff b is
    * a's nearest neighbor AND a is b's, under the same 3×3 grid-blocked
    * candidate relation as [[gridNN2d]] (symmetric by construction, so
    * mutuality is well-defined).
    *
    * Unlike gridNN2d (which broadcasts a SMALL query set), every point is
    * a query here, so the probe side is built by exploding each point into
    * its 3×3 cell neighborhood and EQUI-joining on the cell id — a plain
    * shuffle join both sides of which partition by cell; nothing is
    * broadcast and nothing is quadratic (candidates per point are bounded
    * by its neighborhood's occupancy). Ties broken by candidate id; the
    * rounded dist2 (6dp) is the ranking key, matching the oracle exactly.
    *
    * Returns (id_a, id_b, dist2) with id_a < id_b, one row per mutual pair.
    */
  def mutualNN2d(emb: DataFrame, id: String, vec: String,
                 cellSize: Double): DataFrame = {
    val pts = emb.select(col(id).as("pid"),
        element_at(col(vec), 1).cast("double").as("x"),
        element_at(col(vec), 2).cast("double").as("y"))
      .withColumn("gx", floor(col("x") / cellSize).cast("long"))
      .withColumn("gy", floor(col("y") / cellSize).cast("long"))
    val corpus = pts.select(col("pid").as("c_id"), col("x").as("cx"),
      col("y").as("cy"), col("gx").as("cgx"), col("gy").as("cgy"))
    val probes = pts
      .withColumn("dx", explode(lit(Array(-1L, 0L, 1L))))
      .withColumn("dy", explode(lit(Array(-1L, 0L, 1L))))
      .select(col("pid").as("q_id"), col("x").as("qx"), col("y").as("qy"),
        (col("gx") + col("dx")).as("jgx"), (col("gy") + col("dy")).as("jgy"))
    // each probe's nearest candidate: the least (dist2, c_id) struct, so
    // ties break to the smallest id ((q_id, c_id) is unique: the 3×3
    // probe cells are distinct). No window: it aggregates partially before
    // the shuffle (a SortAggregate, as a struct min has no hash buffer)
    val nn = corpus.join(probes,
        col("cgx") === col("jgx") && col("cgy") === col("jgy") &&
          col("c_id") =!= col("q_id"))
      .groupBy("q_id")
      .agg(min(struct(round(
        (col("cx") - col("qx")) * (col("cx") - col("qx")) +
          (col("cy") - col("qy")) * (col("cy") - col("qy")), 6).as("dist2"),
        col("c_id"))).as("nn"))
      .select(col("q_id"), col("nn.c_id").as("c_id"), col("nn.dist2").as("dist2"))
    nn.as("l").join(nn.as("r"),
        col("l.q_id") === col("r.c_id") && col("l.c_id") === col("r.q_id") &&
          col("l.q_id") < col("l.c_id"))
      .select(col("l.q_id").as("id_a"), col("l.c_id").as("id_b"),
        col("l.dist2").as("dist2"))
  }

  /** Top principal component of an embedding column via the classic
    * two-phase factorization every distributed PCA uses (the Spark MLlib
    * / probabilistic-PCA playbook): (1) ONE pass over the vectors reduces
    * 100 TB of data to a d×d second-moment matrix — each row expands to
    * its d² (j, k, xⱼ·xₖ) products through array HOFs (no join, no
    * shuffle of raw vectors; partial aggregation collapses to d² groups
    * map-side, the coOccurrenceEdges discipline), the covariance then
    * assembles as Σxⱼxₖ − n·μⱼ·μₖ from the same pass's per-dim sums;
    * (2) `iters` unrolled power-iteration rounds run on the d²-row
    * matrix — each a join + aggregate over O(d²) rows, lineage truncated
    * per round (the pageRank/kCore discipline). Data size only enters
    * phase 1; iteration cost is independent of n.
    *
    * Cross-engine parity: every aggregate (moments, mat-vec, norms,
    * Rayleigh quotient) runs through DECIMAL(38,18) — exact, order-
    * independent — and everything between aggregates is a fixed chain of
    * IEEE doubles. A fixed `iters` needs no convergence test: both
    * engines run the identical recurrence. The sign is canonicalized so
    * the largest-|loading| entry is positive (eigenvectors are only
    * defined up to sign; the tie-break is lowest dim).
    *
    * Returns (dim 1-based, loading, evr) with `evr` the Rayleigh-quotient
    * eigenvalue over the covariance trace — the explained-variance
    * fraction. Raw doubles; callers round for display.
    */
  def topComponent(df: DataFrame, vec: Column, iters: Int = 8): DataFrame = {
    val spark = df.sparkSession
    // Replicates Spark's DOUBLE→DECIMAL(38,18) cast bit-for-bit (scala
    // BigDecimal(d) = exact binary expansion under the DECIMAL128
    // MathContext, then HALF_UP at scale 18 — the same pipeline
    // Cast→Decimal runs), so the driver-side rounds below produce the
    // identical doubles the all-DataFrame formulation did. DuckDB's
    // oracle matches this same arithmetic (proven by the 3-SF sweeps).
    def dec(x: Double): scala.math.BigDecimal =
      scala.math.BigDecimal(x)
        .setScale(18, scala.math.BigDecimal.RoundingMode.HALF_UP)

    // phase 1 (the only data-sized phase): ONE pass, ONE aggregate, ONE
    // job reduces the corpus to the d first moments AND the
    // upper-triangle d(d+1)/2 second moments together. r16: the per-row
    // (j ≤ k) fan-out is the native graft_moment_pairs kernel — the HOF
    // chain it replaces (transform + slice + flatten + concat) evaluated
    // interpreted with ~d²/2 lambda dispatches per row and was s20's
    // dominant task CPU (guide §4; SimilaritySpec pins bit parity, and
    // the element-wise cast to double commutes with the array-level
    // cast). Partial aggregation collapses map-side; DECIMAL sums exact;
    // every group's count is exactly n.
    val momentRows = df.select(explode(graft.functions.GraftFunctions.momentPairs(
        vec.cast("array<double>"))).as("e"))
      .select(col("e.j").as("j"), col("e.k").as("k"), col("e.p").as("p"))
      .groupBy("j", "k")
      // scaled-integer moment sums: floor(p·1e13) is the same exact
      // double→long in every engine (floor has no tie semantics), the
      // DECIMAL(38,0) wrapper keeps Spark's accumulator on the compact
      // long fast path at fixture scale yet overflow-free at any scale
      // (DuckDB's BIGINT sum widens to HUGEINT the same way). This
      // replaced per-element DOUBLE→DECIMAL(38,18) casts — the BigDecimal
      // path was ~70% of the query's runtime (8.6 s → ~3 s measured).
      .agg(sum(floor(col("p") * lit(1.0e13)).cast("decimal(38,0)"))
        .cast("double").as("sxx13"),
        count(lit(1)).as("cnt"))
      .collect()

    // phase 2: the matrix is d×d — k·d scale, NOT data scale — so the
    // power iteration runs driver-local on the collected Gramian,
    // exactly MLlib's RowMatrix.computePrincipalComponents geometry
    // (and the same driver-side-scalar pattern as IVF's centroid pull).
    // The earlier all-DataFrame formulation spent ~14 s of pure job
    // overhead on 8 rounds over 4,096 rows; this is the plan you'd
    // actually want on a 1000-executor cluster too.
    val d = momentRows.iterator.map(_.getInt(0)).max
    val n = momentRows.head.getLong(3) // every (j,k) group has exactly n rows
    val mu = new Array[Double](d + 1)
    momentRows.foreach { r =>
      if (r.getInt(1) == 0) mu(r.getInt(0)) = r.getDouble(2) / 1.0e13 / n
    }
    val cv = Array.ofDim[Double](d + 1, d + 1)
    momentRows.foreach { r =>
      val (j, k, sxx) = (r.getInt(0), r.getInt(1), r.getDouble(2) / 1.0e13)
      if (k > 0) {
        // Σxⱼxₖ is symmetric (identical product multiset → identical
        // DECIMAL sum), but the centering term is NOT mirrored: the
        // oracle's lower-triangle entry is sxx − (n·μₖ)·μⱼ and double
        // multiplication is commutative yet non-associative — copying
        // the upper value could drift by an ulp, which the
        // DECIMAL(38,18) re-rounding downstream would amplify into a
        // hash mismatch.
        cv(j)(k) = sxx - n * mu(j) * mu(k)
        cv(k)(j) = sxx - n * mu(k) * mu(j)
      }
    }
    var v = Array.fill(d + 1)(1.0); v(0) = 0.0
    for (_ <- 1 to iters) {
      val w = new Array[Double](d + 1)
      for (j <- 1 to d) {
        var acc = scala.math.BigDecimal(0)
        for (k <- 1 to d) acc += dec(cv(j)(k) * v(k))
        w(j) = acc.toDouble
      }
      var n2 = scala.math.BigDecimal(0)
      for (j <- 1 to d) n2 += dec(w(j) * w(j))
      val nr = math.sqrt(n2.toDouble)
      for (j <- 1 to d) v(j) = w(j) / nr
    }
    val jMax = (1 to d).maxBy(j => (math.abs(v(j)), -j))
    val sgn = if (v(jMax) < 0) -1.0 else 1.0
    var lamBd = scala.math.BigDecimal(0)
    for (j <- 1 to d; k <- 1 to d) lamBd += dec(v(j) * cv(j)(k) * v(k))
    var trBd = scala.math.BigDecimal(0)
    for (j <- 1 to d) trBd += dec(cv(j)(j))
    val evr = lamBd.toDouble / trBd.toDouble
    import spark.implicits._
    (1 to d).map(j => (j, v(j) * sgn, evr)).toDF("dim", "loading", "evr")
  }

  /** Nearest-centroid classification self-audit: assign every vector to
    * the closest per-label centroid (squared L2, ties to the lowest
    * label) and cross-tabulate against its own label — the label-quality
    * / cluster-separability check a training pipeline runs before
    * trusting an annotated corpus (a label whose members scatter to
    * other centroids is noisy or not linearly separable). Returns the
    * confusion matrix (label, pred, n) plus the overall accuracy
    * (diagonal mass / total — an exact integer ratio) on every row.
    *
    * Shapes that hold at 100 TB: centroids are one (label, dim)
    * aggregate with DECIMAL sums (exact means — unlike a plain avg(),
    * bit-stable across partitionings); distances come from the long-form
    * (vec, dim) explode equi-joined to the TINY broadcast centroid table
    * — n·L·d product rows but map-side combined straight back to n·L
    * distance rows, never a collect, never a cross join on vectors.
    */
  /** Simplified silhouette per label (squared-distance centroid variant —
    * the O(n·k·d) clustering-quality audit used when true silhouette's
    * O(n²) pair scan is off the table, e.g. scikit-learn's
    * "silhouette via centroids" guidance): per point, a² = squared
    * distance to its own label centroid, b² = min squared distance to any
    * OTHER centroid, s = (b²−a²)/max(a²,b²) ∈ [−1,1] (0 when both are 0);
    * report each label's point count and mean s — labels whose members sit
    * closer to a foreign prototype than their own surface as negative.
    *
    * Parity discipline: centroids and per-centroid distance sums run
    * through DECIMAL(38,18) (order-independent, the s21 pattern); each
    * point's s is one fixed IEEE chain; the per-label MEAN quantizes s to
    * an integer floor(s·10⁹) LONG before summing — every partial sum is
    * exact in any order with no decimal detour (n·10⁹ ≪ 2⁶³).
    *
    * Scale posture: one explode pass, the k·d centroid table broadcast,
    * one (point, centroid) aggregate keyed by point — never a pair join
    * over points.
    */
  /** The (rid, slabel, clabel, d2) label-centroid distance table shared
    * by [[silhouetteByLabel]] and [[nearestCentroidEval]] — r16: the
    * per-label decimal-mean centroids still come from one exploded
    * aggregate (n·d rows, one exchange, unchanged arithmetic), but they
    * are then COLLECTED (L·d doubles — the nearestCellExpr k-row-collect
    * discipline) and the n·L distance rows are produced MAP-ONLY by the
    * decimal-exact [[graft.functions.SqDistDecimal]] kernel. The old
    * shape joined the n·d exploded rows to the (L·d) centroid table on
    * dim — an n·d·L fan-out (1.28M decimal-cast rows at sf0.1) plus a
    * decimal-sum shuffle per query. Bit parity pinned in SimilaritySpec;
    * the d2 doubles are identical, so both consumers' oracle grades are
    * unchanged.
    */
  private def labelDistRows(emb: DataFrame, id: Column, label: Column,
                            vec: Column): DataFrame = {
    val x = emb.select(id.as("rid"),
        label.as("slabel"), posexplode(transform(vec, v => v.cast("double"))))
      .select(col("rid"), col("slabel"), (col("pos") + 1).as("dim"),
        col("col").as("v"))
    val cent = x.groupBy(col("slabel").as("clabel"), col("dim"))
      .agg((sum(col("v").cast("decimal(38,18)")).cast("double") /
        count(lit(1))).as("cv"))
    val rows = cent.collect()
      .map { r =>
        require(!r.isNullAt(0),
          "labelDistRows: null labels are not supported by the kernel path")
        (r.get(0), r.getInt(1), r.getDouble(2))
      }
      .groupBy(_._1).toSeq
      .map { case (lbl, rs) =>
        val byDim = rs.sortBy(_._2).toSeq
        // dims must be the dense 1..d the index mapping assumes (holds by
        // construction: every vector carries every dim)
        require(byDim.map(_._2) == (1 to byDim.length).toSeq,
          s"labelDistRows: non-dense dims for label $lbl")
        (lbl, byDim.map(_._3))
      }
      .sortBy(_._1.toString)
    // labels keep the label column's own type (Int, Long, String, ...)
    val labelType = emb.select(label).schema.head.dataType
    val labels = array(rows.map(r => lit(r._1)): _*).cast(ArrayType(labelType))
    val matrix = rows.map(_._2.toSeq).toSeq
    // an empty vector has no dims, so (like the exploded form) it has no
    // distance to any centroid — the kernel would return L nulls instead
    emb.filter(vec.isNotNull && size(vec) > 0)
      .select(id.as("rid"), label.as("slabel"),
        posexplode(graft.functions.GraftFunctions.sqDistDecimal(
          vec.cast("array<double>"), typedLit(matrix))))
      .select(col("rid"), col("slabel"),
        element_at(labels, col("pos") + 1).as("clabel"),
        col("col").as("d2"))
  }

  def silhouetteByLabel(emb: DataFrame, id: Column, label: Column,
                        vec: Column): DataFrame = {
    // ONE grouped aggregate replaces the a2-filter ⋈ b2-aggregate join:
    // a2 is the single clabel==slabel row's d2, b2 the min over the
    // others, and the n_other>0 gate reproduces the inner join's "some
    // other label exists" row set exactly.
    labelDistRows(emb, id, label, vec)
      .groupBy(col("rid"), col("slabel"))
      .agg(max(when(col("clabel") === col("slabel"), col("d2"))).as("a2"),
        min(when(col("clabel") =!= col("slabel"), col("d2"))).as("b2"),
        count(when(col("clabel") =!= col("slabel"), lit(1))).as("__n_other"))
      .filter(col("__n_other") > 0)
      .withColumn("sil",
        when(greatest(col("a2"), col("b2")) === 0.0, 0.0)
          .otherwise((col("b2") - col("a2")) / greatest(col("a2"), col("b2"))))
      .groupBy(col("slabel").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("sil") * lit(1e9)).cast("long")).as("sil_q"))
      .withColumn("mean_sil",
        col("sil_q").cast("double") / (col("n").cast("double") * lit(1e9)))
      .drop("sil_q")
  }

  def nearestCentroidEval(emb: DataFrame, id: Column, label: Column,
                          vec: Column): DataFrame = {
    // r16: distances come from the shared map-only kernel table
    // ([[labelDistRows]] — same doubles); the argmin window and the
    // confusion rollup are unchanged
    val d2 = labelDistRows(emb, id, label, vec)
      .withColumnRenamed("slabel", "label")
    val w = Window.partitionBy("rid").orderBy(col("d2"), col("clabel"))
    val cm = d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("clabel").as("pred"))
      .agg(count(lit(1)).as("n"))
    val acc = cm.agg(
      (sum(when(col("label") === col("pred"), col("n")).otherwise(0L))
        .cast("double") / sum(col("n"))).as("accuracy"))
    cm.crossJoin(broadcast(acc))
  }

  // ---------- embedding-space anisotropy audit ----------

  /** Deterministic random-pair sample of the embedding space, one row per
    * sampled pair with its cosine (rounded 6 — the engine-wide rank/parity
    * convention). The mean pairwise cosine of RANDOM pairs is the standard
    * anisotropy diagnostic (Ethayarajh 2019: contextual embeddings
    * collapse into a narrow cone — mean cos ≫ 0 — which silently breaks
    * cosine-threshold dedup and similarity search; this audit is how a
    * pipeline notices before deploying thresholds).
    *
    * Pair sampling is hash-bucketed so it needs NO global index and no
    * cross join: vectors hash into `buckets` groups ([[graft.ops.Prep
    * .portableHash]] — oracle-reproducible), each vector pairs with the
    * (rank·31+7 mod bucketSize)-th vector of its own bucket (self-pairs
    * filtered). O(n) pairs, per-bucket rank windows only — at 100 TB the
    * bucket count scales with the data and no partition sees more than
    * n/buckets rows.
    */
  def anisotropyPairs(emb: DataFrame, id: String, vec: String,
                      buckets: Int = 64): DataFrame = {
    val v = emb.select(col(id).as("vid"),
        col(vec).cast("array<double>").as("e"))
      .withColumn("b",
        graft.ops.Prep.portableHash(lit(1), col("vid")) % buckets)
    val r = v
      .withColumn("rank",
        row_number().over(Window.partitionBy("b").orderBy("vid")) - 1)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("b")))
      .withColumn("partner", (col("rank") * 31 + 7) % col("bsz"))
    val right = r.select(col("b").as("b2"), col("rank").as("rank2"),
      col("vid").as("pid"), col("e").as("e2"))
    r.filter(col("partner") =!= col("rank"))
      .join(right, col("b") === col("b2") && col("partner") === col("rank2"))
      .select(col("vid").as("id_a"), col("pid").as("id_b"),
        round(cosine(col("e"), col("e2")), 6).as("cos"))
  }
}
