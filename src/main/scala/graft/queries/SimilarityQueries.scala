package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{StoredIndex, Tables}
import graft.ext.Similarity

/** Similarity-search surface over `embeddings`. The exact queries are
  * DuckDB-oracled with the SAME cosine formula (explicit
  * dot/(sqrt·sqrt) over double lists — sequential folds on both engines
  * → bit parity, then rounded to 6 for rank stability).
  *
  * The ANN variants (s03 LSH, s04 IVF, s07 PQ) have engine-specific
  * candidate generation (murmur3 hyperplanes / k-means cells / k-means
  * codebooks — none SQL-expressible), but their VERIFY stage — exact
  * cosine + rank over the surviving candidates — IS oracled via the
  * staged-output trick the climate fact chain uses: DuckDB reads the
  * query's own dumped (q_id, c_id) pairs, independently recomputes the
  * exact cosine from `embeddings`, and re-ranks. A wrong cosine, rank,
  * or tie-break anywhere in the engine's ranking path turns the board
  * red; only the candidate SET itself is engine-trusted (its recall is
  * what SimilaritySpec/IVFSpec/PQSpec measure). s08's dedup decision is
  * fully re-derived from the staged s09 cell table.
  */
object SimilarityQueries {

  private val duckCos =
    """list_dot_product(q.e, c.e) /
      |   (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))""".stripMargin

  /** Build-if-absent STORED coarse quantizer for the corpus at `dir`
    * (the t55/s15 stored-index discipline applied to the ANN family's
    * k-means): the k=8/iters=3 centroid table persists once under a
    * content-stamped location, and consumers (s35's incremental batch
    * assignment) pay one 8-row parquet read — never a training run.
    * Training is deterministic by construction (hash-spread seeds,
    * decimal-sum means), so the stored table is bit-identical to
    * `_staged_ivf_centroids` and the s09 oracle family's derivations
    * apply to it unchanged.
    */
  private[queries] def storedIvfCentroids(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    StoredIndex("ivf_centroids", "k=8 iters=3", dir, emb, "vec_id", "embedding") { b =>
      graft.ext.IVF.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
        .write.parquet(b.path("cents"))
    }("cents")
  }

  /** Build-if-absent STORED coarse ASSIGNMENT over the pre-existing
    * corpus side (vec_id % 10 ≠ 7 — the s35/t58 ingestion split),
    * assigned against [[storedIvfCentroids]]: the (vid, cell) table a
    * deployment persists next to its vectors. With the quantizer FROZEN,
    * assignment distributes over union — stored(A) ∪ assign(B) is
    * bit-identical to assigning A∪B from scratch, which is exactly the
    * invariant s37 grades (the oracle re-derives the FULL corpus
    * assignment from the staged centroids, s09's derivation).
    */
  private def storedIvfAssign(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 7)
    StoredIndex("ivf_assign", "k=8 iters=3 side=mod10ne7",
        dir, corpus, "vec_id", "embedding") { b =>
      graft.ext.IVF.assignWithCentroids(corpus, "vec_id", "embedding",
          storedIvfCentroids(s, dir))
        .write.parquet(b.path("assign"))
    }("assign")
  }

  /** Build-if-absent STORED refined quantizer — s42's retrain ACTION
    * persisted: one warm Lloyd round (IVF.kmeansRefine) over the corpus
    * starting from [[storedIvfCentroids]], the dose the drift trigger
    * (s44) fires. Deterministic by construction (the refine shares
    * lloydRounds with training — IVFSkewSpec pins refine(stored, 1) ==
    * train(iters+1) bit-for-bit), so the stored table is bit-identical
    * to `_staged_ivf_centroids_refined` and s43's oracle re-derives the
    * refreshed assignment from the staged values exactly.
    */
  private def storedRefinedCentroids(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    StoredIndex("ivf_refined", "k=8 iters=3+1warm", dir, emb, "vec_id", "embedding") { b =>
      graft.ext.IVF.kmeansRefine(emb, "vec_id", "embedding",
          storedIvfCentroids(s, dir), iters = 1)
        .write.parquet(b.path("cents"))
    }("cents")
  }

  /** Build-if-absent STORED PQ index (codebooks + packed codes) — the
    * s15 build factored out so the IVF-PQ stored twin (s36) reuses the
    * same trained artifacts instead of training a second time. Returns
    * (codebooks, codes).
    */
  private def storedPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val idx = StoredIndex("pq_index", "m=8 k=16", dir, emb, "vec_id", "embedding") { b =>
      val cb = graft.ext.PQ.codebooks(emb, "vec_id", "embedding", m = 8, k = 16)
      cb.write.parquet(b.path("codebooks"))
      graft.ext.PQ.encode(emb, "vec_id", "embedding", cb, m = 8)
        .write.parquet(b.path("codes"))
    }
    (idx("codebooks"), idx("codes"))
  }

  /** Build-if-absent STORED PQ codes over the pre-existing corpus side
    * (vec_id % 10 ≠ 7 — the ingestion split), encoded against
    * [[storedPqIndex]]'s codebooks: the fine-quantizer face of
    * [[storedIvfAssign]]. With the codebooks FROZEN, encoding
    * distributes over union — s39 grades stored(A) ∪ encode(B) against
    * a full from-codebooks oracle rebuild. Returns (codebooks, stored
    * A-side codes).
    */
  private def storedPqCodesA(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (cb, _) = storedPqIndex(s, dir)
    val corpus = Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 7)
    val idx = StoredIndex("pq_codes_a", "m=8 k=16 side=mod10ne7",
        dir, corpus, "vec_id", "embedding") { b =>
      graft.ext.PQ.encode(corpus, "vec_id", "embedding", cb, m = 8)
        .write.parquet(b.path("codes"))
    }
    (cb, idx("codes"))
  }

  /** Build-if-absent CELL-PARTITIONED codes table for the stored IVF-PQ
    * deployment (s36): [[storedPqIndex]]'s packed codes joined with the
    * full-corpus coarse assignment against [[storedIvfCentroids]], then
    * written `partitionBy("ccell")` — the coarse cell becomes a PHYSICAL
    * partition column, so an nprobe probe is directory pruning (at 100 TB
    * a deployment stores the codes ONCE in this layout; the flat copy
    * s15 queries exists here only because both deployment shapes are
    * graded).
    */
  private def storedIvfPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (cb, codes) = storedPqIndex(s, dir)
    val emb = Tables.embeddings(s, dir)
    val idx = StoredIndex("ivfpq_index", "m=8 kc=16 cells=8 iters=3",
        dir, emb, "vec_id", "embedding") { b =>
      graft.ext.IVF.assignWithCentroids(emb, "vec_id", "embedding",
          storedIvfCentroids(s, dir))
        .withColumnRenamed("cell", "ccell")
        .join(codes, "vid")
        .write.partitionBy("ccell").parquet(b.path("codes_by_cell"))
    }
    (cb, idx("codes_by_cell"))
  }

  /** Build-if-absent STORED residual IVF-PQ index (s45) — the s36 move
    * applied to the IVFADC form, proving SCALE.md's claim that the
    * centroid×codeword cross-term table is a build-time artifact:
    *  - residual codebooks train once against [[storedIvfCentroids]]
    *    (bit-identical to `_staged_respq_codebooks` — the determinism
    *    chain s41's oracle already relies on);
    *  - residual codes ((vid, codes, ccell), codes describing v − c₁)
    *    persist partitionBy("ccell");
    *  - the cells·m·kc cross terms (PQ.residualCrossTerms) persist
    *    partitionBy("ccell") NEXT TO the codes — so a probe reads only
    *    the nprobe cells' directories of BOTH tables.
    * Returns (codebooks, resCodesByCell, ctermByCell).
    */
  private def storedResIvfPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val idx = StoredIndex("respq_index", "m=8 kc=16 cells=8 iters=3 residual",
        dir, emb, "vec_id", "embedding") { b =>
      val cents = storedIvfCentroids(s, dir)
      graft.ext.PQ.residualCodebooks(emb, "vec_id", "embedding", cents,
          m = 8, k = 16, iters = 2)
        .write.parquet(b.path("codebooks"))
      val cb = s.read.parquet(b.path("codebooks"))
      // residual lineage feeds the encode AND the ccell re-join — one
      // materialization (multi-consumer scan rule); v projected away
      val res = graft.ext.PQ.residualTable(emb, "vec_id", "embedding", cents)
        .select(col("vid"), col("ccell"), col("r")).localCheckpoint()
      graft.ext.PQ.encode(res, "vid", "r", cb, m = 8)
        .join(res.select(col("vid"), col("ccell")), "vid")
        .write.partitionBy("ccell").parquet(b.path("codes_by_cell"))
      graft.ext.PQ.residualCrossTerms(cents, cb, m = 8)
        .write.partitionBy("ccell").parquet(b.path("cterm_by_cell"))
      res.unpersist()
    }
    (idx("codebooks"), idx("codes_by_cell"), idx("cterm_by_cell"))
  }

  /** Build-if-absent STORED two-level (residual) quantizer model — the
    * s36/s45 stored-index move applied to the hierarchical family
    * (r16, VERDICT r15 #5): L1 centroids, L2 residual centroids, and the
    * full (vid, v, cell1, cell2) leaf assignment persist once under a
    * content stamp, with the assignment partitionBy("cell1") so a probe
    * prunes L1 cells at the directory level. IVF.twoLevelModel is
    * deterministic by construction end-to-end (the property Verify's
    * `_staged_ivf2_l1/l2` staging already relies on), so the stored
    * tables are bit-identical to in-query training and every s31/s32/s33
    * oracle grade is unchanged. Level sizes derive from the corpus count
    * (autoK1K2 — the s12 derived-knob discipline), which the stamp holds.
    */
  private def storedIvf2Model(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val idx = StoredIndex("ivf2_model", "k1k2=auto iters=3", dir, emb, "vec_id", "embedding") { b =>
      val (k1, k2) = graft.ext.IVF.autoK1K2(b.rows)
      val (l1, l2, assigned) = graft.ext.IVF.twoLevelModel(
        emb, "vec_id", "embedding", k1, k2, iters = 3)
      l1.write.parquet(b.path("l1"))
      l2.write.parquet(b.path("l2"))
      assigned.write.partitionBy("cell1").parquet(b.path("assign_by_cell1"))
    }
    (idx("l1"), idx("l2"), idx("assign_by_cell1"))
  }

  /** Force-build every content-stamped stored index this registry owns —
    * Bench's pre-pass (VERDICT r14 #3): a stored-index query's board
    * entry must time the PROBE, not a build that happens to hit a fresh
    * stamp (t61 ×11.1 / s15 ×12.3 sf1 "decades" were build-on-fresh-stamp
    * conflation, adjudicated in prose two rounds running). Each builder
    * is a cheap stamp check when already built.
    */
  def prewarmStoredIndexes(s: SparkSession, dir: String): Unit = {
    storedIvfCentroids(s, dir)
    storedRefinedCentroids(s, dir)
    storedIvfAssign(s, dir)
    storedPqIndex(s, dir)
    storedPqCodesA(s, dir)
    storedIvfPqIndex(s, dir)
    storedResIvfPqIndex(s, dir)
    storedIvf2Model(s, dir)
    ()
  }

  /** Oracle for ANN top-k queries: recompute exact cosine + rank over the
    * query's own staged candidate pairs (`__GRAFT_OUT__` resolves to the
    * Verify dump dir). Ranking the staged survivors by the same
    * (cos DESC, c_id) order reproduces the engine's rn exactly — the kept
    * set is ranks 1..k by construction.
    */
  private def stagedRerankSql(name: String): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |staged AS (SELECT q_id, c_id
       |           FROM read_parquet('${ClimateQueries.OutToken}/$name/*.parquet')),
       |scored AS (
       |  SELECT s.q_id, s.c_id, round($duckCos, 6) AS cos
       |  FROM staged s
       |  JOIN v q ON q.vec_id = s.q_id
       |  JOIN v c ON c.vec_id = s.c_id)
       |SELECT q_id, c_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |                          ORDER BY cos DESC, c_id) AS INTEGER) AS rn
       |FROM scored ORDER BY q_id, rn""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("s01_cosine_topk",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT q_id, c_id, cos, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    round($duckCos, 6) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id
         |                       ORDER BY round($duckCos, 6) DESC, c.vec_id) AS rn
         |  FROM v q CROSS JOIN v c
         |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0, k = 5)
        .orderBy("q_id", "rn")
    },

    // ---- s29: FILTERED ANN — per-query top-5 restricted to candidates
    //      sharing the query's label (metadata-constrained retrieval:
    //      "similar AND same class/tenant/language"). The filter is
    //      pushed INTO the join key — queries hash-join candidates ON
    //      label, label-blocking the pair space instead of post-filtering
    //      a global top-k (which can return < k rows, the classic
    //      filtered-ANN bug). Fully SQL-expressible → complete oracle,
    //      like s01. ----
    QueryDef("s29_ann_filtered",
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings)
         |SELECT q_id, label, c_id, cos, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS c_id,
         |    round($duckCos, 6) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id
         |                       ORDER BY round($duckCos, 6) DESC, c.vec_id) AS rn
         |  FROM v q JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0)
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.labelFilteredTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0, k = 5)
        .orderBy("q_id", "rn")
    },

    QueryDef("s02_neardup_pairs",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings WHERE vec_id < 250)
         |SELECT q.vec_id AS id_a, c.vec_id AS id_b, round($duckCos, 6) AS cos
         |FROM v q JOIN v c ON q.vec_id < c.vec_id
         |ORDER BY cos DESC, id_a, id_b LIMIT 50""".stripMargin) { (s, dir) =>
      Similarity.topKPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", col("vec_id") < 250, k = 50)
    },

    // ---- per-label centroids, long form (class prototypes / drift) ----
    // The oracle derives dims from EACH ROW's vector length (zipped
    // unnests = DuckDB's posexplode), so both sides agree even on ragged
    // input: n_vecs counts vectors that actually HAVE that dimension,
    // exactly like the Spark posexplode form.
    QueryDef("s05_group_centroids",
      """SELECT label, CAST(dim AS INTEGER) AS dim,
        |  round(avg(val), 6) AS centroid, count(*) AS n_vecs
        |FROM (SELECT label, unnest(embedding) AS val,
        |        unnest(range(1, len(embedding) + 1)) AS dim
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin) { (s, dir) =>
      Similarity.groupCentroids(Tables.embeddings(s, dir),
          col("label"), col("embedding"))
        .orderBy("label", "dim")
    },

    // ---- embedding-cosine near-dup dedup: any-lower-id-neighbor rule
    //      (drop v iff SOME lower-id vector has cos ≥ 0.35 — NOT greedy
    //      survivorship; see Similarity.cosineDedup) at the corpus's
    //      ~p99.9 pair similarity, so the rule actually drops rows on
    //      this data. Oracle = NOT EXISTS over the same rounded cosine. ----
    QueryDef("s06_embedding_dedup",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings WHERE vec_id < 250)
         |SELECT q.vec_id AS v_id FROM v q
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM v c
         |  WHERE c.vec_id < q.vec_id
         |    AND round(list_dot_product(q.e, c.e) /
         |          (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        >= 0.35)
         |ORDER BY v_id""".stripMargin) { (s, dir) =>
      Similarity.cosineDedup(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") < 250, threshold = 0.35)
        .orderBy("v_id")
    },

    // murmur3-signed hyperplane candidates (engine-specific); the exact
    // cosine + rank over the survivors is DuckDB-re-derived from the
    // staged pairs. Recall vs s01 measured in SimilaritySpec.
    QueryDef("s03_ann_lsh", stagedRerankSql("s03_ann_lsh")) { (s, dir) =>
      Similarity.annTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          k = 5, bits = 32, bands = 4)
        .orderBy("q_id", "rn")
    },

    // IVF coarse-quantized ANN (k-means cells + nprobe search) — the
    // second scale path. k-means is not SQL-expressible, so the cell
    // probe set is engine-trusted; the exact rank over probed candidates
    // is DuckDB-re-derived. IVFSpec proves nprobe == cells reduces
    // exactly to brute force.
    QueryDef("s04_ann_ivf", stagedRerankSql("s04_ann_ivf")) { (s, dir) =>
      graft.ext.IVF.ivfTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          k = 5, cells = 8, nprobe = 2)
        .orderBy("q_id", "rn")
    },

    // The stored IVF index itself: (vid, cell) for every vector — the
    // partition-key column a 100 TB deployment persists next to the data.
    // FULLY oracled via the staged centroid table (_staged_ivf_centroids,
    // dumped by Verify from the same deterministic kmeansCentroids call):
    // given the k centroids, the assignment is pure arithmetic — DuckDB
    // re-derives the argmin (squared L2, ties → lowest cell) from scratch,
    // so a wrong distance, tie-break, or dropped vector anywhere in
    // assignCells turns the board red. Only the centroid VALUES are
    // engine-trusted (k-means isn't SQL-expressible). s08's oracle also
    // consumes this query's staged output.
    QueryDef("s09_ivf_cells",
      s"""WITH cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |               FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |               GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT vec_id AS vid, cell FROM (
         |  SELECT v.vec_id, cents.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |        + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |  FROM v CROSS JOIN cents) WHERE rn = 1
         |ORDER BY vid""".stripMargin) { (s, dir) =>
      graft.ext.IVF.assignTable(Tables.embeddings(s, dir),
          "vec_id", "embedding", cells = 8, iters = 3)
        .select(col("vid"), col("cell"))
        .orderBy("vid")
    },

    // ---- s30: the k-means TRAINING invariant, hash-graded — final
    //      centroid == exact decimal mean of the vectors the penultimate
    //      round assigns to its cell. Given the staged penultimate
    //      centroids (_staged_ivf_centroids_prev, iters=2 of the same
    //      deterministic training), DuckDB re-derives the entire last
    //      round from raw embeddings: the argmin assignment (identical
    //      float chain to s09's oracle — list_dot_product matches
    //      dot bit-for-bit) and the DECIMAL(38,18)-sum mean (the
    //      s24 centroid parity pattern). A wrong distance, tie-break,
    //      dropped vector, or broken decimal discipline in the
    //      mean-update flips this row. Only the penultimate centroid
    //      VALUES stay engine-trusted (k-means isn't SQL-expressible);
    //      every derived quantity in the round is re-computed. ----
    QueryDef("s30_kmeans_centroid_audit",
      s"""WITH prev AS (SELECT cell, list(value ORDER BY pos) AS c
         |              FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids_prev/*.parquet')
         |              GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, prev.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, prev.c)
         |          + list_dot_product(prev.c, prev.c), prev.cell) AS rn
         |    FROM v CROSS JOIN prev) WHERE rn = 1),
         |x AS (SELECT a.cell,
         |        unnest(range(1, len(v.e) + 1)) AS dim,
         |        unnest(v.e) AS comp
         |      FROM assign a JOIN v ON v.vec_id = a.vec_id)
         |SELECT cell, CAST(dim - 1 AS INTEGER) AS pos,
         |  round(CAST(sum(CAST(comp AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS value
         |FROM x GROUP BY cell, dim
         |ORDER BY cell, pos""".stripMargin) { (s, dir) =>
      // round(6dp) on both sides — the family's established parity dial
      // (s05): the exact decimal sums agree, but the decimal->double
      // conversion path differs by ~1 ulp (1e-17) between engines.
      graft.ext.IVF.kmeansCentroids(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 8, iters = 3)
        .select(col("cell"), posexplode(col("c")))
        .select(col("cell"), col("pos"), round(col("col"), 6).as("value"))
        .orderBy("cell", "pos")
    },

    // ---- s42: the drift-triggered RETRAIN, graded — the ACTION s38's
    //      drift audit exists to trigger, closing the last open edge of
    //      the maintenance loop (fold batches: s35/s37/s39 → detect
    //      drift: s38 → retrain: here). One Lloyd round over
    //      corpus∪batch (the full table after the folds) WARM-STARTED
    //      from the STORED quantizer: one assignment pass + one
    //      decimal-mean update — no seed pick, no from-scratch iteration
    //      budget, the 100 TB-affordable dose. Fully re-derived: s30's
    //      derivation with the stored (not penultimate) centroids as
    //      input — argmin assignment + exact decimal means, so a wrong
    //      warm start, distance, tie-break or dropped vector flips the
    //      hash. IVFSkewSpec pins the warm-start identity
    //      (refine(train(i), 1) == train(i+1) bit-for-bit). ----
    QueryDef("s42_quantizer_retrain",
      s"""WITH stored AS (SELECT cell, list(value ORDER BY pos) AS c
         |                FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |                GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, stored.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, stored.c)
         |          + list_dot_product(stored.c, stored.c), stored.cell) AS rn
         |    FROM v CROSS JOIN stored) WHERE rn = 1),
         |x AS (SELECT a.cell,
         |        unnest(range(1, len(v.e) + 1)) AS dim,
         |        unnest(v.e) AS comp
         |      FROM assign a JOIN v ON v.vec_id = a.vec_id)
         |SELECT cell, CAST(dim - 1 AS INTEGER) AS pos,
         |  round(CAST(sum(CAST(comp AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS value
         |FROM x GROUP BY cell, dim
         |ORDER BY cell, pos""".stripMargin) { (s, dir) =>
      // round(6dp) both sides — s30's decimal→double parity dial
      graft.ext.IVF.kmeansRefine(Tables.embeddings(s, dir),
          "vec_id", "embedding", storedIvfCentroids(s, dir), iters = 1)
        .select(col("cell"), posexplode(col("c")))
        .select(col("cell"), col("pos"), round(col("col"), 6).as("value"))
        .orderBy("cell", "pos")
    },

    // ---- s43: the post-retrain index REFRESH, graded — the step that
    //      makes s42 matter: after the warm retrain, every stored
    //      artifact (s36's cell-partitioned codes, s37's merged
    //      assignment, s39's merged PQ codes) still keys on the OLD
    //      cells; the refresh re-keys the assignment under the REFINED
    //      centroids in ONE map-only kernel pass (both centroid tables
    //      ride in as literals — no join, no window, no shuffle before
    //      the final sort; PlanSpec pins the shape). The emitted `moved`
    //      flag IS the churn bound of the rewrite: a cell-partitioned
    //      artifact rewrites only partitions that moved rows touch, so
    //      the graded output itself carries the write-amplification
    //      fraction SCALE.md records. FULLY re-derived: given the staged
    //      stored + refined centroid tables (the refine itself graded by
    //      s42), both argmins are s09's derivation — a wrong distance,
    //      tie-break, stale old-cell, or dropped vector flips the hash. ----
    QueryDef("s43_index_refresh",
      s"""WITH stored AS (SELECT cell, list(value ORDER BY pos) AS c
         |                FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |                GROUP BY cell),
         |refined AS (SELECT cell, list(value ORDER BY pos) AS c
         |            FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids_refined/*.parquet')
         |            GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |aold AS (SELECT vec_id, cell FROM (
         |  SELECT v.vec_id, stored.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, stored.c)
         |        + list_dot_product(stored.c, stored.c), stored.cell) AS rn
         |  FROM v CROSS JOIN stored) WHERE rn = 1),
         |anew AS (SELECT vec_id, cell FROM (
         |  SELECT v.vec_id, refined.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, refined.c)
         |        + list_dot_product(refined.c, refined.c), refined.cell) AS rn
         |  FROM v CROSS JOIN refined) WHERE rn = 1)
         |SELECT anew.vec_id AS vid, anew.cell AS cell,
         |  CAST(aold.cell != anew.cell AS INTEGER) AS moved
         |FROM anew JOIN aold ON aold.vec_id = anew.vec_id
         |ORDER BY vid""".stripMargin) { (s, dir) =>
      graft.ext.IVF.refreshAssignment(Tables.embeddings(s, dir),
          "vec_id", "embedding",
          storedIvfCentroids(s, dir), storedRefinedCentroids(s, dir))
        .orderBy("vid")
    },

    // ---- s35: INCREMENTAL index maintenance for the ANN family — t58's
    //      continuous-ingestion move applied to the vector side: a new
    //      batch (vec_id % 10 = 7) takes its coarse cells from the STORED
    //      quantizer (built once under a content-stamped location, the
    //      t55/s15 discipline) with ZERO training, corpus scan, join or
    //      shuffle in the query path — the 8-row centroid table folds
    //      into the native nearest-cell kernel as literals at plan build,
    //      so assignment is one map-only projection over the batch
    //      (PlanSpec pins the shape). Given the staged centroids the
    //      assignment is pure arithmetic: the oracle re-derives the
    //      argmin over the batch slice exactly as s09 does for the full
    //      corpus (same float chain, same (d2, cell) tie-break). ----
    QueryDef("s35_ann_batch_assign",
      s"""WITH cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |               FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |               GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         |      WHERE vec_id % 10 = 7)
         |SELECT vec_id AS vid, cell FROM (
         |  SELECT v.vec_id, cents.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |        + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |  FROM v CROSS JOIN cents) WHERE rn = 1
         |ORDER BY vid""".stripMargin) { (s, dir) =>
      val cents = storedIvfCentroids(s, dir)
      val batch = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
      graft.ext.IVF.assignWithCentroids(batch, "vec_id", "embedding", cents)
        .orderBy("vid")
    },

    // ---- s39: PQ code MAINTENANCE graded end-to-end — s37's frozen-
    //      quantizer move applied to the FINE quantizer: the batch
    //      (vec_id % 10 = 7) is encoded against the STORED codebooks
    //      (zero training) and folded into the stored A-side code table;
    //      with the codebooks frozen, encoding distributes over union,
    //      and the oracle re-derives the ENTIRE merged code table from
    //      `_staged_pq_codebooks` — per (vector, subspace), the
    //      sub-slice and the (d2, cell) argmin float chain, exactly
    //      s34's derivation with the argmin CELL kept instead of the
    //      error. A stale stored code, a dropped batch vector, or any
    //      tie-break drift flips the hash. This closes the maintenance
    //      loop for all three index families: text prefixes (t60/t61),
    //      coarse IVF cells (s37), and now the PQ codes the 30×-smaller
    //      ADC payload rides on. ----
    QueryDef("s39_pq_codes_merged",
      s"""WITH cb AS (SELECT sub, cell, list(value ORDER BY pos) AS c
         |            FROM read_parquet('${ClimateQueries.OutToken}/_staged_pq_codebooks/*.parquet')
         |            GROUP BY sub, cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |subs AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
         |           e[t.sub * (len(e) // 8) + 1 : (t.sub + 1) * (len(e) // 8)] AS subv
         |         FROM v CROSS JOIN range(0, 8) t(sub)),
         |a AS (SELECT vec_id, sub, cell FROM (
         |    SELECT s.vec_id, s.sub, cb.cell,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.subv, s.subv)
         |          - 2.0 * list_dot_product(s.subv, cb.c)
         |          + list_dot_product(cb.c, cb.c), cb.cell) AS rn
         |    FROM subs s JOIN cb ON cb.sub = s.sub) WHERE rn = 1)
         |SELECT vec_id AS vid, sub, cell FROM a
         |ORDER BY vid, sub""".stripMargin) { (s, dir) =>
      val (cb, storedA) = storedPqCodesA(s, dir)
      val batch = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
      val batchCodes = graft.ext.PQ.encode(batch, "vec_id", "embedding", cb, m = 8)
      storedA.union(batchCodes)
        .select(col("vid"), posexplode(col("codes")))
        .select(col("vid"), col("pos").cast("int").as("sub"),
          col("col").cast("int").as("cell"))
        .orderBy("vid", "sub")
    },

    // ---- s40: IVF-PQ with RESIDUAL encoding — the canonical IVFADC
    //      (PQ on v − c₁ with one codebook shared across cells) as a
    //      named query next to s14's raw-encoded form. The coarse probe,
    //      ADC shortlist and exact re-rank structure are s14's; what
    //      changes is WHAT the codes describe (cell-local residuals, so
    //      the m·kc budget spans one cell's radius instead of the whole
    //      corpus — s41 grades that gain) and the approximate cosine,
    //      which decomposes into per-cell terms riding the probe ranking
    //      plus a query-independent centroid×codeword cross-term table
    //      (see PQ.ivfAdcResidualTopK). Graded exactly like s14/s32/s36:
    //      candidates engine-trusted, the exact-cosine re-rank re-derived
    //      by DuckDB over the staged survivors. ----
    QueryDef("s40_ann_ivfpq_residual",
        stagedRerankSql("s40_ann_ivfpq_residual")) { (s, dir) =>
      graft.ext.PQ.ivfAdcResidualTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          k = 5, cells = 8, nprobe = 2, m = 8, kc = 16, rerank = 4)
        .orderBy("q_id", "rn")
    },

    // ---- s41: the residual-encoding GAIN, graded — s34's distortion
    //      audit run over BOTH encodings of the same m=8/kc=16 budget,
    //      joined per subspace: mse_raw (codes describe v, s34's chain
    //      from _staged_pq_codebooks) vs mse_res (codes describe v − c₁,
    //      from _staged_ivf_centroids + _staged_respq_codebooks — coarse
    //      argmin, exact elementwise residual, sub-slices, argmin, all
    //      re-derived by DuckDB; every float chain has a green
    //      precedent: s35, s31, s34). The graded output ITSELF shows
    //      what residual encoding buys — the number that decides whether
    //      a 100 TB re-encode to IVFADC pays for itself. ----
    QueryDef("s41_respq_distortion",
      s"""WITH cbraw AS (SELECT sub, cell, list(value ORDER BY pos) AS c
         |               FROM read_parquet('${ClimateQueries.OutToken}/_staged_pq_codebooks/*.parquet')
         |               GROUP BY sub, cell),
         |cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |          FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |          GROUP BY cell),
         |cbres AS (SELECT sub, cell, list(value ORDER BY pos) AS c
         |          FROM read_parquet('${ClimateQueries.OutToken}/_staged_respq_codebooks/*.parquet')
         |          GROUP BY sub, cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |subsraw AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
         |              e[t.sub * (len(e) // 8) + 1 : (t.sub + 1) * (len(e) // 8)] AS subv
         |            FROM v CROSS JOIN range(0, 8) t(sub)),
         |araw AS (SELECT vec_id, sub, d2 FROM (
         |    SELECT s.vec_id, s.sub,
         |      list_dot_product(s.subv, s.subv)
         |        - 2.0 * list_dot_product(s.subv, cb.c)
         |        + list_dot_product(cb.c, cb.c) AS d2,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.subv, s.subv)
         |          - 2.0 * list_dot_product(s.subv, cb.c)
         |          + list_dot_product(cb.c, cb.c), cb.cell) AS rn
         |    FROM subsraw s JOIN cbraw cb ON cb.sub = s.sub) WHERE rn = 1),
         |a1 AS (SELECT vec_id, cell, c FROM (
         |  SELECT v.vec_id, cents.cell, cents.c,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |        + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |  FROM v CROSS JOIN cents) WHERE rn = 1),
         |r AS (SELECT a1.vec_id,
         |        list_transform(range(1, len(v.e) + 1), i -> v.e[i] - a1.c[i]) AS r
         |      FROM a1 JOIN v ON v.vec_id = a1.vec_id),
         |subsres AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
         |              r.r[t.sub * (len(r.r) // 8) + 1 : (t.sub + 1) * (len(r.r) // 8)] AS subv
         |            FROM r CROSS JOIN range(0, 8) t(sub)),
         |ares AS (SELECT vec_id, sub, d2 FROM (
         |    SELECT s.vec_id, s.sub,
         |      list_dot_product(s.subv, s.subv)
         |        - 2.0 * list_dot_product(s.subv, cb.c)
         |        + list_dot_product(cb.c, cb.c) AS d2,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.subv, s.subv)
         |          - 2.0 * list_dot_product(s.subv, cb.c)
         |          + list_dot_product(cb.c, cb.c), cb.cell) AS rn
         |    FROM subsres s JOIN cbres cb ON cb.sub = s.sub) WHERE rn = 1)
         |SELECT ra.sub, ra.n_vecs, ra.mse_raw, re.mse_res
         |FROM (SELECT sub, count(*) AS n_vecs,
         |        round(CAST(sum(CAST(d2 AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS mse_raw
         |      FROM araw GROUP BY sub) ra
         |JOIN (SELECT sub,
         |        round(CAST(sum(CAST(d2 AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS mse_res
         |      FROM ares GROUP BY sub) re ON re.sub = ra.sub
         |ORDER BY ra.sub""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val rawCb = graft.ext.PQ.codebooks(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      val raw = graft.ext.PQ.distortionBySubspace(emb, "vec_id", "embedding",
          rawCb, m = 8)
        .select(col("sub"), col("n_vecs"), col("mse").as("mse_raw"))
      val cents = graft.ext.IVF.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      // three consumers of the residual lineage (codebook training's
      // sub-rows + seed pick, then the distortion pass) — one checkpoint
      val res = graft.ext.PQ.residualTable(emb, "vec_id", "embedding", cents)
        .select(col("vid"), col("r")).localCheckpoint()
      val resCb = graft.ext.PQ.codebooks(res, "vid", "r", m = 8, k = 16, iters = 2)
      val resd = graft.ext.PQ.distortionBySubspace(res, "vid", "r", resCb, m = 8)
        .select(col("sub"), col("mse").as("mse_res"))
      raw.join(resd, "sub").orderBy("sub")
    },

    // ---- s45: s40's STORED-INDEX twin (VERDICT r14 #2) — the residual
    //      IVF-PQ deployment with every query-independent piece persisted:
    //      coarse centroids (shared stored quantizer), residual codebooks
    //      (one training, bit-identical to _staged_respq_codebooks),
    //      residual codes partitioned by coarse cell, AND the cells·m·kc
    //      centroid×codeword cross-term table partitioned the same way —
    //      the artifact SCALE.md promised was "persisted next to the
    //      codebook", now graded. The query path is zero-training: probed
    //      cell ids are a ≤cells-row driver pull reaching BOTH stored
    //      scans as literal PartitionFilters (PartitionPruningSpec proves
    //      the file-level prune on the codes AND the cross terms), then
    //      the decomposed-cosine ADC tail and exact re-rank. Same
    //      staged-rerank oracle as s40/s36. ----
    QueryDef("s45_ann_respq_stored",
        stagedRerankSql("s45_ann_respq_stored")) { (s, dir) =>
      val (cb, codesByCell, ctermByCell) = storedResIvfPqIndex(s, dir)
      graft.ext.PQ.ivfAdcResidualTopKFromIndex(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          storedIvfCentroids(s, dir), codesByCell, cb, ctermByCell,
          k = 5, nprobe = 2, m = 8, rerank = 4)
        .orderBy("q_id", "rn")
    },

    // ---- s34: PQ reconstruction-DISTORTION audit — the quantizer-quality
    //      leg of the audit family: s30 grades how k-means centroids are
    //      produced, s27/s33 grade end-to-end recall, s34 grades what the
    //      PQ codes THROW AWAY (per-subspace MSE + worst case — the
    //      number that decides m/kc before a 100 TB re-encode). Given the
    //      staged codebooks (_staged_pq_codebooks, the same deterministic
    //      training s07 runs), DuckDB re-derives EVERYTHING: the
    //      sub-vector slices, the (d2, cell) argmin float chain
    //      (list_dot_product == dot bit-for-bit, the s09/s31
    //      precedent), and the DECIMAL(38,18) error sums
    //      (merge-order-independent — the centroid-update discipline
    //      applied to the error side). round(6dp) both sides: the
    //      family's established parity dial. ----
    QueryDef("s34_pq_distortion",
      s"""WITH cb AS (SELECT sub, cell, list(value ORDER BY pos) AS c
         |            FROM read_parquet('${ClimateQueries.OutToken}/_staged_pq_codebooks/*.parquet')
         |            GROUP BY sub, cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |subs AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
         |           e[t.sub * (len(e) // 8) + 1 : (t.sub + 1) * (len(e) // 8)] AS subv
         |         FROM v CROSS JOIN range(0, 8) t(sub)),
         |a AS (SELECT vec_id, sub, d2 FROM (
         |    SELECT s.vec_id, s.sub,
         |      list_dot_product(s.subv, s.subv)
         |        - 2.0 * list_dot_product(s.subv, cb.c)
         |        + list_dot_product(cb.c, cb.c) AS d2,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.subv, s.subv)
         |          - 2.0 * list_dot_product(s.subv, cb.c)
         |          + list_dot_product(cb.c, cb.c), cb.cell) AS rn
         |    FROM subs s JOIN cb ON cb.sub = s.sub) WHERE rn = 1)
         |SELECT sub, count(*) AS n_vecs,
         |  round(CAST(sum(CAST(d2 AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS mse,
         |  round(max(d2), 6) AS max_se
         |FROM a GROUP BY sub ORDER BY sub""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PQ.codebooks(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      graft.ext.PQ.distortionBySubspace(emb, "vec_id", "embedding", cb, m = 8)
        .orderBy("sub")
    },

    // ---- s31: the TWO-LEVEL (residual) coarse quantizer's stored index —
    //      (vid, cell1, cell2) for every vector, the composite partition
    //      key of the hierarchical ANN deployment. This is the engine's
    //      answer to the flat quantizer's flop wall (SCALE.md: n·cells·d
    //      assignment flops turn quadratic once cells ∝ corpus; two
    //      levels give k1·k2 leaves for n·(k1+k2)·d flops). FULLY oracled
    //      one level deeper than s09: given the staged L1 centroids AND
    //      the staged L2 residual codebook, DuckDB re-derives BOTH
    //      argmins from raw embeddings — the L1 assignment (s09's float
    //      chain), the exact IEEE residual subtraction (elementwise
    //      v[i] − c[i] matches zip_with), and the L2 residual argmin.
    //      A wrong distance, tie-break, residual arithmetic, or dropped
    //      vector at either level turns the board red. Only the two
    //      centroid tables stay engine-trusted (k-means isn't
    //      SQL-expressible) — and s30 grades how THOSE are produced.
    //      Level sizes derive from the corpus count (IVF.autoK1K2, the
    //      s12 derived-knob discipline); staging derives identically. ----
    QueryDef("s31_ivf2_cells",
      s"""WITH l1 AS (SELECT cell, list(value ORDER BY pos) AS c
         |            FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf2_l1/*.parquet')
         |            GROUP BY cell),
         |l2 AS (SELECT cell, list(value ORDER BY pos) AS c
         |       FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf2_l2/*.parquet')
         |       GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |a1 AS (SELECT vec_id, cell AS cell1, c FROM (
         |  SELECT v.vec_id, l1.cell, l1.c,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, l1.c)
         |        + list_dot_product(l1.c, l1.c), l1.cell) AS rn
         |  FROM v CROSS JOIN l1) WHERE rn = 1),
         |r AS (SELECT a1.vec_id, a1.cell1,
         |        list_transform(range(1, len(v.e) + 1), i -> v.e[i] - a1.c[i]) AS r
         |      FROM a1 JOIN v ON v.vec_id = a1.vec_id)
         |SELECT vec_id AS vid, cell1, cell AS cell2 FROM (
         |  SELECT r.vec_id, r.cell1, l2.cell,
         |    row_number() OVER (PARTITION BY r.vec_id ORDER BY
         |      list_dot_product(r.r, r.r) - 2.0 * list_dot_product(r.r, l2.c)
         |        + list_dot_product(l2.c, l2.c), l2.cell) AS rn
         |  FROM r CROSS JOIN l2) WHERE rn = 1
         |ORDER BY vid""".stripMargin) { (s, dir) =>
      // r16: the STORED model (storedIvf2Model — bit-identical to
      // in-query training by twoLevelModel's determinism, the property
      // the staged oracle already relies on): the query path is a pruned
      // parquet scan of the leaf assignment + the output sort
      val (_, _, assigned) = storedIvf2Model(s, dir)
      assigned.select(col("vid"), col("cell1").cast("int").as("cell1"),
          col("cell2"))
        .orderBy("vid")
    },

    // Two-level IVF ANN top-k: hierarchical probe (nprobe1 L1 cells, then
    // nprobe2 residual cells within each), exact-cosine rank over the
    // probed leaves — the s04 grading discipline (candidate set
    // engine-trusted, rerank DuckDB re-derived), with s31 grading the
    // leaf assignment itself and IVFSpec pinning full-probe == brute.
    QueryDef("s32_ann_ivf2", stagedRerankSql("s32_ann_ivf2")) { (s, dir) =>
      // r16: probe the STORED model (storedIvf2Model) — identical
      // candidates and ranks (bit-identical model by determinism); the
      // query path pays two tiny centroid broadcasts + the leaf join,
      // never a training pass
      val (l1, l2, assigned) = storedIvf2Model(s, dir)
      val q = Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("q_vec"))
      graft.ext.IVF.ivf2TopKWith(l1, l2, assigned, q,
          k = 5, nprobe1 = 2, nprobe2 = 2)
        .orderBy("q_id", "rn")
    },

    // ---- s33: the two-level quantizer's recall sweep — s27's evaluation
    //      harness applied to the hierarchical form (t46 : LSH ::
    //      s27 : flat IVF :: s33 : two-level). recall@5 at
    //      (nprobe1, nprobe2) ∈ {(1,1),(2,2),(3,3)} vs brute-force
    //      truth, trained ONCE for the sweep (ivf2TopKWith). FULLY
    //      re-derived by DuckDB from the two staged codebooks: leaf
    //      assignment (s31's chain), the hierarchical query probe (L1
    //      rank, per-probed-cell residual rank — filtering the full
    //      rank table per config equals the engine's filter-then-rank
    //      because per-cell1 residual ranks are config-independent),
    //      per-config top-5, brute truth, hit counts. At the gate
    //      scales k1 = k2 = 3, so the (3,3) row probes every leaf and
    //      must read recall = 1.0 — the IVFSpec reduction visible in
    //      the graded output itself. ----
    QueryDef("s33_ivf2_recall", {
      def configSql(tag: String, p1: Int, p2: Int): String =
        s"""ivf$tag AS (SELECT q_id, c_id FROM (
           |  SELECT q.q_id, a.vid AS c_id,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      round(list_dot_product(q.qe, c.e) /
           |        (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 6)
           |        DESC, a.vid) AS rn
           |  FROM qv q
           |  JOIN (SELECT q_id, cell1, cell2 FROM q2
           |        WHERE rn1 <= $p1 AND rn2 <= $p2) pr ON pr.q_id = q.q_id
           |  JOIN assign a ON a.cell1 = pr.cell1 AND a.cell2 = pr.cell2
           |  JOIN v c ON c.vec_id = a.vid
           |  WHERE a.vid <> q.q_id) WHERE rn <= 5),
           |hit$tag AS (SELECT count(*) AS h FROM ivf$tag i
           |            JOIN brute b ON b.q_id = i.q_id AND b.c_id = i.c_id)"""
          .stripMargin
      s"""WITH l1 AS (SELECT cell, list(value ORDER BY pos) AS c
         |            FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf2_l1/*.parquet')
         |            GROUP BY cell),
         |l2 AS (SELECT cell, list(value ORDER BY pos) AS c
         |       FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf2_l2/*.parquet')
         |       GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |a1 AS (SELECT vec_id, cell AS cell1, c FROM (
         |  SELECT v.vec_id, l1.cell, l1.c,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, l1.c)
         |        + list_dot_product(l1.c, l1.c), l1.cell) AS rn
         |  FROM v CROSS JOIN l1) WHERE rn = 1),
         |r AS (SELECT a1.vec_id, a1.cell1,
         |        list_transform(range(1, len(v.e) + 1), i -> v.e[i] - a1.c[i]) AS r
         |      FROM a1 JOIN v ON v.vec_id = a1.vec_id),
         |assign AS (SELECT vec_id AS vid, cell1, cell AS cell2 FROM (
         |  SELECT r.vec_id, r.cell1, l2.cell,
         |    row_number() OVER (PARTITION BY r.vec_id ORDER BY
         |      list_dot_product(r.r, r.r) - 2.0 * list_dot_product(r.r, l2.c)
         |        + list_dot_product(l2.c, l2.c), l2.cell) AS rn
         |  FROM r CROSS JOIN l2) WHERE rn = 1),
         |qv AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id % 50 = 0),
         |q1 AS (SELECT q.q_id, q.qe, l1.cell AS cell1, l1.c,
         |         row_number() OVER (PARTITION BY q.q_id ORDER BY
         |           list_dot_product(q.qe, q.qe) - 2.0 * list_dot_product(q.qe, l1.c)
         |             + list_dot_product(l1.c, l1.c), l1.cell) AS rn1
         |       FROM qv q CROSS JOIN l1),
         |q1r AS (SELECT q_id, cell1, rn1,
         |          list_transform(range(1, len(qe) + 1), i -> qe[i] - c[i]) AS rq
         |        FROM q1),
         |q2 AS (SELECT q1r.q_id, q1r.cell1, q1r.rn1, l2.cell AS cell2,
         |         row_number() OVER (PARTITION BY q1r.q_id, q1r.cell1 ORDER BY
         |           list_dot_product(q1r.rq, q1r.rq) - 2.0 * list_dot_product(q1r.rq, l2.c)
         |             + list_dot_product(l2.c, l2.c), l2.cell) AS rn2
         |       FROM q1r CROSS JOIN l2),
         |brute AS (SELECT q_id, c_id FROM (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      round(list_dot_product(q.qe, c.e) /
         |        (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        DESC, c.vec_id) AS rn
         |  FROM qv q CROSS JOIN v c WHERE c.vec_id <> q.q_id) WHERE rn <= 5),
         |nq AS (SELECT count(*) AS n FROM qv),
         |${configSql("a", 1, 1)},
         |${configSql("b", 2, 2)},
         |${configSql("c", 3, 3)}
         |SELECT * FROM (
         |  SELECT 1 AS nprobe1, 1 AS nprobe2, nq.n AS n_queries, hita.h AS n_hits,
         |    CAST(hita.h AS DOUBLE) / (5 * nq.n) AS recall
         |  FROM nq CROSS JOIN hita
         |  UNION ALL SELECT 2, 2, nq.n, hitb.h, CAST(hitb.h AS DOUBLE) / (5 * nq.n)
         |  FROM nq CROSS JOIN hitb
         |  UNION ALL SELECT 3, 3, nq.n, hitc.h, CAST(hitc.h AS DOUBLE) / (5 * nq.n)
         |  FROM nq CROSS JOIN hitc)
         |ORDER BY nprobe1""".stripMargin
    }) { (s, dir) =>
      // brute-force truth scans queries × corpus BY DESIGN — refuse
      // loudly past the evaluation-sample envelope (Guard discipline)
      val emb = graft.core.Guard.quadratic(Tables.embeddings(s, dir),
        "s33_ivf2_recall brute-force truth")
      val pred = col("vec_id") % 50 === 0
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, k = 5)
        .select(col("q_id"), col("c_id")).localCheckpoint()
      val nq = emb.filter(pred).agg(count(lit(1)).as("n_queries"))
      // r16: the sweep probes the STORED model (storedIvf2Model) —
      // quantizer + leaf assignment are probe-independent, and the
      // stored tables are bit-identical to the in-query training this
      // replaced (twoLevelModel determinism), so every recall row is
      // unchanged. The assignment is parquet-backed: no localCheckpoint
      // needed, the three configs scan the (tiny) index directly.
      val (l1, l2, assigned) = storedIvf2Model(s, dir)
      val q = emb.filter(pred).select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("q_vec"))
      Seq((1, 1), (2, 2), (3, 3)).map { case (p1, p2) =>
        val hits = graft.ext.IVF.ivf2TopKWith(l1, l2, assigned, q,
            k = 5, nprobe1 = p1, nprobe2 = p2)
          .select(col("q_id"), col("c_id"))
          .join(brute, Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("n_hits"))
        nq.crossJoin(hits)
          .select(lit(p1).as("nprobe1"), lit(p2).as("nprobe2"),
            col("n_queries"), col("n_hits"),
            (col("n_hits").cast("double") / (lit(5) * col("n_queries")))
              .as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe1")
    },

    // Cluster-scoped semantic dedup (SemDeDup shape): k-means cells bound
    // the pair space to n²/cells; same any-lower-id rule as s06's exact
    // form. Given the staged s09 cell table (same deterministic
    // assignTable call), DuckDB re-derives the ENTIRE dedup decision —
    // within-cell pairs, cosines, threshold, survivor set. SimilaritySpec
    // additionally pins soundness and exact-dup recall.
    QueryDef("s08_semantic_dedup",
      s"""WITH cells AS (SELECT vid, cell
         |               FROM read_parquet('${ClimateQueries.OutToken}/s09_ivf_cells/*.parquet')),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |a AS (SELECT cells.cell, v.vec_id, v.e
         |      FROM cells JOIN v ON v.vec_id = cells.vid),
         |dropped AS (
         |  SELECT DISTINCT c.vec_id AS v_id
         |  FROM a q JOIN a c ON q.cell = c.cell AND q.vec_id < c.vec_id
         |  WHERE round($duckCos, 6) >= 0.35)
         |SELECT v.vec_id AS v_id FROM v
         |LEFT JOIN dropped d ON d.v_id = v.vec_id
         |WHERE d.v_id IS NULL
         |ORDER BY v_id""".stripMargin) { (s, dir) =>
      // 0.35 sits inside the near-random corpus's top-pair cosine range
      // (~0.30-0.36) so the decision actually fires at every SF.
      // r15: clusterDedupAuto — below Similarity.FlatToIvf2Vectors this
      // IS the cells=8 form the staged-s09 oracle re-derives (graded
      // scales sit far below the crossover); past it the pair space
      // blocks on the two-level leaves, the only form whose assignment
      // flops and pair volume both stay near-linear.
      Similarity.clusterDedupAuto(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.35)
        .orderBy("v_id")
    },

    // Product-quantization ADC top-k (8 subspaces × 16-cell codebooks,
    // exact re-rank of the 4k shortlist) — the compressed-payload ANN
    // path. Codebooks/ADC shortlist are engine-trusted; the exact-cosine
    // re-rank the query actually emits is DuckDB-re-derived. PQSpec pins
    // clustered-vector recall ≥0.9 and determinism.
    QueryDef("s07_ann_pq", stagedRerankSql("s07_ann_pq")) { (s, dir) =>
      graft.ext.PQ.adcTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          k = 5, m = 8, kc = 16)
        .orderBy("q_id", "rn")
    },

    // ---- matryoshka truncation audit: top-10 overlap between full-dim
    //      and first-32-dims cosine rankings per query — the recall-vs-
    //      bytes gate for shipping truncated embeddings. Fully
    //      SQL-expressible (two brute-force rankings + a set intersect),
    //      so unlike the ANN family this one has a complete oracle. ----
    QueryDef("s10_matryoshka_overlap",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |             CAST(embedding[1:32] AS DOUBLE[]) AS et FROM embeddings),
         |f AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |                       ORDER BY round($duckCos, 6) DESC, c.vec_id) AS rn
         |  FROM v q CROSS JOIN v c
         |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id) WHERE rn <= 10),
         |t AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |                       ORDER BY round(list_dot_product(q.et, c.et) /
         |                         (sqrt(list_dot_product(q.et, q.et)) * sqrt(list_dot_product(c.et, c.et))), 6)
         |                         DESC, c.vec_id) AS rn
         |  FROM v q CROSS JOIN v c
         |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id) WHERE rn <= 10),
         |ov AS (SELECT f.q_id, count(*) AS c
         |       FROM f JOIN t ON f.q_id = t.q_id AND f.c_id = t.c_id GROUP BY 1)
         |SELECT q.vec_id AS q_id, CAST(coalesce(ov.c, 0) AS INTEGER) AS overlap
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0) q
         |LEFT JOIN ov ON ov.q_id = q.vec_id ORDER BY q_id""".stripMargin) { (s, dir) =>
      Similarity.matryoshkaOverlap(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0, k = 10, dims = 32)
        .orderBy("q_id")
    },

    // ---- reciprocal-rank fusion of the full-dim and 32-dim (matryoshka)
    //      cosine rankings — the standard hybrid-retrieval combiner
    //      (rank-based: no score normalization across lists). Integer
    //      ranks → exact reciprocals → the WHOLE fusion re-derived by
    //      DuckDB from scratch: full oracle, unlike the ANN family. ----
    QueryDef("s16_hybrid_rrf",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |             CAST(embedding[1:32] AS DOUBLE[]) AS et FROM embeddings),
         |f AS (SELECT q_id, c_id, rn FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |                       ORDER BY round($duckCos, 6) DESC, c.vec_id) AS rn
         |  FROM v q CROSS JOIN v c
         |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id) WHERE rn <= 20),
         |t AS (SELECT q_id, c_id, rn FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |                       ORDER BY round(list_dot_product(q.et, c.et) /
         |                         (sqrt(list_dot_product(q.et, q.et)) * sqrt(list_dot_product(c.et, c.et))), 6)
         |                         DESC, c.vec_id) AS rn
         |  FROM v q CROSS JOIN v c
         |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id) WHERE rn <= 20),
         |u AS (SELECT coalesce(f.q_id, t.q_id) AS q_id,
         |        coalesce(f.c_id, t.c_id) AS c_id, f.rn AS rn_f, t.rn AS rn_t
         |      FROM f FULL OUTER JOIN t ON f.q_id = t.q_id AND f.c_id = t.c_id),
         |sc AS (SELECT q_id, c_id,
         |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rn_f), 0.0)
         |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + rn_t), 0.0), 6) AS rrf
         |  FROM u)
         |SELECT q_id, c_id, rrf, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT q_id, c_id, rrf,
         |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rn
         |  FROM sc)
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.rrfHybridTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 50 === 0, k = 5, depth = 20, dims = 32)
        .orderBy("q_id", "rn")
    },

    // ---- int8 scalar-quantization audit: per-vector scale/codes are
    //      pure exact arithmetic (abs/max/divide/round-half-away), the
    //      cosine+MSE audit is three sequential-fold dot products — so
    //      the WHOLE quantization pipeline hash-matches DuckDB, no
    //      tolerance. The 4×-compression storage gate at 100 TB. ----
    QueryDef("s11_int8_quant",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        |      FROM v),
        |c AS (SELECT vec_id, e, scale,
        |        list_transform(e, x ->
        |          greatest(-127, least(127,
        |            coalesce(CAST(round(x / nullif(scale, 0.0)) AS INTEGER), 0)))) AS codes
        |      FROM q),
        |d AS (SELECT vec_id, scale, codes,
        |        list_transform(codes, cc -> cc * scale) AS vh, e
        |      FROM c)
        |SELECT vec_id,
        |  round(scale, 9) AS scale_r,
        |  CAST(list_sum(list_transform(codes, cc -> abs(cc))) AS BIGINT) AS code_l1,
        |  round(list_dot_product(e, vh) /
        |    (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(vh, vh))), 6) AS cos_recon,
        |  round((list_dot_product(e, e) - 2.0 * list_dot_product(e, vh)
        |         + list_dot_product(vh, vh)) / len(codes), 9) AS mse
        |FROM d ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Similarity.int8QuantAudit(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("vec_id")
    },

    // ---- IVF-PQ: the canonical billion-scale ANN composition — coarse
    //      cells bound WHICH vectors scan, PQ codes bound WHAT each scan
    //      reads. Candidate generation is doubly engine-trusted (two
    //      k-means); the exact-cosine re-rank the query emits is DuckDB-
    //      re-derived from the staged pairs, like the rest of the ANN
    //      family. PQSpec pins clustered recall ≥0.9 and the
    //      full-probe/full-rerank reduction to brute force. ----
    QueryDef("s14_ann_ivfpq", stagedRerankSql("s14_ann_ivfpq")) { (s, dir) =>
      // ivfIters=2: the coarse quantizer only needs stable-enough cells
      // for blocking (the exact re-rank owns final quality); the third
      // Lloyd round bought no recall on this corpus and ~10% of the
      // query's wall (both quantizers train IN-QUERY here only so the
      // query is self-contained — at scale training is a build-time cost).
      // trainFrac=4: Lloyd rounds run on a deterministic 1/4 hash-sample
      // (quantizers are averages — the sample saturates them); only the
      // single cell/code assignment pass reads every vector.
      graft.ext.PQ.ivfAdcTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          k = 5, cells = 8, nprobe = 2, ivfIters = 2, m = 8, kc = 16,
          trainFrac = 4)
        .orderBy("q_id", "rn")
    },

    // ---- asymmetric int8 ANN: shortlist ranked on dequantized codes
    //      (the 4×-smaller stored payload), exact re-rank of the k·4
    //      survivors. Scalar quantization is deterministic element-wise
    //      arithmetic, so unlike the PQ/IVF/LSH family this compressed
    //      search path has a COMPLETE oracle — shortlist, re-rank, and
    //      tie-breaks all re-derived by DuckDB from scratch. ----
    QueryDef("s13_ann_int8",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |qz AS (SELECT vec_id, e,
         |         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
         |dq AS (SELECT vec_id, e,
         |         list_transform(
         |           list_transform(e, x -> greatest(-127, least(127,
         |             coalesce(CAST(round(x / nullif(scale, 0.0)) AS INTEGER), 0)))),
         |           cc -> cc * scale) AS vh
         |       FROM qz),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id % 50 = 0),
         |short AS (
         |  SELECT * FROM (
         |    SELECT q.q_id, q.qe, d.vec_id AS c_id, d.e AS ce,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qe, d.vh) /
         |          (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(d.vh, d.vh))), 6)
         |          DESC, d.vec_id) AS sl
         |    FROM q CROSS JOIN dq d WHERE d.vec_id <> q.q_id)
         |  WHERE sl <= 20),
         |fin AS (
         |  SELECT q_id, c_id,
         |    round(list_dot_product(qe, ce) /
         |      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 6) AS cos
         |  FROM short)
         |SELECT q_id, c_id, cos, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
         |  FROM fin)
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.int8TopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0, k = 5, overfetch = 4)
        .orderBy("q_id", "rn")
    },

    // ---- the stored-index ANN deployment path, as a named query: the PQ
    //      index (codebooks + encoded codes) is BUILT and persisted first
    //      (the side-write below = the build job a 100 TB deployment runs
    //      once), then the returned plan queries via adcTopKFromIndex —
    //      ZERO training in the plan: it reads the two index parquets plus
    //      embeddings, and PlanSpec pins the absence of any driver-
    //      materialized training state (no LocalTableScan/ExistingRDD).
    //      This is the "train once, query many" claim as a board row, not
    //      just a unit test (PQSpec round-trips the same path). Same
    //      staged-rerank oracle as s07.
    //      The build genuinely runs ONCE: a marker records (params, corpus
    //      row count, source dir) and a matching marker skips the rebuild —
    //      so repeated invocations measure the query path, exactly what a
    //      deployment that queries a persisted index pays. A corpus change
    //      (count or dir) invalidates the marker and rebuilds. ----
    QueryDef("s15_ann_pq_stored", stagedRerankSql("s15_ann_pq_stored")) { (s, dir) =>
      val (cb, codes) = storedPqIndex(s, dir)
      graft.ext.PQ.adcTopKFromIndex(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          cb, codes, k = 5, m = 8)
        .orderBy("q_id", "rn")
    },

    // ---- s36: s14's STORED-INDEX twin (VERDICT r13 #3) — the IVF-PQ
    //      deployment geometry SCALE.md measured, as a graded query:
    //      coarse centroids, PQ codebooks and the codes table all persist
    //      once (codes PARTITIONED BY coarse cell), and the query path is
    //      zero-training: probe the nprobe nearest cells (a ≤cells-row
    //      driver pull of probed ids → LITERAL PartitionFilters — the
    //      scan reads only probed directories, 25% of the corpus at
    //      nprobe=2/cells=8), ADC-rank the pruned code rows, exact-rerank
    //      the k·4 shortlist. Same staged-rerank oracle as s14/s15: the
    //      emitted pairs' cosine + rank are DuckDB-re-derived, candidate
    //      generation stays engine-trusted. PlanSpec pins the partition
    //      filter and the absence of driver-materialized training state;
    //      PartitionPruningSpec pins the file-level prune. ----
    QueryDef("s36_ann_ivfpq_stored", stagedRerankSql("s36_ann_ivfpq_stored")) { (s, dir) =>
      val (cb, codesByCell) = storedIvfPqIndex(s, dir)
      graft.ext.PQ.ivfAdcTopKFromIndex(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          storedIvfCentroids(s, dir), codesByCell, cb,
          k = 5, nprobe = 2, m = 8)
        .orderBy("q_id", "rn")
    },

    // ---- s37: incremental index maintenance graded END-TO-END — the
    //      append path s35 opened but never closed (VERDICT r13 #1): the
    //      batch (vec_id % 10 = 7) is assigned against the STORED frozen
    //      quantizer (map-only, zero training — s35's path) and FOLDED
    //      INTO the stored assignment of the pre-existing corpus side;
    //      the result is the full merged index. Because the quantizer is
    //      frozen, assignment distributes over union — stored(A) ∪
    //      assign(B) == assign(A∪B) — and the oracle grades exactly
    //      that: it re-derives the ENTIRE corpus assignment from the
    //      staged centroids (s09's argmin derivation, same float chain
    //      and (d2, cell) tie-break), so a stale stored row, a dropped
    //      batch vector, or any merge drift flips the hash. The query
    //      path touches O(batch) compute: one pruned-by-filter
    //      embeddings scan for the batch + one parquet scan of the
    //      stored assignment (PlanSpec pins: no join, no training state,
    //      single exchange for the final sort). ----
    QueryDef("s37_ann_index_merged",
      s"""WITH cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |               FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |               GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT vec_id AS vid, cell FROM (
         |  SELECT v.vec_id, cents.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |        + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |  FROM v CROSS JOIN cents) WHERE rn = 1
         |ORDER BY vid""".stripMargin) { (s, dir) =>
      val cents = storedIvfCentroids(s, dir)
      val batch = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
      storedIvfAssign(s, dir)
        .union(graft.ext.IVF.assignWithCentroids(batch, "vec_id", "embedding", cents))
        .orderBy("vid")
    },

    // ---- s38: quantizer DRIFT audit — the "when to retrain" gate the
    //      maintenance family needs once s35/s37 keep folding batches
    //      into a FROZEN quantizer: per coarse cell, the stored corpus
    //      occupancy vs the arriving batch's occupancy plus the
    //      chi-square contribution ((n_b − E)²/E against the corpus
    //      distribution). A drifted data stream concentrates mass in few
    //      cells — probe cost and recall both degrade — and Σ chi2_term
    //      crossing a threshold is the retrain trigger. Everything is
    //      exact arithmetic over two argmin assignments, so the oracle
    //      re-derives BOTH populations from the staged centroids (s09's
    //      derivation on each side of the %10 split), the counts, the
    //      shares and the pinned-order float chain (CAST-first multiply
    //      then divide) from scratch. Cells with zero corpus mass yield
    //      NULL chi2_term (no expected value), never a division error.
    //      Totals ride a broadcast 1-row cross join — no unpartitioned
    //      window. ----
    QueryDef("s38_ann_drift_audit",
      s"""WITH cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |               FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |               GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, cents.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |          + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |    FROM v CROSS JOIN cents) WHERE rn = 1),
         |nc AS (SELECT cell, count(*) AS n_corpus FROM assign
         |       WHERE vec_id % 10 != 7 GROUP BY cell),
         |nb AS (SELECT cell, count(*) AS n_batch FROM assign
         |       WHERE vec_id % 10 = 7 GROUP BY cell),
         |tot AS (SELECT (SELECT sum(n_corpus) FROM nc) AS nc_tot,
         |               (SELECT sum(n_batch) FROM nb) AS nb_tot),
         |j AS (SELECT coalesce(nc.cell, nb.cell) AS cell,
         |        coalesce(n_corpus, 0) AS n_corpus,
         |        coalesce(n_batch, 0) AS n_batch
         |      FROM nc FULL OUTER JOIN nb ON nb.cell = nc.cell)
         |SELECT cell, n_corpus, n_batch,
         |  round(CAST(n_corpus AS DOUBLE) / nc_tot, 6) AS share_corpus,
         |  round(CAST(n_batch AS DOUBLE) / nb_tot, 6) AS share_batch,
         |  CASE WHEN n_corpus > 0 THEN
         |    round((CAST(n_batch AS DOUBLE) - CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot)
         |        * (CAST(n_batch AS DOUBLE) - CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot)
         |        / (CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot), 6)
         |  END AS chi2_term
         |FROM j CROSS JOIN tot ORDER BY cell""".stripMargin) { (s, dir) =>
      val cents = storedIvfCentroids(s, dir)
      val batch = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
      val nc = storedIvfAssign(s, dir)
        .groupBy("cell").agg(count(lit(1)).as("n_corpus"))
      val nb = graft.ext.IVF.assignWithCentroids(batch, "vec_id", "embedding", cents)
        .groupBy("cell").agg(count(lit(1)).as("n_batch"))
      val tot = nc.agg(sum(col("n_corpus")).as("nc_tot"))
        .crossJoin(nb.agg(sum(col("n_batch")).as("nb_tot")))
      val expected = col("nb_tot").cast("double") * col("n_corpus") / col("nc_tot")
      nc.join(nb, Seq("cell"), "full_outer")
        .na.fill(0L, Seq("n_corpus", "n_batch"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_corpus"), col("n_batch"),
          round(col("n_corpus").cast("double") / col("nc_tot"), 6).as("share_corpus"),
          round(col("n_batch").cast("double") / col("nb_tot"), 6).as("share_batch"),
          when(col("n_corpus") > 0,
            round((col("n_batch").cast("double") - expected)
              * (col("n_batch").cast("double") - expected) / expected, 6))
            .as("chi2_term"))
        .orderBy("cell")
    },

    // ---- s44: the drift→retrain TRIGGER decision, graded — the rule
    //      that connects s38 (drift stats) to s42 (the retrain action)
    //      was prose until now; this row makes the decision itself
    //      regression-tested. Per cell: s38's χ² contribution plus a
    //      3σ binomial band (|n_b − E| > 3·σ, σ² = E·(1 − p); a dead
    //      cell receiving ANY batch mass fires outright — maximal
    //      drift). Globally: fire when the decimal-exact χ² total
    //      crosses τ = df + 3·√(2·df) — the 3σ normal approximation of
    //      the χ²_df critical value, so the THRESHOLD derives from the
    //      observed quantizer shape (df = occupied cells − 1), never a
    //      constant pinned to k=8. Everything is pinned-order arithmetic
    //      over the two argmin assignments: integer counts → CAST-first
    //      multiply/divide chains → IEEE sqrt — bit-reproducible on both
    //      engines (s38's precedent), so even the fire BOOLEANS (emitted
    //      as 0/1 ints) hash-match. Totals and the global verdict ride
    //      broadcast 1-row cross joins — no unpartitioned window. ----
    QueryDef("s44_retrain_trigger",
      s"""WITH cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |               FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |               GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, cents.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |          + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |    FROM v CROSS JOIN cents) WHERE rn = 1),
         |nc AS (SELECT cell, count(*) AS n_corpus FROM assign
         |       WHERE vec_id % 10 != 7 GROUP BY cell),
         |nb AS (SELECT cell, count(*) AS n_batch FROM assign
         |       WHERE vec_id % 10 = 7 GROUP BY cell),
         |tot AS (SELECT (SELECT sum(n_corpus) FROM nc) AS nc_tot,
         |               (SELECT sum(n_batch) FROM nb) AS nb_tot),
         |pc AS (SELECT cell, n_corpus, n_batch,
         |         CASE WHEN n_corpus > 0 THEN
         |           (CAST(n_batch AS DOUBLE) - CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot)
         |           * (CAST(n_batch AS DOUBLE) - CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot)
         |           / (CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot) END AS chi2,
         |         CASE WHEN n_corpus > 0 THEN
         |           CAST(abs(CAST(n_batch AS DOUBLE)
         |                    - CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot)
         |             > 3.0 * sqrt((CAST(nb_tot AS DOUBLE) * n_corpus / nc_tot)
         |                 * (1.0 - CAST(n_corpus AS DOUBLE) / nc_tot)) AS INTEGER)
         |         ELSE CAST(n_batch > 0 AS INTEGER) END AS fire_cell
         |       FROM (SELECT coalesce(nc.cell, nb.cell) AS cell,
         |               coalesce(n_corpus, 0) AS n_corpus,
         |               coalesce(n_batch, 0) AS n_batch
         |             FROM nc FULL OUTER JOIN nb ON nb.cell = nc.cell)
         |       CROSS JOIN tot),
         |g AS (SELECT CAST(sum(CAST(chi2 AS DECIMAL(38,18))) AS DOUBLE) AS chi2_total,
         |        CAST(count(CASE WHEN n_corpus > 0 THEN 1 END) - 1 AS INTEGER) AS df,
         |        max(CASE WHEN n_corpus = 0 THEN fire_cell ELSE 0 END) AS dead_fire
         |      FROM pc)
         |SELECT cell, n_corpus, n_batch, round(chi2, 6) AS chi2_term, fire_cell,
         |  round(chi2_total, 6) AS chi2_total, df,
         |  round(CAST(df AS DOUBLE) + 3.0 * sqrt(2.0 * CAST(df AS DOUBLE)), 6) AS tau,
         |  CAST(chi2_total > CAST(df AS DOUBLE) + 3.0 * sqrt(2.0 * CAST(df AS DOUBLE))
         |       OR dead_fire = 1 AS INTEGER) AS fire
         |FROM pc CROSS JOIN g ORDER BY cell""".stripMargin) { (s, dir) =>
      val cents = storedIvfCentroids(s, dir)
      val batch = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
      val nc = storedIvfAssign(s, dir)
        .groupBy("cell").agg(count(lit(1)).as("n_corpus"))
      val nb = graft.ext.IVF.assignWithCentroids(batch, "vec_id", "embedding", cents)
        .groupBy("cell").agg(count(lit(1)).as("n_batch"))
      val tot = nc.agg(sum(col("n_corpus")).as("nc_tot"))
        .crossJoin(nb.agg(sum(col("n_batch")).as("nb_tot")))
      val expected = col("nb_tot").cast("double") * col("n_corpus") / col("nc_tot")
      val perCell = nc.join(nb, Seq("cell"), "full_outer")
        .na.fill(0L, Seq("n_corpus", "n_batch"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_corpus"), col("n_batch"),
          when(col("n_corpus") > 0,
            (col("n_batch").cast("double") - expected)
              * (col("n_batch").cast("double") - expected) / expected)
            .as("chi2"),
          when(col("n_corpus") > 0,
            (abs(col("n_batch").cast("double") - expected) >
              lit(3.0) * sqrt(expected *
                (lit(1.0) - col("n_corpus").cast("double") / col("nc_tot"))))
              .cast("int"))
            .otherwise((col("n_batch") > 0).cast("int")).as("fire_cell"))
        .localCheckpoint() // two consumers (per-cell rows + the global agg)
      val glob = perCell.agg(
        sum(col("chi2").cast("decimal(38,18)")).cast("double").as("chi2_total"),
        (count(when(col("n_corpus") > 0, 1)) - 1).cast("int").as("df"),
        max(when(col("n_corpus") === 0, col("fire_cell")).otherwise(lit(0)))
          .as("dead_fire"))
      val tau = col("df").cast("double") +
        lit(3.0) * sqrt(lit(2.0) * col("df").cast("double"))
      perCell.crossJoin(broadcast(glob))
        .select(col("cell"), col("n_corpus"), col("n_batch"),
          round(col("chi2"), 6).as("chi2_term"), col("fire_cell"),
          round(col("chi2_total"), 6).as("chi2_total"), col("df"),
          round(tau, 6).as("tau"),
          (col("chi2_total") > tau || col("dead_fire") === 1)
            .cast("int").as("fire"))
        .orderBy("cell")
    },

    // ---- kNN graph over the whole corpus: IVF cells bound the pair
    //      space (equi-join on cell, top-k window per node). Candidate
    //      blocking is k-means → engine-trusted; the exact cosine + rank
    //      over the emitted edges is DuckDB-re-derived from the staged
    //      pairs, same as the ANN family. The cell COUNT derives from a
    //      cheap corpus count (Similarity.autoCells: constant expected
    //      occupancy → linear within-cell pair volume) — the r13 fix for
    //      the fixed-knob form measured quadratic at sf10 (SCALE.md,
    //      round-12 ×100-decade table).
    //      The staged-rerank oracle re-derives cosine+rank from the
    //      emitted pairs, so grading is knob-independent. ----
    //      r15: the blocking FAMILY also derives from the corpus count —
    //      knnGraphAuto switches flat cells → two-level leaves at the
    //      MEASURED crossover (Similarity.FlatToIvf2Vectors ≈ 1e5
    //      vectors/shard, the r14 noop-sink fixture measurement), so the
    //      next decade blocks with the graded s31/s32 path instead of
    //      paying the flat kernel's 12×. Below the crossover the output
    //      is bit-identical to the r13-r14 form (hashes unchanged at
    //      every graded scale).
    QueryDef("s12_knn_graph", stagedRerankSql("s12_knn_graph")) { (s, dir) =>
      Similarity.knnGraphAuto(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 3)
        .orderBy("q_id", "rn")
    },

    // ---- grid-blocked 2-D nearest neighbors (the spatial-join pattern):
    //      square cells of side 0.1 over (embedding[1], embedding[2]),
    //      query explodes into its 3×3 neighborhood, candidates via
    //      EQUI-join on the cell id — never a cross/theta join. FULLY
    //      oracled: the grid assignment, neighborhood, pinned-order
    //      (dx·dx + dy·dy) distance and rank are all plain arithmetic
    //      DuckDB reproduces bit-for-bit (the oracle's BETWEEN join is
    //      set-equivalent to the engine's exploded equi-join). ----
    QueryDef("s17_grid_nn",
      """WITH g AS (
        |  SELECT vec_id,
        |    CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) / CAST(0.1 AS DOUBLE)) AS BIGINT) AS gx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) / CAST(0.1 AS DOUBLE)) AS BIGINT) AS gy
        |  FROM embeddings),
        |q AS (SELECT * FROM g WHERE vec_id % 50 = 0)
        |SELECT q_id, c_id, dist2, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    round((c.x - q.x) * (c.x - q.x) + (c.y - q.y) * (c.y - q.y), 6) AS dist2,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round((c.x - q.x) * (c.x - q.x) + (c.y - q.y) * (c.y - q.y), 6),
        |               c.vec_id) AS rn
        |  FROM q JOIN g c
        |    ON c.gx BETWEEN q.gx - 1 AND q.gx + 1
        |   AND c.gy BETWEEN q.gy - 1 AND q.gy + 1
        |   AND c.vec_id <> q.vec_id)
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.gridNN2d(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 50 === 0, cellSize = 0.1, k = 3)
        .orderBy("q_id", "rn")
    },

    // ---- MIPS (maximum inner product) top-k via the norm-augmentation
    //      reduction — candidates get sqrt(M²−‖x‖²) appended, queries a
    //      0, making augmented-cosine order equal inner-product order, so
    //      the RP-LSH sketch serves MIPS unchanged (the retrieval mode of
    //      un-normalized two-tower/recommender embeddings, where cosine
    //      ANN would rank wrongly). Candidate generation is engine-
    //      trusted (murmur3 hyperplanes, like s03); the exact inner
    //      product, rank, and tie-break over the staged survivors are
    //      DuckDB-re-derived from scratch. SimilaritySpec proves the
    //      reduction analytically (augmented-cos order == dot order) and
    //      measures recall vs brute-force MIPS. ----
    QueryDef("s18_mips_topk",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |staged AS (SELECT q_id, c_id
         |           FROM read_parquet('${ClimateQueries.OutToken}/s18_mips_topk/*.parquet')),
         |scored AS (
         |  SELECT s.q_id, s.c_id, round(list_dot_product(q.e, c.e), 6) AS dot
         |  FROM staged s
         |  JOIN v q ON q.vec_id = s.q_id
         |  JOIN v c ON c.vec_id = s.c_id)
         |SELECT q_id, c_id, dot,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |                          ORDER BY dot DESC, c_id) AS INTEGER) AS rn
         |FROM scored ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.mipsTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 50 === 0, k = 5, bits = 32, bands = 4)
        .orderBy("q_id", "rn")
    },

    // ---- MMR diversified retrieval: greedy 0.7·rel − 0.3·max-sim-to-
    //      picked re-ranking over the depth-20 relevance list — the
    //      query-time face of dedup (plain top-k happily returns k
    //      near-copies; MMR spends rank budget on coverage). The greedy
    //      recurrence unrolls into k−1 declarative steps on BOTH sides:
    //      the engine as anti-join + max-sim agg + argmax window per
    //      step, the oracle as generated per-step CTEs (NOT EXISTS +
    //      correlated max) — same loop emits every step, so the
    //      recurrence cannot drift. FULLY oracled: candidates, pairwise
    //      sims, every greedy pick and score re-derived by DuckDB from
    //      raw embeddings. ----
    QueryDef("s19_mmr_topk", {
      val k = 5
      val steps = (2 to k).map { j =>
        val jm = j - 1
        s"""scored$j AS (
           |  SELECT c.q_id, c.c_id,
           |    floor((0.7 * c.rel - 0.3 * (
           |      SELECT max(s.sim) FROM sims s JOIN picked$jm p
           |        ON p.q_id = s.q_id AND p.c_id = s.b_id
           |      WHERE s.q_id = c.q_id AND s.a_id = c.c_id)) * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS score
           |  FROM cands c
           |  WHERE NOT EXISTS (SELECT 1 FROM picked$jm p
           |                    WHERE p.q_id = c.q_id AND p.c_id = c.c_id)),
           |p$j AS (SELECT q_id, c_id, $j AS step, score FROM (
           |  SELECT q_id, c_id, score,
           |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn
           |  FROM scored$j) WHERE rn = 1),
           |picked$j AS (SELECT * FROM picked$jm UNION ALL SELECT * FROM p$j)""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |cands AS (
         |  SELECT q_id, c_id, cos AS rel FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS c_id, round($duckCos, 6) AS cos,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round($duckCos, 6) DESC, c.vec_id) AS rn
         |    FROM v q CROSS JOIN v c
         |    WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)
         |  WHERE rn <= 20),
         |sims AS (
         |  SELECT x.q_id, x.c_id AS a_id, y.c_id AS b_id,
         |    round(list_dot_product(a.e, b.e) /
         |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS sim
         |  FROM cands x JOIN cands y ON x.q_id = y.q_id AND x.c_id <> y.c_id
         |  JOIN v a ON a.vec_id = x.c_id JOIN v b ON b.vec_id = y.c_id),
         |p1 AS (SELECT q_id, c_id, 1 AS step,
         |  floor((0.7 * rel) * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS score FROM (
         |  SELECT q_id, c_id, rel,
         |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn
         |  FROM cands) WHERE rn = 1),
         |picked1 AS (SELECT q_id, c_id, step, score FROM p1),
         |$steps
         |SELECT q_id, c_id, CAST(step AS INTEGER) AS rn, score
         |FROM picked$k ORDER BY q_id, rn""".stripMargin
    }) { (s, dir) =>
      Similarity.mmrTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 50 === 0, k = 5, depth = 20)
        .orderBy("q_id", "rn")
    },

    // ---- s20: top principal component by DISTRIBUTED power iteration —
    //      the dimensionality-reduction / drift-direction primitive. One
    //      pass reduces the corpus to a d×d covariance (per-row d² HOF
    //      products, no shuffle of raw vectors), then 8 unrolled
    //      power-iteration rounds run on the tiny matrix. The oracle
    //      re-derives EVERY step — moments, covariance assembly, all 8
    //      mat-vec/normalize rounds, sign canonicalization, Rayleigh
    //      eigenvalue — from raw embeddings via generated CTEs (the MMR
    //      playbook); DECIMAL(38,18) aggregates keep both engines
    //      bit-identical through 8 rounds of feedback. ----
    QueryDef("s20_pca_power", {
      val iterCtes = (1 to 8).map { i =>
        s"""w$i AS MATERIALIZED (SELECT c.j,
           |    CAST(sum(CAST(c.cv * v.vv AS DECIMAL(38,18))) AS DOUBLE) AS wv
           |  FROM c JOIN v${i - 1} v ON v.j = c.k GROUP BY 1),
           |nrm$i AS (SELECT sqrt(CAST(sum(CAST(wv * wv AS DECIMAL(38,18))) AS DOUBLE)) AS nr FROM w$i),
           |v$i AS MATERIALIZED (SELECT j, wv / (SELECT nr FROM nrm$i) AS vv FROM w$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH x AS MATERIALIZED (SELECT vec_id,
         |    unnest(range(1, len(embedding) + 1)) AS j,
         |    unnest(CAST(embedding AS DOUBLE[])) AS v
         |  FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |mu AS MATERIALIZED (SELECT j,
         |    CAST(sum(CAST(floor(v * 1e13) AS BIGINT)) AS DOUBLE) / 1e13
         |      / (SELECT n FROM nn) AS mu
         |  FROM x GROUP BY 1),
         |xx AS MATERIALIZED (SELECT a.j AS j, b.j AS k,
         |    CAST(sum(CAST(floor(a.v * b.v * 1e13) AS BIGINT)) AS DOUBLE) / 1e13 AS sxx
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |c AS MATERIALIZED (SELECT xx.j, xx.k,
         |    sxx - (SELECT n FROM nn) * ma.mu * mb.mu AS cv
         |  FROM xx JOIN mu ma ON ma.j = xx.j JOIN mu mb ON mb.j = xx.k),
         |v0 AS (SELECT j, CAST(1 AS DOUBLE) AS vv FROM mu),
         |$iterCtes,
         |sgn AS (SELECT CASE WHEN (SELECT vv FROM v8 ORDER BY abs(vv) DESC, j LIMIT 1) < 0
         |          THEN CAST(-1 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END AS s),
         |lam AS (SELECT CAST(sum(CAST(a.vv * c.cv * b.vv AS DECIMAL(38,18))) AS DOUBLE) AS l
         |        FROM c JOIN v8 a ON a.j = c.j JOIN v8 b ON b.j = c.k),
         |tr AS (SELECT CAST(sum(CAST(cv AS DECIMAL(38,18))) AS DOUBLE) AS t FROM c WHERE j = k)
         |SELECT CAST(v8.j AS INTEGER) AS dim,
         |  ${graft.ops.Prep.floorToSql("vv * (SELECT s FROM sgn)", 6)} AS loading,
         |  ${graft.ops.Prep.floorToSql("(SELECT l FROM lam) / (SELECT t FROM tr)", 6)} AS evr
         |FROM v8 ORDER BY dim""".stripMargin
    }) { (s, dir) =>
      Similarity.topComponent(Tables.embeddings(s, dir), col("embedding"),
          iters = 8)
        .select(col("dim"),
          graft.ops.Prep.floorTo(col("loading"), 6).as("loading"),
          graft.ops.Prep.floorTo(col("evr"), 6).as("evr"))
        .orderBy("dim")
    },

    // ---- s21: nearest-centroid label audit — assign every vector to
    //      its closest per-label centroid and cross-tabulate against its
    //      own label (the annotated-corpus separability check). DECIMAL
    //      centroid means + DECIMAL distance sums keep the ranking
    //      inputs bit-identical cross-engine; ties break to the lowest
    //      label. Accuracy is the diagonal-mass integer ratio. ----
    QueryDef("s21_centroid_labels",
      s"""WITH x AS MATERIALIZED (SELECT vec_id, label,
         |    unnest(range(1, len(embedding) + 1)) AS dim,
         |    unnest(CAST(embedding AS DOUBLE[])) AS v
         |  FROM embeddings),
         |c AS MATERIALIZED (SELECT label AS clabel, dim,
         |    CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS cv
         |  FROM x GROUP BY 1, 2),
         |d AS (SELECT x.vec_id, x.label, c.clabel,
         |    CAST(sum(CAST((v - cv) * (v - cv) AS DECIMAL(38,18))) AS DOUBLE) AS d2
         |  FROM x JOIN c ON c.dim = x.dim GROUP BY 1, 2, 3),
         |p AS (SELECT vec_id, label, clabel,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
         |  FROM d),
         |cm AS (SELECT label, clabel AS pred, count(*) AS n
         |       FROM p WHERE rn = 1 GROUP BY 1, 2),
         |acc AS (SELECT CAST(sum(CASE WHEN label = pred THEN n ELSE 0 END) AS DOUBLE)
         |          / sum(n) AS a FROM cm)
         |SELECT label, pred, n,
         |  ${graft.ops.Prep.floorToSql("(SELECT a FROM acc)", 6)} AS accuracy
         |FROM cm ORDER BY label, pred""".stripMargin) { (s, dir) =>
      Similarity.nearestCentroidEval(Tables.embeddings(s, dir),
          col("vec_id"), col("label"), col("embedding"))
        .select(col("label"), col("pred"), col("n"),
          graft.ops.Prep.floorTo(col("accuracy"), 6).as("accuracy"))
        .orderBy("label", "pred")
    },

    // ---- s22: embedding-space health stats — per-dim mean/variance
    //      (dead-dimension detection: var ≈ 0) plus the corpus
    //      ANISOTROPY ratio ‖μ‖² / (Σ‖x‖²/n) (Ethayarajh-style: a mean
    //      vector carrying a large share of the energy degrades cosine
    //      retrieval — the "all vectors point the same way" pathology).
    //      One explode + one (dim) aggregate with DECIMAL sums; the
    //      64-row second rollup is decimal-summed too, so every number
    //      is order-independent cross-engine. ----
    QueryDef("s22_embedding_stats",
      s"""WITH x AS (SELECT vec_id,
         |    unnest(range(1, len(embedding) + 1)) AS dim,
         |    unnest(CAST(embedding AS DOUBLE[])) AS v
         |  FROM embeddings),
         |m AS (SELECT dim,
         |    CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS s,
         |    CAST(sum(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE) AS q,
         |    count(*) AS n
         |  FROM x GROUP BY 1),
         |d AS (SELECT dim, n, s / n AS mu,
         |    (q - n * (s / n) * (s / n)) / (n - 1) AS var, q
         |  FROM m),
         |g AS (SELECT
         |    CAST(sum(CAST(mu * mu AS DECIMAL(38,18))) AS DOUBLE) AS mu2,
         |    CAST(sum(CAST(q AS DECIMAL(38,18))) AS DOUBLE) AS qt,
         |    max(n) AS n
         |  FROM d)
         |SELECT CAST(dim AS INTEGER) AS dim,
         |  ${graft.ops.Prep.floorToSql("mu", 6)} AS mu,
         |  ${graft.ops.Prep.floorToSql("var", 6)} AS var,
         |  ${graft.ops.Prep.floorToSql("g.mu2 / (g.qt / g.n)", 6)} AS anisotropy
         |FROM d CROSS JOIN g ORDER BY dim""".stripMargin) { (s, dir) =>
      val x = Tables.embeddings(s, dir)
        .select(posexplode(transform(col("embedding"), v => v.cast("double"))))
        .select((col("pos") + 1).as("dim"), col("col").as("v"))
      val m = x.groupBy("dim").agg(
        sum(col("v").cast("decimal(38,18)")).cast("double").as("s"),
        sum((col("v") * col("v")).cast("decimal(38,18)")).cast("double").as("q"),
        count(lit(1)).as("n"))
      val d = m.select(col("dim"), col("n"), (col("s") / col("n")).as("mu"),
        ((col("q") - col("n") * (col("s") / col("n")) * (col("s") / col("n")))
          / (col("n") - 1)).as("var"), col("q"))
      val g = d.agg(
        sum((col("mu") * col("mu")).cast("decimal(38,18)")).cast("double").as("mu2"),
        sum(col("q").cast("decimal(38,18)")).cast("double").as("qt"),
        max(col("n")).as("gn"))
      d.crossJoin(broadcast(g))
        .select(col("dim").cast("int").as("dim"),
          graft.ops.Prep.floorTo(col("mu"), 6).as("mu"),
          graft.ops.Prep.floorTo(col("var"), 6).as("var"),
          graft.ops.Prep.floorTo(col("mu2") / (col("qt") / col("gn")), 6)
            .as("anisotropy"))
        .orderBy("dim")
    },

    // ---- mutual nearest neighbors (reciprocal best match) — the pair-
    //      mining criterion of bitext mining / SemDeDup-style "keep one
    //      of each reciprocal pair": (a,b) survives iff each is the
    //      other's top-1 under the SAME symmetric 3×3 grid-blocked
    //      candidate relation as s17. Every point is a query, so the
    //      probe side explodes into its neighborhood and EQUI-joins on
    //      cell — a shuffle join keyed by cell, nothing broadcast,
    //      nothing quadratic. FULLY oracled: grid assignment, rounded
    //      distance, rank-1 pick and the reciprocity self-join are all
    //      plain relational algebra DuckDB re-derives from raw
    //      embeddings (the BETWEEN join is set-equivalent to the
    //      exploded equi-join). ----
    // cs: the corpus-derived grid side (Similarity.autoCellSize) —
    // integer floor-divide, one greatest, one sqrt, one division, every
    // op IEEE-correctly-rounded on exact inputs, so the oracle derives
    // the bit-identical double the engine embeds as its literal.
    QueryDef("s23_mutual_nn",
      """WITH cs AS (
        |  SELECT CAST(0.1 AS DOUBLE) / sqrt(greatest(
        |    CAST((count(*) // 2000) AS DOUBLE), CAST(1 AS DOUBLE))) AS cs
        |  FROM embeddings),
        |g AS (
        |  SELECT vec_id,
        |    CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) / (SELECT cs FROM cs)) AS BIGINT) AS gx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) / (SELECT cs FROM cs)) AS BIGINT) AS gy
        |  FROM embeddings),
        |nn AS (
        |  SELECT q_id, c_id, dist2 FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |      round((c.x - q.x) * (c.x - q.x) + (c.y - q.y) * (c.y - q.y), 6) AS dist2,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round((c.x - q.x) * (c.x - q.x) + (c.y - q.y) * (c.y - q.y), 6),
        |                 c.vec_id) AS rn
        |    FROM g q JOIN g c
        |      ON c.gx BETWEEN q.gx - 1 AND q.gx + 1
        |     AND c.gy BETWEEN q.gy - 1 AND q.gy + 1
        |     AND c.vec_id <> q.vec_id)
        |  WHERE rn = 1)
        |SELECT l.q_id AS id_a, l.c_id AS id_b, l.dist2
        |FROM nn l JOIN nn r ON l.q_id = r.c_id AND l.c_id = r.q_id
        |WHERE l.q_id < l.c_id
        |ORDER BY id_a""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.mutualNN2d(emb, "vec_id", "embedding",
          cellSize = Similarity.autoCellSize(emb.count()))
        .orderBy("id_a")
    },

    // ---- s24: simplified silhouette per label (centroid variant) — the
    //      clustering-quality audit next to s21's confusion matrix:
    //      s = (b²−a²)/max(a²,b²) per point against own vs nearest-other
    //      centroid, label-mean via integer-quantized floor(s·10⁹) sums
    //      (exact in any order, no decimal detour). FULLY oracled:
    //      centroids, distances, the argmin and the quantized mean are
    //      all DuckDB-re-derivable arithmetic. ----
    QueryDef("s24_silhouette",
      s"""WITH x AS MATERIALIZED (SELECT vec_id, label,
         |    unnest(range(1, len(embedding) + 1)) AS dim,
         |    unnest(CAST(embedding AS DOUBLE[])) AS v
         |  FROM embeddings),
         |c AS MATERIALIZED (SELECT label AS clabel, dim,
         |    CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS cv
         |  FROM x GROUP BY 1, 2),
         |d AS (SELECT x.vec_id, x.label, c.clabel,
         |    CAST(sum(CAST((v - cv) * (v - cv) AS DECIMAL(38,18))) AS DOUBLE) AS d2
         |  FROM x JOIN c ON c.dim = x.dim GROUP BY 1, 2, 3),
         |a AS (SELECT vec_id, label, d2 AS a2 FROM d WHERE clabel = label),
         |b AS (SELECT vec_id, min(d2) AS b2 FROM d WHERE clabel <> label
         |      GROUP BY 1),
         |sil AS (SELECT a.label,
         |    CASE WHEN greatest(a2, b2) = 0 THEN 0.0
         |         ELSE (b2 - a2) / greatest(a2, b2) END AS s
         |  FROM a JOIN b USING (vec_id))
         |SELECT label, count(*) AS n,
         |  ${graft.ops.Prep.floorToSql(
               "CAST(sum(CAST(floor(s * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE)" +
                 " / (CAST(count(*) AS DOUBLE) * CAST(1000000000 AS DOUBLE))", 6)} AS mean_sil
         |FROM sil GROUP BY 1 ORDER BY label""".stripMargin) { (s, dir) =>
      Similarity.silhouetteByLabel(Tables.embeddings(s, dir),
          col("vec_id"), col("label"), col("embedding"))
        .select(col("label"), col("n"),
          graft.ops.Prep.floorTo(col("mean_sil"), 6).as("mean_sil"))
        .orderBy("label")
    },

    // ---- s25: embedding-space decontamination audit — the SEMANTIC
    //      member of the decontamination family (t17 exact shingles,
    //      t26 map-side Bloom): per eval doc (vec_id % 50 = 0), the
    //      count of train vectors pressing above cos τ=0.3, the max
    //      cosine, and the closest train id. The eval side broadcasts
    //      (a benchmark is small by nature); the train corpus streams
    //      map-side — the shape that stays flat when train grows
    //      1000×. FULLY oracled (same cosine formula, rounded 6). ----
    QueryDef("s25_embed_decontam",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS t_id, round($duckCos, 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0),
         |r AS (SELECT q_id, t_id, cos,
         |        row_number() OVER (PARTITION BY q_id
         |                           ORDER BY cos DESC, t_id) AS rn
         |      FROM p)
         |SELECT q_id,
         |  CAST(sum(CASE WHEN cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |  max(cos) AS max_cos,
         |  max(CASE WHEN rn = 1 THEN t_id END) AS closest_train
         |FROM r GROUP BY 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
      Similarity.contaminationAudit(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0, tau = 0.3)
        .orderBy("q_id")
    },

    // ---- binary (1-bit) quantized ANN: the extreme compression point of
    //      the quantization family (s13 int8, s07 PQ) — per-dim sign bits
    //      in two longs, Hamming shortlist via bit_count(xor), exact
    //      cosine re-rank of the k·8 survivors. Sign bits and Hamming
    //      counts are exact integers, so this compressed path has a
    //      COMPLETE oracle (shortlist, re-rank, tie-breaks re-derived by
    //      DuckDB from scratch — the s13 discipline at 1 bit/dim). ----
    QueryDef("s26_ann_binary",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |bits AS (SELECT vec_id, e,
         |    CAST(list_sum(list_transform(range(1, 33),
         |      i -> CASE WHEN i <= len(e) AND e[i] > 0
         |           THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS b1,
         |    CAST(list_sum(list_transform(range(33, 65),
         |      i -> CASE WHEN i <= len(e) AND e[i] > 0
         |           THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT) AS b2
         |  FROM v),
         |q AS (SELECT vec_id AS q_id, e AS qe, b1 AS qb1, b2 AS qb2
         |      FROM bits WHERE vec_id % 50 = 0),
         |short AS (
         |  SELECT * FROM (
         |    SELECT q.q_id, q.qe, d.vec_id AS c_id, d.e AS ce,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        bit_count(xor(q.qb1, d.b1)) + bit_count(xor(q.qb2, d.b2)),
         |        d.vec_id) AS sl
         |    FROM q CROSS JOIN bits d WHERE d.vec_id <> q.q_id)
         |  WHERE sl <= 40),
         |fin AS (
         |  SELECT q_id, c_id,
         |    round(list_dot_product(qe, ce) /
         |      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 6) AS cos
         |  FROM short)
         |SELECT q_id, c_id, cos, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
         |  FROM fin)
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      Similarity.binaryTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", col("vec_id") % 50 === 0, k = 5, overfetch = 8)
        .orderBy("q_id", "rn")
    },

    // ---- IVF recall-vs-nprobe sweep — the ANN EVALUATION harness as a
    //      first-class query (t46 is the text-side twin): recall@5 of the
    //      IVF probe at nprobe ∈ {1, 2, 4} against the exact brute-force
    //      truth, as exact hit counts + one final division. FULLY
    //      oracled: DuckDB re-derives the cell assignment AND the probe
    //      ranking from the staged centroid table (the s09 argmin), the
    //      per-nprobe IVF top-k, the brute-force truth, and the hit
    //      counts — the entire accuracy/cost tradeoff curve is
    //      re-computed from scratch; only the centroid VALUES are
    //      engine-trusted. ----
    QueryDef("s27_ivf_recall", {
      def nprobeSql(p: Int): String =
        s"""qc$p AS (SELECT q_id, cell FROM qcellrank WHERE rn <= $p),
           |ivf$p AS (SELECT q_id, c_id FROM (
           |  SELECT q.q_id, a.vid AS c_id,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      round(list_dot_product(q.qe, c.e) /
           |        (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 6)
           |        DESC, a.vid) AS rn
           |  FROM qv q JOIN qc$p ON qc$p.q_id = q.q_id
           |       JOIN assign a ON a.cell = qc$p.cell
           |       JOIN v c ON c.vec_id = a.vid
           |  WHERE a.vid <> q.q_id) WHERE rn <= 5),
           |hit$p AS (SELECT count(*) AS h FROM ivf$p i
           |          JOIN brute b ON b.q_id = i.q_id AND b.c_id = i.c_id)"""
          .stripMargin
      s"""WITH cents AS (SELECT cell, list(value ORDER BY pos) AS c
         |  FROM read_parquet('${ClimateQueries.OutToken}/_staged_ivf_centroids/*.parquet')
         |  GROUP BY cell),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |assign AS (SELECT vec_id AS vid, cell FROM (
         |  SELECT v.vec_id, cents.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, cents.c)
         |        + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |  FROM v CROSS JOIN cents) WHERE rn = 1),
         |qv AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id % 50 = 0),
         |qcellrank AS (
         |  SELECT q.q_id, cents.cell,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      list_dot_product(q.qe, q.qe) - 2.0 * list_dot_product(q.qe, cents.c)
         |        + list_dot_product(cents.c, cents.c), cents.cell) AS rn
         |  FROM qv q CROSS JOIN cents),
         |brute AS (SELECT q_id, c_id FROM (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      round(list_dot_product(q.qe, c.e) /
         |        (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        DESC, c.vec_id) AS rn
         |  FROM qv q CROSS JOIN v c WHERE c.vec_id <> q.q_id) WHERE rn <= 5),
         |nq AS (SELECT count(*) AS n FROM qv),
         |${nprobeSql(1)},
         |${nprobeSql(2)},
         |${nprobeSql(4)}
         |SELECT * FROM (
         |  SELECT 1 AS nprobe, nq.n AS n_queries, hit1.h AS n_hits,
         |    CAST(hit1.h AS DOUBLE) / (5 * nq.n) AS recall
         |  FROM nq CROSS JOIN hit1
         |  UNION ALL SELECT 2, nq.n, hit2.h, CAST(hit2.h AS DOUBLE) / (5 * nq.n)
         |  FROM nq CROSS JOIN hit2
         |  UNION ALL SELECT 4, nq.n, hit4.h, CAST(hit4.h AS DOUBLE) / (5 * nq.n)
         |  FROM nq CROSS JOIN hit4)
         |ORDER BY nprobe""".stripMargin
    }) { (s, dir) =>
      // brute-force truth scans queries × corpus BY DESIGN — refuse
      // loudly past the evaluation-sample envelope (Guard discipline)
      val emb = graft.core.Guard.quadratic(Tables.embeddings(s, dir),
        "s27_ivf_recall brute-force truth")
      val pred = col("vec_id") % 50 === 0
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, k = 5)
        .select(col("q_id"), col("c_id")).localCheckpoint()
      val nq = emb.filter(pred).agg(count(lit(1)).as("n_queries"))
      // train ONCE for the whole sweep (ivfTopKWith): the quantizer and
      // corpus assignment are nprobe-independent — only the probe set and
      // rank rerun per configuration
      val cents = graft.ext.IVF.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      val assigned = graft.ext.IVF.assignCells(
          emb.select(col("vec_id").as("vid"),
            col("embedding").cast("array<double>").as("v")), cents)
        .localCheckpoint()
      val q = emb.filter(pred).select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("q_vec"))
      Seq(1, 2, 4).map { p =>
        val hits = graft.ext.IVF.ivfTopKWith(cents, assigned, q, k = 5, nprobe = p)
          .select(col("q_id"), col("c_id"))
          .join(brute, Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("n_hits"))
        nq.crossJoin(hits)
          .select(lit(p).as("nprobe"), col("n_queries"), col("n_hits"),
            (col("n_hits").cast("double") / (lit(5) * col("n_queries")))
              .as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    },

    // ---- embedding-space anisotropy audit: mean + quantiles of the
    //      cosine over a deterministic random-pair sample (Ethayarajh
    //      2019's cone-collapse diagnostic — mean cos >> 0 silently
    //      breaks every cosine-threshold dedup/search setting; this is
    //      how a pipeline notices BEFORE deploying thresholds). Pair
    //      sampling is hash-bucketed (portableHash -> per-bucket rank ->
    //      rank*31+7 mod bucketSize partner): O(n) pairs, no global
    //      index, no cross join — fully re-derived in DuckDB. The mean
    //      is a DECIMAL(18,6) sum of the rounded cosines (order-free
    //      exact); quantiles interpolate the same rounded multiset. ----
    QueryDef("s28_anisotropy", {
      val h = graft.ops.Prep.portableHashSql("1", "vec_id")
      s"""WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e,
         |    $h % 64 AS b
         |  FROM embeddings),
         |r AS (SELECT vid, e, b,
         |    row_number() OVER (PARTITION BY b ORDER BY vid) - 1 AS rank,
         |    count(*) OVER (PARTITION BY b) AS bsz
         |  FROM v),
         |pr AS (SELECT a.vid,
         |    round(list_dot_product(a.e, c.e) /
         |      (sqrt(list_dot_product(a.e, a.e)) *
         |       sqrt(list_dot_product(c.e, c.e))), 6) AS cos
         |  FROM r a JOIN r c ON c.b = a.b
         |    AND c.rank = (a.rank * 31 + 7) % a.bsz
         |  WHERE (a.rank * 31 + 7) % a.bsz <> a.rank)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*), 6) AS avg_cos,
         |  round(quantile_cont(cos, 0.05), 6) AS p05_cos,
         |  round(quantile_cont(cos, 0.5), 6) AS p50_cos,
         |  round(quantile_cont(cos, 0.95), 6) AS p95_cos
         |FROM pr""".stripMargin
    }) { (s, dir) =>
      Similarity.anisotropyPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", buckets = 64)
        .agg(count(lit(1)).as("n_pairs"),
          round(graft.core.Exact.decimalSumExpr(col("cos")) /
            count(lit(1)), 6).as("avg_cos"),
          round(expr("percentile(cos, 0.05)"), 6).as("p05_cos"),
          round(expr("percentile(cos, 0.5)"), 6).as("p50_cos"),
          round(expr("percentile(cos, 0.95)"), 6).as("p95_cos"))
    },
  )
}
