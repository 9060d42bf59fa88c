package graft

import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's public query surface. Each registry below contributes
  * `QueryDef`s (Spark definition + optional DuckDB oracle SQL); this
  * object flattens them into the maps the Verify/Bench harness consumes.
  */
object SparkEntry {

  private def registry: Seq[QueryDef] =
    RelationalQueries.all ++ JoinQueries.all ++ SubqueryQueries.all ++
      AnalyticQueries.all ++ TimeSeriesQueries.all ++ BehaviorQueries.all ++
      ClimateQueries.all ++ TextQueries.all ++ SimilarityQueries.all ++
      MediaStreamQueries.all ++ PipelineQueries.all ++ PrepQueries.all ++
      MiningQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_zscore_events")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** Bench-only entries: timed by [[graft.Bench]] but NOT graded by
    * Verify — each is a COMPOSITION of already-oracled queries, timed in
    * the shape the reference actually runs it. c09 is the full
    * bronze→silver→gold 4-table pipeline as one unit (fresh lineage per
    * call — a lost cache() in the shared climate lineage shows up here
    * as a board regression, invisible to the per-query entries that
    * share the session memo).
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c09_full_pipeline" -> ((s, _) => ClimateQueries.fullPipelineFresh(s)),
    // t23's full chain with NO session memos (fresh shingles + τ=1/2
    // prefix-filter + CC + survivors): keeps the end-to-end dedup cost
    // on the board now that t40/t23/t28 share the corpus tables
    "t53_dedup_chain_fresh" -> ((s, dir) => TextQueries.dedupChainFresh(s, dir)),
    // the co-purchase edge build with NO session memo: keeps the
    // end-to-end build cost on the board now that the six graph queries
    // (q63/q77/q84/q102/q127/q132) share the edge table (r16,
    // SharedGraph scaladoc — the same pattern)
    "g01_co_edges_fresh" -> ((s, dir) => graft.queries.SharedGraph.coEdgesFresh(s, dir)))

  /** The `(keys…, pos, value)` rows of a model table's array column `c`,
    * ordered by keys then pos — the flattened shape a staged table takes.
    */
  private def flattened(model: DataFrame, keys: String*): DataFrame = {
    val ks = keys.map(functions.col)
    model.select(ks :+ functions.posexplode(functions.col("c")): _*)
      .select(ks :+ functions.col("pos") :+ functions.col("col").as("value"): _*)
      .orderBy(keys.head, keys.tail :+ "pos": _*)
  }

  /** Auxiliary engine artifacts Verify stages alongside the query dumps —
    * NOT graded queries, just inputs an oracle needs to re-derive an
    * otherwise engine-trusted step (referenced via the OutToken path).
    * `_staged_ivf_centroids` is the coarse-quantizer table behind s09,
    * staged FLATTENED as (cell, pos, value) scalar rows — the harness
    * row-sorts every dumped parquet with pandas, which cannot order an
    * array column — and s09's oracle rebuilds the vectors with DuckDB's
    * list(value ORDER BY pos). Given these centroids, the cell assignment
    * is pure deterministic arithmetic DuckDB re-derives exactly.
    * kmeansCentroids is deterministic BY CONSTRUCTION (decimal-sum
    * means — merge-order-independent, see IVF.kmeansCentroidsInit), so
    * this second call reproduces s09's internals bit-for-bit — the same
    * property s08's oracle already relies on.
    */
  def staged: Map[String, (SparkSession, String) => DataFrame] = Map(
    "_staged_ivf_centroids" -> ((s, dir) =>
      flattened(graft.ext.IVF.kmeansCentroids(
        graft.core.Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 3), "cell")),
    // The (doc, band, bucket) MinHash band-hash rows behind t30: given
    // these, the capped bucket self-join AND the exact-Jaccard verify are
    // pure relational algebra DuckDB re-derives from scratch — only the
    // murmur3 band-hash values stay engine-trusted. Deterministic across
    // calls (order-invariant signature; see Dedup.bandRows).
    // The PENULTIMATE k-means round's centroids (iters=2 of the same
    // deterministic training behind _staged_ivf_centroids' iters=3):
    // given these, s30 re-derives one FULL k-means round in DuckDB —
    // argmin assignment (the s09 pattern) + exact decimal mean-update —
    // and hash-grades it against the engine's final centroids. This
    // closes the last engine-trusted training stage: the ANN family's
    // oracles re-derive everything FROM the centroids, and s30 now
    // grades how the centroids themselves are produced.
    "_staged_ivf_centroids_prev" -> ((s, dir) =>
      flattened(graft.ext.IVF.kmeansCentroids(
        graft.core.Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 2), "cell")),
    // The REFINED centroids behind s43's refresh grading: one warm Lloyd
    // round (IVF.kmeansRefine) from the k=8/iters=3 stored quantizer —
    // the exact table storedRefinedCentroids persists (bit-identical by
    // the refine(train(i), 1) == train(i+1) identity IVFSkewSpec pins).
    // Given these plus _staged_ivf_centroids, s43's old/new argmins are
    // pure arithmetic DuckDB re-derives from raw embeddings.
    "_staged_ivf_centroids_refined" -> ((s, dir) => {
      val emb = graft.core.Tables.embeddings(s, dir)
      flattened(graft.ext.IVF.kmeansRefine(emb, "vec_id", "embedding",
          graft.ext.IVF.kmeansCentroids(emb, "vec_id", "embedding",
            k = 8, iters = 3),
          iters = 1), "cell")
    }),
    // The two-level quantizer's model tables behind s31/s32 (same
    // flattened (cell, pos, value) shape): L1 is a plain k1-cell
    // kmeansCentroids call; L2 is the residual codebook, which depends on
    // the full L1 train+assign+subtract chain — IVF.twoLevelModel is
    // deterministic by construction end-to-end, so this separate staging
    // call reproduces the query's internals bit-for-bit (the
    // _staged_ivf_centroids discipline, one level deeper). Level sizes
    // derive from the corpus count (IVF.autoK1K2) in BOTH the staging
    // and the registered queries — the s12 derived-knob discipline.
    "_staged_ivf2_l1" -> ((s, dir) => {
      val emb = graft.core.Tables.embeddings(s, dir)
      val (k1, _) = graft.ext.IVF.autoK1K2(emb.count())
      flattened(graft.ext.IVF.kmeansCentroids(emb, "vec_id", "embedding",
          k = k1, iters = 3), "cell")
    }),
    "_staged_ivf2_l2" -> ((s, dir) => {
      val emb = graft.core.Tables.embeddings(s, dir)
      val (k1, k2) = graft.ext.IVF.autoK1K2(emb.count())
      flattened(graft.ext.IVF.twoLevelModel(emb, "vec_id", "embedding",
          k1 = k1, k2 = k2, iters = 3)._2, "cell")
    }),
    // The m=8 per-subspace PQ codebooks behind s34 (flattened (sub, cell,
    // pos, value)): the same deterministic training s07 runs (hash-spread
    // seeds, decimal-sum means — reproduces bit-for-bit across calls);
    // given these, the sub-slices, argmin code assignment and
    // decimal-summed distortion are pure arithmetic DuckDB re-derives.
    "_staged_pq_codebooks" -> ((s, dir) =>
      flattened(graft.ext.PQ.codebooks(
        graft.core.Tables.embeddings(s, dir), "vec_id", "embedding",
        m = 8, k = 16, iters = 2), "sub", "cell")),
    // The m=8 RESIDUAL-PQ codebooks behind s41 (trained on v − c₁ against
    // the k=8/iters=3 coarse quantizer — the IVFADC convention): same
    // flattened (sub, cell, pos, value) shape and the same bit-for-bit
    // reproducibility chain as _staged_pq_codebooks, one residual
    // subtraction deeper (zip_with == DuckDB list_transform exactly, the
    // s31 precedent).
    "_staged_respq_codebooks" -> ((s, dir) => {
      val emb = graft.core.Tables.embeddings(s, dir)
      val cents = graft.ext.IVF.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      flattened(graft.ext.PQ.residualCodebooks(emb, "vec_id", "embedding", cents,
          m = 8, k = 16, iters = 2), "sub", "cell")
    }),
    "_staged_lsh_bands" -> ((s, dir) =>
      graft.ext.Dedup.lshBandTable(
        graft.core.Tables.documents(s, dir),
        functions.col("doc_id"), functions.col("text"))
        .orderBy("doc", "band")),
    // The climate fact's synthetic-noise grain (station_id, year, month,
    // local_noise) — the one engine-trusted (Murmur3) input behind c03's
    // full-chain DuckDB oracle; see Climate.noiseTable. Fixture-driven,
    // dir-independent, deterministic across calls.
    "_staged_climate_noise" -> ((s, _) =>
      graft.queries.ClimateQueries.stagedNoiseTable(s)),
    // The 50 per-station window mean/std doubles inside c03's z-scores,
    // pulled from the session-memoized cached lineage (bit-identical to
    // the dump by construction — see ClimateQueries.stagedStatsTable).
    "_staged_climate_stats" -> ((s, _) =>
      graft.queries.ClimateQueries.stagedStatsTable(s)),
    // The per-word DSIR log ratios behind t49 — ln() is the one
    // engine-trusted step (no cross-libm bit guarantee); deterministic
    // across calls (exact integer counts → one ln per word).
    "_staged_dsir_ratios" -> ((s, dir) =>
      graft.ext.TextOps.dsirLogRatios(
        graft.core.Tables.documents(s, dir),
        functions.col("doc_id"), functions.col("text"),
        functions.col("lang") === "en")
        .orderBy("w")))
}
