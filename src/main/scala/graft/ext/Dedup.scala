package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines: exact (hash-groupBy),
  * n-gram Jaccard, MinHash+LSH, SimHash. Built-in expressions end to end
  * (no UDFs): shingling via `transform`/`sequence` HOFs, minhashing via
  * per-seed `hash` min-aggregates, banding via `hash` of signature slices.
  *
  * Scale posture (the whole point of these operators at 100 TB):
  *  - exact dedup = one hash-partitioned aggregate on a 16-byte key;
  *  - MinHash: explode(shingles) is the big intermediate — partial
  *    min-aggregation combines map-side, so the shuffle carries one
  *    (doc, 64×min) row per doc, not one row per shingle;
  *  - LSH banding turns the O(n²) pair space into per-bucket joins; the
  *    candidate verify is a self-join only on colliding buckets;
  *  - SimHash pairs use 16-bit chunk blocking (pigeonhole: hamming ≤ 3
  *    ⇒ some chunk equal) instead of a cross join.
  */
object Dedup {

  // ---------- exact ----------

  /** Group identical texts: one row per distinct text with the surviving
    * (minimum) id and the duplicate count.
    */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Survivors only: keep the min-id row per canonical fingerprint. */
  def dedupExact(df: DataFrame, id: String, text: String): DataFrame = {
    val keep = df.groupBy(TextOps.fingerprint(col(text)).as("fp"))
      .agg(min(col(id)).as(id))
      .drop("fp")
    df.join(keep, Seq(id), "left_semi")
  }

  /** URL-level dedup — the FIRST pass a crawl corpus gets, before any
    * content hashing (CommonCrawl-style: most duplicate pages share a
    * URL modulo tracking params/case/slashes, and cutting them here
    * costs one key-agg instead of MinHash): group by
    * [[TextOps.canonicalizeUrl]] and keep the min-id survivor per
    * canonical key, t05's survivor rule on the canonical URL. Returns
    * (canonical_url, keep_id, n_absorbed). The canonical key is pure
    * map-side expression work (parse_url + regexp + array HOFs), so the
    * ONLY data-sized shuffle is the partial-agg exchange on grouped
    * rows; callers join survivors back to the corpus on the id (ids
    * shuffle, payloads don't — the dedupExact join-back shape, which at
    * 100 TB beats dragging document bytes through min_by). */
  def urlSurvivors(df: DataFrame, id: Column, url: Column): DataFrame =
    df.groupBy(TextOps.canonicalizeUrl(url).as("canonical_url"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_absorbed"))

  // ---------- shingling + exact Jaccard ----------

  /** Distinct word n-gram shingles from a PRE-SPLIT words column
    * (1-based element_at). Two sharp edges, both measured:
    *  - Spark's sequence(1, 0) counts DOWN ([1,0]) → size < n must
    *    short-circuit to an empty array;
    *  - `w` must be a column reference, NOT an inline split(...) — each
    *    element_at re-evaluates its argument inside the lambda, so an
    *    inline split re-tokenizes the text 3× per shingle (16× slower
    *    at sf0.1: 11 s → 0.7 s for the explode).
    */
  def shinglesOfWords(w: Column, n: Int = 3): Column =
    array_distinct(gramsOfWords(w, n))

  /** POSITIONAL word n-grams (one per starting position, duplicates
    * preserved) — the multiplicity-aware base [[shinglesOfWords]]
    * deduplicates. [[crossDocDupRatio]] needs every position: the
    * duplicated-span fraction counts gram OCCURRENCES, not distinct grams.
    */
  def gramsOfWords(w: Column, n: Int): Column =
    // r16: native WordGrams kernel — bit-identical to the HOF chain
    //   when(size(w) - (n-1) >= 1, transform(sequence(1, cnt),
    //     i => concat_ws(" ", element_at(w, i) ... element_at(w, i+n-1))))
    //     .otherwise(array())
    // (DedupSpec pins parity incl. nulls/short docs) but one pass with no
    // per-gram lambda dispatch: the interpreted HOF evaluation was the
    // dominant task CPU of the text-dedup family (guide §4). Built as the
    // expression itself, not a registered-function call, so it resolves on
    // the session of whatever DataFrame uses it.
    org.apache.spark.sql.graft.NativeColumn(w)(args =>
      graft.functions.WordGrams(args.head,
        org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Convenience single-column form — fine for small/test data; the
    * df-level operators below always pre-split (see shinglesOfWords).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfWords(TextOps.words(text), n)

  /** Exploded (doc, s) shingle rows. The words column is materialized in
    * a Project UNDER the Generate — explode is the one plan barrier
    * CollapseProject won't inline a split() through (two stacked Projects
    * get merged, which would put split back inside the lambda and
    * re-tokenize per element; measured 20× slower).
    */
  private[graft] def shingleRows(df: DataFrame, id: Column, text: Column,
                          n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc"), TextOps.words(text).as("w"))
      .select(col("doc"), explode(shinglesOfWords(col("w"), n)).as("s"))
  }

  /** All-pairs n-gram Jaccard via shingle-inverted-index join:
    * explode shingles → join on shingle (id_a < id_b) → |∩| per pair →
    * jaccard = |∩| / (|A|+|B|−|∩|). Returns (id_a, id_b, jaccard).
    *
    * `maxDf` is the hot-shingle stop-list: shingles appearing in more than
    * `maxDf` docs are dropped BEFORE the self-join — a single boilerplate
    * shingle shared by 10⁶ docs would otherwise contribute 10¹² join rows,
    * re-creating the quadratic blowup the inverted index exists to avoid
    * (the standard df-cap in production dedup). With a finite cap the
    * Jaccard is computed consistently over the surviving (informative)
    * shingle space: sizes and intersections both exclude stop-listed
    * shingles. The default keeps everything — the exact oracle form.
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column, n: Int = 3,
                   maxDf: Long = Long.MaxValue): DataFrame = {
    // Join on xxhash64(shingle), not the shingle string: 8-byte shuffle
    // keys instead of ~30-byte strings (same results; a 64-bit collision
    // altering a count is ~2^-64 per shingle pair — ignorable).
    // localCheckpoint: the (doc, sh) rows feed FOUR consumers (both join
    // sides + both size lookups) and Catalyst plans four full
    // tokenize+shingle+explode passes otherwise (no exchange reuse —
    // the subtrees differ; measured 4 scans in the physical plan).
    // Materialized it's 16 bytes/row; on a cluster swap for persist() or
    // a staged table — same role, executor-loss tolerant.
    val shAll = shingleRows(df, id, text, n)
      .select(col("doc"), xxhash64(col("s")).as("sh"))
      .localCheckpoint()
    val sh =
      if (maxDf == Long.MaxValue) shAll
      else {
        // document frequency via an unordered window on the shingle key:
        // one exchange, and the output stays hash-partitioned on `sh` so
        // the self-join below reuses the partitioning (counting within a
        // hot shingle's partition is linear — the cap prevents the
        // QUADRATIC pairing, not the linear count)
        val wdf = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
        shAll.withColumn("df", count(lit(1)).over(wdf))
          .filter(col("df") <= maxDf).drop("df")
      }
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
  }

  /** Set-similarity join via PREFIX FILTERING (the PPJoin/AllPairs family,
    * Xiao et al. 2008 / Bayardo et al. 2007): exact Jaccard ≥ τ pairs with a
    * COMPLETENESS GUARANTEE, unlike [[jaccardPairs]]'s `maxDf` stop-list
    * (which trades recall on boilerplate-heavy corpora) or MinHash-LSH
    * (probabilistic recall).
    *
    * Order every doc's distinct shingles by GLOBAL rarity (df asc, shingle
    * asc — rarest first) and keep only the first
    * `|x| − ⌈τ·|x|⌉ + 1` as its *prefix*. If J(x,y) ≥ τ then
    * |x∩y| ≥ τ·max(|x|,|y|) (from i/(|x|+|y|−i) ≥ τ and |y| ≥ i), so the
    * GLOBALLY-SMALLEST common token lies inside BOTH prefixes (were it
    * past x's prefix, all ≥ ⌈τ|x|⌉ common tokens would fit in x's suffix
    * of size ⌈τ|x|⌉ − 1 — impossible; symmetrically for y). Hence the
    * prefix ⋈ prefix self-join is complete (DedupSpec proves it
    * mechanically against brute force), and the length filter
    * τ·max(|x|,|y|) ≤ min(|x|,|y|) (also implied by overlap ≥ τ·max)
    * prunes candidates before the verify.
    *
    * τ is a RATIONAL (tauNum/tauDen) so the prefix length
    * (⌈τn⌉ = (tauNum·n + tauDen − 1) div tauDen), the length filter
    * (tauDen·min ≥ tauNum·max) and the final threshold test
    * ((1+τ)·i ≥ τ·(|a|+|b|) ⟺ (tauDen+tauNum)·i ≥ tauNum·(|a|+|b|))
    * are pure INTEGER arithmetic — no float boundary can disagree with the
    * oracle.
    *
    * Scale posture: candidates are generated ONLY where two PREFIXES
    * collide — and prefixes hold each doc's globally-RAREST tokens, the
    * inverse of the corpus hot-spot distribution, so the quadratic
    * boilerplate blowup the maxDf cap fights never forms. All joins key
    * on xxhash64 of the shingle (8-byte shuffle keys, the jaccardPairs
    * discipline; the string participates only in the global rank order,
    * which the oracle reproduces). The verify step counts intersections
    * ONLY for surviving candidate pairs via two (doc, hash) equi-joins —
    * never all-pairs.
    *
    * Returns (id_a, id_b, n_inter, n_a, n_b, jaccard) for pairs with
    * J ≥ tauNum/tauDen, id_a < id_b.
    */
  def prefixFilterPairs(df: DataFrame, id: Column, text: Column, n: Int = 3,
                        tauNum: Int = 2, tauDen: Int = 5,
                        broadcastSigBytes: Long = 64L << 20): DataFrame =
    prefixFilterPairsFrom(shingleHashTable(df, id, text, n),
      tauNum, tauDen, broadcastSigBytes)

  /** The materialized (doc, s, h) distinct-shingle table every
    * prefix-filter consumer starts from — (doc, shingle string,
    * xxhash64). Split out of [[prefixFilterPairs]] so the THREE board
    * queries that tokenize the same corpus (t40 τ=2/5; t23/t28 τ=1/2)
    * can build it once per (session, dir) and share (VERDICT r11 task
    * #3): it feeds FOUR consumers inside one prefix-filter call already
    * (df counts, sizes, prefix ranks, both verify sides) — materialize
    * once, same rationale as jaccardPairs' localCheckpoint.
    */
  def shingleHashTable(df: DataFrame, id: Column, text: Column,
                       n: Int = 3): DataFrame =
    shingleRows(df, id, text, n)
      .select(col("doc"), col("s"), xxhash64(col("s")).as("h"))
      .localCheckpoint()

  /** [[prefixFilterPairs]] from an already-materialized
    * [[shingleHashTable]] — the τ-specific tail (prefix ranks, candidate
    * self-join, length filter, array-intersect verify).
    */
  def prefixFilterPairsFrom(sh: DataFrame, tauNum: Int, tauDen: Int,
                            broadcastSigBytes: Long = 64L << 20): DataFrame = {
    val pref = prefixIndexTable(sh, tauNum, tauDen).localCheckpoint()
    val sigs = signatureTable(sh)
    val sigBytes = sh.count() * 8L
    pairsFromPrefixIndex(pref, sigs, tauNum, tauDen,
      broadcastSigs = sigBytes <= broadcastSigBytes)
  }

  /** The τ-specific PREFIX INDEX: each doc's rarest-(df, shingle) prefix
    * as (doc, h, n_sh) rows. This plus [[signatureTable]] is everything
    * the prefix-filter join needs — persist both once (the s15
    * stored-index discipline) and the per-run dedup pays NO
    * tokenization, df counting, or prefix ranking: t55 grades that
    * stored query path against t40's unchanged oracle.
    */
  def prefixIndexTable(sh: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    // prefix_len = n − ⌈τn⌉ + 1, all integer
    val ceilTau = (col("n_sh") * tauNum + (tauDen - 1))
      .divide(tauDen).cast("long")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("df"), col("s"))
    sh.join(dfreq, "h").join(sizes, "doc")
      .withColumn("pos", row_number().over(wp))
      .filter(col("pos") <= col("n_sh") - ceilTau + 1)
      .select(col("doc"), col("h"), col("n_sh"))
  }

  /** Per-doc sorted signature arrays (doc, hs) — the verify side of the
    * prefix-filter join; persistable next to [[prefixIndexTable]]. */
  def signatureTable(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))

  /** Order-STABLE τ-prefix index: (doc, s, h, n_sh) where each doc's
    * prefix is its `n_sh − ⌈τ·n_sh⌉ + 1` lexicographically-SMALLEST
    * shingle strings — the global rank order is the fixed string order
    * instead of [[prefixIndexTable]]'s corpus (df, s) rarity order.
    *
    * Why it exists (incremental maintenance, VERDICT r13 #1): a df-based
    * prefix depends on CORPUS statistics, so every ingested batch shifts
    * df counts and silently invalidates already-stored prefixes of
    * untouched docs. The string order is corpus-INDEPENDENT: a doc's
    * prefix is a pure function of the doc alone, so
    * `stored_index(A) ∪ build(B)` is bit-identical to a full rebuild
    * over A∪B — the append touches O(batch) data, ever (t60 grades the
    * merged index hash-exactly against a from-scratch oracle; t61 grades
    * the τ-pairs served FROM the merged index against t40's unchanged
    * oracle).
    *
    * Completeness is the same prefix-filter argument as
    * [[prefixFilterPairs]] — any SHARED total order works: if J(x,y) ≥ τ
    * the order-smallest common shingle must lie inside both prefixes
    * (pigeonhole on each doc's own suffix size). DedupSpec proves the
    * pair-set equality against the df-ordered form mechanically.
    *
    * Trade-off, stated honestly: rarity order packs prefixes with the
    * corpus' RAREST tokens (fewest collisions → smallest candidate set);
    * string order is df-blind, so hot shingles can land in prefixes and
    * the candidate set grows (measured in SCALE.md). That is the classic
    * index-maintenance trade — pay candidates at query time or pay
    * re-prefixing at ingest time.
    *
    * Plan shape: ONE exchange (the per-doc grouping), then a map-side
    * sort_array + slice + explode — no df aggregate, no window, nothing
    * keyed on corpus-global state.
    */
  def stablePrefixIndexTable(sh: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val packed = sh.groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("s"), col("h")))).as("sh_arr"))
      .withColumn("n_sh", size(col("sh_arr")).cast("long"))
    // prefix_len = n − ⌈τn⌉ + 1, all integer (⌈τn⌉ = (num·n + den−1) div den)
    val ceilTau = (col("n_sh") * tauNum + (tauDen - 1))
      .divide(tauDen).cast("long")
    packed
      .select(col("doc"), col("n_sh"),
        explode(slice(col("sh_arr"), lit(1),
          (col("n_sh") - ceilTau + 1).cast("int"))).as("p"))
      .select(col("doc"), col("p.s").as("s"), col("p.h").as("h"), col("n_sh"))
  }

  /** The prefix-filter join's QUERY PATH over already-materialized index
    * tables: candidate self-join on the prefix index + array-intersect
    * verify against the signatures. Callers materializing `pref` inline
    * must localCheckpoint it first (the self-join otherwise plans the
    * whole join+window subtree under BOTH sides — measured 432 s of
    * executor time on the 10× ScaleCheck fixture; the duplicated window
    * sort, not the 55M-row join, was the cost). Reading from a stored
    * parquet index needs no checkpoint: the scan is already a leaf.
    */
  def pairsFromPrefixIndex(pref: DataFrame, sigs: DataFrame,
                           tauNum: Int, tauDen: Int,
                           broadcastSigs: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(pref.sparkSession)
    // NO pair-level distinct before the verify (r14, VERDICT r13 #2): a
    // candidate pair repeats once per SHARED PREFIX token, and prefixes
    // hold each doc's rarest tokens, so the duplication factor is small
    // by construction — measured 1.22× at τ=2/5 and 1.24× at τ=1/2 on
    // sf1 (54.2 M raw → 44.4 M distinct). The pair-keyed distinct was a
    // full exchange of those 44 M rows (measured 5.9 s of t55's ~20 s
    // query path) to save 22% of a map-side verify; verifying the
    // duplicated rows directly and de-duplicating AFTER the τ filter
    // (survivors only — 3 orders of magnitude fewer rows) removes the
    // exchange entirely: with broadcast signatures the path from the
    // h-join to the final tiny distinct is shuffle-free (measured
    // 8.4 s → 4.9 s warm at sf1; the non-broadcast regime wins too —
    // the verify joins carry 1.22× rows but the 44 M-row exchange is
    // gone). Duplicated rows verify to IDENTICAL tuples, so set
    // semantics are unchanged.
    val cand = pref.as("p").join(pref.as("f"),
        col("p.h") === col("f.h") && col("p.doc") < col("f.doc"))
      .filter(col("p.n_sh") * tauDen >= col("f.n_sh") * tauNum &&
        col("f.n_sh") * tauDen >= col("p.n_sh") * tauNum)
      .select(col("p.doc").as("id_a"), col("f.doc").as("id_b"))
    // verify via per-doc sorted signature ARRAYS, not a (pair × token)
    // expansion join: on a near-dup-heavy corpus the candidate set is
    // large (44.5M pairs on the 10× ScaleCheck fixture) and expanding
    // each pair by its ~50 tokens to count the intersection relationally
    // put 2.4e9 rows through a shuffle join (measured 330+ s end to end;
    // every candidate phase is seconds). One array_intersect per pair is
    // O(|A|+|B|) inside a codegen'd map over broadcast-joined signatures —
    // no shuffle ever carries an array. The signature table is one row
    // per doc (~0.5 KB); the broadcast hint is SIZE-GATED by the caller
    // (total payload ≈ 8 B per shingle row, one cheap scan over the
    // materialized table). Past the threshold the hint is dropped and
    // the same plan runs as a co-partitioned shuffle join keyed by doc
    // id (AQE may still promote it back if runtime stats allow) — a
    // 100 TB corpus must never pin a multi-GB signature table on the
    // driver.
    val hint: DataFrame => DataFrame =
      if (broadcastSigs) broadcast(_) else identity
    cand
      .join(hint(sigs.select(col("doc").as("id_a"), col("hs").as("ha"))),
        "id_a")
      .join(hint(sigs.select(col("doc").as("id_b"), col("hs").as("hb"))),
        "id_b")
      // graft_sorted_intersect_count: two-pointer merge over the SORTED
      // signature arrays — count only, zero allocation. The built-in
      // size(array_intersect(..)) builds a hash set AND materializes the
      // intersection per pair: measured ~35 s of the 63 s sf1 query path
      // across 44 M candidates; the native kernel removes it.
      .select(col("id_a"), col("id_b"),
        call_function("graft_sorted_intersect_count",
          col("ha"), col("hb")).as("n_inter"),
        size(col("ha")).cast("long").as("n_a"),
        size(col("hb")).cast("long").as("n_b"))
      .filter(col("n_inter") * (tauDen + tauNum) >=
        (col("n_a") + col("n_b")) * tauNum)
      .distinct()
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Incremental (cross-collection) prefix-filter probe: a NEW BATCH's
    * full shingle rows against a stored CORPUS prefix index — the
    * deployment shape of continuous ingestion (probe the index before
    * inserting the batch). Returns (id_a=batch doc, id_b=corpus doc,
    * n_inter, n_a, n_b, jaccard) for all cross pairs with J ≥ τ;
    * batch-internal pairs are [[prefixFilterPairs]]' job, not this one's.
    *
    * Completeness needs NO shared token ordering: full(batch) ⋈
    * prefix(corpus) is exhaustive for ANY per-doc prefix order, because
    * J(a,b) ≥ τ ⟹ |∩| ≥ τ·|union| ≥ τ·n_b > n_b − prefix_len(b), so the
    * intersection cannot avoid b's prefix (pigeonhole) — whereas the
    * self-join form's pref ⋈ pref needs the global df order both sides.
    * So the batch probes with zero knowledge of the corpus' df
    * statistics, and the stored index never recomputes for a new batch.
    * Verified complete vs brute force in DedupSpec.
    *
    * Scale: candidate volume is (batch tokens) ⋈ (corpus prefixes) — the
    * batch is deployment-small, the corpus side is its τ-prefix only,
    * and the length filter prunes before the distinct. The verify joins
    * carry the batch's own fresh signature arrays and the STORED corpus
    * signatures (size-gate the broadcast exactly as
    * [[pairsFromPrefixIndex]]).
    */
  def crossPrefixProbe(batchSh: DataFrame, corpusPref: DataFrame,
                       corpusSigs: DataFrame, tauNum: Int, tauDen: Int,
                       broadcastSigs: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(batchSh.sparkSession)
    val bSizes = batchSh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    // candidate dedup deferred to AFTER the τ filter, exactly as in
    // [[pairsFromPrefixIndex]] (r14): a pair repeats once per shared
    // corpus-prefix token (small by the rarest-tokens argument), and the
    // pair-keyed distinct was the only candidate-sized exchange in the
    // probe — the survivors-only distinct is negligible.
    val cand = batchSh.as("b")
      .join(bSizes.withColumnRenamed("doc", "bdoc").as("z"),
        col("b.doc") === col("z.bdoc"))
      .join(corpusPref.as("p"), col("b.h") === col("p.h"))
      .filter(col("z.n_sh") * tauDen >= col("p.n_sh") * tauNum &&
        col("p.n_sh") * tauDen >= col("z.n_sh") * tauNum)
      .select(col("b.doc").as("id_a"), col("p.doc").as("id_b"))
    val bSigs = signatureTable(batchSh)
    val hint: DataFrame => DataFrame =
      if (broadcastSigs) broadcast(_) else identity
    cand
      .join(bSigs.select(col("doc").as("id_a"), col("hs").as("ha")), "id_a")
      .join(hint(corpusSigs.select(col("doc").as("id_b"), col("hs").as("hb"))),
        "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("graft_sorted_intersect_count",
          col("ha"), col("hb")).as("n_inter"),
        size(col("ha")).cast("long").as("n_a"),
        size(col("hb")).cast("long").as("n_b"))
      .filter(col("n_inter") * (tauDen + tauNum) >=
        (col("n_a") + col("n_b")) * tauNum)
      .distinct()
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** df-capped shingle rows: drop shingles appearing in more than
    * `maxDf` docs — [[jaccardPairs]]' stop-list factored out so a STORED
    * index can be built capped (t59) and the keep-decision persisted for
    * batch probes. Returns (capped sh, the (h) keep set).
    */
  def cappedShingles(sh: DataFrame, maxDf: Long): (DataFrame, DataFrame) = {
    // df is counted per shingle STRING, not per hash, and membership
    // joins key on the string too: two distinct shingles colliding on
    // xxhash64 must cap (and stop-list) independently — the t59 oracle
    // groups and filters by the string (ADVICE r13). h rides along in
    // the keep set (one h per s) purely so consumers keep their 8-byte
    // join keys downstream of the string-keyed membership join.
    val keep = sh.groupBy(col("s"), col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("s"), col("h"))
    (sh.join(keep.select(col("s")), "s").select(col("doc"), col("s"), col("h")),
      keep)
  }

  // ---------- MinHash + LSH ----------

  /** 64-permutation MinHash signature as ONE array column, computed by
    * the native fused expression [[graft.functions.MinHashSignature]] —
    * a map-only projection (no explode, no 64-column aggregate, no
    * shuffle). Bit-identical to the built-in-only formulation
    * `min(hash(shingle, lit(i)))` per permutation (MinHashExprSpec).
    */
  def minhashSignature(df: DataFrame, id: Column, text: Column,
                       k: Int = 64, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc"), TextOps.words(text).as("w"))
      .select(col("doc"),
        call_function("graft_minhash", shinglesOfWords(col("w"), n), lit(k)).as("sig"))
  }

  /** Candidate pairing over exploded (doc, band, bucket) rows: cap each
    * (band, bucket) population at `maxBucket` (linear windowed count, same
    * partitioning the join reuses), then pair docs sharing a surviving
    * bucket. The ONE pairing/cap policy — both [[lshCandidates]] and
    * [[minhashNearDups]] go through it, so the degenerate-bucket rule
    * DedupSpec pins can't drift between them.
    */
  private def bandPairs(exploded: DataFrame, maxBucket: Long): DataFrame = {
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val capped = exploded.withColumn("bsz", count(lit(1)).over(wb))
      .filter(col("bsz") <= maxBucket).drop("bsz")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** LSH candidate pairs via the fused band expression: one map-only pass
    * emits `bands` bucket hashes per doc (posexplode is the single
    * reference → single evaluation), then docs sharing any (band, bucket)
    * join. Returns distinct (id_a, id_b).
    *
    * `maxBucket` caps the per-(band, bucket) population before pairing: a
    * degenerate bucket (boilerplate text, a template shared by 10⁶ docs)
    * would otherwise self-join to 10¹² candidate rows — the quadratic
    * blowup LSH exists to avoid. Docs in an over-full bucket still pair
    * through their OTHER bands (and truly identical docs belong to exact
    * dedup, which runs first in any real pipeline); this is the standard
    * production df-cap. The count itself is linear (unordered window on
    * the bucket key, partitioning reused by the join).
    */
  def lshCandidates(df: DataFrame, id: Column, text: Column,
                    n: Int = 3, maxBucket: Long = 1000L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val exploded = df.select(id.as("doc"), TextOps.words(text).as("w"))
      // docs with no shingles (< n words) would all share the identical
      // empty-set signature and bucket together quadratically — exclude
      // them up front (they cannot be near-dups of anything by content)
      .filter(size(col("w")) >= n)
      .select(col("doc"),
        posexplode(call_function("graft_minhash_bands", shinglesOfWords(col("w"), n))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bandPairs(exploded, maxBucket)
  }

  /** Per-doc shingle SETS re-assembled from the exploded rows: (doc,
    * sh_arr), SORTED — one O(S log S) sort per doc buys the candidate
    * verify a binary two-pointer merge per PAIR (each doc appears in
    * many pairs, so the per-doc sort amortizes). Order is otherwise
    * free to choose: the MinHash signature is a per-permutation min
    * (order-invariant) and the verify arithmetic is set ops.
    */
  private[graft] def shingleSets(df: DataFrame, id: Column, text: Column,
                                 n: Int): DataFrame =
    shingleRows(df, id, text, n)
      .groupBy("doc").agg(sort_array(collect_list(col("s"))).as("sh_arr"))

  /** The candidate-pair verify shared by [[minhashNearDups]] and
    * [[sortedNeighborhoodPairs]]: join each (id_a, id_b) candidate to its
    * two shingle sets and compute EXACT Jaccard. `sh_arr` is distinct
    * (array_distinct in shinglesOfWords) and sorted ([[shingleSets]]), so
    * |∩| is one native sorted-merge per pair (graft_sorted_intersect_count
    * — no per-pair hash set) and |∪| = |A|+|B|−|∩| needs no array_union
    * materialization. Same formula as [[jaccardPairs]]; the division sees
    * the same integers as size(array_intersect)/size(array_union), so
    * every hash-graded oracle value is unchanged.
    */
  private def verifiedJaccard(cands: DataFrame, sets: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cands.sparkSession)
    cands
      .join(sets.select(col("doc").as("id_a"), col("sh_arr").as("sh_a")), "id_a")
      .join(sets.select(col("doc").as("id_b"), col("sh_arr").as("sh_b")), "id_b")
      .withColumn("inter",
        call_function("graft_sorted_intersect_count", col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** Exploded (doc, band, bucket) band-hash rows from the re-assembled
    * shingle sets — the single derivation behind [[minhashNearDups]]'s
    * candidate generation AND the Verify-staged `_staged_lsh_bands`
    * table (t30's oracle re-derives the capped bucket self-join + exact
    * Jaccard verify from these rows in DuckDB, leaving only the murmur3
    * band-hash VALUES engine-trusted). Deterministic across calls: the
    * signature is order-invariant (see [[shingleSets]]) and the band
    * bucket is a hash of a signature slice.
    */
  private[graft] def bandRows(sets: DataFrame): DataFrame =
    sets.select(col("doc"),
        posexplode(call_function("graft_minhash_bands", col("sh_arr"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** The staged band-hash table: (doc, band, bucket), one row per band
    * per doc with ≥ n words. What Verify dumps for t30's oracle.
    */
  def lshBandTable(df: DataFrame, id: Column, text: Column,
                   n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    bandRows(shingleSets(df, id, text, n))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates from banding, verified
    * with exact shingle Jaccard computed ONLY for candidate pairs (the
    * [[verifiedJaccard]] sorted-merge kernel) — never the all-pairs join
    * (that quadratic pass is exactly what LSH exists to avoid; at 100 TB
    * the candidate set is the only thing small enough to touch twice).
    * Returns (id_a, id_b, jaccard).
    */
  def minhashNearDups(df: DataFrame, id: Column, text: Column,
                      n: Int = 3, maxBucket: Long = 1000L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // ONE tokenize+shingle pass for both the banding and the verify:
    // exploded shingle rows (the Generate barrier keeps words
    // materialized) re-assemble into per-doc sets, and the band hashes
    // are computed FROM the re-assembled array (bandRows). The
    // alternative (calling lshCandidates + rebuilding sets separately)
    // re-tokenizes and re-shingles the whole corpus a second time, the
    // dominant map-side cost. Docs with < n words have no shingle rows
    // and drop out here, which is exactly lshCandidates'
    // degenerate-bucket exclusion.
    val sets = shingleSets(df, id, text, n)
    val cands = bandPairs(bandRows(sets), maxBucket)
    verifiedJaccard(cands, sets)
  }

  /** Sorted-neighborhood blocking dedup — the classic entity-resolution
    * alternative to hash blocking (LSH/SimHash): sort records by a
    * content-derived key and compare each record only to its `windowSize`
    * successors in the sort order. The key here is the first two SORTED
    * DISTINCT words (near-dups share vocabulary, so they sort adjacent
    * even when word ORDER was perturbed); the first sorted word is the
    * block, so the rank window partitions by block — no global sort, and
    * the candidate count is ≤ windowSize·n by construction. Candidates
    * verify with exact shingle Jaccard over the re-assembled sets (the
    * shared [[verifiedJaccard]] sorted-merge kernel — candidate pairs
    * only, never all-pairs). Returns (id_a, id_b, jaccard) ≥ minJaccard.
    */
  def sortedNeighborhoodPairs(df: DataFrame, id: Column, text: Column,
                              windowSize: Int = 3, n: Int = 3,
                              minJaccard: Double = 0.5): DataFrame = {
    val keyed = df.select(id.as("doc"), TextOps.words(text).as("w"))
      .filter(size(col("w")) >= n)
      .withColumn("sw", array_sort(array_distinct(col("w"))))
      .select(col("doc"), element_at(col("sw"), 1).as("blk"),
        concat_ws(" ", slice(col("sw"), 1, 2)).as("key"))
    val wOrd = Window.partitionBy(col("blk")).orderBy(col("key"), col("doc"))
    val ranked = keyed.withColumn("rn", row_number().over(wOrd))
    val cands = (1 to windowSize).map { k =>
      ranked.select(col("doc").as("id_a"),
        lead(col("doc"), k).over(wOrd).as("id_b"))
    }.reduce(_ unionByName _).filter(col("id_b").isNotNull)
    val sets = shingleSets(df, id, text, n)
    verifiedJaccard(cands, sets)
      .filter(col("jaccard") >= minJaccard)
  }

  // ---------- decontamination (train/eval overlap) ----------

  /** Benchmark decontamination: flag training docs sharing ≥1 word
    * n-gram with ANY doc in the eval set — the standard train/test
    * overlap scrub run before pretraining. Returns (doc, n_shared) for
    * contaminated train docs only; n_shared = how many of the doc's
    * distinct shingles appear anywhere in the eval set.
    *
    * Shape at scale: the eval shingle set is the small side (eval
    * corpora are ~10³-10⁵ docs vs 10⁹ train docs) — distinct-aggregated,
    * then joined against the exploded train shingles; Catalyst/AQE
    * broadcasts it when it fits, else it's a shuffle join on the shingle
    * key. Either way the train side streams through once.
    */
  def contamination(df: DataFrame, id: Column, text: Column,
                    evalPred: Column, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sh = df.select(id.as("doc"), evalPred.as("is_eval"),
        TextOps.words(text).as("w"))
      .select(col("doc"), col("is_eval"),
        explode(shinglesOfWords(col("w"), n)).as("s"))
    val evalSh = sh.filter(col("is_eval")).select(col("s")).distinct()
    sh.filter(!col("is_eval"))
      .join(evalSh, "s")
      .groupBy("doc").agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-filter decontamination — the constant-memory scale path for
    * [[contamination]]'s exact join. The eval side builds a Bloom filter
    * over xxhash64(shingle) with a DISTRIBUTED tree-aggregate (only the
    * final bitset reaches the driver — the same materialization a
    * scalar-subquery runtime filter performs), and the train side is then
    * filtered MAP-SIDE by Catalyst's native `BloomFilterMightContain`:
    * the train corpus is never shuffled at all, vs the exact form's join
    * on the shingle key. At 100 TB that's the difference between a full
    * corpus shuffle and a pure scan.
    *
    * False positives (rate ≤ fpp per probe) can inflate `n_maybe_shared`
    * or flag a clean doc; false NEGATIVES are impossible — the flagged
    * set is a guaranteed superset of the exact contamination set and
    * per-doc counts are ≥ the exact counts (DedupSpec pins both). The
    * whole operator is deterministic: Bloom hashing has no RNG.
    *
    * Returns (doc, n_maybe_shared) for flagged train docs.
    */
  def contaminationBloom(df: DataFrame, id: Column, text: Column,
                         evalPred: Column, n: Int = 3,
                         fpp: Double = 0.001): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sh = df.select(id.as("doc"), evalPred.as("is_eval"),
        TextOps.words(text).as("w"))
      .select(col("doc"), col("is_eval"),
        explode(shinglesOfWords(col("w"), n)).as("s"))
    val evalHashes = sh.filter(col("is_eval"))
      .select(xxhash64(col("s")).as("h")).distinct()
    // Sizing pass over the (small) eval side only — one count job, like
    // IVF's centroid materialization. The bitset is then a plan literal:
    // ~1.2 MB per 10⁶ eval shingles at fpp=1e-3, shipped once per task
    // binary. For eval sets beyond ~10⁷ shingles, build per-partition
    // blooms or fall back to the exact join.
    val nItems = math.max(1L, evalHashes.count())
    val bloom = evalHashes.stat.bloomFilter("h", nItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    sh.filter(!col("is_eval"))
      .filter(call_function("graft_might_contain", lit(bytes), col("s")))
      .groupBy("doc").agg(count(lit(1)).as("n_maybe_shared"))
  }

  // ---------- near-dup clustering (connected components) ----------

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (pick one survivor per
    * component). Min-label propagation: every node starts labeled with
    * itself; each round a node takes the min label among itself and its
    * neighbors; converges in O(graph diameter) rounds.
    *
    * Each round is one shuffle (join on node) + one aggregate, with an
    * early-stop action on the changed-label count — the standard
    * Pregel-style loop (the large-star/small-star algorithm is this with
    * smarter edge rewriting; diameters of near-dup graphs are tiny, so
    * plain propagation is the honest cost). Lineage MUST be truncated per
    * round (localCheckpoint): persist alone keeps the logical plan, which
    * doubles every iteration — plan rendering alone OOMs by round ~10.
    * On a cluster with an HDFS checkpoint dir, `checkpoint` replaces
    * `localCheckpoint` for executor-loss tolerance.
    *
    * Throws if maxIter rounds pass without convergence — partially
    * propagated labels are silently-wrong clusters (one true component
    * split across several survivors), and the early-stop check means a
    * generous maxIter costs nothing on graphs that do converge.
    *
    * @param edges (src, dst) pairs, any orientation, self-loops ok
    * @return (node, component) — component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column,
                          maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // materialize the input ONCE before symmetrizing — a union of two
    // branches over the raw lineage would compute the (possibly
    // expensive: jaccard pair join) edge derivation twice
    val base = edges.select(src.as("n"), dst.as("m")).localCheckpoint(true)
    val e = base.union(base.select(col("m").as("n"), col("n").as("m")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
      .localCheckpoint(true)
    // free each round's checkpointed blocks as soon as the NEXT round is
    // eagerly materialized (r14, VERDICT r13 #5): the loop previously
    // retained EVERY iteration's label blocks for the session's
    // remainder — O(iters · n) residency whose eviction/page-cache
    // interplay was t53's measured ±2× run-state variance. Residency is
    // now capped at two label copies; only the FINAL round's blocks
    // survive the loop (consumers read them).
    var prevCk = labels
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nbr = labels.join(e, "n").select(col("m").as("n"), col("lbl"))
      // the old label rides along INSIDE the checkpointed plan, so the
      // convergence check is a cache-local filter+count — not a second
      // shuffle join job per round (2 jobs/round → 1 shuffle join job + 1
      // cache scan)
      val next = labels.union(nbr)
        .groupBy("n").agg(min(col("lbl")).as("lbl"))
        .join(labels.withColumnRenamed("lbl", "old"), "n")
        .localCheckpoint(true)
      val changed = next.filter(col("lbl") =!= col("old")).count()
      if (prevCk ne next) prevCk.unpersist()
      prevCk = next
      labels = next.select(col("n"), col("lbl"))
      converged = changed == 0
      iter += 1
    }
    e.unpersist()
    base.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it (results would " +
          "otherwise be silently unmerged)")
    labels.select(col("n").as("node"), col("lbl").as("component"))
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over count-weighted words: per bit, sum +count when
    * xxhash64(word) has the bit set else −count; bit set in the signature
    * iff the sum is positive. Emitted as one long column `simhash` plus
    * four 16-bit chunk columns for blocked neighbor search.
    */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val w = df.select(id.as("doc"), explode(TextOps.words(text)).as("word"))
      .groupBy("doc", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("word")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"s$b")
    }
    val sig = (0 until 64).map { b =>
      when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    w.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", sig)
      .select(Seq(col("doc"), col("simhash")) ++
        (0 until 4).map(c =>
          shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as(s"chunk$c")): _*)
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, found via 16-bit
    * chunk blocking (exhaustive for maxHamming ≤ 3; a recall-bounded
    * candidate set above that).
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunkMatches = (0 until 4).map { c =>
      sig.as("a").join(sig.as("b"),
          col(s"a.chunk$c") === col(s"b.chunk$c") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
          col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
    }
    chunkMatches.reduce(_ union _).distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------- cross-document duplicated spans ----------

  /** Per-document duplicated-span fraction, the exact-substring-dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499) at word-n-gram granularity: the
    * fraction of a document's n-gram POSITIONS whose gram appears
    * verbatim in at least one OTHER document. Returns
    * (doc, n_grams, dup_grams, dup_ratio); documents shorter than n
    * words have no positions and are absent.
    *
    * Shape: positional grams → one shuffle to (doc, gram) multiplicities
    * (the map-side combine absorbs within-doc repeats) → gram
    * document-frequency over those DISTINCT pairs (second, smaller
    * shuffle) → join back and one aggregate per doc. Grouping keys are
    * the raw gram strings so the DuckDB oracle re-derives every step; at
    * petabyte scale you'd group on xxhash64(gram) instead (the
    * [[contamination]]/[[minhashSignature]] trade: 8-byte shuffle keys,
    * engine-trusted hashes).
    */
  def crossDocDupRatio(df: DataFrame, id: Column, text: Column,
                       n: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val grams = df.select(id.as("doc"), TextOps.words(text).as("w"))
      .select(col("doc"), explode(gramsOfWords(col("w"), n)).as("gram"))
    val perDoc = grams.groupBy("doc", "gram").agg(count(lit(1)).as("m"))
    val gramDf = perDoc.groupBy("gram").agg(count(lit(1)).as("ndocs"))
    perDoc.join(gramDf, "gram")
      .groupBy("doc")
      .agg(sum(col("m")).as("n_grams"),
        sum(when(col("ndocs") >= 2, col("m")).otherwise(lit(0L))).as("dup_grams"))
      .withColumn("dup_ratio",
        round(col("dup_grams").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Positional (doc, i, gram) rows — i is the 1-based word index of the
    * gram's first word. The `w` column is materialized in a Project under
    * the Generate (the [[shingleRows]] barrier note: an inline split
    * would re-tokenize per element).
    */
  private def positionalGrams(df: DataFrame, id: Column, text: Column,
                              n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc"), TextOps.words(text).as("w"))
      .select(col("doc"), posexplode(gramsOfWords(col("w"), n)))
      .select(col("doc"), (col("pos") + 1).as("i"), col("col").as("gram"))
  }

  /** Maximal duplicated SPANS per document — [[crossDocDupRatio]] gives
    * the Lee-et-al signal as a ratio; this extracts the actual passages a
    * substring-level dedup pass would cut. A word position is COVERED
    * when some n-gram starting at i ≤ pos ≤ i+n−1 appears verbatim in at
    * least one other document; maximal runs of covered words form the
    * spans. Returns one row per span: (doc, s, e, n_pos, covered) with
    * s/e the 1-based first/last duplicated GRAM start and
    * covered = e − s + n the span's word length.
    *
    * Interval-union without interval logic: duplicated gram starts are
    * sorted per doc, and because every interval has the same length n,
    * word coverage breaks exactly when the next start exceeds the
    * previous start + n — so one lag() + running sum(break) groups
    * positions into maximal covered regions, and Σ covered never double
    * counts a word. Every window is PARTITIONED BY doc (the global-window
    * census covers these queries like any other); the only shuffles are
    * the gram document-frequency aggregate and the dup-flag join back,
    * both linear in corpus token count. Grouping keys are raw gram
    * strings so the oracle re-derives every step; at petabyte scale group
    * on xxhash64(gram) instead (the [[contamination]] trade).
    */
  def dupSpanTable(df: DataFrame, id: Column, text: Column,
                   n: Int = 8): DataFrame = {
    val pos = positionalGrams(df, id, text, n)
    val gramDf = pos.groupBy("doc", "gram").agg(count(lit(1)).as("m"))
      .groupBy("gram").agg(count(lit(1)).as("ndocs"))
    val dupPos = pos
      .join(gramDf.filter(col("ndocs") >= 2).select("gram"), "gram")
      .select("doc", "i")
    val byDoc = Window.partitionBy("doc").orderBy("i")
    dupPos
      .withColumn("brk",
        when(col("i") - lag("i", 1).over(byDoc) <= n, lit(0)).otherwise(lit(1)))
      .withColumn("grp", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc", "grp")
      .agg(min("i").as("s"), max("i").as("e"), count(lit(1)).as("n_pos"))
      .select(col("doc"), col("s"), col("e"), col("n_pos"),
        (col("e") - col("s") + n).as("covered"))
  }

  /** Per-document duplicated-span statistics: span count, duplicated gram
    * positions, covered word count, longest span, and the covered-word
    * fraction (the number Lee et al. report per corpus). Every document
    * with ≥ n words appears — zero rows included, so a dedup gate can
    * threshold on covered_frac directly.
    */
  def dupSpanStats(df: DataFrame, id: Column, text: Column,
                   n: Int = 8): DataFrame = {
    val sizes = df.select(id.as("doc"), size(TextOps.words(text)).as("n_words"))
      .filter(col("n_words") >= n)
    val agg = dupSpanTable(df, id, text, n)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_spans"), sum("n_pos").as("dup_positions"),
        sum("covered").as("covered_words"), max("covered").as("max_span_words"))
    // FULL outer, not left: span docs ⊆ sizes docs by construction (both
    // sides tokenize identically and spans only exist where ≥ n words),
    // so the result is row-for-row the left join — but a LEFT join with a
    // unique aggregated right side gets ELIMINATED under count() (Spark's
    // unique-key join removal), which would turn the bench action into a
    // bare corpus filter; full outer cannot be removed, so every consumer
    // pays the real span computation.
    sizes.join(agg, Seq("doc"), "full")
      .select(col("doc"), col("n_words"),
        coalesce(col("n_spans"), lit(0L)).cast("int").as("n_spans"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
        coalesce(col("covered_words"), lit(0L)).as("covered_words"),
        coalesce(col("max_span_words"), lit(0L)).cast("int").as("max_span_words"),
        round(coalesce(col("covered_words"), lit(0L)).cast("double")
          / col("n_words").cast("double"), 6).as("covered_frac"))
  }

  /** The k longest duplicated passages in the corpus, with their text
    * reconstructed by slicing the span back out of the word array —
    * the reviewable artifact behind a span-removal decision. Ties break
    * (covered desc, doc asc, s asc); the limit is a TakeOrdered, never a
    * global sort.
    */
  def topDupPassages(df: DataFrame, id: Column, text: Column,
                     n: Int = 8, k: Int = 20): DataFrame = {
    val docsW = df.select(id.as("doc"), TextOps.words(text).as("w"))
    dupSpanTable(df, id, text, n)
      .join(docsW, "doc")
      .select(col("doc"), col("s"), col("e"), col("covered"),
        concat_ws(" ", slice(col("w"), col("s"), col("covered"))).as("passage"))
      .orderBy(col("covered").desc, col("doc"), col("s"))
      .limit(k)
  }
}
