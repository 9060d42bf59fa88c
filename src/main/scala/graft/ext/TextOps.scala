package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (north star,
  * repo:BASELINE.json): token counting, quality scoring, language ID,
  * document fingerprinting. All pure built-in-expression transforms —
  * codegen'd, shuffle-free, linear scans at any scale.
  */
object TextOps {

  /** Lowercased whitespace tokens. */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — a cheap deterministic proxy for tokenizer
    * counts (real BPE needs a vocab; this is the standard pre-estimate).
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Whitespace token count. */
  def wordCount(text: Column): Column = size(words(text))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Quality features + a composite score in [0,1]:
    * 0.5·stopword-ratio-signal + 0.5·length-signal. Heuristics follow the
    * C4/Gopher-style cheap filters (length, stopword density); the exact
    * formula is arbitrary but deterministic and monotone in both signals.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val w  = words(text)
    val wc = size(w)
    val stops = size(filter(w, t => t.isInCollection(stopwords)))
    val stopRatio  = stops.cast("double") / wc.cast("double")
    val avgWordLen = (length(regexp_replace(trim(text), "\\s+", ""))).cast("double") / wc.cast("double")
    val score = round(least(stopRatio * 5.0, lit(1.0)) * 0.5 +
                      least(wc.cast("double") / 100.0, lit(1.0)) * 0.5, 4)
    Seq(
      "word_count"   -> wc,
      "stop_count"   -> stops,
      "stop_ratio"   -> round(stopRatio, 6),
      "avg_word_len" -> round(avgWordLen, 6),
      "quality_score" -> score)
  }

  /** The composite quality score alone (see [[qualityFeatures]]). */
  def qualityScore(text: Column): Column =
    qualityFeatures(text).collectFirst { case ("quality_score", c) => c }.get

  /** Per-language indicator stopwords for the n-gram/stopword language-ID
    * heuristic. Deterministic argmax with fixed preference order on ties.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "des", "est", "et"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Per-language marker-hit counts, as (colName, expr). */
  def langScores(text: Column): Seq[(String, Column)] = {
    val w = words(text)
    langMarkers.map { case (lang, marks) =>
      s"score_$lang" -> size(filter(w, t => t.isInCollection(marks)))
    }
  }

  /** One-tokenization lang-ID projection over a whole frame — the
    * [[langScores]]/[[langPredict]] pair evaluates `words(text)` once per
    * USE (ArrayFilter is eval-mode, so codegen subexpression elimination
    * never fuses the splits; t03's select carries ~16 uses — measured
    * 1.85 s vs 0.19 s for a single split at the ×10 fixture). This form
    * folds all five marker counts into ONE `aggregate` over ONE words
    * array and materializes it behind a Generate barrier (CollapseProject
    * cannot inline an expression through explode — the [[graft.ext.Dedup.shingleRows]]
    * discipline), so the tokenizer runs once per document. Score and
    * prediction semantics are bit-identical to the per-column forms for
    * non-null text, with the fixed en > de > es > fr > zh tie order; on
    * NULL text this form is stably NULL scores + NULL prediction
    * regardless of session conf (the per-column size(filter(null)) is
    * −1 with ANSI off and NULL under ANSI — the one-pass value matches
    * the DuckDB oracle's len(NULL) semantics). Appends score_en..score_zh and
    * `predicted` to (id, lang).
    */
  def langIdOnePass(df: DataFrame, id: String, lang: String,
                    text: Column): DataFrame = {
    val zero = array(langMarkers.map(_ => lit(0)): _*)
    val counts = aggregate(words(text), zero,
      (acc, t) => array(langMarkers.zipWithIndex.map { case ((_, marks), i) =>
        acc.getItem(i) + when(t.isInCollection(marks), 1).otherwise(0)
      }: _*))
    val staged = df.select(col(id), col(lang),
        text.isNull.as("__tnull"), explode(array(counts)).as("__c"))
    // null text → null counts array → null per-score items, exactly the
    // per-column size(filter(null)) behaviour
    val score: Int => Column = i => col("__c").getItem(i)
    val Seq(en, de, es, fr, zh) = langMarkers.indices.map(score)
    val predicted =
      when(col("__tnull"), lit(null).cast("string"))
        .when(en + de + es + fr + zh === 0, "und")
        .when(en >= de && en >= es && en >= fr && en >= zh, "en")
        .when(de >= es && de >= fr && de >= zh, "de")
        .when(es >= fr && es >= zh, "es")
        .when(fr >= zh, "fr")
        .otherwise("zh")
    staged.select(
      Seq(col(id), col(lang)) ++
        langMarkers.zipWithIndex.map { case ((l, _), i) =>
          score(i).as(s"score_$l") } :+
        predicted.as("predicted"): _*)
  }

  /** Predicted language: argmax of marker counts, ties broken by the
    * fixed order en > de > es > fr > zh; all-zero → 'und' (undetermined).
    */
  def langPredict(text: Column): Column = {
    val scores = langScores(text).map(_._2)
    val allZero = scores.reduce(_ + _) === 0
    val Seq(en, de, es, fr, zh) = scores
    // NULL text → NULL prediction. Without this guard size(null) = -1
    // (non-ANSI) defeats the all-zero check and -1 >= -1 ties resolve to
    // a confident 'en' for a document that doesn't exist.
    when(text.isNull, lit(null).cast("string"))
      .when(allZero, "und")
      .when(en >= de && en >= es && en >= fr && en >= zh, "en")
      .when(de >= es && de >= fr && de >= zh, "de")
      .when(es >= fr && es >= zh, "es")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  /** Adjacent word pairs ("a b") from a PRE-SPLIT words column, via
    * aligned slices zipped together — lambda args only, so the tokenizer
    * is never re-evaluated per element (the Dedup re-evaluation trap).
    */
  def bigrams(w: Column): Column =
    zip_with(
      slice(w, lit(1), greatest(size(w) - 1, lit(0))),
      slice(w, lit(2), greatest(size(w) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))

  /** Aligned-slice trigram construction — same single-eval zip_with shape
    * as [[bigrams]] (no per-element re-tokenization).
    */
  def trigrams(w: Column): Column = {
    val n = greatest(size(w) - 2, lit(0))
    zip_with(
      zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
        (a, b) => concat_ws(" ", a, b)),
      slice(w, lit(3), n),
      (ab, c) => concat_ws(" ", ab, c))
  }

  /** Cross-document boilerplate n-gram flagging (the RefinedWeb/CCNet
    * "duplicated spans" family): a trigram appearing in ≥ `minDf`
    * DISTINCT documents is boilerplate (headers, footers, licence
    * blurbs); each document reports how much of its distinct-trigram
    * mass that set covers. Output: (doc, n_trigrams, n_boiler,
    * boiler_frac) — the per-doc decision input for span-removal or
    * doc-level down-weighting.
    *
    * Shape at scale: one distinct-per-doc pass, one count aggregate on
    * the trigram (doc-frequency — shuffle carries (gram, partial-count),
    * map-side combined), one equi-join back on the trigram, one per-doc
    * aggregate. All ratios are integer arithmetic → exact cross-engine.
    * Hot grams are naturally bounded by the doc count; a stoplist-style
    * maxDf cap is NOT needed because the join key's fan-out is 1 (df is
    * one row per gram), unlike the pair-join in [[graft.ext.Dedup]].
    */
  def boilerplateNgrams(df: DataFrame, id: Column, text: Column,
                        minDf: Int = 3): DataFrame = {
    val grams = df.select(id.as("doc"), trigrams(words(text)).as("g"))
      .select(col("doc"), explode(array_distinct(col("g"))).as("t"))
    val dfreq = grams.groupBy("t").agg(count(lit(1)).as("df"))
    grams.join(dfreq, "t")
      .groupBy("doc").agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc"), col("n_trigrams"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_trigrams").cast("double"), 6)
          .as("boiler_frac"))
  }

  /** Corpus-level top-k bigrams with counts — the vocabulary/repetition
    * profile a corpus audit starts from. Explode + one partial+final
    * count aggregate (shuffle carries (bigram, partial-count) rows), then
    * TakeOrderedAndProject for the global top-k — no global sort.
    */
  def topBigrams(df: DataFrame, text: Column, k: Int = 20): DataFrame =
    df.select(words(text).as("w"))
      .select(explode(bigrams(col("w"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** Per-doc top-k terms by smoothed TF-IDF:
    * tfidf = tf · (ln((N+1)/(df+1)) + 1), sklearn's smooth-idf form.
    * Three aggregates (term freq, doc freq, corpus size) + one broadcast
    * join on term stats; N is a 1-row aggregate crossed in, never a
    * driver-side collect. Ranking uses the 6-decimal-rounded score
    * (cross-engine-stable) with term tie-break.
    */
  def tfidfTopK(df: DataFrame, id: Column, text: Column, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: tf feeds three consumers (dfreq, the join back,
    // and transitively the window) — without it each consumer re-plans
    // the full tokenize+explode pass (measured 3 parquet scans). The
    // materialized table is O(distinct doc-term pairs), far smaller than
    // the exploded token stream; on a cluster this is the persisted
    // term-frequency table every TF-IDF pipeline stages anyway.
    val tf = df.select(id.as("doc"), words(text).as("w"))
      .select(col("doc"), explode(col("w")).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc").orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc"), col("term"), col("tf"), col("tfidf"),
        col("rn").cast("int").as("rn"))
  }

  /** Okapi BM25 ranking for a fixed query-term set — the lexical half of
    * a hybrid retrieval pipeline (Robertson et al.'s public formulation):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Shapes: ONE tokenize+explode pass materialized as the (doc, term, tf)
    * table (the same staged table tfidfTopK documents); doc lengths derive
    * from it (sum of tf — no second scan); the query-term filter prunes
    * the scoring join to |queryTerms| rows per doc BEFORE any shuffle. N
    * and avgdl are the count-then-reinject scalar pattern (avgdl =
    * exact-integer sum / count → one IEEE division, cross-engine-stable).
    * Per-term scores sum through DECIMAL(18,6) so the 2-4-term addition
    * is order-independent (Exact.decimalSum rationale).
    *
    * At 100 TB: tf/dl are the stored inverted-index tables (built once);
    * a query touches only its terms' postings — the scoring join input is
    * O(Σ_t df(t)), never the corpus.
    */
  def bm25TopK(df: DataFrame, id: Column, text: Column,
               queryTerms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(id.as("doc"), explode(words(text)).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // two consumers: dl + the query-term branch
    val dl = tf.groupBy("doc").agg(sum(col("tf")).as("dl"))
    val n = df.count()
    val avgdlRow = dl.agg((sum(col("dl")).cast("double") / count(lit(1)))).first()
    // empty corpus (or all-null text): no dl rows → NULL aggregate; an
    // empty ranking, not an NPE (degenerate-input contract as Similarity's)
    if (avgdlRow.isNullAt(0))
      return tf.select(col("doc"), lit(0.0).as("score"),
        lit(0).as("n_terms"), lit(0).as("rn")).limit(0)
    val avgdl = avgdlRow.getDouble(0)
    val qt = tf.filter(col("term").isin(queryTerms: _*))
    val dfreq = qt.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val s = (col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
    val scored = qt.join(broadcast(dfreq), "term")
      .join(dl, "doc")
      .withColumn("idf", idf)
      .withColumn("s", s)
      .groupBy("doc")
      .agg(round(graft.core.Exact.decimalSumExpr(col("s")), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc"))
      .limit(k) // global top-k = TakeOrdered, not a single-partition window
    // rank the k survivors (a window over k rows, not the corpus)
    scored.withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc"))))
      .select(col("doc"), col("score"),
        col("n_terms").cast("int").as("n_terms"), col("rn").cast("int").as("rn"))
  }

  /** Repetition signals (Gopher-style quality filters): duplicate-word
    * fraction and the frequency share of the most common unigram/bigram,
    * per document. Formulated as explode + two-level aggregation (NOT
    * per-element HOF counting, which re-evaluates the tokenizer per
    * element — the Dedup re-evaluation trap); integer-ratio arithmetic
    * only, so results are exact cross-engine.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, id: Column,
                      text: Column): org.apache.spark.sql.DataFrame = {
    val base = df.select(id.as("doc"), words(text).as("w"))
    val uni = base.select(col("doc"), explode(col("w")).as("t"))
      .groupBy("doc", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc").agg(
        sum(col("cnt")).as("wc"),
        count(lit(1)).as("dw"),
        max(col("cnt")).as("top_uni"))
    // bigram rows from aligned slices (lambda args only — single eval)
    val bigram = base.select(col("doc"), explode(bigrams(col("w"))).as("t"))
      .groupBy("doc", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc").agg(
        sum(col("cnt")).as("bc"),
        max(col("cnt")).as("top_bi"))
    uni.join(bigram, Seq("doc"), "left")
      .select(col("doc"),
        round(lit(1.0) - col("dw").cast("double") / col("wc").cast("double"), 6)
          .as("dup_word_ratio"),
        round(col("top_uni").cast("double") / col("wc").cast("double"), 6)
          .as("top_unigram_ratio"),
        round(coalesce(col("top_bi").cast("double") / col("bc").cast("double"),
          lit(0.0)), 6).as("top_bigram_ratio"))
  }

  /** PII redaction: mask emails, long digit runs, and phone-like
    * sequences with typed placeholders; returns (redacted, n_redactions).
    * Regex-only (codegen'd) — the cheap first-pass scrub an LLM data
    * pipeline runs before anything else sees the text.
    */
  def redactPii(text: Column): (Column, Column) = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+?\\d[\\d\\s().-]{7,}\\d"
    val idRe    = "\\d{6,}"
    // count each class on the PREVIOUS stage's output, not the original —
    // digits inside an already-redacted email/phone must not be counted
    // again (the count must equal the replacements actually performed)
    val afterEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, phoneRe, "<PHONE>")
    val redacted   = regexp_replace(afterPhone, idRe, "<ID>")
    val count = (size(regexp_extract_all(text, lit(emailRe), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(phoneRe), lit(0))) +
      size(regexp_extract_all(afterPhone, lit(idRe), lit(0))))
    (redacted, count)
  }

  /** Fixed-size word-window chunking with overlap — the standard
    * pre-tokenization document splitter for training pipelines. Emits one
    * row per chunk: (doc, chunk_idx, chunk, n_words). Words are
    * materialized under the Generate barrier, and the lambda only touches
    * attributes (no re-tokenization per chunk).
    */
  def chunk(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
            chunkWords: Int = 50, overlap: Int = 10): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkWords,
      "overlap must be in [0, chunkWords)")
    val step = chunkWords - overlap
    // last start is bounded at len - overlap: a start beyond that yields a
    // chunk fully contained in its predecessor (duplicate training data)
    val lastStart = greatest(size(col("w")) - overlap, lit(1))
    df.select(id.as("doc"), words(text).as("w"))
      .filter(col("w").isNotNull)   // NULL text: emit no chunks, not junk
      .select(col("doc"), col("w"),
        posexplode(sequence(lit(1), lastStart, lit(step))))
      .select(col("doc"),
        col("pos").cast("int").as("chunk_idx"),
        array_join(slice(col("w"), col("col"), lit(chunkWords)), " ").as("chunk"),
        least(size(col("w")) - col("col") + 1, lit(chunkWords)).cast("int").as("n_words"))
  }

  /** Deterministic train/val/test assignment from the stable id — the
    * reproducible split every data pipeline needs (hash-free so any
    * engine recomputes it identically). Parts are TENTHS (out of 10);
    * pmod keeps negative ids in the documented proportions (Spark's %
    * keeps the dividend sign, which would dump all negatives in train).
    */
  def splitAssign(id: Column, trainTenths: Int = 8, valTenths: Int = 1): Column = {
    require(trainTenths >= 0 && valTenths >= 0 && trainTenths + valTenths <= 10,
      "tenths must be non-negative and sum to at most 10")
    val bucket = pmod(id, lit(10))
    when(bucket < trainTenths, "train")
      .when(bucket < trainTenths + valTenths, "val")
      .otherwise("test")
  }

  /** Sequence packing: assign docs (in stable id order) to contiguous
    * token-budget bins via a running word-count cumsum — the batch-packing
    * shape for pretraining. bin = floor((cumsum_before_doc) / budget).
    *
    * Distributed two-pass prefix sum (bit-identical to a single global
    * window, which would move EVERY row through one task): docs bucket
    * into id ranges (`floor(doc / rangeSize)` — any monotone split keeps
    * the global order, and duplicates land in the same range), each range
    * cumsums locally under a KEYED window, and the per-range totals — R
    * rows, not N, but R still grows ~n/rangeSize — prefix-sum via
    * [[graft.ops.Prep.runningTotalsViaBuckets]] (bucketed, partitioned,
    * exact) to produce range offsets that join back. At 100 TB the
    * offsets table is data-sized/8192 — small but not bounded — so the
    * broadcast hint is GATED on a measured row count (Spark honors an
    * explicit hint at any size, so an unconditional hint would be a
    * driver OOM, not a fallback): under the cap the join broadcasts,
    * over it the hint is genuinely dropped and the join runs as a
    * plain shuffle join on `rng`. Explicit ROWS frame: the
    * default RANGE frame would make duplicate ids peers and share their
    * cumulative sum (wrong bins).
    */
  def packBins(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
               budget: Int = 2048, rangeSize: Int = 8192): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(id.as("doc"), wordCount(text).as("n_words"))
      .filter(col("n_words").isNotNull)   // NULL text can't join a bin
      .withColumn("rng", floor(col("doc") / rangeSize))
    val wLocal = Window.partitionBy(col("rng")).orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // offsets: one row per range — but R = maxDoc/rangeSize GROWS WITH
    // THE CORPUS (~n/8192), so since r12 the range-offset prefix sum is
    // the bucketed form too (Prep.runningTotalsViaBuckets: ≤64-entry
    // driver prior map + partitioned in-bucket running sums — exact
    // longs, bit-identical offsets), never an unpartitioned window at
    // any corpus size. Checkpointed: the prefix-sum helper makes three
    // passes over it, and the count below must see the same rows.
    val rngTotals = base.groupBy(col("rng"))
      .agg(sum(col("n_words")).as("rng_total"))
      .localCheckpoint(true)
    val offsets = graft.ops.Prep.runningTotalsViaBuckets(
        rngTotals,
        col("rng"), Seq("rng_total" -> "rng_offset"), inclusive = false)
      .select(col("rng"), col("rng_offset"))
    // ~16 B/row -> 4 M rows ~ 64 MB in the broadcast; past that the
    // hint is dropped and the join shuffles on rng (both sides already
    // carry the key). The count is free: rngTotals is checkpointed.
    val offsetsJoinSide =
      if (rngTotals.count() <= 4000000L) broadcast(offsets) else offsets
    base
      .withColumn("local_cum", sum(col("n_words")).over(wLocal))
      .join(offsetsJoinSide, "rng")
      .select(col("doc"), col("n_words"),
        ((col("rng_offset") + col("local_cum") - col("n_words")) / budget)
          .cast("int").as("bin"))
  }

  /** Closest pairs by Levenshtein distance over a text PREFIX, within the
    * `pred` subset — the character-level near-dup check that catches
    * small edits n-gram Jaccard dilutes. Edit distance is O(len²) per
    * pair and inherently pairwise, so production use is: block first
    * (fingerprint / LSH / SimHash chunks), then run this on candidates
    * only; `pred` is that blocking hook. The prefix cap bounds per-pair
    * cost.
    */
  def editDistancePairs(df: org.apache.spark.sql.DataFrame, id: Column,
                        text: Column, pred: Column, prefixLen: Int = 80,
                        k: Int = 20): org.apache.spark.sql.DataFrame = {
    val t = df.filter(pred).select(id.as("doc"),
      substring(text, 1, prefixLen).as("prefix"))
    val a = t.select(col("doc").as("id_a"), col("prefix").as("pa"))
    val b = t.select(col("doc").as("id_b"), col("prefix").as("pb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .orderBy(col("dist"), col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Canonical-form fingerprint: lowercase, strip non-alphanumerics to
    * single spaces, collapse whitespace, md5. Two docs differing only in
    * case/punctuation/spacing collide — the standard cheap near-exact
    * dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Hashing-trick vectorizer: every token maps straight to one of
    * `buckets` feature indices via a cross-engine hash (first 8 hex chars
    * of md5, base-16 → mod), and the per-(doc, bucket) counts ARE the
    * sparse feature vector. The point at 100 TB is what this op does NOT
    * need: no vocabulary table, no broadcast dictionary, no OOV path, no
    * fit/transform split — dimensionality is fixed up front, so the whole
    * thing is one stateless map + one aggregate regardless of corpus
    * vocabulary growth (the trade: hash collisions fold rare features
    * together, the classic Weinberger et al. trick). Returns
    * (id, bucket ∈ [0, buckets), n).
    */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
                     buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.select(col(idCol).as("id"), explode(words(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .select(col("id"),
        (conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long")
          % buckets).cast("int").as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Adjacent-bigram collocation strength — the corpus-linguistics PMI
    * extractor, and a classic data-quality probe (boilerplate/templated
    * text surfaces as impossibly strong collocations). Emits the LIFT
    * (c_ab/N2) / ((c_a/N1)·(c_b/N1)) = exp(PMI) rather than the log:
    * monotonic in PMI (identical ranking) but pure IEEE divide/multiply
    * in a fixed order, so any engine computes the bit-identical double —
    * ln() is libm territory, the one place two engines legitimately
    * diverge by an ulp. Counts are occurrence counts (NOT distinct —
    * frequency is the signal here, unlike the dedup shingle sets).
    *
    * Shape at scale: one tokenize pass materialized for the two count
    * aggregates (multi-consumer scan rule); corpus totals ride a
    * broadcast; the final join keys are the (already aggregated) vocab
    * tables, orders of magnitude smaller than the token stream. Returns
    * (w1, w2, c_ab, lift) for pairs with c_ab ≥ minCount.
    */
  def pmiCollocations(df: DataFrame, textCol: Column,
                      minCount: Long = 5L): DataFrame = {
    val wdf = df.select(words(textCol).as("w")).localCheckpoint()
    val uni = wdf.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bi = wdf.select(explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val n1 = uni.agg(sum(col("c")).cast("double").as("n1"))
    val n2 = bi.agg(sum(col("c_ab")).cast("double").as("n2"))
    bi.filter(col("c_ab") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("lift",
        (col("c_ab").cast("double") / col("n2")) /
          ((col("c_a").cast("double") / col("n1")) *
            (col("c_b").cast("double") / col("n1"))))
      .select(col("w1"), col("w2"), col("c_ab"), col("lift"))
  }

  /** Source-mixture rebalancing (the Pile/DoReMi pretraining-mix shape):
    * deterministically subsample so source s contributes ∝ `weight` of
    * the output. All-integer quota arithmetic — with integer weights w_s,
    * `m = min_s(cnt_s div w_s)` and `quota_s = w_s · m` is the LARGEST
    * total any target mixture admits without oversampling (every
    * per-source rate ≤ 1) while hitting the ratios exactly. Row selection
    * ranks each source by a Knuth multiplicative hash of the id
    * (`id · 2654435761 mod 2³²` — pure integer arithmetic: deterministic,
    * decorrelated from id locality, and reproducible by ANY engine; no
    * RNG, no engine-private hash). Returns the kept rows
    * (doc, source, pick), pick = 1..quota_s.
    *
    * At 100 TB: two scans (count + rank) and one shuffle on `source`; the
    * per-source quota table is k rows broadcast back. The window ranks
    * WITHIN source partitions — no global sort. Skewed sources are real
    * here (that's what the rebalance corrects); a pathological single
    * source would call for the q46 salting shape on the rank instead.
    */
  def mixtureRebalance(df: DataFrame, id: Column, source: Column,
                       weight: Column): DataFrame = {
    val rows = df.select(id.as("doc"), source.as("source"),
      weight.cast("long").as("w"))
    val quotas = rows.groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val mScalar = quotas.agg(min(expr("cnt div w")).as("m"))
    val w = Window.partitionBy("source")
      .orderBy((col("doc") * lit(2654435761L)) % lit(4294967296L), col("doc"))
    rows.withColumn("pick", row_number().over(w))
      .join(broadcast(quotas.crossJoin(mScalar)
        .select(col("source"), (col("w") * col("m")).as("quota"))), "source")
      .filter(col("pick") <= col("quota"))
      .select(col("doc"), col("source"), col("pick").cast("int").as("pick"))
  }

  /** Per-document average surprisal under an interpolated BIGRAM language
    * model fit on the corpus itself (Jelinek-Mercer smoothing):
    * `p(wᵢ|wᵢ₋₁) = λ·c(wᵢ₋₁wᵢ)/c(wᵢ₋₁) + (1−λ)·c(wᵢ)/N`. The bigram
    * upgrade of [[graft.queries.TextQueries]]'s t22 unigram surprisal —
    * the quality signal that actually catches shuffled/concatenated text
    * (unigram models score token salad and prose identically). Every
    * count is an exact grouped aggregate; the interpolation guarantees
    * p > 0 wherever the bigram exists (it does — the model is fit on the
    * same corpus), so ln() never sees 0.
    *
    * Scale posture: the positioned token table is derived once and
    * materialized (it feeds the lag window AND the count aggs — without
    * this the explode runs three times); the lag window partitions BY
    * DOCUMENT, so state is one token per partition-row, never global; the
    * count tables are vocab/bigram-vocab sized aggregates and N is one
    * broadcast scalar. No collects, no all-pairs.
    */
  def bigramSurprisal(df: DataFrame, id: Column, text: Column,
                      lambda: Double = 0.75): DataFrame = {
    val tok = df.select(id.as("doc_id"), posexplode(words(text)))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
      .localCheckpoint()
    val uni = tok.groupBy("term").agg(count(lit(1)).as("cu"))
      .localCheckpoint() // consumed by N + two join-backs
    val nTok = uni.agg(sum(col("cu")).as("n_tok"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val big = tok
      .withColumn("prev", lag(col("term"), 1).over(byDoc))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("prev"), col("term").as("cur"))
      .localCheckpoint() // feeds the bigram counts AND the final join
    val bc = big.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val cp = uni.select(col("term").as("prev"), col("cu").as("cp"))
    val cc = uni.select(col("term").as("cur"), col("cu").as("cc"))
    big.join(bc, Seq("prev", "cur"))
      .join(cp, "prev").join(cc, "cur")
      .crossJoin(broadcast(nTok))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(
          lit(lambda) * col("cb").cast("double") / col("cp") +
            lit(1.0 - lambda) * col("cc").cast("double") / col("n_tok"))), 6)
          .as("avg_surprisal"))
  }

  /** Flesch reading-ease score per document — the classic readability
    * quality signal (alongside [[qualityScore]]'s ratio features):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    * Deterministic proxies replace dictionary lookups: a word's
    * syllable count is its number of VOWEL-GROUP runs ([aeiouy]+,
    * floored at 1), a sentence is a [.!?]+ run (floored at 1) — both
    * pure regexp counts every engine evaluates identically. PARITY
    * NOTE mirrored in the oracle: Spark's regexp_replace replaces ALL
    * matches by default, DuckDB needs the explicit 'g' flag — a missed
    * flag would count only the first vowel group. The word explode is
    * one narrow pass; everything aggregates per doc (no corpus joins).
    *
    * Returns (doc_id, n_words, n_syllables, n_sentences, flesch-raw);
    * docs with zero words yield NULL flesch. Callers round for display.
    */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(words(text)).as("w"))
      .filter(length(col("w")) > 0)
    val collapsed = regexp_replace(col("w"), "[aeiouy]+", "V")
    val syl = tok
      .withColumn("syl", greatest(lit(1),
        length(collapsed) - length(regexp_replace(collapsed, "V", ""))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("syl")).as("n_syllables"))
    val collapsedSent = regexp_replace(text, "[.!?]+", ".")
    val sen = df.select(id.as("doc_id"),
      greatest(lit(1), length(collapsedSent) -
        length(regexp_replace(collapsedSent, "\\.", ""))).as("n_sentences"))
    syl.join(sen, "doc_id")
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
  }

  /** Byte-pair-encoding trainer rounds — the REAL BPE loop, not just the
    * pair statistic (t44): each round counts adjacent token-pair
    * occurrences across the corpus, picks the most frequent pair
    * (ties → lexicographic), merges it everywhere, and repeats on the
    * merged corpus. Returns one row per round: (round, merged_pair,
    * pair_count) — the merge table a tokenizer ships.
    *
    * Corpus representation is the space-sentinel form `" h e l l o "`;
    * a merge is `replace(" a b ", " ab ")` — plain left-to-right
    * non-overlapping string replace, which BOTH engines implement
    * identically (a back-to-back `a b a b` merges once per pass; the
    * straggler merges next round — deterministic, and the same in the
    * DuckDB oracle by construction). Only `[a-z]+` words train, so the
    * merged symbols never collide with the sentinel.
    *
    * The per-round top pair is a driver-side scalar pull (one row), the
    * same train-loop shape as the k-means centroid pulls (IVF.scala) —
    * each round's corpus transform stays fully distributed, and pair
    * counting combines map-side (positional bigrams → hash agg).
    *
    * A corpus that runs out of pairs (no `[a-z]+` word of length ≥ 2, or
    * every word fully merged into one symbol) ends training early: the
    * rounds completed so far are returned (possibly zero rows) rather
    * than throwing on the empty top-pair pull.
    *
    * SCALE: `trainFrac` > 1 trains on a deterministic 1/trainFrac
    * DOCUMENT sample — merge statistics are sample-tolerant (the PQ/IVF
    * `trainFrac` discipline, ext/PQ.scala), and at 100 TB the trainer
    * must not materialize R full-corpus token tables for a 26²-ish pair
    * statistic. The sample predicate is the last hex nibble of
    * md5(doc_id-as-string) — NOT xxhash64 — so a SQL oracle on any
    * engine with md5 (DuckDB: `substr(md5(CAST(doc_id AS VARCHAR)),
    * 32, 1) < '4'`) re-derives the exact same subset; trainFrac must
    * divide 16. The sampled base is materialized ONCE; round r's corpus
    * is base + merges 1..r−1 re-applied as one chained-replace
    * projection ([[bpeApplyMerges]]) — composition-identical to
    * materializing each round, without R localCheckpoints.
    */
  def bpeTrainRounds(df: DataFrame, text: Column, rounds: Int,
                     trainFrac: Int = 1,
                     sampleId: Option[Column] = None): DataFrame = {
    require(trainFrac >= 1 && 16 % trainFrac == 0,
      s"bpeTrainRounds: trainFrac=$trainFrac must divide 16 (md5-nibble sample)")
    require(trainFrac == 1 || sampleId.nonEmpty,
      "bpeTrainRounds: trainFrac > 1 needs sampleId (the doc id column)")
    val spark = df.sparkSession
    val src = sampleId match {
      case Some(idc) if trainFrac > 1 =>
        val keepBelow = "0123456789abcdef".charAt(16 / trainFrac).toString
        df.filter(substring(md5(idc.cast("string")), 32, 1) < lit(keepBelow))
      case _ => df
    }
    val base = src.select(explode(words(text)).as("wd"))
      .filter(col("wd").rlike("^[a-z]+$") && length(col("wd")) >= 2)
      .select(concat(lit(" "),
        trim(regexp_replace(col("wd"), "(.)", "$1 ")), lit(" ")).as("s"))
      .localCheckpoint()
    val out = Seq.newBuilder[(Int, String, Long)]
    var merges = Vector.empty[String]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val cur =
        if (merges.isEmpty) base
        else base.select(bpeApplyMerges(col("s"), merges).as("s"))
      cur.select(split(trim(col("s")), " ").as("t"))
        .select(explode(Dedup.gramsOfWords(col("t"), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect().headOption match {
        case None => exhausted = true
        case Some(top) =>
          val pair = top.getString(0)
          out += ((r, pair, top.getLong(1)))
          merges :+= pair
      }
      r += 1
    }
    import spark.implicits._
    out.result().toDF("round", "merged_pair", "pair_count")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-feature log ratio
    * of the TARGET distribution to the SOURCE (full-corpus) distribution,
    * add-1 smoothed — ln((t_f+1)/(T+V)) − ln((s_f+1)/(S+V)). Features
    * here are vocabulary unigrams (DuckDB-recomputable); at 100 TB the
    * standard form hashes n-grams into a fixed bucket space, which only
    * SHRINKS this table — the scale shape is unchanged: one token-count
    * aggregate, one broadcast totals row, O(vocab) output.
    *
    * The ratio VALUES are the staged engine-trusted input of the t49
    * oracle (ln has no bit-parity guarantee across libm implementations
    * — the `_staged_ivf_centroids` pattern); everything downstream is
    * exact decimal arithmetic both engines re-derive.
    */
  def dsirLogRatios(docs: DataFrame, id: Column, text: Column,
                    targetPred: Column): DataFrame = {
    val tok = docs
      .select(id.as("doc"), targetPred.as("tgt"), explode(words(text)).as("w"))
      .filter(length(col("w")) > 0)
    val sf = tok.groupBy(col("w"))
      .agg(count(lit(1)).as("s_f"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("t_f"))
    val tot = sf.agg(sum(col("s_f")).as("S_tot"), sum(col("t_f")).as("T_tot"),
      count(lit(1)).as("V"))
    sf.crossJoin(broadcast(tot))
      .select(col("w"),
        (log((col("t_f") + 1).cast("double") / (col("T_tot") + col("V"))) -
          log((col("s_f") + 1).cast("double") / (col("S_tot") + col("V"))))
          .as("r"))
  }

  /** Per-doc DSIR score: Σ_w count(doc, w) · r_w with the ratio QUANTIZED
    * to DECIMAL(18,9) before the multiply-sum — the sum is exact and
    * merge-order-independent, so the score is reproducible in any engine
    * given the staged ratio table. Returns (doc, n_tokens, dsir_score
    * rounded 6); selection = top-k by (score desc, doc) — importance
    * resampling's deterministic argmax form.
    */
  def dsirScores(docs: DataFrame, id: Column, text: Column,
                 ratios: DataFrame): DataFrame = {
    val c = docs.select(id.as("doc"), explode(words(text)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("c"))
    c.join(ratios, "w")
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("c") * col("r").cast("decimal(18,9)")).cast("double"), 6)
          .as("dsir_score"))
  }

  /** Canonicalize a URL column — the normalization behind URL-level crawl
    * dedup (t50): lowercase the host, drop a leading `www.`, drop the
    * port (parse_url's HOST already excludes it, so `:443` never
    * survives), strip the trailing path slash and any fragment, remove
    * `utm_*` tracking params and SORT the survivors. Everything is
    * codegen'd map-side expression work (parse_url + regexp + array
    * HOFs) — no shuffle, no UDF. IDEMPOTENT by construction
    * (canonical(canonical(u)) == canonical(u), GraftProps): a canonical
    * URL's host is already lowercase/www-less, its path slash-free, its
    * params sorted and utm-free — the second pass is the identity.
    */
  def canonicalizeUrl(url: Column): Column = concat(
    lit("https://"),
    // HOST coalesces to "" like PATH/QUERY: a malformed URL parse_url
    // can't extract a host from must NOT null the whole concat —
    // otherwise every unparseable URL collapses into one NULL canonical
    // group at dedup time (and diverges from oracle regexp_extract,
    // which yields '' on no match)
    regexp_replace(lower(coalesce(call_function("parse_url", url,
      lit("HOST")), lit(""))), "^www\\.", ""),
    // PATH/QUERY coalesce to "" — a bare `https://host` or query-less URL
    // must canonicalize, not null out the whole string through concat.
    // `/+$` strips ALL trailing slashes so a `//`-terminated path stays
    // idempotent (one-slash strip left canonical(canonical(u)) != canonical(u))
    regexp_replace(coalesce(call_function("parse_url", url, lit("PATH")),
      lit("")), "/+$", ""),
    lit("?"),
    array_join(array_sort(filter(
      split(coalesce(call_function("parse_url", url, lit("QUERY")), lit("")),
        "&"),
      p => !p.startsWith("utm_"))), "&"))

  /** Apply an ORDERED merge table to the space-sentinel corpus column —
    * [[bpeTrainRounds]]'s inference step as one chained projection: each
    * merge is the same `replace(" a b ", " ab ")`, folded left-to-right,
    * so the whole table applies in a SINGLE distributed pass (no
    * per-merge aggregation, no driver round-trips — this is what a
    * tokenizer does at serving time, and the 100 TB-side win over
    * re-training: O(1) jobs instead of O(rounds)). */
  def bpeApplyMerges(s: Column, merges: Seq[String]): Column =
    merges.foldLeft(s) { (c, pair) =>
      call_function("replace", c,
        lit(" " + pair + " "), lit(" " + pair.replace(" ", "") + " "))
    }

  /** BPE ENCODE — [[bpeTrainRounds]]'s apply step, taking an ALREADY
    * TRAINED ordered merge table (what a tokenizer does at serving time:
    * train once, apply everywhere) and applying it to every document via
    * [[bpeApplyMerges]] — one chained replace projection, one distributed
    * pass, ZERO training jobs. Callers share one trained table per
    * session (TextQueries memoizes it, the ClimateQueries cached-lineage
    * pattern) instead of re-learning per consumer — at 100 TB an encode
    * that re-trains internally multiplies the corpus scans by the
    * number of consumers. Returns (doc_id, n_tokens_raw, n_tokens_bpe):
    * n_tokens_raw = character count of the trainable words, n_tokens_bpe
    * = tokens after the merges — the compression a tokenizer buys.
    */
  def bpeEncode(df: DataFrame, id: Column, text: Column,
                merges: Seq[String]): DataFrame = {
    val base = df.select(id.as("doc_id"), explode(words(text)).as("wd"))
      .filter(col("wd").rlike("^[a-z]+$") && length(col("wd")) >= 2)
      .select(col("doc_id"), concat(lit(" "),
        trim(regexp_replace(col("wd"), "(.)", "$1 ")), lit(" ")).as("s"))
    base.select(col("doc_id"), bpeApplyMerges(col("s"), merges).as("s"))
      .select(col("doc_id"),
        size(split(trim(col("s")), " ")).cast("long").as("n_bpe"),
        (length(call_function("replace", col("s"), lit(" "), lit(""))))
          .cast("long").as("n_chars"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_chars")).as("n_tokens_raw"),
        sum(col("n_bpe")).as("n_tokens_bpe"))
  }
}
