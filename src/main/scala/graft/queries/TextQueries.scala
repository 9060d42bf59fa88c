package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{SessionMemo, StoredIndex, Tables}
import graft.ext.{Dedup, TextOps}

/** Text-analysis + dedup surface over the `documents` table. The
  * SQL-expressible operators get full DuckDB oracles (note DuckDB
  * regexp_replace needs the 'g' flag for global semantics, and its list
  * indexing is 1-based like Spark's element_at); MinHash/SimHash use
  * Spark murmur3/xxhash64 with no DuckDB equivalent → rows-only +
  * unit-tested on crafted near-dups.
  */
object TextQueries {

  /** Shared DuckDB fragments mirroring TextOps. */
  private val duckWords = "regexp_split_to_array(lower(trim(text)), '\\s+')"
  private val duckStops = "('the','a','of','and','to','in')"
  /** DuckDB twin of TextOps.qualityScore (same formula as t02's oracle). */
  private val duckQuality =
    s"""round(least(CAST(len(list_filter($duckWords, w -> w IN $duckStops)) AS DOUBLE)
       |            / len($duckWords) * 5.0, 1.0) * 0.5
       |      + least(len($duckWords) / 100.0, 1.0) * 0.5, 4)""".stripMargin

  // ---- shared prefix-filter tables (VERDICT r11 task #3) -------------
  // t40 (τ=2/5), t23 and t28 (both τ=1/2) all tokenize the same corpus:
  // before r12 each board paid the shingle+hash materialization three
  // times and the FULL τ=1/2 candidate+verify twice (t23+t28). The
  // session memos below compute each table once per (session, dir).
  // Results are IDENTICAL (same deterministic tables), so Verify grading
  // is untouched; the bench board's per-query mins become "given the
  // shared corpus tables" — the same semantic the climate family already
  // has — and the fresh end-to-end cost stays visible as the benchOnly
  // t53_dedup_chain_fresh entry (the c09 pattern).
  private val shMemo = SessionMemo[DataFrame]()
  private val halfPairMemo = SessionMemo[DataFrame]()

  /** The (doc, s, h) shingle-hash table for `documents` at `dir`,
    * materialized once per (session, dir, corpus file versions): the
    * stored text indexes build from it, so an index built over a rewritten
    * corpus must not take the previous corpus' shingles. */
  private[graft] def sharedShingles(s: SparkSession, dir: String): DataFrame = {
    val files = Tables.versions(s, Seq(new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")))
    shMemo(s, s"$dir $files") {
      Dedup.shingleHashTable(Tables.documents(s, dir), col("doc_id"), col("text"), n = 3)
    }
  }

  /** The exact J ≥ 1/2 pair set (t23/t28's edge engine), computed once
    * per (session, dir) from [[sharedShingles]] and materialized — the
    * two consumers differ only downstream of the edges. */
  private[graft] def sharedHalfPairs(s: SparkSession, dir: String): DataFrame =
    halfPairMemo(s, dir) {
      Dedup.prefixFilterPairsFrom(sharedShingles(s, dir), tauNum = 1, tauDen = 2)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
    }

  /** Build-if-absent STORED τ=2/5 prefix index for the corpus at `dir`
    * (the s15 stored-index discipline): prefix + signature tables persist
    * once under a content-stamped location ([[graft.core.StoredIndex]]),
    * and consumers pay two parquet scans. Shared by t55 (stored self-join dedup) and t58 (incremental
    * batch probe). Returns (prefix, sigs, shingle row count — the
    * broadcast size gate's input).
    */
  private def storedPrefixIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val (pref, sigs, _, n) = storedPrefixIndexImpl(s, dir, maxDf = None)
    (pref, sigs, n)
  }

  /** The df-capped index family (t59): shingles in more than `maxDf` docs
    * are stop-listed at BUILD time — prefix lengths, signature arrays and
    * sizes are all internally consistent over the surviving shingle
    * space (the t54 semantics) — and the keep set persists next to the
    * index so a batch probe stop-lists IDENTICALLY without recomputing
    * any df. Returns (prefix, sigs, keep set, capped shingle rows).
    */
  private def storedPrefixIndexCapped(s: SparkSession, dir: String,
                                      maxDf: Long): (DataFrame, DataFrame, DataFrame, Long) = {
    val (pref, sigs, keep, n) = storedPrefixIndexImpl(s, dir, Some(maxDf))
    (pref, sigs, keep.get, n)
  }

  private def storedPrefixIndexImpl(s: SparkSession, dir: String,
                                    maxDf: Option[Long]): (DataFrame, DataFrame, Option[DataFrame], Long) = {
    val docs = Tables.documents(s, dir)
    // "cap=N keep=s": the keep set is keyed by the shingle STRING since
    // r14 (df capped per string, ADVICE r13) — the schema token
    // invalidates indexes persisted with the older hash-keyed keep set
    val idx = StoredIndex("prefix_index",
        s"tau=2/5 n=3${maxDf.map(c => s" cap=$c keep=s").getOrElse("")}",
        dir, docs, "doc_id", "text", suffix = maxDf.map(c => s"_cap$c").getOrElse("")) { b =>
      val sh0 = sharedShingles(s, dir)
      val sh = maxDf match {
        case Some(c) =>
          val (capped, keep) = Dedup.cappedShingles(sh0, c)
          keep.write.parquet(b.path("keep"))
          capped.localCheckpoint()
        case None => sh0
      }
      Dedup.prefixIndexTable(sh, tauNum = 2, tauDen = 5).write.parquet(b.path("prefix"))
      Dedup.signatureTable(sh).write.parquet(b.path("sigs"))
      b.record("sh_rows", sh.count())
    }
    (idx("prefix"), idx("sigs"), maxDf.map(_ => idx("keep")), idx.meta("sh_rows"))
  }

  /** Build-if-absent STORED order-STABLE τ=2/5 prefix index over the
    * PRE-EXISTING corpus side (doc_id % 10 ≠ 7 — the t58/t59 ingestion
    * split): prefix rows ([[graft.ext.Dedup.stablePrefixIndexTable]],
    * string-ordered so prefixes are corpus-independent) and signature
    * arrays persist once under a content-stamped location. This is the
    * MAINTAINABLE index family: folding a batch in is a pure append
    * (t60 grades stored(A) ∪ build(B) == rebuild(A∪B) hash-exactly),
    * where the df-ordered index of [[storedPrefixIndex]] would need
    * re-prefixing every doc whose shingle dfs the batch shifted.
    * Returns (prefix, sigs, corpus-side shingle rows for the broadcast
    * gate).
    */
  private[queries] def storedStableIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val corpus = Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7)
    val idx = StoredIndex("stable_prefix_index", "tau=2/5 n=3 order=s side=mod10ne7",
        dir, corpus, "doc_id", "text") { b =>
      // shingle rows are per document, so the corpus side's are the
      // shared table's rows of its documents
      val sh = sharedShingles(s, dir).filter(col("doc") % 10 =!= 7)
      Dedup.stablePrefixIndexTable(sh, tauNum = 2, tauDen = 5).write.parquet(b.path("prefix"))
      Dedup.signatureTable(sh).write.parquet(b.path("sigs"))
      b.record("sh_rows", sh.count())
    }
    (idx("prefix"), idx("sigs"), idx.meta("sh_rows"))
  }

  /** Force-build every content-stamped stored index this registry owns —
    * Bench's pre-pass (VERDICT r14 #3; see
    * SimilarityQueries.prewarmStoredIndexes): t55/t58's df-ordered index,
    * t59's df-capped family (the registered maxDf=20), and t60/t61/st12's
    * order-stable index. Cheap stamp checks when already built.
    */
  def prewarmStoredIndexes(s: SparkSession, dir: String): Unit = {
    storedPrefixIndex(s, dir)
    storedPrefixIndexCapped(s, dir, maxDf = 20L)
    storedStableIndex(s, dir)
    ()
  }

  /** The MERGED stable index + batch-side tables t60/t61 share: stored
    * corpus prefix/sigs appended with the batch's freshly-built rows —
    * the O(batch) fold-in (the stored side arrives as two parquet scans;
    * only the batch tokenizes). Returns (merged pref incl. h, merged
    * sigs, total shingle rows for the broadcast gate).
    */
  private def mergedStableIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val (pref, sigs, corpusShRows) = storedStableIndex(s, dir)
    val batch = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
    val bSh = Dedup.shingleHashTable(batch, col("doc_id"), col("text"))
    val mergedPref = pref.select(col("doc"), col("s"), col("h"), col("n_sh"))
      .union(Dedup.stablePrefixIndexTable(bSh, tauNum = 2, tauDen = 5))
    val mergedSigs = sigs.union(Dedup.signatureTable(bSh))
    (mergedPref, mergedSigs, corpusShRows + bSh.count())
  }

  /** benchOnly twin of t23 with NO session memos: shingle table, τ=1/2
    * prefix-filter pairs, connected components and survivor argmax all
    * built fresh per call — the c09_full_pipeline pattern, keeping the
    * true end-to-end dedup cost on the board now that t40/t23/t28's
    * per-query entries time the marginal cost over the shared tables.
    * Result is identical to t23 (graded there); this entry exists only
    * to be timed.
    */
  def dedupChainFresh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.prefixFilterPairs(docs, col("doc_id"), col("text"),
        tauNum = 1, tauDen = 2)
      .select(col("id_a"), col("id_b"))
      .union(docs.select(col("doc_id"), col("doc_id")))
    survivors(docs, Dedup.connectedComponents(pairs, col("id_a"), col("id_b")))
  }

  /** Survivor selection shared by t23 (exact edges, oracled) and t27 (LSH
    * edges, scale form): one kept doc per connected component, argmax by
    * (word_count desc, node asc), with member counts. Windows partition BY
    * COMPONENT — no global sort.
    */
  private def survivors(docs: org.apache.spark.sql.DataFrame,
                        comp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wc = docs.select(col("doc_id"),
      TextOps.wordCount(col("text")).as("word_count"))
    val byComp = Window.partitionBy(col("component"))
    val rank = Window.partitionBy(col("component"))
      .orderBy(col("word_count").desc, col("node"))
    comp.join(wc, comp("node") === wc("doc_id"))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("component"), col("node").as("survivor_id"),
        col("word_count"), col("n_members"))
      .orderBy("component")
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("t01_token_stats",
      s"""SELECT doc_id,
         |  CAST(len($duckWords) AS INTEGER) AS word_count,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS bpe_count,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.wordCount(col("text")).as("word_count"),
        TextOps.bpeishCount(col("text")).as("bpe_count"),
        col("n_chars")).orderBy("doc_id")
    },

    QueryDef("t02_quality_score",
      s"""SELECT doc_id,
         |  CAST(len($duckWords) AS INTEGER) AS word_count,
         |  CAST(len(list_filter($duckWords, w -> w IN $duckStops)) AS INTEGER) AS stop_count,
         |  round(CAST(len(list_filter($duckWords, w -> w IN $duckStops)) AS DOUBLE)
         |        / len($duckWords), 6) AS stop_ratio,
         |  round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |        / len($duckWords), 6) AS avg_word_len,
         |  round(least(CAST(len(list_filter($duckWords, w -> w IN $duckStops)) AS DOUBLE)
         |              / len($duckWords) * 5.0, 1.0) * 0.5
         |        + least(len($duckWords) / 100.0, 1.0) * 0.5, 4) AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val feats = TextOps.qualityFeatures(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    },

    QueryDef("t03_lang_id",
      s"""SELECT doc_id, lang,
         |  CAST(len(list_filter($duckWords, w -> w IN ('the','a','of','and','is'))) AS INTEGER) AS score_en,
         |  CAST(len(list_filter($duckWords, w -> w IN ('der','die','das','und','ist'))) AS INTEGER) AS score_de,
         |  CAST(len(list_filter($duckWords, w -> w IN ('el','los','las','es','y'))) AS INTEGER) AS score_es,
         |  CAST(len(list_filter($duckWords, w -> w IN ('le','les','des','est','et'))) AS INTEGER) AS score_fr,
         |  CAST(len(list_filter($duckWords, w -> w IN ('的','是','了','在','和'))) AS INTEGER) AS score_zh,
         |  CASE
         |    WHEN score_en IS NULL THEN NULL
         |    WHEN score_en + score_de + score_es + score_fr + score_zh = 0 THEN 'und'
         |    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
         |    WHEN score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
         |    WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
         |    WHEN score_fr >= score_zh THEN 'fr'
         |    ELSE 'zh' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // one-pass form: the per-column langScores/langPredict select
      // re-evaluates the tokenizer ~16x (TextOps.langIdOnePass scaladoc)
      TextOps.langIdOnePass(Tables.documents(s, dir),
          "doc_id", "lang", col("text"))
        .orderBy("doc_id")
    },

    QueryDef("t04_fingerprint",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    QueryDef("t05_exact_dedup",
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("text_hash")
    },

    QueryDef("t06_jaccard_topk",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM docs),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)
    },

    // ---- t54: t06's DEPLOYMENT twin — exact Jaccard with the df-capped
    //      shingle space (maxDf=20). Same inverted-index join, but
    //      shingles in more than 20 docs are stop-listed BEFORE the
    //      self-join, so per-shingle pair fan-out is bounded at C(20,2)
    //      and total candidate volume is linear in the corpus — the
    //      uncapped t06 was measured at 13.9 G join rows at x100 data
    //      (out of single-box reach BY THE DATA). Jaccard is computed
    //      consistently over the surviving shingle space (sizes and
    //      intersections both exclude stop-listed shingles) — the
    //      standard production df-cap, and fully DuckDB-expressible:
    //      the q44->q45 discipline applied to the dedup family's exact
    //      member. ----
    QueryDef("t54_jaccard_topk_capped",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM docs),
        |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 20),
        |sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN keep USING (sh)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"),
          maxDf = 20L)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)
    },

    QueryDef("t09_repetition",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
        |  FROM documents),
        |uni AS (
        |  SELECT doc_id, sum(cnt) AS wc, count(*) AS dw, max(cnt) AS top_uni
        |  FROM (SELECT doc_id, t, count(*) AS cnt
        |        FROM (SELECT doc_id, unnest(words) AS t FROM w)
        |        GROUP BY doc_id, t)
        |  GROUP BY doc_id),
        |bi AS (
        |  SELECT doc_id, sum(cnt) AS bc, max(cnt) AS top_bi
        |  FROM (SELECT doc_id, t, count(*) AS cnt
        |        FROM (SELECT doc_id,
        |                unnest(list_transform(range(1, len(words)),
        |                       i -> words[i] || ' ' || words[i+1])) AS t
        |              FROM w)
        |        GROUP BY doc_id, t)
        |  GROUP BY doc_id)
        |SELECT uni.doc_id AS doc,
        |  round(1.0 - CAST(dw AS DOUBLE) / wc, 6) AS dup_word_ratio,
        |  round(CAST(top_uni AS DOUBLE) / wc, 6) AS top_unigram_ratio,
        |  round(coalesce(CAST(top_bi AS DOUBLE) / bc, 0.0), 6) AS top_bigram_ratio
        |FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
        |ORDER BY doc""".stripMargin) { (s, dir) =>
      TextOps.repetitionStats(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc")
    },

    // PII redaction: regex scrub + per-class hit counting. Documents are
    // synthetic word salad (no PII) → redaction is the identity here,
    // which the md5 equality makes oracle-checkable; real-behavior cases
    // are unit-tested on crafted PII text in DedupSpec/TextOpsSpec.
    QueryDef("t10_redact_pii",
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g'),
        |    '\d{6,}', '<ID>', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\+?\d[\d\s().-]{7,}\d'))
        |     + len(regexp_extract_all(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g'),
        |         '\d{6,}')) AS INTEGER) AS n_redactions
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (redacted, n) = TextOps.redactPii(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(redacted).as("redacted_md5"),
          n.as("n_redactions"))
        .orderBy("doc_id")
    },

    QueryDef("t11_chunking",
      """SELECT doc_id AS doc,
        |  CAST(floor((i - 1) / 40) AS INTEGER) AS chunk_idx,
        |  array_to_string(list_slice(w, i, i + 49), ' ') AS chunk,
        |  CAST(least(len(w) - i + 1, 50) AS INTEGER) AS n_words
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |      FROM documents),
        |  unnest(range(1, greatest(len(w) - 10, 1) + 1, 40)) AS t(i)
        |ORDER BY doc, chunk_idx""".stripMargin) { (s, dir) =>
      TextOps.chunk(Tables.documents(s, dir), col("doc_id"), col("text"),
          chunkWords = 50, overlap = 10)
        .orderBy("doc", "chunk_idx")
    },

    QueryDef("t12_split_assign",
      """SELECT lang,
        |  CASE WHEN doc_id % 10 < 8 THEN 'train'
        |       WHEN doc_id % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"), TextOps.splitAssign(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    },

    QueryDef("t13_pack_bins",
      """SELECT doc_id AS doc,
        |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER) AS n_words,
        |  CAST(floor((sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))
        |          OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |        - len(regexp_split_to_array(lower(trim(text)), '\s+'))) / 2048)
        |       AS INTEGER) AS bin
        |FROM documents ORDER BY doc""".stripMargin) { (s, dir) =>
      TextOps.packBins(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc")
    },

    // ---- per-doc TF-IDF top terms (smooth idf, sklearn form) ----
    QueryDef("t14_tfidf",
      s"""WITH w AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id AS doc, term, tf, tfidf, CAST(rn AS INTEGER) AS rn
         |FROM (SELECT tf.doc_id, tf.term, tf.tf,
         |        round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf,
         |        row_number() OVER (PARTITION BY tf.doc_id
         |          ORDER BY round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) DESC,
         |                   tf.term) AS rn
         |      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         |WHERE rn <= 3 ORDER BY doc, rn""".stripMargin) { (s, dir) =>
      TextOps.tfidfTopK(Tables.documents(s, dir), col("doc_id"), col("text"), k = 3)
        .orderBy("doc", "rn")
    },

    // ---- Okapi BM25 top-20 for a fixed 3-term query — the lexical half
    //      of hybrid retrieval (s16 fuses the vector half). Every
    //      floating constant is interpolated from the SAME Scala doubles
    //      the engine uses and CAST AS DOUBLE (a bare 2.2 literal would
    //      be DECIMAL in DuckDB and change the arithmetic); the per-term
    //      sum goes through DECIMAL(18,6) on both sides. ----
    QueryDef("t32_bm25_topk", {
      val (k1, b) = (1.2, 0.75)
      s"""WITH w AS (SELECT doc_id AS doc, unnest($duckWords) AS term FROM documents),
         |tf AS (SELECT doc, term, count(*) AS tf FROM w GROUP BY 1, 2),
         |dl AS (SELECT doc, sum(tf) AS dl FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |qt AS (SELECT * FROM tf WHERE term IN ('hash', 'join', 'spark')),
         |dfreq AS (SELECT term, count(*) AS df FROM qt GROUP BY 1),
         |sc AS (SELECT qt.doc,
         |    (ln(1.0 + (CAST(n.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
         |              / (CAST(dfreq.df AS DOUBLE) + 0.5))
         |     * (CAST(qt.tf AS DOUBLE) * CAST(${k1 + 1.0} AS DOUBLE)))
         |    / (CAST(qt.tf AS DOUBLE)
         |       + CAST($k1 AS DOUBLE) * (CAST(${1.0 - b} AS DOUBLE)
         |         + CAST($b AS DOUBLE) * CAST(dl.dl AS DOUBLE) / ad.avgdl)) AS s
         |  FROM qt JOIN dfreq USING (term) JOIN dl USING (doc)
         |  CROSS JOIN n CROSS JOIN ad),
         |agg AS (SELECT doc, round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE), 6) AS score,
         |          count(*) AS n_terms
         |        FROM sc GROUP BY doc)
         |SELECT doc, score, CAST(n_terms AS INTEGER) AS n_terms,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc) AS INTEGER) AS rn
         |FROM agg ORDER BY score DESC, doc LIMIT 20""".stripMargin
    }) { (s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), col("doc_id"), col("text"),
          queryTerms = Seq("hash", "join", "spark"), k = 20)
        .orderBy("rn")
    },

    // ---- corpus-level top-20 bigrams ----
    QueryDef("t15_ngram_topk",
      """WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(words)),
        |               i -> words[i] || ' ' || words[i+1])) AS bigram FROM w)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, dir) =>
      TextOps.topBigrams(Tables.documents(s, dir), col("text"), k = 20)
    },

    // ---- near-dup clusters: connected components over the jaccard>=0.5
    //      pair graph (+ every doc as its own singleton) — pairs become
    //      dedup clusters. Edges come from the LSH path (candidates →
    //      exact array_intersect verify), NOT the all-pairs inverted-index
    //      join: at 100 TB the quadratic pass is unrunnable, and here it
    //      needlessly doubled the bench's dedup share. With 16 bands × 4
    //      rows a j≥0.5 pair misses all bands with prob ≤(1−j⁴)¹⁶ —
    //      ~2e-4 at the j≥0.8 pairs the corpus actually contains; recall
    //      vs the exact pass is checked in DedupSpec. Oracle =
    //      recursive-CTE transitive closure over the EXACT pair set with
    //      min-label aggregation (same component semantics — green iff
    //      LSH recall is total, which it is on this corpus). ----
    QueryDef("t16_dedup_clusters",
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM docs),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT id_a, id_b
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM jac
        |          UNION ALL SELECT id_b, id_a FROM jac),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b)
        |SELECT node, min(lbl) AS component FROM reach
        |GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        // every doc is (at least) its own component
        .union(docs.select(col("doc_id"), col("doc_id")))
      Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
        .orderBy("node")
    },

    // ---- decontamination: train docs sharing any 3-gram with the eval
    //      set (eval = doc_id % 10 = 9, scale-independent) ----
    QueryDef("t17_decontaminate",
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 10 = 9 AS is_eval,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, is_eval, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |ev AS (SELECT DISTINCT s FROM sh WHERE is_eval)
        |SELECT doc_id AS doc, count(*) AS n_shared
        |FROM sh JOIN ev USING (s)
        |WHERE NOT is_eval
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Dedup.contamination(Tables.documents(s, dir), col("doc_id"), col("text"),
          col("doc_id") % 10 === 9)
        .orderBy("doc")
    },

    // ---- character-level near-dups: closest pairs by Levenshtein over
    //      an 80-char prefix within a bounded (blocked) id range ----
    QueryDef("t18_edit_distance",
      """WITH t AS (SELECT doc_id, substring(text, 1, 80) AS p
        |           FROM documents WHERE doc_id < 150)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |ORDER BY dist, id_a, id_b LIMIT 20""".stripMargin) { (s, dir) =>
      TextOps.editDistancePairs(Tables.documents(s, dir), col("doc_id"),
        col("text"), col("doc_id") < 150, prefixLen = 80, k = 20)
    },

    // ---- corpus Zipf fit: log-log OLS of term frequency on rank over
    //      the top-100 terms. Rank comes from TakeOrdered (orderBy+limit —
    //      never a global window over the full vocabulary), then a window
    //      over just the 100 surviving rows. The slope is the corpus-
    //      health number (natural text ≈ −1; templated/spammy corpora
    //      flatten it). ----
    QueryDef("t19_zipf_fit",
      s"""WITH tf AS (SELECT term, count(*) AS cnt
         |  FROM (SELECT unnest($duckWords) AS term FROM documents)
         |  GROUP BY 1),
         |top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
         |        FROM tf ORDER BY cnt DESC, term LIMIT 100)
         |SELECT round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
         |  round(regr_intercept(ln(cnt), ln(rank)), 4) AS zipf_intercept,
         |  count(*) AS n_terms
         |FROM top""".stripMargin) { (s, dir) =>
      val tf = Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val top = tf.orderBy(col("cnt").desc, col("term")).limit(100)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
      top.agg(
        round(regr_slope(log(col("cnt")), log(col("rank"))), 4).as("zipf_slope"),
        round(regr_intercept(log(col("cnt")), log(col("rank"))), 4).as("zipf_intercept"),
        count(lit(1)).as("n_terms"))
    },

    // ---- corpus-relative quality filter: keep docs whose word count sits
    //      inside the [p05, p95] band — the percentile thresholds are ONE
    //      tiny aggregate broadcast back over the scan (no sort, no window;
    //      the filter itself stays map-side). Thresholds rounded to 6 on
    //      both engines so the band edges compare identically. ----
    QueryDef("t20_length_band_filter",
      """WITH wc AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER)
        |      AS word_count
        |  FROM documents),
        |b AS (SELECT round(quantile_cont(word_count, 0.05), 6) AS lo,
        |             round(quantile_cont(word_count, 0.95), 6) AS hi
        |      FROM wc)
        |SELECT doc_id, word_count FROM wc, b
        |WHERE word_count >= lo AND word_count <= hi
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val wc = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.wordCount(col("text")).as("word_count"))
      val bounds = wc.agg(
        round(expr("percentile(word_count, 0.05)"), 6).as("lo"),
        round(expr("percentile(word_count, 0.95)"), 6).as("hi"))
      wc.crossJoin(broadcast(bounds))
        .filter(col("word_count") >= col("lo") && col("word_count") <= col("hi"))
        .select(col("doc_id"), col("word_count"))
        .orderBy("doc_id")
    },

    // ---- end-to-end corpus prep: the canonical LLM-data chain as ONE
    //      composed query — length gate → exact-dedup survivors (min id
    //      per normalized fingerprint) → train/val/test assignment. Each
    //      stage is individually oracled elsewhere (t01/t04/t05/t12);
    //      this pins the COMPOSITION: filters before dedup (dropped docs
    //      must not claim survivorship), split assigned on the surviving
    //      ids. Shapes: map-side gate → one fingerprint aggregate + semi
    //      join → map-side split — two shuffles end to end. ----
    QueryDef("t21_corpus_prep",
      """WITH wc AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER)
        |      AS word_count
        |  FROM documents),
        |g AS (SELECT * FROM wc WHERE word_count >= 5),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM g
        |  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
        |SELECT g.doc_id,
        |  CASE WHEN g.doc_id % 10 < 8 THEN 'train'
        |       WHEN g.doc_id % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  word_count
        |FROM g JOIN keep ON g.doc_id = keep.doc_id
        |ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
      val gated = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextOps.wordCount(col("text")).as("word_count"))
        .filter(col("word_count") >= 5)
      Dedup.dedupExact(gated, "doc_id", "text")
        .select(col("doc_id"), TextOps.splitAssign(col("doc_id")).as("split"),
          col("word_count"))
        .orderBy("doc_id")
    },

    // ---- unigram-LM surprisal score: per-doc mean −ln p(word) under the
    //      corpus unigram distribution — the cheap shape of perplexity
    //      filtering (CCNet-style): high scores = rare-token/junk docs,
    //      low = repetitive boilerplate. One token count table, joined
    //      back to the exploded tokens, one per-doc aggregate; the corpus
    //      total rides a crossed 1-row aggregate (no collect). ----
    QueryDef("t22_unigram_surprisal",
      s"""WITH tok AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
         |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |n AS (SELECT sum(c) AS n_tok FROM cnt)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(-avg(ln(CAST(c AS DOUBLE) / n_tok)), 6) AS avg_surprisal
         |FROM tok JOIN cnt USING (term) CROSS JOIN n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      // vocab-sized count table consumed by the total AND the join-back —
      // materialized so only the join re-explodes the corpus (tok itself
      // is the one thing NOT worth materializing: it's bigger than input)
      val cnt = tok.groupBy("term").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val n = cnt.agg(sum(col("c")).as("n_tok"))
      tok.join(cnt, "term").crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(-avg(log(col("c").cast("double") / col("n_tok"))), 6)
            .as("avg_surprisal"))
        .orderBy("doc_id")
    },

    // ---- dedup cluster SURVIVOR selection: one kept doc per near-dup
    //      component, chosen by quality (longest wordcount, tie → lowest
    //      id) — the keep-list a dedup pipeline actually emits (t16 gives
    //      the clusters; this picks the winners). Ranked window
    //      partitioned BY COMPONENT, so no global sort. Oracle = the
    //      recursive-CTE closure + the same argmax. Edges come from the
    //      EXACT inverted-index Jaccard (t06's path) so the oracle match
    //      is by construction, not LSH-recall luck: the DuckDB closure is
    //      exact, and a qualifying pair near the 0.5 threshold has a
    //      10-35% chance of missing an LSH band — t27 is the LSH-fed
    //      scale form of this same query. ----
    QueryDef("t23_cluster_survivors",
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM docs),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT id_a, id_b
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM jac
        |          UNION ALL SELECT id_b, id_a FROM jac),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        |wc AS (SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
        |                           AS INTEGER) AS word_count
        |       FROM documents)
        |SELECT component, node AS survivor_id, word_count,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM (SELECT c.component, c.node, wc.word_count,
        |        count(*) OVER (PARTITION BY c.component) AS n_members,
        |        row_number() OVER (PARTITION BY c.component
        |          ORDER BY wc.word_count DESC, c.node) AS rn
        |      FROM comp c JOIN wc ON wc.doc_id = c.node)
        |WHERE rn = 1 ORDER BY component""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // exact J ≥ 1/2 edge set via PREFIX FILTERING (t40's path) — the
      // same pairs the inverted-index join yields (completeness proof in
      // prefixFilterPairs' scaladoc; DedupSpec pins parity at τ=1/2), but
      // candidates form only where rarest-token prefixes collide, so the
      // hot-shingle quadratic blowup the full self-join pays at 10×-100×
      // data never materializes. The oracle keeps the inverted-index
      // form — the two derivations agreeing IS the check. Edges come from
      // the SHARED τ=1/2 pair table (one build per session+dir; t28
      // consumes the same edges, t40 the same shingle table).
      val pairs = sharedHalfPairs(s, dir)
        .union(docs.select(col("doc_id"), col("doc_id")))
      survivors(docs, Dedup.connectedComponents(pairs, col("id_a"), col("id_b")))
    },

    // ---- per-domain document cap: keep the 10 highest-quality docs per
    //      source — the domain-rebalancing step a web-corpus pipeline runs
    //      so no single domain dominates training data. Two-phase ranking:
    //      a (source, salt) local top-k bounds any one domain's sort to
    //      1/SALTS of its rows (a boilerplate mega-domain at 100 TB never
    //      funnels through one task), then the global per-source rank sees
    //      only SALTS·k survivors. Ranking is a total order (rounded score
    //      DESC, doc_id) so the two-phase result is IDENTICAL to the
    //      oracle's single-window form. ----
    QueryDef("t24_domain_cap",
      s"""SELECT source, CAST(rn AS INTEGER) AS rn, doc_id, quality_score
         |FROM (SELECT source, doc_id, $duckQuality AS quality_score,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY $duckQuality DESC, doc_id) AS rn
         |      FROM documents)
         |WHERE rn <= 10 ORDER BY source, rn""".stripMargin) { (s, dir) =>
      val k = 10; val salts = 4
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality_score"))
      val local = Window.partitionBy(col("source"), col("doc_id") % salts)
        .orderBy(col("quality_score").desc, col("doc_id"))
      val global = Window.partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      docs.withColumn("lrn", row_number().over(local)).filter(col("lrn") <= k)
        .withColumn("rn", row_number().over(global)).filter(col("rn") <= k)
        .select(col("source"), col("rn"), col("doc_id"), col("quality_score"))
        .orderBy("source", "rn")
    },

    // ---- vocabulary coverage / OOV rate: top-50 corpus vocabulary (by
    //      total term frequency, term-asc tie-break), then each doc's
    //      token count, in-vocab count, and OOV ratio. The (doc, term, tf)
    //      table is materialized ONCE (localCheckpoint) and feeds both the
    //      vocab aggregate and the coverage join — one tokenize pass, not
    //      two (the multi-consumer scan rule, SCALE.md). The vocab is 50
    //      rows → broadcast; the coverage side never shuffles tokens. ----
    QueryDef("t25_vocab_coverage",
      s"""WITH tok AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |v AS (SELECT term FROM (SELECT term, sum(tf) AS cnt FROM tf
         |                        GROUP BY 1 ORDER BY cnt DESC, term LIMIT 50)),
         |j AS (SELECT tf.doc_id, tf.tf,
         |        CASE WHEN v.term IS NOT NULL THEN tf.tf ELSE 0 END AS iv
         |      FROM tf LEFT JOIN v ON tf.term = v.term)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(iv) AS BIGINT) AS n_in_vocab,
         |  round(1.0 - CAST(sum(iv) AS DOUBLE) / sum(tf), 6) AS oov_ratio
         |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val vocab = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(50)
        .select(col("term"), lit(1).as("in_vocab"))
      tf.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("in_vocab").isNotNull, col("tf")).otherwise(0L))
            .as("n_in_vocab"))
        .withColumn("oov_ratio",
          round(lit(1.0) - col("n_in_vocab").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    },

    // ---- Bloom-filter decontamination: t17's semantics with the eval
    //      shingle set compressed to a broadcast Bloom bitset probed
    //      map-side (xxhash64-based — the exact flag counts are
    //      engine-specific; DedupSpec pins the FP bound). The train side
    //      is NEVER shuffled — the 100 TB path.
    //      Oracle = the SUPERSET PROPERTY as a hash-equality: DuckDB
    //      unions the staged flagged set with the exact contamination set
    //      (t17's SQL) — equal to the staged set iff every truly
    //      contaminated doc was flagged (Bloom guarantees no false
    //      negatives; a miss would surface as an extra NULL-count row).
    //      False positives are allowed by construction and absorbed by
    //      the union. ----
    QueryDef("t26_bloom_decontaminate",
      s"""WITH staged AS (SELECT doc, n_maybe_shared
         |  FROM read_parquet('${ClimateQueries.OutToken}/t26_bloom_decontaminate/*.parquet')),
         |docs AS (
         |  SELECT doc_id, doc_id % 10 = 9 AS is_eval,
         |         regexp_split_to_array(lower(trim(text)), '\\s+') AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, is_eval, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 1),
         |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
         |  FROM docs),
         |ev AS (SELECT DISTINCT s FROM sh WHERE is_eval),
         |exact AS (SELECT doc_id AS doc FROM sh JOIN ev USING (s)
         |          WHERE NOT is_eval GROUP BY 1)
         |SELECT doc, n_maybe_shared FROM (
         |  SELECT doc, n_maybe_shared FROM staged
         |  UNION
         |  SELECT e.doc, st.n_maybe_shared
         |  FROM exact e LEFT JOIN staged st ON st.doc = e.doc)
         |ORDER BY doc""".stripMargin) { (s, dir) =>
      Dedup.contaminationBloom(Tables.documents(s, dir), col("doc_id"),
          col("text"), col("doc_id") % 10 === 9)
        .orderBy("doc")
    },

    // MinHash-LSH verified near-dup pairs. The banding (murmur3) is
    // engine-specific, but the VERIFY stage is oracled via the staged
    // pairs: DuckDB recomputes each staged pair's exact shingle Jaccard
    // from `documents` — a wrong intersection/union/size anywhere in the
    // engine's verify path breaks the hash match. (jaccard is an exact
    // ratio of small ints → bit-identical double division both sides.)
    QueryDef("t07_minhash_lsh",
      s"""WITH staged AS (SELECT id_a, id_b
         |  FROM read_parquet('${ClimateQueries.OutToken}/t07_minhash_lsh/*.parquet')),
         |docs AS (SELECT doc_id,
         |           regexp_split_to_array(lower(trim(text)), '\\s+') AS w
         |         FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 1),
         |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
         |  FROM docs),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT p.id_a, p.id_b, count(*) AS ni
         |  FROM staged p
         |  JOIN sh a ON a.doc_id = p.id_a
         |  JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b,
         |  CAST(coalesce(i.ni, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(i.ni, 0)) AS jaccard
         |FROM staged p
         |JOIN sizes sa ON sa.doc_id = p.id_a
         |JOIN sizes sb ON sb.doc_id = p.id_b
         |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         |ORDER BY jaccard DESC, p.id_a, p.id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(100)
    },

    // ---- t23's scale form: identical survivor selection, but edges come
    //      from MinHash-LSH banding (candidate-verify, never all-pairs) —
    //      the path a 100 TB corpus actually runs. murmur3 bands → no
    //      oracle; DedupSpec's recall property bounds the miss rate, and
    //      on this fixture the survivor set equals t23's whenever LSH
    //      recalls every qualifying pair. ----
    // The verified LSH pair list itself. FULLY oracled via the staged
    // band-hash table (_staged_lsh_bands, dumped by Verify from the same
    // deterministic bandRows derivation): given the (doc, band, bucket)
    // rows, DuckDB re-derives the ENTIRE pair pipeline — the ≤1000
    // bucket-population cap, the bucket self-join, the distinct
    // candidate set, AND the exact shingle-Jaccard verify + ≥0.5
    // threshold — so a wrong cap, join predicate, or Jaccard anywhere in
    // the engine turns the board red. Only the murmur3 band-hash VALUES
    // are engine-trusted (no DuckDB form). Also t27's staged input.
    QueryDef("t30_lsh_pairs",
      s"""WITH bands AS (SELECT doc, band, bucket
         |  FROM read_parquet('${ClimateQueries.OutToken}/_staged_lsh_bands/*.parquet')),
         |capped AS (SELECT doc, band, bucket FROM (
         |    SELECT doc, band, bucket,
         |      count(*) OVER (PARTITION BY band, bucket) AS bsz
         |    FROM bands) WHERE bsz <= 1000),
         |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
         |docs AS (SELECT doc_id,
         |           regexp_split_to_array(lower(trim(text)), '\\s+') AS w
         |         FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 1),
         |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
         |  FROM docs),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS ni
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.id_a
         |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b
         |FROM cand c
         |JOIN sizes sa ON sa.doc_id = c.id_a
         |JOIN sizes sb ON sb.doc_id = c.id_b
         |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |WHERE CAST(coalesce(i.ni, 0) AS DOUBLE)
         |        / (sa.n + sb.n - coalesce(i.ni, 0)) >= 0.5
         |ORDER BY c.id_a, c.id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },

    // LSH-fed survivor selection: candidate generation is engine-trusted
    // (t30's staged pairs), but EVERYTHING downstream — the transitive
    // closure, member counts, and the per-component argmax — is
    // re-derived by DuckDB from the staged edges (recursive CTE), so a
    // wrong closure or rank anywhere turns the board red. t23 is the
    // exact-edges twin whose oracle needs no staging.
    QueryDef("t27_cluster_survivors_lsh",
      s"""WITH RECURSIVE pairs AS (
         |  SELECT id_a, id_b
         |  FROM read_parquet('${ClimateQueries.OutToken}/t30_lsh_pairs/*.parquet')),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         |wc AS (SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
         |                           AS INTEGER) AS word_count
         |       FROM documents)
         |SELECT component, node AS survivor_id, word_count,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM (SELECT c.component, c.node, wc.word_count,
         |        count(*) OVER (PARTITION BY c.component) AS n_members,
         |        row_number() OVER (PARTITION BY c.component
         |          ORDER BY wc.word_count DESC, c.node) AS rn
         |      FROM comp c JOIN wc ON wc.doc_id = c.node)
         |WHERE rn = 1 ORDER BY component""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        .union(docs.select(col("doc_id"), col("doc_id")))
      survivors(docs, Dedup.connectedComponents(pairs, col("id_a"), col("id_b")))
    },

    // SimHash signatures + chunk keys. The signature itself is xxhash64-
    // based (engine-trusted, no DuckDB form — DedupSpec's precision/recall
    // vs exact jaccard covers it), but the 16-bit chunk DECOMPOSITION the
    // blocking join keys on is pure bit arithmetic — so the oracle
    // re-derives every chunk column from the query's own staged signature
    // (the staged-parquet trick): wrong shift/mask/sign handling anywhere
    // in the blocking path turns the board red. Arithmetic >> matches on
    // both engines because the & 0xFFFF mask kills the sign-extended bits.
    QueryDef("t08_simhash",
      s"""SELECT doc, simhash,
         |  (simhash >> 0)  & 65535 AS chunk0,
         |  (simhash >> 16) & 65535 AS chunk1,
         |  (simhash >> 32) & 65535 AS chunk2,
         |  (simhash >> 48) & 65535 AS chunk3
         |FROM read_parquet('${ClimateQueries.OutToken}/t08_simhash/*.parquet')
         |ORDER BY doc""".stripMargin) { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc")
    },

    // ---- leakage-safe train/val/test split: hash-split by near-dup
    //      CLUSTER, not by document — t12's per-doc hash split would put
    //      two near-identical docs in train and test (the classic eval-
    //      leak), whereas assigning the whole connected component by its
    //      min-member id keeps every near-dup family in one split by
    //      construction. Same exact-jaccard closure as t23, same CASE
    //      buckets as t12, full recursive-CTE oracle. ----
    QueryDef("t28_leakage_safe_split",
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM docs),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT id_a, id_b
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM jac
        |          UNION ALL SELECT id_b, id_a FROM jac),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
        |SELECT node AS doc_id, component,
        |  CASE WHEN component % 10 < 8 THEN 'train'
        |       WHEN component % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM comp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // exact J ≥ 1/2 edge set via PREFIX FILTERING (t40's path) — the
      // same pairs the inverted-index join yields (completeness proof in
      // prefixFilterPairs' scaladoc; DedupSpec pins parity at τ=1/2), but
      // candidates form only where rarest-token prefixes collide, so the
      // hot-shingle quadratic blowup the full self-join pays at 10×-100×
      // data never materializes. The oracle keeps the inverted-index
      // form — the two derivations agreeing IS the check. Same shared
      // τ=1/2 edge table as t23 (sharedHalfPairs scaladoc).
      val pairs = sharedHalfPairs(s, dir)
        .union(docs.select(col("doc_id"), col("doc_id")))
      Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
        .select(col("node").as("doc_id"), col("component"),
          TextOps.splitAssign(col("component")).as("split"))
        .orderBy("doc_id")
    },

    // ---- quality-weighted corpus subsampling: keep 20 docs per source
    //      with probability ∝ quality score (A-ES exponential race over
    //      q69's deterministic hash uniform — reproducible across runs,
    //      engines, and retries). THE canonical LLM-corpus downsampling
    //      shape: higher-quality docs survive proportionally more, and
    //      the per-source partition keeps any one domain from flooding
    //      the sample. Fully oracled: the quality formula is t02's and
    //      the sampling key is exact arithmetic + ln (round(6)+id
    //      tie-break absorbs sub-ulp libm differences). ----
    QueryDef("t31_quality_weighted_sample",
      s"""SELECT source, CAST(rn AS INTEGER) AS rn, doc_id, samp_key FROM (
         |  SELECT source, doc_id,
         |    round(${graft.ops.Prep.weightedSampleKeySql(
               s"($duckQuality + 0.1)", "doc_id", "n_chars")}, 6) AS samp_key,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY round(${graft.ops.Prep.weightedSampleKeySql(
               s"($duckQuality + 0.1)", "doc_id", "n_chars")}, 6) NULLS LAST,
         |               doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 20 ORDER BY source, rn""".stripMargin) { (s, dir) =>
      val key = round(graft.ops.Prep.weightedSampleKey(
        TextOps.qualityScore(col("text")) + 0.1, col("doc_id"), col("n_chars")), 6)
      // Same NULLS LAST pinning as q69: a NULL text → NULL quality → NULL
      // key, and Spark/DuckDB disagree on default null ordering (ADVICE r5).
      val w = Window.partitionBy(col("source"))
        .orderBy(key.asc_nulls_last, col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("samp_key", key)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("source"), col("rn").cast("int").as("rn"),
          col("doc_id"), col("samp_key"))
        .orderBy("source", "rn")
    },

    // ---- cross-doc boilerplate trigram flagging (RefinedWeb/CCNet
    //      duplicated-spans family): trigram doc-frequency ≥ 3 marks a
    //      span as boilerplate; each doc reports the covered fraction of
    //      its distinct-trigram mass. Integer-ratio arithmetic → exact
    //      oracle. ----
    QueryDef("t29_boilerplate",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(words) - 1),
        |                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS t
        |  FROM w),
        |dfreq AS (SELECT t, count(*) AS df FROM g GROUP BY t)
        |SELECT g.doc_id AS doc,
        |  count(*) AS n_trigrams,
        |  CAST(sum(CASE WHEN dfreq.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  round(CAST(sum(CASE WHEN dfreq.df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS boiler_frac
        |FROM g JOIN dfreq ON g.t = dfreq.t
        |GROUP BY 1 ORDER BY doc""".stripMargin) { (s, dir) =>
      TextOps.boilerplateNgrams(Tables.documents(s, dir),
          col("doc_id"), col("text"), minDf = 3)
        .orderBy("doc")
    },

    // ---- hashing-trick vectorizer (t14's vocabulary-free counterpart):
    //      tokens hash straight into 64 fixed feature buckets — no vocab
    //      table, no broadcast, no OOV, so the op's shape is independent
    //      of corpus vocabulary growth (TextOps.hashedFeatures scaladoc).
    //      The cross-engine hash (md5 hex head, base-16) makes the
    //      bucket assignment — collisions included — bit-reproducible in
    //      DuckDB, so the whole sparse matrix has an exact oracle. ----
    QueryDef("t33_feature_hashing",
      """WITH w AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(
        |    CAST(concat('0x', substring(md5(term), 1, 8)) AS BIGINT) % 64
        |  AS INTEGER) AS bucket, count(*) AS n
        |FROM w WHERE term <> ''
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin) { (s, dir) =>
      TextOps.hashedFeatures(
          Tables.documents(s, dir).filter(col("doc_id") < 100),
          "doc_id", "text", buckets = 64)
        .select(col("id").as("doc_id"), col("bucket"), col("n"))
        .orderBy("doc_id", "bucket")
    },

    // ---- PMI collocations (TextOps.pmiCollocations): top-20 adjacent
    //      bigrams by association lift = exp(PMI) — pure IEEE arithmetic
    //      in a pinned order on both engines (no ln(): libm is the one
    //      place engines legitimately diverge an ulp), display column
    //      floored (Prep.floorTo — the portable-rounding rule), ORDER on
    //      the raw lift so the top-20 cut is bit-deterministic. ----
    QueryDef("t34_pmi_collocations",
      s"""WITH docs AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS w
         |              FROM documents),
         |uc AS (SELECT t, count(*) AS c
         |       FROM (SELECT unnest(w) AS t FROM docs) GROUP BY 1),
         |bc AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c_ab FROM (
         |         SELECT unnest(list_transform(range(1, len(w)),
         |                  i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS p
         |         FROM docs) GROUP BY 1, 2),
         |tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n1,
         |               (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bc) AS n2)
         |SELECT w1, w2, c_ab, ${graft.ops.Prep.floorToSql("lift_raw", 4)} AS lift
         |FROM (
         |  SELECT bc.w1, bc.w2, bc.c_ab,
         |    (CAST(bc.c_ab AS DOUBLE) / tot.n2) /
         |      ((CAST(ca.c AS DOUBLE) / tot.n1) * (CAST(cb.c AS DOUBLE) / tot.n1))
         |      AS lift_raw
         |  FROM bc
         |  JOIN uc ca ON ca.t = bc.w1
         |  JOIN uc cb ON cb.t = bc.w2
         |  CROSS JOIN tot
         |  WHERE bc.c_ab >= 5)
         |ORDER BY lift_raw DESC, w1, w2 LIMIT 20""".stripMargin) { (s, dir) =>
      TextOps.pmiCollocations(Tables.documents(s, dir), col("text"), minCount = 5L)
        .orderBy(col("lift").desc, col("w1"), col("w2")).limit(20)
        .select(col("w1"), col("w2"), col("c_ab"),
          graft.ops.Prep.floorTo(col("lift"), 4).as("lift"))
    },

    // ---- Lee-et-al cross-doc duplicated-span fraction (exact substring
    //      dedup signal at word-8-gram granularity): per doc, the share
    //      of n-gram POSITIONS whose gram appears verbatim in ≥1 OTHER
    //      document. Grouping on raw gram strings keeps every step
    //      DuckDB-re-derivable; sums are CAST BIGINT on the oracle side
    //      (DuckDB sum(BIGINT)→HUGEINT, the q87 dtype trap). ----
    QueryDef("t36_dup_spans",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, array_to_string(w[i : i + 7], ' ') AS gram
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |            FROM t WHERE len(w) >= 8)),
        |pd AS (SELECT doc_id, gram, count(*) AS m FROM g GROUP BY 1, 2),
        |dfreq AS (SELECT gram, count(*) AS ndocs FROM pd GROUP BY 1)
        |SELECT pd.doc_id AS doc,
        |  CAST(sum(pd.m) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN dfreq.ndocs >= 2 THEN pd.m ELSE 0 END) AS BIGINT) AS dup_grams,
        |  round(CAST(sum(CASE WHEN dfreq.ndocs >= 2 THEN pd.m ELSE 0 END) AS DOUBLE)
        |        / CAST(sum(pd.m) AS DOUBLE), 6) AS dup_ratio
        |FROM pd JOIN dfreq USING (gram)
        |GROUP BY 1 ORDER BY doc""".stripMargin) { (s, dir) =>
      Dedup.crossDocDupRatio(Tables.documents(s, dir),
          col("doc_id"), col("text"), n = 8)
        .orderBy("doc")
    },

    // ---- t56: t36's EXTRACTION form — maximal duplicated spans, merged
    //      by interval-union (equal-length intervals sorted by start →
    //      one lag + running break-sum groups positions into maximal
    //      covered word regions; Σ covered never double counts). Per doc:
    //      span count, duplicated gram positions, covered words, longest
    //      span, covered-word fraction (the Lee-et-al corpus number at
    //      doc grain, actionable as a gate threshold). Every window is
    //      doc-partitioned; the two shuffles (gram df + dup-flag join
    //      back) are linear in corpus tokens. ----
    QueryDef("t56_dup_span_stats",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(w[i : i + 7], ' ') AS gram
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |            FROM t WHERE len(w) >= 8)),
        |dfreq AS (SELECT gram, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1),
        |dup AS (SELECT doc_id, i FROM g JOIN dfreq USING (gram) WHERE ndocs >= 2),
        |fl AS (SELECT doc_id, i,
        |         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8
        |              THEN 0 ELSE 1 END AS brk
        |       FROM dup),
        |sp AS (SELECT doc_id, min(i) AS s, max(i) AS e, count(*) AS n_pos
        |       FROM (SELECT doc_id, i,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                              ROWS UNBOUNDED PRECEDING) AS grp
        |             FROM fl)
        |       GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, count(*) AS n_spans, sum(n_pos) AS dup_positions,
        |          sum(e - s + 8) AS covered_words, max(e - s + 8) AS max_span_words
        |        FROM sp GROUP BY 1)
        |SELECT t.doc_id AS doc, CAST(len(w) AS INTEGER) AS n_words,
        |  CAST(coalesce(n_spans, 0) AS INTEGER) AS n_spans,
        |  CAST(coalesce(dup_positions, 0) AS BIGINT) AS dup_positions,
        |  CAST(coalesce(covered_words, 0) AS BIGINT) AS covered_words,
        |  CAST(coalesce(max_span_words, 0) AS INTEGER) AS max_span_words,
        |  round(CAST(coalesce(covered_words, 0) AS DOUBLE) / len(w), 6) AS covered_frac
        |FROM t LEFT JOIN agg USING (doc_id)
        |WHERE len(w) >= 8 ORDER BY doc""".stripMargin) { (s, dir) =>
      Dedup.dupSpanStats(Tables.documents(s, dir),
          col("doc_id"), col("text"), n = 8)
        .orderBy("doc")
    },

    // ---- t57: the k longest duplicated passages with their TEXT sliced
    //      back out of the word array — the reviewable artifact behind a
    //      span-removal decision (what actually gets cut). Deterministic
    //      top-k: (covered desc, doc, s) is unique per span; the limit
    //      plans as TakeOrdered, never a global sort. ----
    QueryDef("t57_top_dup_passages",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(w[i : i + 7], ' ') AS gram
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |            FROM t WHERE len(w) >= 8)),
        |dfreq AS (SELECT gram, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1),
        |dup AS (SELECT doc_id, i FROM g JOIN dfreq USING (gram) WHERE ndocs >= 2),
        |fl AS (SELECT doc_id, i,
        |         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8
        |              THEN 0 ELSE 1 END AS brk
        |       FROM dup),
        |sp AS (SELECT doc_id, min(i) AS s, max(i) AS e
        |       FROM (SELECT doc_id, i,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                              ROWS UNBOUNDED PRECEDING) AS grp
        |             FROM fl)
        |       GROUP BY doc_id, grp)
        |SELECT sp.doc_id AS doc, CAST(s AS INTEGER) AS s, CAST(e AS INTEGER) AS e,
        |  CAST(e - s + 8 AS INTEGER) AS covered,
        |  array_to_string(w[s : e + 7], ' ') AS passage
        |FROM sp JOIN t ON sp.doc_id = t.doc_id
        |ORDER BY covered DESC, doc, s LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.topDupPassages(Tables.documents(s, dir),
          col("doc_id"), col("text"), n = 8, k = 20)
    },

    // ---- source-mixture rebalancing (Pile/DoReMi pretraining-mix): keep
    //      the largest subsample hitting target weights 3:2:1 across the
    //      source tiers EXACTLY — all-integer quota arithmetic
    //      (m = min(cnt div w), quota = w·m) and a Knuth multiplicative
    //      id-hash pick order, so every step is engine-neutral integer
    //      math with a full oracle. ----
    QueryDef("t37_mixture_rebalance",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 3
        |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 2
        |         ELSE 1 END AS w
        |  FROM documents),
        |c AS (SELECT source, w, count(*) AS cnt FROM d GROUP BY 1, 2),
        |m AS (SELECT min(cnt // w) AS m FROM c),
        |r AS (SELECT d.doc_id, d.source, c.w * m.m AS quota,
        |        row_number() OVER (PARTITION BY d.source
        |          ORDER BY (d.doc_id * 2654435761) % 4294967296, d.doc_id) AS rn
        |      FROM d JOIN c USING (source) CROSS JOIN m)
        |SELECT doc_id, source, CAST(rn AS INTEGER) AS pick
        |FROM r WHERE rn <= quota
        |ORDER BY source, pick""".stripMargin) { (s, dir) =>
      val tier3 = Seq("src0", "src1", "src2", "src3", "src4")
      val tier2 = Seq("src5", "src6", "src7", "src8", "src9")
      TextOps.mixtureRebalance(Tables.documents(s, dir),
          col("doc_id"), col("source"),
          when(col("source").isin(tier3: _*), 3)
            .when(col("source").isin(tier2: _*), 2).otherwise(1))
        .select(col("doc").as("doc_id"), col("source"), col("pick"))
        .orderBy("source", "pick")
    },

    // ---- interpolated BIGRAM surprisal (Jelinek-Mercer λ=0.75) — the
    //      sequence-aware upgrade of t22's unigram model: token salad and
    //      prose have identical unigram scores but very different bigram
    //      scores, so this is the quality filter that actually catches
    //      shuffled/machine-mangled text. All counts are exact grouped
    //      aggregates; p > 0 by construction (model fit on the scored
    //      corpus itself), so ln() is total. Formula shape and operand
    //      order are pinned identical in both engines (λ·cb/cp +
    //      (1−λ)·cc/N, double division only), and avg+round(6) follows
    //      t22's proven cross-engine precedent. Single-token docs have no
    //      bigrams and drop out on both sides. ----
    QueryDef("t38_bigram_surprisal",
      s"""WITH docs AS (SELECT doc_id, $duckWords AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS term,
         |          unnest(range(1, len(w) + 1)) AS pos FROM docs),
         |uni AS (SELECT term, count(*) AS cu FROM tok GROUP BY 1),
         |n AS (SELECT sum(cu) AS n_tok FROM uni),
         |big AS (SELECT a.doc_id, b.term AS prev, a.term AS cur
         |        FROM tok a JOIN tok b
         |          ON b.doc_id = a.doc_id AND b.pos = a.pos - 1),
         |bc AS (SELECT prev, cur, count(*) AS cb FROM big GROUP BY 1, 2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(-avg(ln(0.75 * CAST(cb AS DOUBLE) / cp.cu
         |               + 0.25 * CAST(cc.cu AS DOUBLE) / n_tok)), 6) AS avg_surprisal
         |FROM big
         |JOIN bc USING (prev, cur)
         |JOIN uni cp ON cp.term = big.prev
         |JOIN uni cc ON cc.term = big.cur
         |CROSS JOIN n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.bigramSurprisal(Tables.documents(s, dir),
          col("doc_id"), col("text"), lambda = 0.75)
        .orderBy("doc_id")
    },

    // ---- Flesch reading-ease per doc (TextOps.readability): vowel-group
    //      syllable proxy + [.!?]+ sentence runs, both floored at 1.
    //      PARITY: DuckDB's regexp_replace needs the explicit 'g' flag
    //      where Spark replaces all matches by default. ----
    QueryDef("t39_readability",
      s"""WITH tok AS (SELECT doc_id, unnest($duckWords) AS w FROM documents),
         |tw AS (SELECT doc_id, regexp_replace(w, '[aeiouy]+', 'V', 'g') AS c
         |       FROM tok WHERE len(w) > 0),
         |syl AS (SELECT doc_id, count(*) AS n_words,
         |    sum(greatest(1, len(c) - len(regexp_replace(c, 'V', '', 'g')))) AS n_syllables
         |  FROM tw GROUP BY 1),
         |sen AS (SELECT doc_id,
         |    greatest(1, len(r) - len(regexp_replace(r, '\\.', '', 'g'))) AS n_sentences
         |  FROM (SELECT doc_id, regexp_replace(text, '[.!?]+', '.', 'g') AS r
         |        FROM documents))
         |SELECT syl.doc_id, n_words, CAST(n_syllables AS BIGINT) AS n_syllables,
         |  CAST(n_sentences AS BIGINT) AS n_sentences,
         |  ${graft.ops.Prep.floorToSql(
             "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)", 3)} AS flesch
         |FROM syl JOIN sen ON sen.doc_id = syl.doc_id
         |ORDER BY syl.doc_id""".stripMargin) { (s, dir) =>
      TextOps.readability(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_words"),
          col("n_syllables").cast("long").as("n_syllables"),
          col("n_sentences").cast("long").as("n_sentences"),
          graft.ops.Prep.floorTo(col("flesch"), 3).as("flesch"))
        .orderBy("doc_id")
    },

    // ---- prefix-filtering set-similarity join (PPJoin/AllPairs family):
    //      exact Jaccard ≥ 0.4 pairs with a completeness GUARANTEE — the
    //      third point of the dedup design space next to t06 (maxDf
    //      stop-list: fast, can miss boilerplate-heavy pairs) and t07
    //      (MinHash-LSH: probabilistic recall). Candidates must share a
    //      shingle lying in BOTH docs' rarest-(df, shingle) prefixes
    //      (prefix⋈prefix is complete — the globally-smallest common
    //      token is in both) and pass the τ·max ≤ min length filter;
    //      τ = 2/5 is rational, so prefix lengths, length filter and the
    //      threshold test are pure integer arithmetic — no float
    //      boundary anywhere.
    //      FULLY oracled: df ranks, prefix cut, candidate join and the
    //      intersection verify are plain relational algebra. DedupSpec
    //      proves candidate completeness against brute force. ----
    QueryDef("t40_prefix_filter_pairs",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |pref AS (
        |  SELECT doc, s, n_sh FROM (
        |    SELECT h.doc, h.s, z.n_sh,
        |      row_number() OVER (PARTITION BY h.doc ORDER BY d.df, h.s) AS pos
        |    FROM sh h JOIN dfq d USING (s) JOIN sz z USING (doc))
        |  WHERE pos <= n_sh - ((2 * n_sh + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT p.doc AS id_a, f.doc AS id_b
        |  FROM pref p JOIN pref f ON f.s = p.s AND p.doc < f.doc
        |  WHERE p.n_sh * 5 >= f.n_sh * 2 AND f.n_sh * 5 >= p.n_sh * 2),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc = c.id_a
        |  JOIN sh b ON b.doc = c.id_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
        |  round(CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sz za ON za.doc = id_a
        |JOIN sz zb ON zb.doc = id_b
        |WHERE 7 * n_inter >= 2 * (za.n_sh + zb.n_sh)
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // τ=2/5 tail over the SHARED shingle-hash table (built once per
      // session+dir; t23/t28's τ=1/2 path starts from the same table)
      Dedup.prefixFilterPairsFrom(sharedShingles(s, dir),
          tauNum = 2, tauDen = 5)
        .orderBy("id_a", "id_b")
    },

    // ---- t55: t40's STORED-INDEX twin (the s15 discipline applied to
    //      the dedup chain): the τ=2/5 prefix index (doc, h, n_sh) and
    //      the signature arrays (doc, hs) persist once under a
    //      content-stamped location, and the per-run query path is pure
    //      candidate-join + array-intersect verify over two parquet
    //      scans — zero tokenization, df counting or prefix ranking
    //      (PlanSpec pins the absence). Hash-graded against t40's
    //      UNCHANGED oracle: the stored path must reproduce the inline
    //      path bit-for-bit. At 100 TB this is the deployment shape —
    //      the index is maintained incrementally next to the corpus;
    //      t53 keeps the honest index-build-included cost on the
    //      board. ----
    QueryDef("t55_prefix_pairs_stored",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |pref AS (
        |  SELECT doc, s, n_sh FROM (
        |    SELECT h.doc, h.s, z.n_sh,
        |      row_number() OVER (PARTITION BY h.doc ORDER BY d.df, h.s) AS pos
        |    FROM sh h JOIN dfq d USING (s) JOIN sz z USING (doc))
        |  WHERE pos <= n_sh - ((2 * n_sh + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT p.doc AS id_a, f.doc AS id_b
        |  FROM pref p JOIN pref f ON f.s = p.s AND p.doc < f.doc
        |  WHERE p.n_sh * 5 >= f.n_sh * 2 AND f.n_sh * 5 >= p.n_sh * 2),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc = c.id_a
        |  JOIN sh b ON b.doc = c.id_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
        |  round(CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sz za ON za.doc = id_a
        |JOIN sz zb ON zb.doc = id_b
        |WHERE 7 * n_inter >= 2 * (za.n_sh + zb.n_sh)
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val (pref, sigs, shRows) = storedPrefixIndex(s, dir)
      Dedup.pairsFromPrefixIndex(pref, sigs,
          tauNum = 2, tauDen = 5, broadcastSigs = Dedup.sigsFitBroadcast(shRows))
        .orderBy("id_a", "id_b")
    },

    // ---- t58: INCREMENTAL dedup — the continuous-ingestion shape: a
    //      new batch (doc_id % 10 = 7, ~10% of the corpus) probes the
    //      SAME stored τ=2/5 prefix index t55 maintains, restricted to
    //      the pre-existing corpus side, before it would be inserted.
    //      Cross pairs only (batch-internal dups are t40's job). The
    //      full(batch) ⋈ prefix(corpus) form is complete for ANY prefix
    //      ordering (J ≥ τ ⟹ |∩| ≥ τ·n_corpus > n_corpus − prefix_len,
    //      pigeonhole) — the batch needs zero knowledge of the corpus df
    //      order, so the stored index never recomputes per batch. The
    //      query path tokenizes ONLY the batch; the corpus contributes
    //      two parquet scans. ----
    QueryDef("t58_incremental_dedup",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |pref AS (
        |  SELECT doc, s, n_sh FROM (
        |    SELECT h.doc, h.s, z.n_sh,
        |      row_number() OVER (PARTITION BY h.doc ORDER BY d.df, h.s) AS pos
        |    FROM sh h JOIN dfq d USING (s) JOIN sz z USING (doc))
        |  WHERE pos <= n_sh - ((2 * n_sh + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT b.doc AS id_a, p.doc AS id_b
        |  FROM sh b JOIN sz zb ON zb.doc = b.doc
        |  JOIN pref p ON p.s = b.s
        |  WHERE b.doc % 10 = 7 AND p.doc % 10 != 7
        |    AND zb.n_sh * 5 >= p.n_sh * 2 AND p.n_sh * 5 >= zb.n_sh * 2),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc = c.id_a
        |  JOIN sh b ON b.doc = c.id_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
        |  round(CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sz za ON za.doc = id_a
        |JOIN sz zb ON zb.doc = id_b
        |WHERE 7 * n_inter >= 2 * (za.n_sh + zb.n_sh)
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val (pref, sigs, shRows) = storedPrefixIndex(s, dir)
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
      val bSh = Dedup.shingleHashTable(batch, col("doc_id"), col("text"))
      Dedup.crossPrefixProbe(bSh,
          pref.filter(col("doc") % 10 =!= 7), sigs.filter(col("doc") % 10 =!= 7),
          tauNum = 2, tauDen = 5, broadcastSigs = Dedup.sigsFitBroadcast(shRows))
        .orderBy("id_a", "id_b")
    },

    // ---- t59: t58's DEPLOYMENT twin — the incremental probe against a
    //      df-CAPPED stored index (maxDf=20, the t54 stop-list applied to
    //      the index family): shingles in more than 20 docs are dropped
    //      at BUILD time, so prefix lengths, signature arrays and sizes
    //      are internally consistent over the surviving shingle space,
    //      and the KEEP SET persists next to the index so the arriving
    //      batch stop-lists IDENTICALLY without recomputing any df.
    //      Why it exists: t58's exact form is complete but its candidate
    //      space is the τ=2/5 family's — measured 1.05 G candidate-join
    //      rows at ×100 data (SCALE.md), out of single-box spill reach
    //      exactly like parent t40; the cap bounds per-shingle fan-out at
    //      batch_df·20 and the probe stays O(batch). Fully
    //      DuckDB-expressible (HAVING count ≤ 20). ----
    QueryDef("t59_incremental_dedup_capped",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 20),
        |sh AS (SELECT sh0.doc, sh0.s FROM sh0 JOIN keep USING (s)),
        |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |pref AS (
        |  SELECT doc, s, n_sh FROM (
        |    SELECT h.doc, h.s, z.n_sh,
        |      row_number() OVER (PARTITION BY h.doc ORDER BY d.df, h.s) AS pos
        |    FROM sh h JOIN dfq d USING (s) JOIN sz z USING (doc))
        |  WHERE pos <= n_sh - ((2 * n_sh + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT b.doc AS id_a, p.doc AS id_b
        |  FROM sh b JOIN sz zb ON zb.doc = b.doc
        |  JOIN pref p ON p.s = b.s
        |  WHERE b.doc % 10 = 7 AND p.doc % 10 != 7
        |    AND zb.n_sh * 5 >= p.n_sh * 2 AND p.n_sh * 5 >= zb.n_sh * 2),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc = c.id_a
        |  JOIN sh b ON b.doc = c.id_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
        |  round(CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sz za ON za.doc = id_a
        |JOIN sz zb ON zb.doc = id_b
        |WHERE 7 * n_inter >= 2 * (za.n_sh + zb.n_sh)
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val (pref, sigs, keep, shRows) = storedPrefixIndexCapped(s, dir, maxDf = 20L)
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
      val bSh = Dedup.shingleHashTable(batch, col("doc_id"), col("text"))
        .join(keep.select(col("s")), "s").select(col("doc"), col("s"), col("h"))
      Dedup.crossPrefixProbe(bSh,
          pref.filter(col("doc") % 10 =!= 7), sigs.filter(col("doc") % 10 =!= 7),
          tauNum = 2, tauDen = 5, broadcastSigs = Dedup.sigsFitBroadcast(shRows))
        .orderBy("id_a", "id_b")
    },

    // ---- t60: incremental index MAINTENANCE graded end-to-end — the
    //      append path t55/t58 opened but never closed (VERDICT r13 #1):
    //      the ORDER-STABLE prefix index (string-ordered prefixes, so a
    //      doc's prefix is a pure function of the doc — see
    //      Dedup.stablePrefixIndexTable) lets a batch fold in as a pure
    //      APPEND: stored_index(corpus) ∪ build(batch) is bit-identical
    //      to a full rebuild over corpus+batch, which this oracle
    //      re-derives from scratch over ALL docs. The df-ordered index
    //      family cannot make this promise (every batch shifts dfs and
    //      silently invalidates stored prefixes of untouched docs). The
    //      query path tokenizes ONLY the batch; the corpus side is one
    //      parquet scan of the stored prefix rows (PlanSpec pins zero
    //      corpus scans and the single batch-grouping exchange). ----
    QueryDef("t60_prefix_index_merged",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |pref AS (
        |  SELECT doc, s, n_sh FROM (
        |    SELECT h.doc, h.s, z.n_sh,
        |      row_number() OVER (PARTITION BY h.doc ORDER BY h.s) AS pos
        |    FROM sh h JOIN sz z USING (doc))
        |  WHERE pos <= n_sh - ((2 * n_sh + 4) // 5) + 1)
        |SELECT doc, s, n_sh FROM pref ORDER BY doc, s""".stripMargin) { (s, dir) =>
      val (mergedPref, _, _) = mergedStableIndex(s, dir)
      mergedPref.select(col("doc"), col("s"), col("n_sh"))
        .orderBy("doc", "s")
    },

    // ---- t61: the merged index SERVES queries identically — the τ=2/5
    //      dedup self-join run entirely FROM t60's merged stable index
    //      (stored corpus rows + appended batch rows), graded against
    //      t40's UNCHANGED pair-set oracle. Together with t60 this
    //      closes the continuous-ingestion loop: the fold-in is exact
    //      (t60) AND the folded index answers the exact-Jaccard join
    //      bit-for-bit (t61). Prefix order only steers candidate
    //      generation — the signature verify recomputes every count —
    //      so the stable order changes WHICH candidates are checked,
    //      never the surviving pairs (DedupSpec proves the pair-set
    //      equality mechanically). ----
    QueryDef("t61_prefix_pairs_merged",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |pref AS (
        |  SELECT doc, s, n_sh FROM (
        |    SELECT h.doc, h.s, z.n_sh,
        |      row_number() OVER (PARTITION BY h.doc ORDER BY d.df, h.s) AS pos
        |    FROM sh h JOIN dfq d USING (s) JOIN sz z USING (doc))
        |  WHERE pos <= n_sh - ((2 * n_sh + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT p.doc AS id_a, f.doc AS id_b
        |  FROM pref p JOIN pref f ON f.s = p.s AND p.doc < f.doc
        |  WHERE p.n_sh * 5 >= f.n_sh * 2 AND f.n_sh * 5 >= p.n_sh * 2),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc = c.id_a
        |  JOIN sh b ON b.doc = c.id_b AND b.s = a.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
        |  round(CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sz za ON za.doc = id_a
        |JOIN sz zb ON zb.doc = id_b
        |WHERE 7 * n_inter >= 2 * (za.n_sh + zb.n_sh)
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val (mergedPref, mergedSigs, shRows) = mergedStableIndex(s, dir)
      Dedup.pairsFromPrefixIndex(
          mergedPref.select(col("doc"), col("h"), col("n_sh")), mergedSigs,
          tauNum = 2, tauDen = 5, broadcastSigs = Dedup.sigsFitBroadcast(shRows))
        .orderBy("id_a", "id_b")
    },

    // ---- n-gram novelty (the curation "novelty decay" signal — Lee et
    //      al.'s dedup work measures corpora by how much of each new doc
    //      is text never seen before): per doc, the fraction of its
    //      distinct trigram shingles whose FIRST occurrence (min doc_id
    //      over the corpus) is this doc. One shingle aggregate + one
    //      count join; the ratio is an exact int/int division. At scale:
    //      first-occurrence is a map-side-combinable min, the join keys
    //      on the shingle (hot shingles fan into counts, never pairs). ----
    QueryDef("t41_ngram_novelty",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id AS doc, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |fo AS (SELECT s, min(doc) AS first_doc FROM sh GROUP BY 1)
        |SELECT doc, count(*) AS n_sh,
        |  CAST(sum(CASE WHEN first_doc = doc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(sum(CASE WHEN first_doc = doc THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty
        |FROM sh JOIN fo USING (s)
        |GROUP BY doc ORDER BY doc""".stripMargin) { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .select(col("doc_id").as("doc"), TextOps.words(col("text")).as("w"))
        .select(col("doc"), explode(Dedup.shinglesOfWords(col("w"), 3)).as("s"))
      val fo = sh.groupBy("s").agg(min(col("doc")).as("first_doc"))
      sh.join(fo, "s")
        .groupBy("doc")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_sh"), 6))
        .orderBy("doc")
    },

    // ---- C4/Gopher-style quality gate, reported per source: the rule
    //      battery every pretraining filter ships (min length, mean
    //      word length band, symbol ratio, stopword floor, duplicate-
    //      word ceiling) as ONE conditional-aggregation pass — the q56
    //      expectation-suite shape applied to text. Every rule is a
    //      pure INTEGER comparison (ratios cross-multiplied: nsym/nchar
    //      > 0.1 ⟺ 10·nsym > nchar), so no float boundary exists
    //      anywhere. Adding a rule adds a column to the same scan. ----
    QueryDef("t42_quality_gate",
      """WITH d AS (
        |  SELECT source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w,
        |    len(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS nsym,
        |    len(text) AS nchar
        |  FROM documents),
        |f AS (SELECT source,
        |    CASE WHEN len(w) < 10 THEN 1 ELSE 0 END AS r_short,
        |    CASE WHEN list_sum(list_transform(w, x -> len(x))) < 3 * len(w)
        |           OR list_sum(list_transform(w, x -> len(x))) > 10 * len(w)
        |         THEN 1 ELSE 0 END AS r_wordlen,
        |    CASE WHEN 10 * nsym > nchar THEN 1 ELSE 0 END AS r_symbol,
        |    CASE WHEN len(list_filter(w,
        |           x -> x IN ('the','a','of','and','to','in'))) < 2
        |         THEN 1 ELSE 0 END AS r_stop,
        |    CASE WHEN 10 * (len(w) - len(list_distinct(w))) > 3 * len(w)
        |         THEN 1 ELSE 0 END AS r_dup
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(r_short) AS BIGINT) AS n_short,
        |  CAST(sum(r_wordlen) AS BIGINT) AS n_wordlen,
        |  CAST(sum(r_symbol) AS BIGINT) AS n_symbol,
        |  CAST(sum(r_stop) AS BIGINT) AS n_stop,
        |  CAST(sum(r_dup) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN r_short + r_wordlen + r_symbol + r_stop + r_dup = 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
      val stops = Seq("the", "a", "of", "and", "to", "in")
      val d = Tables.documents(s, dir)
        .withColumn("w", TextOps.words(col("text")))
        .withColumn("nsym",
          length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")))
        .withColumn("nchar", length(col("text")))
      val nW = size(col("w"))
      val sumLen = aggregate(transform(col("w"), x => length(x)),
        lit(0), (a, b) => a + b)
      val nStop = size(filter(col("w"), x => x.isin(stops: _*)))
      val nDist = size(array_distinct(col("w")))
      def flag(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
      val f = d.select(col("source"),
        flag(nW < 10).as("r_short"),
        flag(sumLen < lit(3) * nW || sumLen > lit(10) * nW).as("r_wordlen"),
        flag(lit(10) * col("nsym") > col("nchar")).as("r_symbol"),
        flag(nStop < 2).as("r_stop"),
        flag(lit(10) * (nW - nDist) > lit(3) * nW).as("r_dup"))
      f.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("r_short")).as("n_short"),
          sum(col("r_wordlen")).as("n_wordlen"),
          sum(col("r_symbol")).as("n_symbol"),
          sum(col("r_stop")).as("n_stop"),
          sum(col("r_dup")).as("n_dup"),
          sum(when(col("r_short") + col("r_wordlen") + col("r_symbol") +
            col("r_stop") + col("r_dup") === 0, 1L).otherwise(0L)).as("n_pass"))
        .orderBy("source")
    },

    // ---- sorted-neighborhood blocking dedup: the classic entity-
    //      resolution alternative to hash blocking (t07 LSH / t08
    //      SimHash) — sort by the first two SORTED DISTINCT words (word-
    //      order perturbations can't move a doc in this order) and
    //      compare each doc only to its 3 successors within the first-
    //      word block. Candidates verify with exact trigram Jaccard —
    //      candidate pairs only, never all-pairs; the rank window
    //      partitions by block, so there is no global sort. ----
    QueryDef("t43_sorted_neighborhood",
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |keyed AS (
        |  SELECT doc_id, sw[1] AS blk, array_to_string(sw[1:2], ' ') AS key
        |  FROM (SELECT doc_id, list_sort(list_distinct(w)) AS sw
        |        FROM docs WHERE len(w) >= 3)),
        |ranked AS (SELECT doc_id, blk,
        |    row_number() OVER (PARTITION BY blk ORDER BY key, doc_id) AS rn
        |  FROM keyed),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ranked a JOIN ranked b
        |    ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM docs),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
        |              JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir),
          col("doc_id"), col("text"), windowSize = 3, minJaccard = 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- BPE first-merge-round pair table: within-word adjacent char-
    //      pair counts over the normalized corpus — the statistic a BPE
    //      tokenizer trainer computes per merge round (top pair becomes
    //      the next merge rule). One explode→explode→count pipeline,
    //      map-side combinable; the 26² pair space keeps the final
    //      aggregate O(1) regardless of corpus size. ----
    QueryDef("t44_bpe_merges",
      """WITH wd AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS wd
        |  FROM documents),
        |fw AS (SELECT wd FROM wd WHERE len(wd) >= 2 AND regexp_full_match(wd, '[a-z]+')),
        |p AS (SELECT unnest(list_transform(range(1, len(wd)),
        |        i -> substr(wd, CAST(i AS INTEGER), 2))) AS pair FROM fw)
        |SELECT pair, count(*) AS cnt FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("wd"))
        .filter(length(col("wd")) >= 2 && col("wd").rlike("^[a-z]+$"))
        .select(explode(expr(
          "transform(sequence(1, length(wd) - 1), i -> substring(wd, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // ---- the REAL BPE training loop (t44 is the one-round statistic):
    //      3 rounds of count-pairs → pick top → merge everywhere →
    //      recount on the MERGED corpus, trained on a deterministic 1/4
    //      DOCUMENT sample (md5-nibble predicate — merge statistics are
    //      sample-tolerant; the PQ/IVF trainFrac discipline, and at
    //      100 TB the trainer must not scan the full corpus per round).
    //      The oracle replays the identical loop — SAME md5 sample, same
    //      scalar-subquery top pick, same left-to-right non-overlapping
    //      replace — from generated per-round CTEs, so round 2+ grades
    //      the engine's round-1 merge application, not just its counting.
    //      Per-round top pair is a 1-row driver pull — the k-means
    //      train-loop shape (IVF.scala). ----
    QueryDef("t45_bpe_train",
      s"""WITH w0 AS (
         |  SELECT ' ' || trim(regexp_replace(wd, '(.)', '\\1 ', 'g')) || ' ' AS s
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS wd
         |        FROM documents
         |        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) < '4')
         |  WHERE len(wd) >= 2 AND regexp_full_match(wd, '[a-z]+')),
         |${(1 to 3).map(r => bpeRoundSql(r)).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT 1 AS round, pair AS merged_pair, cnt AS pair_count FROM t1
         |  UNION ALL SELECT 2, pair, cnt FROM t2
         |  UNION ALL SELECT 3, pair, cnt FROM t3)
         |ORDER BY round""".stripMargin) { (s, dir) =>
      bpeTrainTable(s, dir).orderBy("round")
    },

    // ---- language-ID classifier evaluation — the eval-harness family
    //      (t46 LSH, s27 IVF) applied to t03's classifier against the
    //      labeled lang column: the full confusion matrix plus per-true-
    //      class row fractions (recall on the diagonal). Exact counts +
    //      single divisions; the oracle re-derives prediction AND
    //      confusion from scratch. ----
    QueryDef("t48_langid_eval",
      s"""WITH pred AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($duckWords, w -> w IN ('the','a','of','and','is'))) AS INTEGER) AS score_en,
         |    CAST(len(list_filter($duckWords, w -> w IN ('der','die','das','und','ist'))) AS INTEGER) AS score_de,
         |    CAST(len(list_filter($duckWords, w -> w IN ('el','los','las','es','y'))) AS INTEGER) AS score_es,
         |    CAST(len(list_filter($duckWords, w -> w IN ('le','les','des','est','et'))) AS INTEGER) AS score_fr,
         |    CAST(len(list_filter($duckWords, w -> w IN ('的','是','了','在','和'))) AS INTEGER) AS score_zh,
         |    CASE
         |      WHEN score_en + score_de + score_es + score_fr + score_zh = 0 THEN 'und'
         |      WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
         |      WHEN score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
         |      WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
         |      WHEN score_fr >= score_zh THEN 'fr'
         |      ELSE 'zh' END AS predicted
         |  FROM documents),
         |cm AS (SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2)
         |SELECT lang, predicted, n,
         |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) AS frac
         |FROM cm ORDER BY lang, predicted""".stripMargin) { (s, dir) =>
      val cm = Tables.documents(s, dir)
        .select(col("lang"), TextOps.langPredict(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val wl = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      cm.withColumn("frac", col("n").cast("double") / sum(col("n")).over(wl))
        .orderBy("lang", "predicted")
    },

    // ---- BPE ENCODE — t45's apply step: apply the SESSION-MEMOIZED
    //      merge table (trained ONCE on the 1/4 sample, shared with t45 —
    //      the ClimateQueries cached-lineage pattern; an encode that
    //      re-trains internally multiplies corpus scans per consumer) to
    //      every document of the FULL corpus, reporting per-doc token
    //      counts before/after (the compression a tokenizer buys). The
    //      oracle replays train (sampled CTEs, no doc) AND apply (full-
    //      corpus CTE chain carrying doc_id), so a wrong merge
    //      application on any single document flips its row. ----
    QueryDef("t47_bpe_encode",
      s"""WITH w0 AS (
         |  SELECT ' ' || trim(regexp_replace(wd, '(.)', '\\1 ', 'g')) || ' ' AS s
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS wd
         |        FROM documents
         |        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) < '4')
         |  WHERE len(wd) >= 2 AND regexp_full_match(wd, '[a-z]+')),
         |${(1 to 3).map(r => bpeRoundSql(r)).mkString(",\n")},
         |a0 AS (
         |  SELECT doc_id,
         |    ' ' || trim(regexp_replace(wd, '(.)', '\\1 ', 'g')) || ' ' AS s
         |  FROM (SELECT doc_id,
         |          unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS wd
         |        FROM documents)
         |  WHERE len(wd) >= 2 AND regexp_full_match(wd, '[a-z]+')),
         |${(1 to 3).map(bpeApplySql).mkString(",\n")}
         |SELECT doc_id,
         |  CAST(sum(len(replace(s, ' ', ''))) AS BIGINT) AS n_tokens_raw,
         |  CAST(sum(len(regexp_split_to_array(trim(s), ' '))) AS BIGINT) AS n_tokens_bpe
         |FROM a3 GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.bpeEncode(Tables.documents(s, dir), col("doc_id"), col("text"),
          bpeMergeSeq(s, dir))
        .orderBy("doc_id")
    },

    // ---- DSIR data selection (Xie et al. 2023): score every document by
    //      Σ count(doc, w)·ln((t_w+1)/(T+V) ÷ (s_w+1)/(S+V)) — how much
    //      more the doc looks like the TARGET distribution (lang='en')
    //      than the source corpus — and keep the top 15, importance
    //      resampling's deterministic argmax form. The per-word log
    //      ratios are the ONE engine-trusted input (ln has no cross-libm
    //      bit guarantee), staged as `_staged_dsir_ratios`; the oracle
    //      re-derives the per-doc counts AND the quantized multiply-sum
    //      from scratch (DECIMAL(18,9) terms → exact, order-free on both
    //      engines; Spark's shortest-repr HALF_UP double→decimal cast is
    //      mirrored via the VARCHAR route). ----
    QueryDef("t49_dsir_selection",
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |  FROM documents),
         |c AS (SELECT doc_id, w, count(*) AS c FROM tok
         |      WHERE len(w) > 0 GROUP BY 1, 2),
         |r AS (SELECT w,
         |    CAST(round(CAST(CAST(r AS VARCHAR) AS DECIMAL(35,17)), 9)
         |      AS DECIMAL(18,9)) AS rq
         |  FROM read_parquet('${ClimateQueries.OutToken}/_staged_dsir_ratios/*.parquet'))
         |SELECT c.doc_id, CAST(sum(c.c) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(c.c * r.rq) AS DOUBLE), 6) AS dsir_score
         |FROM c JOIN r USING (w) GROUP BY 1
         |ORDER BY dsir_score DESC, doc_id LIMIT 15""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val ratios = TextOps.dsirLogRatios(docs, col("doc_id"), col("text"),
        col("lang") === "en")
      TextOps.dsirScores(docs, col("doc_id"), col("text"), ratios)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id")).limit(15)
    },

    // ---- LSH blocking quality report — the dedup EVALUATION harness as
    //      a first-class query: candidate-stage precision (how much
    //      verify work the bands waste) and recall (what the bands miss)
    //      against the exact all-pairs τ≥0.5 truth, evaluated on a
    //      FIXED-SIZE deterministic universe: the 1200 docs with the
    //      smallest md5(doc_id) (size-capped, NOT a fraction — a
    //      fraction keeps the quadratic exponent; a fixed k makes the
    //      truth leg corpus-size-INDEPENDENT, the sf1-tail fix). At the
    //      sf0.01 gate the sample IS the whole corpus, so the graded
    //      metrics are unchanged; band values are per-doc deterministic
    //      (murmur3 of the doc's own shingles), so sample-filtering the
    //      staged band table equals re-banding the sample. Fully
    //      oracled: candidates re-derive from the staged band table
    //      (the t30 path) filtered to the sample, truth from the t06
    //      exact-Jaccard derivation on the same sample — only the
    //      murmur3 band values stay engine-trusted. ----
    QueryDef("t46_lsh_eval",
      s"""WITH samp AS (SELECT doc_id FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1200),
         |bands AS (SELECT doc, band, bucket
         |  FROM read_parquet('${ClimateQueries.OutToken}/_staged_lsh_bands/*.parquet')
         |  WHERE doc IN (SELECT doc_id FROM samp)),
         |capped AS (SELECT doc, band, bucket FROM (
         |    SELECT doc, band, bucket,
         |      count(*) OVER (PARTITION BY band, bucket) AS bsz
         |    FROM bands) WHERE bsz <= 1000),
         |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
         |docs AS (SELECT doc_id,
         |           regexp_split_to_array(lower(trim(text)), '\\s+') AS w
         |         FROM documents
         |         WHERE doc_id IN (SELECT doc_id FROM samp)),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 1),
         |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
         |  FROM docs),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |tpairs AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.id_a
         |  JOIN sizes sb ON sb.doc_id = i.id_b
         |  WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.5),
         |nums AS (SELECT
         |  (SELECT count(*) FROM cand) AS n_cand,
         |  (SELECT count(*) FROM tpairs) AS n_truth,
         |  (SELECT count(*) FROM cand c JOIN tpairs t
         |     ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hit)
         |SELECT n_cand, n_truth, n_hit,
         |  CAST(n_hit AS DOUBLE) / n_cand AS precision,
         |  CAST(n_hit AS DOUBLE) / n_truth AS recall
         |FROM nums""".stripMargin) { (s, dir) =>
      // fixed-size deterministic eval universe: smallest-md5 top-k is a
      // TakeOrdered (one pass, k rows to the driver side of the plan) —
      // truth cost stops scaling with the corpus
      val sample = Tables.documents(s, dir)
        .withColumn("__h", md5(col("doc_id").cast("string")))
        .orderBy(col("__h"), col("doc_id"))
        .limit(1200)
        .drop("__h")
        .localCheckpoint()
      val cands = Dedup.lshCandidates(sample, col("doc_id"), col("text"))
        .localCheckpoint()
      // exact all-pairs truth is quadratic BY DESIGN — the fixed-size
      // sample keeps it inside the evaluation envelope at ANY corpus
      // size; the Guard stays as the loud backstop
      val gated = graft.core.Guard.quadratic(sample,
        "t46_lsh_eval exact-Jaccard truth")
      val truth = Dedup.jaccardPairs(gated, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val nCand = cands.agg(count(lit(1)).as("n_cand"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nHit = cands.join(truth, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_hit"))
      nCand.crossJoin(nTruth).crossJoin(nHit)
        .select(col("n_cand"), col("n_truth"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_cand")).as("precision"),
          (col("n_hit").cast("double") / col("n_truth")).as("recall"))
    },

    // ---- URL canonicalization + URL-level dedup — the FIRST dedup pass
    //      a crawl corpus gets (before any content hashing): normalize
    //      scheme/host case, drop the www. prefix and default port,
    //      strip trailing slashes and fragments, remove utm_* tracking
    //      params and SORT the survivors — then group by canonical form.
    //      Raw URLs are DERIVED deterministically from (doc_id, source)
    //      with injected mess (case, :443, trailing /, utm params,
    //      #fragment — the q104 derived-input discipline) so both
    //      engines canonicalize the same strings. Engine side uses
    //      parse_url (codegen'd Spark-native URL parts) + array
    //      filter/sort HOFs — map-side until the one grouping; at crawl
    //      scale this is THE cheap 30-50% row cut before MinHash ever
    //      runs. ----
    QueryDef("t50_url_canonicalize",
      "WITH raw AS (\n" + urlRawSql + "),\n" +
        "canon AS (\n  SELECT doc_id, url,\n" + urlCanonExprSql +
        " AS canonical_url\n  FROM raw)\n" +
        """SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
          |  CAST(min(doc_id) AS BIGINT) AS first_doc
          |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      urlRaw(s, dir)
        .withColumn("canonical_url", TextOps.canonicalizeUrl(col("url")))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("canonical_url")
    },

    // ---- URL-KEYED DEDUP consuming t50's canonical key — the
    //      CommonCrawl-style URL-dedup pass every pretraining pipeline
    //      runs BEFORE content dedup (t50 builds the key; nothing graded
    //      kept survivors until now): one min-id survivor per canonical
    //      URL (Dedup.urlSurvivors = t05's survivor rule on the
    //      canonical key), then survivors join BACK to the corpus on
    //      doc_id — ids shuffle, payloads don't. The canonical key is
    //      computed map-side before the single partial-agg exchange
    //      (PlanSpec pins the plan); the oracle reuses t50's raw/canon
    //      CTEs verbatim. ----
    QueryDef("t52_url_dedup",
      "WITH raw AS (\n" + urlRawSql + "),\n" +
        "canon AS (\n  SELECT doc_id, url,\n" + urlCanonExprSql +
        " AS canonical_url\n  FROM raw)\n" +
        """, keep AS (
          |  SELECT canonical_url, min(doc_id) AS keep_id,
          |    CAST(count(*) AS BIGINT) AS n_absorbed
          |  FROM canon GROUP BY 1)
          |SELECT d.doc_id, d.source, k.canonical_url, k.n_absorbed
          |FROM documents d JOIN keep k ON d.doc_id = k.keep_id
          |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val keep = Dedup.urlSurvivors(urlRaw(s, dir), col("doc_id"), col("url"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(keep, col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("source"), col("canonical_url"),
          col("n_absorbed"))
        .orderBy("doc_id")
    },

    // ---- eval-set n-gram contamination report — the GPT-3/PaLM-style
    //      decontamination AUDIT at n-gram granularity (t17/t26 drop
    //      whole matching docs; this measures HOW MUCH of each training
    //      doc's distinct 3-gram mass appears anywhere in the held-out
    //      set, the signal behind span-level dedup decisions). Eval
    //      membership is the deterministic doc_id % 97 slice. The eval
    //      gram set is corpus-small (the held-out benchmark, not the
    //      crawl) → broadcast; the training side is ONE map-side probe +
    //      one grouping — at 100 TB the broadcast set swaps for t26's
    //      bloom filter with the same plan shape. Flag = ≥20% overlap,
    //      integer-exact (n_cont·5 ≥ n_grams); frac is a single division
    //      both engines compute identically. ----
    QueryDef("t51_eval_contamination",
      """WITH docs AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 1),
        |                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM docs),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS contaminated_frac,
        |  sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) * 5 >= count(*)
        |    AS flagged
        |FROM c LEFT JOIN ev ON ev.s = c.s
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .select(col("doc_id").as("doc"), TextOps.words(col("text")).as("w"))
        .select(col("doc"), explode(Dedup.shinglesOfWords(col("w"), 3)).as("s"))
      val evalGrams = sh.filter(col("doc") % 97 === 0)
        .select(col("s")).distinct().withColumn("__hit", lit(1L))
      sh.filter(col("doc") % 97 =!= 0)
        .join(broadcast(evalGrams), Seq("s"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
        .select(col("doc").as("doc_id"), col("n_grams"), col("n_contaminated"),
          (col("n_contaminated").cast("double") / col("n_grams"))
            .as("contaminated_frac"),
          (col("n_contaminated") * 5 >= col("n_grams")).as("flagged"))
        .orderBy("doc_id")
    },
  )

  /** One BPE round as DuckDB CTEs (mirrors [[graft.ext.TextOps
    * .bpeTrainRounds]]'s loop body term for term): count positional
    * adjacent token pairs over w{i-1}, pick the (count desc, pair) top,
    * merge it with the sentinel-delimited replace.
    */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (SELECT pair, count(*) AS cnt FROM (
       |  SELECT unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS pair
       |  FROM (SELECT regexp_split_to_array(trim(s), ' ') AS t FROM $prev))
       |  GROUP BY 1),
       |t$r AS (SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM p$r
       |        ORDER BY cnt DESC, pair LIMIT 1),
       |w$r AS (SELECT replace(s, ' ' || coalesce((SELECT pair FROM t$r), '~') || ' ',
       |          ' ' || replace(coalesce((SELECT pair FROM t$r), '~'), ' ', '') || ' ') AS s
       |        FROM $prev)""".stripMargin
  }

  /** Shared raw-URL derivation for t50/t52 (the q104 derived-input
    * discipline): deterministic URL mess — case, :443, trailing slash,
    * utm params, #fragment — injected from (doc_id, source) so both
    * engines canonicalize identical strings. DuckDB CTE body; engine
    * twin is [[urlRaw]]. */
  private def urlRawSql: String =
    """  SELECT doc_id,
      |    CASE doc_id % 3
      |      WHEN 0 THEN 'HTTPS://WWW.' || source || '.example.com'
      |      WHEN 1 THEN 'https://' || upper(source) || '.EXAMPLE.COM'
      |      ELSE 'https://www.' || source || '.example.com' END
      |    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
      |    || '/docs/' || (doc_id % 25)
      |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
      |    || CASE WHEN doc_id % 2 = 0
      |         THEN '?utm_source=feed&utm_campaign=x&id=' || (doc_id % 5)
      |         ELSE '?id=' || (doc_id % 5) END
      |    || CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END AS url
      |  FROM documents""".stripMargin

  /** The DuckDB twin of [[graft.ext.TextOps.canonicalizeUrl]] as a SQL
    * expression over a column named `url` — shared by t50/t52 so the two
    * oracles cannot drift from each other. */
  private def urlCanonExprSql: String =
    """    'https://'
      |    || regexp_replace(lower(regexp_extract(url, '://([^/:?#]+)', 1)),
      |                      '^www\.', '')
      |    || regexp_replace(regexp_extract(url, '://[^/?#]+([^?#]*)', 1),
      |                      '/+$', '')
      |    || '?'
      |    || array_to_string(list_sort(list_filter(
      |         string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |         p -> NOT starts_with(p, 'utm_'))), '&')""".stripMargin

  /** Engine twin of [[urlRawSql]]: the derived (doc_id, url) frame. */
  private def urlRaw(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0,
          concat(lit("HTTPS://WWW."), col("source"), lit(".example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("https://"), upper(col("source")), lit(".EXAMPLE.COM")))
          .otherwise(
            concat(lit("https://www."), col("source"), lit(".example.com"))),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 25).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&utm_campaign=x&id="),
            (col("doc_id") % 5).cast("string")))
          .otherwise(concat(lit("?id="), (col("doc_id") % 5).cast("string"))),
        when(col("doc_id") % 11 === 0, lit("#sec2")).otherwise(lit("")))
        .as("url"))

  /** The APPLY half of t47's oracle: fold round r's learned pair (the
    * scalar subquery against the TRAINING CTE t$r) into the full-corpus
    * doc-carrying chain a{r-1} → a{r} — [[graft.ext.TextOps
    * .bpeApplyMerges]]'s chained replace, one CTE per merge. The scalar
    * subquery coalesces to '~' (never occurs in the lowercase sentinel
    * corpus, so the replace is the identity): if the sampled train
    * exhausts before all rounds, the oracle then applies FEWER merges —
    * exactly the engine's behavior — instead of NULLing the whole chain
    * through `' ' || NULL || ' '`. Same guard on the training chain's
    * w$r CTE. */
  private def bpeApplySql(r: Int): String =
    s"""a$r AS (SELECT doc_id, replace(s, ' ' || coalesce((SELECT pair FROM t$r), '~') || ' ',
       |          ' ' || replace(coalesce((SELECT pair FROM t$r), '~'), ' ', '') || ' ') AS s
       |        FROM a${r - 1})""".stripMargin

  // One BPE training run shared t45 → t47 (the ClimateQueries cached-
  // lineage discipline: encode must not re-train per consumer). t45
  // ALWAYS trains — its bench entry stays an honest measurement of the
  // sampled trainer — and deposits the merge rows; t47 consumes the
  // deposit when (session, dir) match, else trains once itself (train is
  // deterministic, so either path yields identical rows).
  private val bpeMemo = SessionMemo[Seq[(Int, String, Long)]]()

  private def bpeTrainFresh(s: SparkSession, dir: String): Seq[(Int, String, Long)] = {
    val rows = TextOps.bpeTrainRounds(Tables.documents(s, dir),
        col("text"), rounds = 3, trainFrac = 4,
        sampleId = Some(col("doc_id")))
      .orderBy("round")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    bpeMemo.put(s, dir, rows)
    rows
  }

  /** t45's result as a DataFrame (always a fresh sampled train). */
  private def bpeTrainTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrainFresh(s, dir).toDF("round", "merged_pair", "pair_count")
  }

  /** The ordered merge strings t47 applies — memoized train if this
    * (session, dir) already trained, else one fresh train. */
  private def bpeMergeSeq(s: SparkSession, dir: String): Seq[String] =
    bpeMemo.get(s, dir).getOrElse(bpeTrainFresh(s, dir)).map(_._2)
}
