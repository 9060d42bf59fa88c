package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
    (4L, "The Quick Brown Fox jumps over the lazy dog near the river bank today!!!"), // case/punct variant of 1
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups: identical texts share a hash group, min id kept") {
    val g = Dedup.exactGroups(docs, col("doc_id"), col("text"))
    assert(g.count() == 4) // 1&5 collapse
    val grp = g.filter(col("n_docs") === 2).collect()
    assert(grp.length == 1 && grp.head.getAs[Long]("keep_id") == 1L)
  }

  test("fingerprint dedup: case/punctuation variants collapse") {
    val kept = Dedup.dedupExact(docs, "doc_id", "text")
    // 1, 4, 5 share a canonical fingerprint -> keep 1; 2 and 3 survive
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("shingles: short docs yield empty array, not [1,0] sequence garbage") {
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    val sh = short.select(Dedup.shingles(col("text"), 3).as("s"))
      .select(size(col("s"))).as[Int].collect()
    assert(sh.toSeq == Seq(0))
  }

  // the r16 native kernel replaced exactly this spelling inside
  // Dedup.gramsOfWords — pin bit parity on every edge the chain has:
  // duplicates preserved, positional order, <n words → empty array,
  // NULL words array → empty array, NULL element skipped by concat_ws
  private def hofGrams(w: org.apache.spark.sql.Column, n: Int) = {
    val cnt = size(w) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), cnt),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  private def wordRows(session: org.apache.spark.sql.SparkSession) = {
    import session.implicits._
    Seq(
      (1L, Seq("a", "b", "c", "d", "a", "b", "c")),     // dup grams
      (2L, Seq("x", "y")),                                 // shorter than n=3
      (3L, Seq.empty[String]),
      (4L, Seq("one", "two", "three")),
      (5L, null.asInstanceOf[Seq[String]]),                // null array
      (6L, Seq("p", null, "q", "r"))                       // null element
    ).toDF("id", "w")
  }

  private val gramSizes = Seq(1, 2, 3, 8)

  private def assertGramParity(rows: org.apache.spark.sql.DataFrame,
                               grams: Int => org.apache.spark.sql.Column): Unit =
    for (n <- gramSizes) {
      val got = rows.select(col("id"), grams(n).as("g"))
        .orderBy("id").collect().map(_.getSeq[String](1).toList).toList
      val want = rows.select(col("id"), hofGrams(col("w"), n).as("g"))
        .orderBy("id").collect().map(_.getSeq[String](1).toList).toList
      assert(got == want, s"n=$n: $got != $want")
    }

  test("WordGrams kernel == interpreted HOF chain, incl. nulls/short/empty docs") {
    assertGramParity(wordRows(spark), n => Dedup.gramsOfWords(col("w"), n))
  }

  test("gramsOfWords resolves on the DataFrame's session, not the active one") {
    // rows of a session that never registered GraftFunctions; the gram
    // Columns are built while no session is active
    val rows = wordRows(spark.newSession())
    try {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      val grams = gramSizes.map(n => n -> Dedup.gramsOfWords(col("w"), n)).toMap
      assertGramParity(rows, grams)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("jaccardPairs: near-dups score high, unrelated score low or absent") {
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) > 0.8)
    assert(pairs((1L, 5L)) == 1.0)
    assert(!pairs.contains((1L, 3L)) || pairs((1L, 3L)) < 0.1)
  }

  test("minhash LSH finds the crafted near-dup and exact-dup pairs") {
    val found = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 5L)), "exact dup must collide in every band")
    assert(found.contains((1L, 2L)), "0.87-jaccard near-dup should collide")
    assert(!found.contains((1L, 3L)), "unrelated docs should not be candidates")
  }

  test("lshCandidates: degenerate bucket capped — identical-doc corpus stays sub-quadratic") {
    // 120 copies of one boilerplate doc collide into the SAME bucket in
    // every band: uncapped that is a 7140-pair quadratic blowup from one
    // template. With maxBucket=50 every one of its buckets is dropped,
    // while an unrelated small near-dup pair still surfaces.
    val boiler = (1L to 120L).map(i =>
      (i, "spark catalyst tungsten codegen shuffle partition broadcast join plan"))
    val pair = Seq(
      (201L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (202L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val df = (boiler ++ pair).toDF("doc_id", "text")
    val capped = Dedup.lshCandidates(df, col("doc_id"), col("text"), maxBucket = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((201L, 202L)), "small-bucket near-dups must survive the cap")
    assert(!capped.exists { case (a, b) => a <= 120L && b <= 120L },
      s"degenerate bucket must be dropped, got ${capped.size} pairs")
    // and uncapped (default 1000) the same corpus IS quadratic — the cap
    // is what bounds it, not the data
    val uncapped = Dedup.lshCandidates(df, col("doc_id"), col("text")).count()
    assert(uncapped == 120L * 119L / 2 + 1)
  }

  test("jaccardPairs: hot-shingle stop-list removes template-only pairs") {
    // every doc ends with the same 3 words -> one shingle with df=30 links
    // all 435 pairs; the informative shingles are unique per doc. A df cap
    // of 5 drops the hot shingle and with it every spurious pair.
    val df = (1L to 30L).map(i => (i, s"u${i}a u${i}b the end of")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(df, col("doc_id"), col("text")).count() == 435L)
    assert(Dedup.jaccardPairs(df, col("doc_id"), col("text"), maxDf = 5L).count() == 0L)
  }

  test("jaccardPairs: stop-list keeps real near-dups and their reduced-space scores") {
    val df = Seq(
      (1L, "one two three four five the end of"),
      (2L, "one two three four six the end of"),  // near-dup of 1
      (3L, "seven eight nine ten eleven the end of"),
      (4L, "twelve thirteen fourteen fifteen sixteen the end of")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, col("doc_id"), col("text"), maxDf = 3L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // docs 1,2 share informative shingles ("one two three", "two three four")
    // beyond the stop-listed tail; 3,4 shared ONLY the template tail
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.2)
    assert(!pairs.contains((3L, 4L)))
  }

  test("LSH recall vs exact ground truth is total on the testdata corpus (t07 vs t06)") {
    // t16 builds its cluster edges from the LSH path — this is the test
    // that licenses that swap: every exact jaccard>=0.5 pair must surface
    // as an LSH candidate and survive the exact verify. (Precision is 1.0
    // by construction: candidates are re-scored with exact jaccard.)
    val docs = graft.core.Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata must contain near-dup pairs")
    assert(lsh == exact,
      s"recall=${(exact intersect lsh).size.toDouble / exact.size}, " +
        s"missed=${(exact -- lsh).take(5)}, spurious=${(lsh -- exact).take(5)}")
  }

  test("SimHash precision/recall vs exact jaccard ground truth (t08 vs t06)") {
    // SimHash hamming<=3 approximates a different similarity (weighted
    // bag-of-words) than set jaccard, so neither metric is 1.0 — measured
    // 0.78 precision / 0.75 recall on this corpus; the bounds catch a
    // regression, the message records the numbers.
    val docs = graft.core.Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(
        Dedup.simhash(docs, col("doc_id"), col("text")), maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tp = (exact intersect sim).size
    val precision = tp.toDouble / sim.size
    val recall = tp.toDouble / exact.size
    info(f"simhash precision=$precision%.3f recall=$recall%.3f (n_exact=${exact.size}, n_sim=${sim.size})")
    assert(precision >= 0.7, f"precision $precision%.3f")
    assert(recall >= 0.5, f"recall $recall%.3f")
  }

  test("simhash: exact dups at hamming 0, near-dups close, unrelated far") {
    val sig = Dedup.simhash(docs, col("doc_id"), col("text"))
    val m = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(5L)) == 0)
    assert(ham(m(1L), m(2L)) <= 8)
    assert(ham(m(1L), m(3L)) > 8)
  }

  test("simhashPairs: chunk blocking surfaces hamming<=3 pairs") {
    val sig = Dedup.simhash(docs, col("doc_id"), col("text"))
    val pairs = Dedup.simhashPairs(sig, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("simhashPairs: COMPLETE vs brute-force bit_count(a ^ b) <= 3, hamming values included") {
    // crafted signatures beside the suite's documents: 11 differs from 10
    // by 3 bits in 3 different chunks (chunk 3 still equal, so it must
    // pair); 12 differs from 10 by 4 bits, one per chunk (no equal chunk)
    val base = 0x123456789ABCDEF0L
    val crafted = Seq(
      (10L, base),
      (11L, base ^ (1L | (1L << 16) | (1L << 32))),
      (12L, base ^ (2L | (1L << 17) | (1L << 33) | (1L << 49)))
    ).toDF("doc", "simhash")
      .select(Seq(col("doc"), col("simhash")) ++ (0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as(s"chunk$c")): _*)
    val sig = Dedup.simhash(docs, col("doc_id"), col("text")).union(crafted)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val brute = triples(sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3))
    val got = triples(Dedup.simhashPairs(sig, 3))
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.contains((10L, 11L, 3)) && got.contains((1L, 5L, 0)), s"got $got")
    assert(!got.exists(p => p._1 == 10L && p._2 == 12L), s"got $got")
    // above 3 the chunk blocking bounds recall: 4 bits, one per chunk,
    // never become a candidate
    assert(!triples(Dedup.simhashPairs(sig, 4)).exists(p => p._1 == 10L && p._2 == 12L))
  }

  test("τ test is exact at its boundary: J = 2/5 kept with jaccard 0.4, J = 4/11 dropped") {
    // trigram sets: 1 = {abc bcd cde def efg fgh ghi} (7),
    // 2 shares abc..def with 1 plus 3 of its own (7): J = 4/10 = 2/5;
    // 3 shares abc..def with both plus 4 of its own (8): J = 4/11 < 2/5
    val df = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "a b c d e f x y z"),
      (3L, "a b c d e f p q r s")
    ).toDF("doc_id", "text")
    def rows(out: org.apache.spark.sql.DataFrame, a: String, b: String) =
      out.select(col(a), col(b), col("jaccard")).as[(Long, Long, Double)].collect().toSet
    assert(rows(Dedup.prefixFilterPairs(df, col("doc_id"), col("text")), "id_a", "id_b") ==
      Set((1L, 2L, 0.4)))
    val batch = df.filter(col("doc_id") === 1L)
    val cSh = Dedup.shingleHashTable(df.filter(col("doc_id") =!= 1L), col("doc_id"), col("text"))
    val pref = Dedup.prefixIndexTable(cSh, tauNum = 2, tauDen = 5)
    val sigs = Dedup.signatureTable(cSh)
    val cross = Dedup.crossPrefixProbe(
      Dedup.shingleHashTable(batch, col("doc_id"), col("text")),
      pref, sigs, tauNum = 2, tauDen = 5, broadcastSigs = true)
    assert(rows(cross, "id_a", "id_b") == Set((1L, 2L, 0.4)))
    val streamed = graft.streaming.StreamOps.streamPrefixProbe(batch,
      col("doc_id"), col("text"), pref, sigs, tauNum = 2, tauDen = 5)
    assert(rows(streamed, "doc", "partner") == Set((1L, 2L, 0.4)))
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pmiCollocations: hand-computed lifts on a two-doc corpus") {
    // docs "a b a b" + "a b c": unigrams a=3 b=3 c=1 (N1=7);
    // bigrams ab=3 ba=1 bc=1 (N2=5).
    // lift(a,b) = (3/5)/((3/7)(3/7)) = 49·3/(5·9)  = 3.2666…
    // lift(b,c) = (1/5)/((3/7)(1/7)) = 49/(5·3)    = 3.2666…
    // lift(b,a) = (1/5)/((3/7)(3/7)) = 49/(5·9)    = 1.0888…
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = graft.ext.TextOps.pmiCollocations(df, col("text"), minCount = 1L)
      .orderBy("w1", "w2")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 1L)))
    val lifts = got.map(_._4)
    assert(math.abs(lifts(0) - 49.0 * 3 / 45) < 1e-12)
    assert(math.abs(lifts(1) - 49.0 / 45) < 1e-12)
    assert(math.abs(lifts(2) - 49.0 / 15) < 1e-12)
    // frequency asymmetry: the rarer right-hand word (c) lifts harder
    // than the common one at equal pair count
    assert(lifts(2) > lifts(1))
  }

  test("bigramSurprisal: hand-computed interpolated probabilities on a two-doc corpus") {
    // docs "a b a" + "b a": tokens N=5, unigrams a=3 b=2;
    // bigrams (a,b)=1 (b,a)=2.
    // p(b|a) = 0.75·(1/3) + 0.25·(2/5) = 0.35
    // p(a|b) = 0.75·(2/2) + 0.25·(3/5) = 0.90
    // doc1 bigrams: (a,b),(b,a) → avg −(ln .35 + ln .9)/2
    // doc2 bigrams: (b,a)       → −ln .9
    val df = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    val got = graft.ext.TextOps.bigramSurprisal(df, col("doc_id"), col("text"))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val exp1 = BigDecimal(-(math.log(0.35) + math.log(0.9)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal(-math.log(0.9))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 2L, exp1), (2L, 1L, exp2)))
    // sequence sensitivity — the property unigram surprisal lacks: a
    // corpus-frequent bigram scores LESS surprising than a rare one
    assert(exp2 < exp1)
  }

  test("bm25TopK: rare-term docs outrank common-term docs; tf saturates; dl normalizes") {
    // 'needle' appears in 1 of 4 docs (high idf), 'water' in all (low idf):
    // the needle doc must rank first. Docs 3 vs 4 share tf('water')=1 but
    // 4 is longer → dl normalization ranks 3 above 4.
    val df = Seq(
      (1L, "needle water"),
      (2L, "water water water water water water water water"),
      (3L, "water rock"),
      (4L, "water rock rock rock rock rock rock rock rock rock")
    ).toDF("doc_id", "text")
    val got = graft.ext.TextOps.bm25TopK(df, col("doc_id"), col("text"),
        queryTerms = Seq("needle", "water"), k = 4)
      .select("doc", "rn").as[(Long, Int)].collect().sortBy(_._2).toSeq
    assert(got.map(_._1).head == 1L, s"high-idf needle doc must rank 1: $got")
    assert(got.map(_._1).indexOf(3L) < got.map(_._1).indexOf(4L),
      s"shorter doc must outrank longer at equal tf (dl normalization): $got")
    // tf saturation: doc 2 has 8x the tf of doc 3 but the same idf terms —
    // its score must be < 8x doc 3's water-term share (k1 bounds tf gain)
    val scores = graft.ext.TextOps.bm25TopK(df, col("doc_id"), col("text"),
        queryTerms = Seq("water"), k = 4)
      .select("doc", "score").as[(Long, Double)].collect().toMap
    assert(scores(2L) < 8.0 * scores(3L) && scores(2L) > scores(3L),
      s"tf gain must saturate: $scores")
  }

  test("langPredict: marker stopwords pick the language; und on no signal") {
    val df = Seq(
      ("the cat is on a mat of wool"),
      ("der hund und die katze das haus"),
      ("el gato y los perros las casas"),
      ("le chat et les chiens des maisons"),
      ("xyzzy qwerty plugh")
    ).toDF("text")
    val got = df.select(TextOps.langPredict(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "fr", "und"))
  }

  test("langIdOnePass == per-column langScores/langPredict, including null and empty text") {
    val df = Seq(
      (1L, "xx", "the cat is on a mat of wool and the dog"),
      (2L, "xx", "der hund und die katze das haus"),
      (3L, "xx", "xyzzy qwerty plugh"),
      (4L, "xx", ""),
      (5L, "xx", null.asInstanceOf[String])
    ).toDF("doc_id", "lang", "text")
    val scores = TextOps.langScores(col("text"))
    val perCol = df.select(
        Seq(col("doc_id"), col("lang")) ++
          scores.map { case (n, c) => c.as(n) } :+
          TextOps.langPredict(col("text")).as("predicted"): _*)
      .orderBy("doc_id").collect().toSeq
    val onePass = TextOps.langIdOnePass(df, "doc_id", "lang", col("text"))
      .orderBy("doc_id").collect().toSeq
    // non-null texts: bit-identical to the per-column form
    assert(onePass.take(4) == perCol.take(4),
      s"one-pass $onePass vs per-col $perCol")
    // null text: the per-column size(filter(null)) is CONFIG-dependent
    // (−1 with ANSI off, NULL under ANSI); the one-pass form is stably
    // NULL scores + NULL prediction — the DuckDB oracle's semantics
    // (len(NULL) is NULL), pinned here independent of session conf
    val nullRow = onePass.last
    assert(nullRow.getLong(0) == 5L && (2 to 6).forall(nullRow.isNullAt) &&
      nullRow.isNullAt(7), s"null-text row: $nullRow")
  }

  test("bpeishCount: letters runs + digit runs + symbols") {
    val df = Seq(("hello world42 foo-bar!")).toDF("text")
    // hello | world | 42 | foo | - | bar | ! -> 7
    assert(df.select(TextOps.bpeishCount(col("text"))).as[Int].head() == 7)
  }

  test("fingerprint: normalization collapses case/punct/whitespace") {
    val df = Seq(("Hello,   World!"), ("hello world")).toDF("text")
    val fps = df.select(TextOps.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("redactPii: emails, phones, long ids masked; counts per class") {
    val df = Seq(
      ("contact alice@example.com or +1 (555) 123-4567 ref 123456789", 3),
      ("no pii here at all", 0)
    ).toDF("text", "expected")
    val (red, n) = TextOps.redactPii(col("text"))
    val rows = df.select(red.as("r"), n.as("n"), col("expected")).collect()
    val r0 = rows.find(_.getInt(2) > 0).get
    assert(r0.getString(0).contains("<EMAIL>"))
    assert(r0.getString(0).contains("<PHONE>"))
    assert(!r0.getString(0).contains("example.com"))
    assert(r0.getInt(1) >= 3) // phone digits also hit the id-run pattern
    val r1 = rows.find(_.getInt(2) == 0).get
    assert(r1.getString(0) == "no pii here at all" && r1.getInt(1) == 0)
  }

  test("chunk: no tail chunk fully contained in its predecessor") {
    // 90 words, chunk 50 overlap 10: starts must be [1, 41] — a start at
    // 81 would duplicate words 81-90 already covered by chunk 41-90
    val df = Seq((1L, (1 to 90).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = TextOps.chunk(df, col("doc_id"), col("text")).collect()
    assert(chunks.length == 2)
    assert(chunks.map(_.getInt(3)).toSeq == Seq(50, 50))
    // together they cover all 90 words
    val covered = chunks.flatMap(_.getString(2).split(" ")).toSet
    assert(covered.size == 90)
  }

  test("splitAssign: negative ids keep documented proportions (pmod)") {
    val df = (-20L to 19L).toDF("id")
    val counts = df.select(TextOps.splitAssign(col("id")).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") == 32L && counts("val") == 4L && counts("test") == 4L)
  }

  test("packBins: duplicate ids get row-frame cumsum, not shared peer sum") {
    val df = Seq((1L, "a b c"), (1L, "d e"), (2L, "f")).toDF("doc_id", "text")
    val bins = TextOps.packBins(df, col("doc_id"), col("text"), budget = 4)
      .orderBy("doc", "n_words").collect()
    // cumulative: 3, 5, 6 -> bin starts 0, 3, 5 -> bins 0, 0, 1
    assert(bins.map(_.getInt(2)).sorted.toSeq == Seq(0, 0, 1))
  }

  test("packBins: two-pass ranged prefix sum == global-window form, big window keyed") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).map(i => (i, ("w " * ((i % 37 + 1)).toInt).trim))
      .toDF("doc_id", "text")
    val got = TextOps.packBins(df, col("doc_id"), col("text"),
      budget = 64, rangeSize = 50)
    val wG = Window.orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = df.select(col("doc_id").as("doc"),
        TextOps.wordCount(col("text")).as("n_words"))
      .withColumn("cum", sum(col("n_words")).over(wG))
      .select(col("doc"), col("n_words"),
        ((col("cum") - col("n_words")) / 64).cast("int").as("bin"))
    assert(got.orderBy("doc").collect().toSeq == exp.orderBy("doc").collect().toSeq)
    val plan = got.queryExecution.executedPlan.toString
    // the full-table cumsum window is keyed on the range; since r12 the
    // R-row offsets prefix sum is bucketed too (runningTotalsViaBuckets),
    // so the plan has NO single-partition stage at all
    assert(plan.contains("hashpartitioning(rng"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("repetitionStats: hand-computed ratios") {
    // 6 words: the cat the cat the dog -> dw=3, wc=6, top_uni=3('the')
    // bigrams: "the cat","cat the","the cat","cat the","the dog" -> top 2/5
    val df = Seq((1L, "the cat the cat the dog")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(df, col("doc_id"), col("text")).collect().head
    assert(r.getDouble(1) == 0.5)               // 1 - 3/6
    assert(r.getDouble(2) == 0.5)               // 3/6
    assert(r.getDouble(3) == 0.4)               // 2/5
  }

  test("contaminationBloom: superset of exact contamination, counts >= exact") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val evalPred = col("doc_id") % 10 === 9
    val exact = Dedup.contamination(corpus, col("doc_id"), col("text"), evalPred)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Dedup.contaminationBloom(corpus, col("doc_id"), col("text"), evalPred)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Bloom filters admit no false negatives: every exactly-contaminated
    // doc must be flagged, with at-least-exact shingle hit counts.
    exact.foreach { case (doc, nShared) =>
      assert(bloom.contains(doc), s"doc $doc contaminated but not bloom-flagged")
      assert(bloom(doc) >= nShared, s"doc $doc bloom count ${bloom(doc)} < exact $nShared")
    }
  }

  test("contaminationBloom: disjoint corpora stay (almost) unflagged") {
    // train and eval shingle spaces are fully disjoint — every flagged doc
    // is a Bloom false positive. 90 train docs x 8 shingles at fpp=1e-4
    // expects ~0.07 FP probes; the operator is RNG-free so this either
    // always passes or always fails for a given Spark version.
    val df = (1L to 100L).map { i =>
      val tag = if (i % 10 == 9) "ev" else "tr"
      (i, (0 until 10).map(j => s"${tag}_${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val flagged = Dedup.contaminationBloom(df, col("doc_id"), col("text"),
      col("doc_id") % 10 === 9, fpp = 1e-4)
    assert(flagged.count() <= 2, "disjoint corpora should produce ~no bloom flags")
  }

  test("boilerplateNgrams: shared footer flagged at minDf, unique spans are not") {
    // three docs share an identical 5-word footer (3 boilerplate
    // trigrams); each body is unique → only footer trigrams reach df 3
    val footer = "all rights reserved contact us"
    val df = Seq(
      (1L, s"alpha beta gamma delta $footer"),
      (2L, s"epsilon zeta eta theta $footer"),
      (3L, s"iota kappa lambda mu $footer"),
      (4L, "nu xi omicron pi rho sigma tau")
    ).toDF("doc_id", "text")
    val got = TextOps.boilerplateNgrams(df, col("doc_id"), col("text"), minDf = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // each 9-word doc has 7 trigrams; exactly the 3 all-footer trigrams
    // recur in all three docs (the 4 bridging body→footer trigrams are
    // unique per doc)
    got.take(3).foreach { case (doc, n, b, frac) =>
      assert(n == 7 && b == 3, s"doc $doc: expected 3/7 boilerplate, got $b/$n")
      assert(frac == math.rint(3.0 / 7.0 * 1e6) / 1e6)
    }
    val (_, n4, b4, f4) = got(3)
    assert(n4 == 5 && b4 == 0 && f4 == 0.0, "unique doc must have no boilerplate")
  }

  test("crossDocDupRatio: positional multiplicity, cross-doc-only rule, short docs absent") {
    val df = Seq(
      (1L, "a b c d"),      // bigrams: "a b" "b c" "c d"
      (2L, "x y a b"),      // bigrams: "x y" "y a" "a b"
      (3L, "p q r"),        // bigrams: "p q" "q r" — none shared
      (4L, "a b a b a"),    // "a b" ×2 (cross-doc dup), "b a" ×2 (ONLY in
                            // this doc — within-doc repeats don't count)
      (5L, "z")             // shorter than n → no positions → absent
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocDupRatio(df, col("doc_id"), col("text"), n = 2)
      .orderBy("doc").as[(Long, Long, Long, Double)].collect().toSeq
    val third = math.rint(1.0 / 3.0 * 1e6) / 1e6
    assert(got == Seq(
      (1L, 3L, 1L, third),
      (2L, 3L, 1L, third),
      (3L, 2L, 0L, 0.0),
      (4L, 4L, 2L, 0.5)), s"got $got")
  }

  test("dupSpanStats: interval-union merge, cross-doc-only rule, zero rows kept, short docs absent") {
    val df = Seq(
      (1L, "a b c d e f"),     // dup bigram starts {1,2,4,5} → word cover 1..6 is contiguous → ONE span
      (2L, "a b c x d e f"),   // dup starts {1,2,5,6} → gap (2→5 breaks at n=2) → TWO spans of 3 words
      (3L, "q r s t u v"),     // nothing shared → zero row, present
      (4L, "m n m n"),         // "m n" repeats WITHIN the doc only → not cross-doc dup → zero row
      (5L, "z")                // shorter than n → absent
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(df, col("doc_id"), col("text"), n = 2)
      .orderBy("doc")
      .as[(Long, Int, Int, Long, Long, Int, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 6, 1, 4L, 6L, 6, 1.0),
      (2L, 7, 2, 4L, 6L, 3, math.rint(6.0 / 7.0 * 1e6) / 1e6),
      (3L, 6, 0, 0L, 0L, 0, 0.0),
      (4L, 4, 0, 0L, 0L, 0, 0.0)), s"got $got")
    // span table backs the stats: spans are disjoint word intervals whose
    // lengths sum to covered_words
    val spans = Dedup.dupSpanTable(df, col("doc_id"), col("text"), n = 2)
      .orderBy("doc", "s").as[(Long, Int, Int, Long, Int)].collect().toSeq
    assert(spans == Seq((1L, 1, 5, 4L, 6), (2L, 1, 2, 2L, 3), (2L, 5, 6, 2L, 3)))
  }

  test("topDupPassages: sliced text matches the span, deterministic (covered desc, doc, s) order") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x d e f"),
      (3L, "q r s t u v")
    ).toDF("doc_id", "text")
    val got = Dedup.topDupPassages(df, col("doc_id"), col("text"), n = 2, k = 10)
      .as[(Long, Int, Int, Int, String)].collect().toSeq
    assert(got == Seq(
      (1L, 1, 5, 6, "a b c d e f"),
      (2L, 1, 2, 3, "a b c"),
      (2L, 5, 6, 3, "d e f")), s"got $got")
  }

  test("dupSpanStats: exact duplicate docs reach covered_frac 1.0; dup_positions == t36's dup_grams") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val stats = Dedup.dupSpanStats(docs, col("doc_id"), col("text"), n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dup_positions"), r.getAs[Long]("covered_words"),
          r.getAs[Int]("n_words"), r.getAs[Double]("covered_frac"))).toMap
    // docs 1 and 5 are verbatim copies: every 8-gram position duplicated,
    // one span covering the whole doc
    Seq(1L, 5L).foreach { d =>
      val (_, cov, nw, frac) = stats(d)
      assert(cov == nw && frac == 1.0, s"doc $d: $cov/$nw frac $frac")
    }
    stats.foreach { case (d, (dup, cov, nw, frac)) =>
      assert(cov <= nw && dup <= nw - 8 + 1 && frac >= 0.0 && frac <= 1.0, s"doc $d")
    }
    // the span family's position count is EXACTLY crossDocDupRatio's
    // dup_grams (same cross-doc rule, same positional multiplicity)
    val t36 = Dedup.crossDocDupRatio(docs, col("doc_id"), col("text"), n = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dup_grams")).toMap
    t36.foreach { case (d, dg) => assert(stats(d)._1 == dg, s"doc $d: ${stats(d)._1} vs $dg") }
  }

  test("prefixFilterPairs: COMPLETE vs brute force at τ=0.4 (crafted + real corpus)") {
    // the guarantee the scaladoc derives: prefix(x) ⋈ full(y) candidate
    // generation loses NO pair with J ≥ τ — verify pair-set EQUALITY
    // against unfiltered brute force (jaccardPairs keeps every colliding
    // pair, so filtering it at τ is exhaustive ground truth)
    def pairsOf(df: org.apache.spark.sql.DataFrame): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val brute = Dedup.jaccardPairs(df, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val pf = Dedup.prefixFilterPairs(df, col("doc_id"), col("text"))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      (brute, pf)
    }
    val crafted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (4L, "The Quick Brown Fox jumps over the lazy dog near the river bank today!!!"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val (bCraft, pCraft) = pairsOf(crafted)
    assert(pCraft == bCraft, s"crafted: brute=$bCraft pf=$pCraft")
    assert(pCraft.contains((1L, 5L)) && pCraft.contains((1L, 2L)) &&
      !pCraft.exists(p => p._1 == 3L || p._2 == 3L))
    val real = graft.core.Tables.documents(spark, sf)
    val (bReal, pReal) = pairsOf(real)
    assert(pReal == bReal,
      s"real corpus: missing=${bReal -- pReal} extra=${pReal -- bReal}")
    assert(bReal.nonEmpty, "fixture should contain at least one τ≥0.4 pair")
  }

  test("crossPrefixProbe: COMPLETE vs brute-force cross pairs; emits no within-side pairs") {
    // the scaladoc's order-free completeness claim: full(batch) ⋈
    // prefix(corpus) loses no cross pair with J ≥ τ, for a prefix index
    // built over the CORPUS ONLY (its df order knows nothing of the
    // batch) — crafted fixture + the real corpus at the gate SF
    def probeVsBrute(df: org.apache.spark.sql.DataFrame): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val batch = df.filter(col("doc_id") % 2 === 1)
      val corpus = df.filter(col("doc_id") % 2 === 0)
      val cSh = Dedup.shingleHashTable(corpus, col("doc_id"), col("text"))
      val got = Dedup.crossPrefixProbe(
          Dedup.shingleHashTable(batch, col("doc_id"), col("text")),
          Dedup.prefixIndexTable(cSh, tauNum = 2, tauDen = 5),
          Dedup.signatureTable(cSh), tauNum = 2, tauDen = 5,
          broadcastSigs = true)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got.forall { case (a, b) => a % 2 == 1 && b % 2 == 0 },
        s"within-side pair leaked: $got")
      val all: Set[(Long, Long)] = Dedup.jaccardPairs(df, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = all
        .filter { case (a, b) => a % 2 != b % 2 }
        .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }
      (got, brute)
    }
    val crafted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (4L, "The Quick Brown Fox jumps over the lazy dog near the river bank today!!!"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val (gotC, bruteC) = probeVsBrute(crafted)
    assert(gotC == bruteC, s"crafted: got=$gotC brute=$bruteC")
    assert(gotC.contains((1L, 2L)) && gotC.contains((5L, 2L)))
    val (gotR, bruteR) = probeVsBrute(graft.core.Tables.documents(spark, sf))
    assert(gotR == bruteR,
      s"real corpus: missing=${bruteR -- gotR} extra=${gotR -- bruteR}")
    assert(bruteR.nonEmpty, "fixture should contain at least one cross pair")
  }

  test("cappedShingles: cap ≥ max df is the identity; capped probe == capped brute force") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleHashTable(df, col("doc_id"), col("text"))
    // generous cap keeps every row (and the keep set covers every hash)
    val (full, keepAll) = Dedup.cappedShingles(sh, maxDf = 100L)
    assert(full.count() == sh.count())
    assert(keepAll.count() == sh.select("h").distinct().count())
    // cap=1 keeps only corpus-unique shingles — every survivor has df 1
    val (uniq, _) = Dedup.cappedShingles(sh, maxDf = 1L)
    val maxDf = uniq.groupBy("h").count().agg(max("count")).first().getLong(0)
    assert(maxDf == 1L, s"survivor df $maxDf")
    // probe over the generously-capped index == the uncapped probe (t58)
    val batch = df.filter(col("doc_id") % 2 === 0)
    val corpusSh = Dedup.shingleHashTable(df.filter(col("doc_id") % 2 === 1),
      col("doc_id"), col("text"))
    val bSh = Dedup.shingleHashTable(batch, col("doc_id"), col("text"))
    def probe(cSh: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Dedup.crossPrefixProbe(b,
          Dedup.prefixIndexTable(cSh, 2, 5), Dedup.signatureTable(cSh),
          tauNum = 2, tauDen = 5, broadcastSigs = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    // keepAll spans the FULL corpus df (the graded t59 shape: the stored
    // keep set covers batch docs too, so a generous cap drops nothing)
    val (cappedC, _) = Dedup.cappedShingles(corpusSh, maxDf = 100L)
    val cappedB = bSh.join(keepAll.select(col("s")), "s")
      .select(col("doc"), col("s"), col("h"))
    assert(probe(cappedC, cappedB) == probe(corpusSh, bSh))
  }

  test("stablePrefixIndexTable: merge == rebuild bit-exactly; df-ordered form provably cannot; pair sets agree") {
    import spark.implicits._
    // crafted so the df ORDER SHIFTS across the ingestion split: the
    // boilerplate trigram "x y z" is rare inside the pre-existing corpus
    // (docs 1-3) but common in the batch (docs 4-6) — a df-ordered
    // prefix built on the corpus alone ranks it rarest-first, the full
    // rebuild ranks it last, so stored(A) ∪ build(B) ≠ rebuild(A∪B) for
    // prefixIndexTable. The string order cannot shift by construction.
    val a = Seq(
      (1L, "x y z p q r s t u v w aa bb cc"),
      (2L, "p q r s t u v w aa bb cc dd ee"),
      (3L, "completely different content here about nothing shared at all")
    ).toDF("doc_id", "text")
    val b = Seq(
      (4L, "x y z x y z k1 k2 x y z k3 k4"),
      (5L, "x y z m1 m2 m3 x y z m4 m5 m6"),
      (6L, "x y z n1 n2 n3 n4 x y z n5 n6")
    ).toDF("doc_id", "text")
    val all = a.union(b)
    val shA = Dedup.shingleHashTable(a, col("doc_id"), col("text"))
    val shB = Dedup.shingleHashTable(b, col("doc_id"), col("text"))
    val shAll = Dedup.shingleHashTable(all, col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc", "s", "n_sh").as[(Long, String, Long)].collect().toSet
    // the maintainability invariant, bit-exact
    val merged = rows(Dedup.stablePrefixIndexTable(shA, 2, 5)
      .union(Dedup.stablePrefixIndexTable(shB, 2, 5)))
    val rebuilt = rows(Dedup.stablePrefixIndexTable(shAll, 2, 5))
    assert(merged == rebuilt,
      s"stable merge != rebuild: only-merged=${merged -- rebuilt} only-rebuilt=${rebuilt -- merged}")
    // the df-ordered index genuinely lacks the property on this corpus —
    // the contrast that justifies the stable family's existence
    def dfRows(sh: org.apache.spark.sql.DataFrame) =
      Dedup.prefixIndexTable(sh, 2, 5).select("doc", "h", "n_sh")
        .as[(Long, Long, Long)].collect().toSet
    assert(dfRows(shA) ++ dfRows(shB) != dfRows(shAll),
      "expected the df-ordered prefixes to shift across the split (fixture no longer adversarial)")
    // served pairs agree with the df-ordered reference — prefix order
    // steers candidates only, the signature verify owns the answer
    def pairsVia(pref: org.apache.spark.sql.DataFrame, sh: org.apache.spark.sql.DataFrame) =
      Dedup.pairsFromPrefixIndex(pref.select(col("doc"), col("h"), col("n_sh")),
          Dedup.signatureTable(sh), 2, 5, broadcastSigs = true)
        .select("id_a", "id_b", "n_inter").as[(Long, Long, Long)].collect().toSet
    val viaStable = pairsVia(Dedup.stablePrefixIndexTable(shAll, 2, 5), shAll)
    val viaDf = Dedup.prefixFilterPairs(all, col("doc_id"), col("text"),
        tauNum = 2, tauDen = 5)
      .select("id_a", "id_b", "n_inter").as[(Long, Long, Long)].collect().toSet
    assert(viaStable == viaDf, s"stable=$viaStable df=$viaDf")
    // and on the real fixture corpus, where near-dup structure is dense
    val docs = graft.core.Tables.documents(spark, sf)
    val shReal = Dedup.shingleHashTable(docs, col("doc_id"), col("text"))
    val realStable = pairsVia(Dedup.stablePrefixIndexTable(shReal, 2, 5), shReal)
    val realDf = Dedup.prefixFilterPairsFrom(shReal, 2, 5)
      .select("id_a", "id_b", "n_inter").as[(Long, Long, Long)].collect().toSet
    assert(realStable == realDf && realStable.nonEmpty,
      s"real-corpus mismatch: stable-only=${realStable -- realDf} df-only=${realDf -- realStable}")
  }

  test("prefixFilterPairs τ=1/2 == jaccardPairs.filter(≥0.5) — the t23/t28 edge-set swap") {
    // t23/t28 build their connected-component closures from
    // prefixFilterPairs(tauNum=1, tauDen=2) while their DuckDB oracles
    // keep the inverted-index derivation; this pins the swap's premise —
    // pair-set EQUALITY at exactly τ=1/2, including the J==0.5 boundary
    // (doc pair below: ∩=3 of sizes 4,5 → J = 3/6 = 0.5, in BOTH sets).
    val boundary = Seq(
      (1L, "a b c d e f"),     // shingles: abc bcd cde def (4)
      (2L, "a b c d e g h"),   // shingles: abc bcd cde deg egh (5): ∩=3 → J=0.5
      (3L, "p q r s t u v")
    ).toDF("doc_id", "text")
    def both(df: org.apache.spark.sql.DataFrame): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val brute = Dedup.jaccardPairs(df, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val pf = Dedup.prefixFilterPairs(df, col("doc_id"), col("text"),
          tauNum = 1, tauDen = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      (brute, pf)
    }
    val (bB, pB) = both(boundary)
    assert(pB == bB && pB == Set((1L, 2L)), s"boundary: brute=$bB pf=$pB")
    val (bReal, pReal) = both(graft.core.Tables.documents(spark, sf))
    assert(pReal == bReal,
      s"real corpus τ=1/2: missing=${bReal -- pReal} extra=${pReal -- bReal}")
    assert(bReal.nonEmpty, "fixture should contain at least one τ≥0.5 pair")
  }

  test("sortedNeighborhoodPairs: near-dups sort adjacent, unrelated never pair") {
    // A/B differ in one trailing word: shingles ∩=4 ∪=6 → J=2/3; C disjoint.
    val docs = Seq(
      (1L, "x a b c d e f"),
      (2L, "x a b c d e g"),
      (3L, "z q r s t u v")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, col("doc_id"), col("text"))
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 4.0 / 6)))
  }

  test("sortedNeighborhoodPairs: word-order perturbation cannot break the blocking") {
    // doc 2 is doc 1 rotated — the sorted-distinct key is identical, so
    // they stay adjacent even though a prefix-of-raw-text key would split
    val docs = Seq(
      (1L, "x a b c d e f"),
      (2L, "a b c d e f x")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, col("doc_id"), col("text"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("sortedNeighborhoodPairs: candidate count bounded by windowSize per doc") {
    // 10 identical docs in one block: window w=3 caps candidates at
    // Σ min(w, n-rank) = 3n - 6, never the all-pairs n(n-1)/2
    val docs = (1L to 10L).map(i => (i, "same words in every doc here"))
      .toDF("doc_id", "text")
    val n = Dedup.sortedNeighborhoodPairs(docs, col("doc_id"), col("text"),
      windowSize = 3, minJaccard = 0.0).count()
    assert(n == 3 * 10 - 6, s"expected 24 candidate pairs, got $n")
  }

  test("graft_sorted_intersect_count == size(array_intersect) on random sorted multisets") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // adversarial shapes: duplicates (distinct-count semantics), empty
    // arrays, disjoint, identical, and interleaved runs — the native
    // two-pointer kernel must match the built-in exactly on all of them
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong).sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong).sorted
      (i, a, b)
    } :+ ((201, Seq.empty[Long], Seq(1L, 2L))) :+
      ((202, Seq(5L, 5L, 5L), Seq(5L, 5L))) :+
      ((203, Seq(1L, 2L, 3L), Seq(4L, 5L)))
    val df = rows.toDF("i", "a", "b")
    val bad = df.select(
        call_function("graft_sorted_intersect_count", col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(col("native") =!= col("builtin")).count()
    assert(bad == 0L, s"$bad rows diverge from size(array_intersect)")
  }

  test("graft_sorted_intersect_count string form == size(array_intersect), and union arithmetic") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // string shingles sorted by sort_array (UTF8String binary order —
    // same comparison the merge kernel uses), including multi-byte
    // UTF-8, shared prefixes, duplicates, and empties
    val vocab = Vector("the cat sat", "cat sat on", "sat on the",
      "on the mat", "naïve café über", "émigré touché déjà", "a b c",
      "a b d", "zz top x", "", " ")
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val a = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val b = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      (i, a, b)
    } :+ ((201, Seq.empty[String], Seq("x"))) :+
      ((202, Seq("q", "q"), Seq("q")))
    val df = rows.toDF("i", "a0", "b0")
      .select(col("i"), sort_array(col("a0")).as("a"), sort_array(col("b0")).as("b"))
    val bad = df.select(
        call_function("graft_sorted_intersect_count", col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(col("native") =!= col("builtin")).count()
    assert(bad == 0L, s"$bad string rows diverge from size(array_intersect)")
    // the verifiedJaccard union arithmetic needs DISTINCT inputs:
    // |A∪B| = |A|+|B|−|∩| must equal size(array_union) there
    val dd = df.select(sort_array(array_distinct(col("a"))).as("a"),
      sort_array(array_distinct(col("b"))).as("b"))
    val badU = dd.select(
        (size(col("a")) + size(col("b")) -
          call_function("graft_sorted_intersect_count", col("a"), col("b")))
          .cast("long").as("arith"),
        size(array_union(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(col("arith") =!= col("builtin")).count()
    assert(badU == 0L, s"$badU rows diverge from size(array_union) arithmetic")
  }
}
