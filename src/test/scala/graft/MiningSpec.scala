package graft

import org.apache.spark.sql.functions._
import graft.ops.{Graph, Mining}

/** Unit coverage for the pattern-mining/model-eval operators (q123-q127
  * pin cross-engine parity; these pin the hand-computable algebra and the
  * structural invariants the oracles can't see).
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  test("basketRules: hand-computed support/confidence/lift on 4 baskets") {
    // baskets: {10,20,30}, {10,20}, {10,30}, {20,30} → every pair count 2,
    // every item count 3, N=4 → conf 2/3, lift 8/9.
    val b = Seq((1, 10), (1, 20), (1, 30), (2, 10), (2, 20),
      (3, 10), (3, 30), (4, 20), (4, 30)).toDF("g", "item")
    val got = Mining.basketRules(b, "g", "item").orderBy("item_a", "item_b")
      .select("item_a", "item_b", "pair_n", "conf_a_b", "lift")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq(
      (10, 20, 2L, 2.0 / 3, 8.0 / 9),
      (10, 30, 2L, 2.0 / 3, 8.0 / 9),
      (20, 30, 2L, 2.0 / 3, 8.0 / 9)))
  }

  test("basketRules: duplicate lines collapse; minPairSupport filters") {
    val b = Seq((1, 10), (1, 10), (1, 20), (2, 10), (2, 30)).toDF("g", "item")
    // (10,20) and (10,30) each co-occur once → dropped at support 2
    assert(Mining.basketRules(b, "g", "item", minPairSupport = 2).count() == 0)
    val one = Mining.basketRules(b, "g", "item", minPairSupport = 1)
      .orderBy("item_a", "item_b")
      .select("item_a", "item_b", "pair_n").as[(Int, Int, Long)].collect().toSeq
    assert(one == Seq((10, 20, 1L), (10, 30, 1L)))
  }

  test("basketRules plan: equi-joins only, supports broadcast") {
    val b = Seq((1, 10), (1, 20)).toDF("g", "item")
    val plan = Mining.basketRules(b, "g", "item")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("activityBitmap: bitmap/popcount/streak on a hand calendar") {
    // user 1, Jan 2024: days 1,2,3,5 (day 2 twice) → bitmap 0b10111 = 23,
    // 4 active days, longest streak 3; Feb: day 28 alone.
    val e = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-02 01:00:00"),
      (1L, "2024-01-02 23:59:59"), (1L, "2024-01-03 12:00:00"),
      (1L, "2024-01-05 00:00:00"), (1L, "2024-02-28 08:00:00"))
      .toDF("user_id", "s").select(col("user_id"), col("s").cast("timestamp").as("ts"))
    val got = Mining.activityBitmap(e, "user_id", "ts").orderBy("ym")
      .select("ym", "bitmap", "active_days", "longest_streak")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((202401, 23L, 4L, 3L), (202402, 1L << 27, 1L, 1L)))
  }

  test("activityBitmap: popcount(bitmap) == active_days on real events") {
    val bad = Mining.activityBitmap(
        graft.core.Tables.events(spark, sf), "user_id", "ts")
      .filter(bit_count(col("bitmap")) =!= col("active_days"))
    assert(bad.count() == 0)
  }

  test("decileLift: 20 hand units — sizes, rates, capture, lift identity") {
    // scores 20..1, responders exactly the top 4 scores → deciles of 2;
    // base rate 4/20; decile 1 rate 1.0, lift 5; decile 2 rate 1.0 then 0.
    val sc = (1 to 20).map(i => (i.toLong, i.toDouble, if (i > 16) 1 else 0))
      .toDF("id", "score", "responder")
    val got = Mining.decileLift(sc).orderBy("decile")
      .select("decile", "n_cust", "responders", "resp_rate", "capture", "lift")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got.map(_._2).sum == 20L)
    assert(got.take(2).map(g => (g._1, g._2, g._3, g._4, g._6)) ==
      Seq((1, 2L, 2L, 1.0, 5.0), (2, 2L, 2L, 1.0, 5.0)))
    assert(got(1)._5 == 1.0 && got.drop(2).forall(_._3 == 0L))
    // capture is non-decreasing and ends at 1.0
    assert(got.map(_._5).sliding(2).forall(p => p(0) <= p(1)) &&
      got.last._5 == 1.0)
  }

  test("giniGain: perfect split gains parent impurity; constant split gains 0") {
    val cont = Seq(
      ("perfect", "a", 4L, 4L), ("perfect", "b", 4L, 0L),
      ("useless", "x", 8L, 4L)).toDF("feature", "value", "n_v", "pos_v")
    val got = Mining.giniGain(cont).orderBy("feature")
      .select("feature", "gain").as[(String, Double)].collect().toMap
    assert(got("perfect") == 0.5)
    assert(got("useless") == 0.0)
  }

  test("giniGain quantization: skewed thirds stay exact enough (1e-9)") {
    // parent n=9,pos=3 → gini 4/9; split (6,3)/(3,0): weighted gini =
    // 6/9·0.5 + 3/9·0 = 1/3 → gain 4/9-1/3 = 1/9.
    val cont = Seq(("f", "a", 6L, 3L), ("f", "b", 3L, 0L))
      .toDF("feature", "value", "n_v", "pos_v")
    val g = Mining.giniGain(cont).select("gain").as[Double].head()
    assert(math.abs(g - 1.0 / 9) < 1e-9, g.toString)
  }

  test("giniGain: counts past 3e9 don't wrap (DECIMAL before multiply)") {
    // one value holding the whole population → child impurity == parent
    // impurity → gain exactly 0. With the old BIGINT pre-cast multiply,
    // pos_v² = 1.6e19 > 2⁶³ wraps and the gain comes out garbage.
    val cont = Seq(("big", "x", 5000000000L, 4000000000L))
      .toDF("feature", "value", "n_v", "pos_v")
    val g = Mining.giniGain(cont).select("gain").as[Double].head()
    assert(math.abs(g) < 1e-9, g.toString)
  }

  test("giniGain: quotient past the old DIV-LONG ceiling matches the HUGEINT oracle exactly") {
    // n_v = 1.2e10 in one cell → q ≈ 1e19 > 2⁶³: the old `DIV` yielded
    // null (silently diverging from DuckDB's HUGEINT `//`); the decimal
    // remainder-subtract divide stays exact. Expected value replays the
    // oracle's integer formula with BigInt, so this is an exact ==, not
    // a tolerance check.
    val cells = Seq(("f", "a", 12000000000L, 9000000000L),
      ("f", "b", 8000000000L, 1000000000L))
    val cont = cells.toDF("feature", "value", "n_v", "pos_v")
    val g = Mining.giniGain(cont).select("gain").as[Double].head()
    val qs = cells.map { case (_, _, nv, pv) =>
      val (p, m) = (BigInt(pv), BigInt(nv - pv))
      (p * p + m * m) * BigInt(1000000000) / BigInt(nv)
    }
    val (n, pos) = (BigInt(cells.map(_._3).sum), BigInt(cells.map(_._4).sum))
    val neg = n - pos
    val parent = (1.0 - (pos * pos + neg * neg).toDouble / (n * n).toDouble)
    val child = 1.0 - qs.sum.toDouble / (n * BigInt(1000000000)).toDouble
    assert(g == parent - child, s"$g vs ${parent - child}")
  }

  test("bpeTrainRounds/bpeEncode: pair-free corpus returns empty, not IndexOutOfBounds") {
    // no [a-z]+ word of length >= 2 anywhere → zero trainable pairs
    val docs = Seq((1L, "a 1 B2 !"), (2L, "x 9")).toDF("doc_id", "text")
    assert(graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3)
      .count() == 0)
    assert(graft.ext.TextOps.bpeEncode(docs, col("doc_id"), col("text"),
      merges = Nil).count() == 0)
  }

  test("bpeTrainRounds: trainFrac=1 with sampleId is identical to no sampling") {
    val docs = Seq((1L, "abab ab"), (2L, "cd cd"), (3L, "abab")).toDF("doc_id", "text")
    val full = graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3)
      .orderBy("round").as[(Int, String, Long)].collect().toSeq
    val frac1 = graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3,
        trainFrac = 1, sampleId = Some(col("doc_id")))
      .orderBy("round").as[(Int, String, Long)].collect().toSeq
    assert(full == frac1 && full.nonEmpty)
  }

  test("bpeTrainRounds: trainFrac sample == manual md5-nibble pre-filter at trainFrac=1") {
    // the sampled trainer must equal training on the externally-filtered
    // subset — the exact relation the DuckDB oracle relies on
    val docs = (1L to 40L).map(i =>
      (i, if (i % 3 == 0) "abab ab" else "cdcd cd")).toDF("doc_id", "text")
    val sampled = graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3,
        trainFrac = 4, sampleId = Some(col("doc_id")))
      .orderBy("round").as[(Int, String, Long)].collect().toSeq
    val manual = graft.ext.TextOps.bpeTrainRounds(
        docs.filter(substring(md5(col("doc_id").cast("string")), 32, 1) < "4"),
        col("text"), rounds = 3)
      .orderBy("round").as[(Int, String, Long)].collect().toSeq
    assert(sampled == manual && sampled.nonEmpty, s"$sampled vs $manual")
    // and the nibble predicate keeps a strict non-empty subset
    val kept = docs.filter(
      substring(md5(col("doc_id").cast("string")), 32, 1) < "4").count()
    assert(kept > 0 && kept < 40, kept.toString)
  }

  test("bpeTrainRounds: training exhausts mid-way → rounds completed so far") {
    // "ab ab": round 1 merges "a b" everywhere; afterwards every word is
    // the single symbol "ab" → no pairs left → rounds 2-3 don't emit.
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3)
      .orderBy("round").as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "a b", 2L)))
  }

  test("bpeEncode applies the learned merge table (matches per-round re-learn)") {
    // corpus: "abab ab cd" → merges: r1 "a b"(3), r2 "a b"(1), r3 "ab ab"(1)
    // doc tokens after: "abab"→[abab], "ab"→[ab], "cd"→[c, d]
    val docs = Seq((1L, "abab ab"), (2L, "cd")).toDF("doc_id", "text")
    val merges = graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3)
      .orderBy("round").select("merged_pair").as[String].collect().toSeq
    assert(merges == Seq("a b", "a b", "ab ab"))
    val got = graft.ext.TextOps.bpeEncode(docs, col("doc_id"), col("text"),
        merges)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 6L, 2L), (2L, 2L, 2L)))
  }

  test("cmsCounters/cmsEstimates: est >= exact always; each hash row holds all N") {
    val keys = Seq(1L, 1L, 1L, 2L, 2L, 9L, 9L, 9L, 9L, 42L).toDF("k")
    val counters = Mining.cmsCounters(keys, col("k"), d = 4, w = 8)
    // sketch invariant: every one of the d rows counts every input row
    val rowTotals = counters.groupBy("j").agg(sum("c").as("t"))
      .select("t").as[Long].collect()
    assert(rowTotals.length == 4 && rowTotals.forall(_ == 10L))
    val est = Mining.cmsEstimates(counters, keys, d = 4, w = 8)
      .as[(Long, Long)].collect().toMap
    val exact = Map(1L -> 3L, 2L -> 2L, 9L -> 4L, 42L -> 1L)
    assert(est.keySet == exact.keySet)
    // CMS guarantee: collisions only inflate, never deflate
    exact.foreach { case (k, c) => assert(est(k) >= c, s"key $k") }
    // with a wide sketch the 4 keys don't collide: est == exact
    val wide = Mining.cmsEstimates(
      Mining.cmsCounters(keys, col("k"), d = 4, w = 4096),
      keys, d = 4, w = 4096).as[(Long, Long)].collect().toMap
    assert(wide == exact)
    // a queried key ABSENT from the build input must survive the probe
    // (left join + 0-coalesce) with the proper sketch estimate, not be
    // silently dropped: with w=4096 its cells are empty → est exactly 0
    val ext = Mining.cmsEstimates(
      Mining.cmsCounters(keys, col("k"), d = 4, w = 4096),
      Seq(1L, 777L).toDF("k"), d = 4, w = 4096)
      .as[(Long, Long)].collect().toMap
    assert(ext == Map(1L -> 3L, 777L -> 0L), ext.toString)
  }

  test("Guard.quadratic: passes under the gate, raises loudly past it") {
    val small = Seq(1, 2, 3).toDF("x")
    assert(graft.core.Guard.quadratic(small, "t").count() == 3)
    val e = intercept[IllegalArgumentException] {
      graft.core.Guard.quadratic(small, "truth-gen", maxRows = 2)
    }
    assert(e.getMessage.contains("truth-gen") && e.getMessage.contains("3"))
  }

  test("hashWalks: every hop follows an edge, walks are complete and deterministic") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val starts = Seq(1L, 2L).toDF("node")
    def run() = Mining.hashWalks(edges, starts, steps = 3)
      .orderBy("walk_id", "step")
      .as[(Long, Int, Long)].collect().toSeq
    val w = run()
    assert(w == run()) // deterministic across runs
    assert(w.size == 2 * 4) // steps+1 positions per walk, no dead ends
    val edgeSet = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
    w.groupBy(_._1).values.foreach { walk =>
      walk.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a._3, b._3)), s"hop $a -> $b not an edge")
      case _ => ()
      }
    }
    // partitioning-invariant: same walks from a repartitioned edge list
    val w2 = Mining.hashWalks(edges.repartition(7), starts, steps = 3)
      .orderBy("walk_id", "step").as[(Long, Int, Long)].collect().toSeq
    assert(w2 == w)
  }

  test("hashWalks: more than 100000 walks fail loudly, naming the bound") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val starts = spark.range(100001).select(col("id").as("node"))
    val e = intercept[IllegalArgumentException] {
      Mining.hashWalks(edges, starts, steps = 0)
    }
    assert(e.getMessage.contains("hashWalks frontier") && e.getMessage.contains("100000 rows"))
  }

  test("calibrationBins: 20 hand units — exact rational bins, perfect-score calibration") {
    // ranks 1..20, N=20: bin = (10·r) div 21 → every bin holds 2 ranks;
    // pred_avg(bin 0) = (1+2)/(2·21) = 1/14; responders = top-4 scores
    val sc = (1 to 20).map(i => (i.toLong, i.toDouble, if (i > 16) 1 else 0))
      .toDF("id", "score", "responder")
    val got = Mining.calibrationBins(sc).orderBy("bin")
      .select("bin", "n_cust", "responders", "pred_avg", "actual_rate")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got.map(_._1) == (0 to 9) && got.forall(_._2 == 2L))
    assert(got.head._4 == 3.0 / 42 && got.last._4 == 39.0 / 42)
    // responders concentrate in the top bins: actual rate 1.0 there, 0 below
    assert(got.takeRight(2).forall(_._5 == 1.0) &&
      got.dropRight(2).forall(_._5 == 0.0))
  }

  test("bpeTrainRounds: hand-traced 3 rounds incl. the straggler re-merge") {
    // corpus words: "abab", "ab" → round 1 merges "a b" (count 3); the
    // left-to-right non-overlapping pass leaves " ab a b " (straggler),
    // round 2 re-merges "a b" (count 1, lexicographic tie-win over
    // "ab a"), round 3 merges "ab ab".
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val got = graft.ext.TextOps.bpeTrainRounds(docs, col("text"), rounds = 3)
      .orderBy("round").as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "a b", 3L), (2, "a b", 1L), (3, "ab ab", 1L)))
  }

  test("t44's char-pair expression: hand-counted pairs (overlaps kept, 1-char words dropped)") {
    val pairs = Seq("aba", "ab", "x").toDF("wd")
      .filter(length(col("wd")) >= 2 && col("wd").rlike("^[a-z]+$"))
      .select(explode(expr(
        "transform(sequence(1, length(wd) - 1), i -> substring(wd, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(pairs == Map("ab" -> 2L, "ba" -> 1L))
  }

  test("hashWalks on the co-purchase graph: 20 walks, all 5 positions") {
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
    val edges = Graph.coOccurrenceEdges(li, "g", "item", minSupport = 2)
    val starts = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src")).limit(20)
      .select(col("src").as("node"))
    val byWalk = Mining.hashWalks(edges, starts, steps = 4)
      .groupBy("walk_id").agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect()
    assert(byWalk.length == 20 && byWalk.forall(_ == 5L))
  }

  // the q125/q128 scored-units input (customer grain of orders), shared
  // by the two bucketed-twin equality tests below
  private def scoredUnits = graft.core.Tables.orders(spark, sf)
    .groupBy(col("o_custkey").as("id"))
    .agg(graft.core.Exact.decimalSum(col("o_totalprice"), "score"),
      max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
        .as("responder"))

  test("decileLiftBucketed == decileLift bit-for-bit (q155's twin identity)") {
    val a = Mining.decileLift(scoredUnits).orderBy("decile").collect().toSeq
    val b = Mining.decileLiftBucketed(scoredUnits)
      .orderBy("decile").collect().toSeq
    assert(a == b, s"exact form:\n$a\nbucketed twin:\n$b")
  }

  test("decileLiftBucketed: closed-form ntile inverse at a non-divisible n") {
    import spark.implicits._
    // n=23, k=10 → rem=3 tiles of 3 then 7 tiles of 2: exercises both
    // branches of the CASE and the cut boundary itself (rank 9)
    val units = (1 to 23).map(i => (i.toLong, (24 - i).toDouble, i % 2))
      .toDF("id", "score", "responder")
    val a = Mining.decileLift(units).orderBy("decile").collect().toSeq
    val b = Mining.decileLiftBucketed(units).orderBy("decile").collect().toSeq
    assert(a == b, s"exact form:\n$a\nbucketed twin:\n$b")
  }

  test("calibrationBinsBucketed == calibrationBins bit-for-bit (q156's twin identity)") {
    val a = Mining.calibrationBins(scoredUnits).orderBy("bin").collect().toSeq
    val b = Mining.calibrationBinsBucketed(scoredUnits)
      .orderBy("bin").collect().toSeq
    assert(a == b, s"exact form:\n$a\nbucketed twin:\n$b")
  }
}
