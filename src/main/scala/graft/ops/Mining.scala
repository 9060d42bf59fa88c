package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining and model-evaluation operators: market-basket
  * association rules, bitmap activity calendars, decile lift/gains
  * analysis, decision-tree split scoring (information gain), and
  * deterministic hash-guided graph walks.
  *
  * Scale discipline shared by every member: pair/candidate spaces are
  * bounded by group size (baskets, out-neighbour lists) — never all-pairs;
  * per-key statistics aggregate map-side-combinably and broadcast back;
  * every "random" choice comes from [[Prep.portableHash]] so results are
  * reproducible across engines, runs, and task retries.
  */
object Mining {

  /** 2-itemset association rules over (group, item) baskets: for each
    * co-occurring pair a<b, the support count, confidence P(b|a), and
    * lift P(a,b)/(P(a)P(b)).
    *
    * The pair space is Σ_g C(|g|, 2) — bounded by basket size, not corpus
    * size (TPC-H baskets are ≤7 lines), and the self-join is an equi-join
    * on the basket key, so it shuffles each basket once. Item supports are
    * an O(items) dimension broadcast onto the pair rows. Ratios are single
    * divisions of exact integer products (pair·N ≲ 10^10, support
    * products ≲ 10^10), so the doubles are bit-identical cross-engine.
    */
  def basketRules(baskets: DataFrame, groupCol: String, itemCol: String,
                  minPairSupport: Long = 2): DataFrame = {
    val b = baskets.select(col(groupCol).as("g"), col(itemCol).as("item")).distinct()
    val nBaskets = b.agg(count_distinct(col("g")).as("n_baskets"))
    val itemCnt = b.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val pairs = b.as("a")
      .join(b.as("b"),
        col("a.g") === col("b.g") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairSupport)
    pairs
      .join(broadcast(itemCnt.select(col("item").as("item_a"), col("cnt").as("cnt_a"))), "item_a")
      .join(broadcast(itemCnt.select(col("item").as("item_b"), col("cnt").as("cnt_b"))), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("pair_n"),
        col("cnt_a"), col("cnt_b"),
        (col("pair_n").cast("double") / col("cnt_a")).as("conf_a_b"),
        (col("pair_n").cast("double") / col("cnt_b")).as("conf_b_a"),
        ((col("pair_n") * col("n_baskets")).cast("double") /
          (col("cnt_a") * col("cnt_b"))).as("lift"))
  }

  /** Per-(user, month) activity calendar packed into a 31-bit day bitmap
    * (`bit_or(1 << day-1)`), with `bit_count` active days and the longest
    * consecutive-day streak via gaps-and-islands (day − dense rank is
    * constant within a run). One distinct-reduce to (user, month, day)
    * grain, then everything is keyed windows/aggs on that bounded grain —
    * the raw event rows are touched exactly once.
    */
  def activityBitmap(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val days = events
      .select(col(userCol).as("user_id"),
        (year(col(tsCol)) * 100 + month(col(tsCol))).as("ym"),
        dayofmonth(col(tsCol)).as("d"))
      .distinct()
    val bm = days.groupBy(col("user_id"), col("ym"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(d AS INT) - 1))").as("bitmap"),
        count(lit(1)).as("active_days"))
    val wRun = Window.partitionBy(col("user_id"), col("ym")).orderBy(col("d"))
    val streak = days
      .withColumn("isl", col("d") - row_number().over(wRun))
      .groupBy(col("user_id"), col("ym"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("user_id"), col("ym"))
      .agg(max(col("run")).as("longest_streak"))
    bm.join(streak, Seq("user_id", "ym"))
      .select(col("user_id"), col("ym"), col("bitmap"),
        col("active_days"), col("longest_streak"))
  }

  /** Decile lift/gains table for a ranked scoring: rank units by
    * (score desc, id), cut into 10 equal-frequency bins (`ntile`), and per
    * bin report size, responders, response rate, cumulative capture of all
    * responders, and lift vs the base rate. The scored-unit table is the
    * only windowed surface (O(units), one global rank — the same shape as
    * every top-k/ntile op here); at 100 TB the units table is the customer
    * dimension, orders having been pre-aggregated map-side. Rates are
    * single divisions of exact integers.
    *
    * `scored` must have columns (id, score, responder∈{0,1}); `score`
    * must be exactly reproducible (integer or decimal-summed).
    *
    * The global-order window here is single-partition BY DESIGN — the
    * exact-oracle form, the q44 discipline. The deployment form is
    * [[decileLiftBucketed]] (identical output, bucketed prefix-sum rank,
    * no unpartitioned window); q125 grades this one, q155 grades the
    * twin against the SAME oracle.
    */
  def decileLift(scored: DataFrame): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("id"))
    val d = scored.withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("responder")).as("responders"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    d.withColumn("cum_resp", sum(col("responders")).over(wc))
      .withColumn("tot_resp", sum(col("responders")).over(wAll))
      .withColumn("tot_n", sum(col("n_cust")).over(wAll))
      .select(col("decile"), col("n_cust"), col("responders"),
        (col("responders").cast("double") / col("n_cust")).as("resp_rate"),
        (col("cum_resp").cast("double") / col("tot_resp")).as("capture"),
        ((col("responders") * col("tot_n")).cast("double") /
          (col("n_cust") * col("tot_resp"))).as("lift"))
  }

  /** [[decileLift]]'s at-scale twin: bit-identical output with NO
    * unpartitioned window anywhere in the plan.
    *
    *   - the global rank comes from [[Prep.rankViaBuckets]] (sketch-edge
    *     buckets + partitioned intra-bucket row_number + driver-side
    *     B-entry prefix map) instead of a single-task ntile sort;
    *   - ntile is re-derived from that rank by its closed form: with
    *     q = n DIV 10, rem = n MOD 10, ranks ≤ (q+1)·rem fall in the
    *     first `rem` tiles of size q+1, the rest in tiles of size q —
    *     pure integer arithmetic, so the decile of every row matches the
    *     window ntile exactly;
    *   - the cumulative-capture window (10 decile rows) becomes a
    *     broadcast triangle self-join — bounded at 10×10 FOREVER, so the
    *     twin's plan is entirely window-free.
    *
    * Division shapes are copied from [[decileLift]] verbatim (same IEEE
    * single divisions of exact integers) — q155 hash-grades this twin
    * against q125's oracle SQL unchanged.
    */
  def decileLiftBucketed(scored0: DataFrame): DataFrame = {
    // Materialize the input once: this function makes ~5 independent
    // passes over it (count, totals, plus rankViaBuckets' sketch /
    // histogram / final plan). An expensive — or nondeterministic —
    // upstream lineage would re-execute per pass, and nondeterminism
    // would desync the driver prior map from the final bucket
    // assignment. Same discipline as q118's checkpoint of its input.
    val scored = scored0.localCheckpoint(true)
    val n = scored.count()
    val ranked = Prep.rankViaBuckets(scored, col("score"), col("id"),
      ascending = false, rankCol = "__rank")
    val q = n / 10
    val rem = n % 10
    val cut = (q + 1) * rem
    val decile =
      if (q == 0) col("__rank").cast("int") // n < 10: tile r for rank r
      else expr(s"CAST(CASE WHEN __rank <= $cut THEN (__rank - 1) DIV ${q + 1} " +
        s"ELSE $rem + (__rank - 1 - $cut) DIV $q END AS INT) + 1")
    val g = ranked.withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("responder")).as("responders"))
    val tot = scored.agg(sum(col("responder")).as("tot_resp"),
      count(lit(1)).as("tot_n"))
    val cum = g.select(col("decile").as("__d2"), col("responders").as("__r2"))
    g.join(broadcast(cum), col("__d2") <= col("decile"))
      .groupBy(col("decile"), col("n_cust"), col("responders"))
      .agg(sum(col("__r2")).as("cum_resp"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_cust"), col("responders"),
        (col("responders").cast("double") / col("n_cust")).as("resp_rate"),
        (col("cum_resp").cast("double") / col("tot_resp")).as("capture"),
        ((col("responders") * col("tot_n")).cast("double") /
          (col("n_cust") * col("tot_resp"))).as("lift"))
  }

  /** Calibration-bin (reliability-diagram) table over (id, score,
    * responder) units: predicted probability = score percentile
    * rank/(N+1) — an exact rational — so bin assignment is the integer
    * `(bins·rank) DIV (N+1)`, the per-bin average prediction is
    * Σrank/(n·(N+1)) with an exact integer numerator, and the
    * calibration gap is a difference of two exactly-reproducible
    * doubles. No float accumulates anywhere. The one rank window runs on
    * the pre-aggregated unit grain — single-partition BY DESIGN (the
    * exact-oracle form, q44 discipline); the deployment form is
    * [[calibrationBinsBucketed]] (identical output, partitioned rank),
    * graded as q156 against the same oracle as q128.
    */
  def calibrationBins(scored: DataFrame, bins: Int = 10): DataFrame = {
    val w = Window.orderBy(col("score"), col("id"))
    calibrationFromRanked(
      scored.withColumn("rank", row_number().over(w)), scored, bins)
  }

  /** [[calibrationBins]]'s at-scale twin: the one global-order window is
    * replaced by [[Prep.rankViaBuckets]] (partitioned intra-bucket rank +
    * driver-side B-entry prefix map); everything downstream of the rank
    * is the shared integer-exact tail, so the output is bit-identical —
    * q156 hash-grades it against q128's oracle SQL unchanged.
    */
  def calibrationBinsBucketed(scored0: DataFrame, bins: Int = 10): DataFrame = {
    // Checkpoint for the same multi-pass / determinism reason as
    // decileLiftBucketed: the ranked side and the count side must see
    // the identical input rows.
    val scored = scored0.localCheckpoint(true)
    calibrationFromRanked(
      Prep.rankViaBuckets(scored, col("score"), col("id"), rankCol = "rank"),
      scored, bins)
  }

  /** Shared tail of the two calibration forms: bin assignment and the
    * per-bin integer-exact aggregate over an already-ranked unit table.
    * (LONG vs INT rank both widen to LONG in the DIV and the Σrank — the
    * arithmetic is shape-identical for either producer.)
    */
  private def calibrationFromRanked(ranked: DataFrame, scored: DataFrame,
                                    bins: Int): DataFrame =
    ranked
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
      .withColumn("bin", expr(s"CAST(($bins * rank) DIV (n + 1) AS INT)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("responder")).as("responders"),
        (sum(col("rank")).cast("double") /
          (count(lit(1)) * (max(col("n")) + 1))).as("pred_avg"),
        (sum(col("responder")).cast("double") / count(lit(1)))
          .as("actual_rate"))
      .withColumn("gap", col("pred_avg") - col("actual_rate"))

  /** Gini information gain of a categorical split vs a binary target —
    * the decision-tree / feature-ranking primitive. Input is the
    * per-(feature, value) contingency rows (n_v, pos_v); output one row
    * per feature with the impurity reduction.
    *
    * Exactness: the per-value term (pos²+neg²)/n_v is quantized to an
    * integer `(pos²+neg²)·10⁹ div n_v` IN DECIMAL (the numerator can pass
    * 2⁶³ but the quotient is ≤ 10⁹·n_v, long-safe), so the cross-value sum
    * is exact integer arithmetic — merge-order-independent — and only the
    * two final single divisions are IEEE, pinned to one shape both
    * engines share. Contingency rows are one map-side-combinable count
    * agg over the facts; everything after is O(distinct values).
    *
    * The quotient STAYS IN DECIMAL: `DIV` would narrow it to LONG
    * (null past n_v ≈ 9.2e9, silently diverging from the DuckDB twin's
    * HUGEINT `//`), and a bare decimal divide rounds HALF_UP at the
    * result scale (a true quotient k − ε would round UP to k). Instead
    * the remainder is subtracted first — (A − A % n_v) is exactly
    * divisible, so the decimal divide is exact at any scale — and the
    * result cast back to DECIMAL(38,0). Exactness now holds until the
    * 38-digit product cap: n_v²·10⁹ < 10³⁸ ⇒ n_v ≲ 3e14 rows per
    * feature value (~2.5 PB of 8-byte keys in ONE categorical cell).
    */
  def giniGain(contingency: DataFrame): DataFrame = {
    // cast each factor to DECIMAL BEFORE multiplying — a BIGINT product
    // of counts above ~3.04e9 would silently wrap with ANSI off
    val a = (col("pos_v").cast("decimal(38,0)") * col("pos_v") +
      (col("n_v") - col("pos_v")).cast("decimal(38,0)") *
        (col("n_v") - col("pos_v"))) * lit(1000000000L)
    val q = ((a - a % col("n_v")) / col("n_v")).cast("decimal(38,0)")
    contingency
      .withColumn("q", q)
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("n_v")).as("n"), sum(col("pos_v")).as("pos"),
        sum(col("q")).as("sum_q"))
      .select(col("feature"), col("n_values"),
        // parent term in DECIMAL too: pos² / n² wrap just like the
        // per-value products once counts pass ~3e9
        ((lit(1.0) - (col("pos").cast("decimal(38,0)") * col("pos") +
          (col("n") - col("pos")).cast("decimal(38,0)") *
            (col("n") - col("pos"))).cast("double") /
          (col("n").cast("decimal(38,0)") * col("n")).cast("double")) -
          (lit(1.0) - col("sum_q").cast("double") /
            (col("n").cast("decimal(38,0)") * lit(1000000000L)).cast("double")))
          .as("gain"))
  }

  /** The DuckDB twin of [[giniGain]]'s quantized term, for oracle reuse:
    * emits the `q` expression over (n_v, pos_v) columns. HUGEINT `//`
    * is the same exact integral division as Spark's DECIMAL `DIV`; the
    * casts sit INSIDE the products (mirroring the engine) so neither
    * side ever forms a BIGINT product of counts. */
  def giniTermSql: String =
    "((pos_v::HUGEINT * pos_v + (n_v - pos_v)::HUGEINT * (n_v - pos_v)) " +
      "* 1000000000) // n_v"

  /** Count-min sketch counters over a key column: d independent hash rows
    * × w buckets, each cell the count of keys landing there — the
    * fixed-size frequency sketch (Cormode & Muthukrishnan 2005). The
    * sketch is d·w integers REGARDLESS of input size: at 100 TB the
    * shuffle carries at most d·w grouped cells (map-side combine
    * collapses everything else), and sketches from disjoint partitions /
    * days / sources merge by cell-wise addition — the property that makes
    * CMS the streaming-and-distributed counting primitive. Hashing is
    * [[Prep.portableHash]](j, key) so the DuckDB oracle re-derives every
    * cell exactly.
    */
  def cmsCounters(df: DataFrame, key: Column, d: Int = 4,
                  w: Int = 1024): DataFrame =
    df.select(key.as("k"))
      .select(explode(sequence(lit(0), lit(d - 1))).as("j"), col("k"))
      .withColumn("bucket", Prep.portableHash(col("j"), col("k")) % w)
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point-query the sketch for every distinct key: estimate = min over
    * the d cells the key hashes to. CMS guarantees est ≥ exact (only
    * collisions inflate, never deflate) — callers can join the exact
    * counts back to measure the overshoot, as q141 does.
    *
    * The counters join is LEFT with empty cells coalesced to 0: a
    * queried key ABSENT from the sketch's build input may hash to cells
    * no build key touched, and the proper sketch estimate is the min
    * over all d cells including the empty (count 0) ones — an inner
    * join would silently drop such keys or overestimate past the true
    * min. For keys ⊆ build input (every current caller) the two forms
    * are identical, since a build key populates all d of its cells.
    */
  def cmsEstimates(counters: DataFrame, keys: DataFrame, d: Int = 4,
                   w: Int = 1024): DataFrame =
    keys.select(col("k")).distinct()
      .select(col("k"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .withColumn("bucket", Prep.portableHash(col("j"), col("k")) % w)
      .join(counters, Seq("j", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** Driver-side bound on [[hashWalks]]' live walks per hop. */
  private val MaxWalks = 100000

  /** Deterministic "random" walks over an edge list: from each start node,
    * `steps` hops where the next node is the out-neighbour minimizing
    * [[Prep.portableHash]](walk·31 + step, dst) — node2vec-style sampling
    * with zero RNG state, so walks are identical across engines, runs, and
    * retries. Each hop is one equi-join frontier→edges plus a per-walk
    * argmin; pass an already-materialized (checkpointed/cached) edge
    * table — every hop and the caller's start-node selection re-scan it,
    * so an unmaterialized join plan would re-execute per consumer.
    * Returns (walk_id, step, node) for steps 0..steps — EXCEPT that a
    * walk reaching a SINK node (no out-edges) terminates there: its
    * remaining steps emit no rows, so such a walk has rows only for
    * steps 0..k where k is the hop that landed on the sink. On symmetric
    * graphs (every co-occurrence graph here) sinks cannot occur and every
    * walk is full-length; callers walking general directed edge lists
    * should expect the ragged shape (the oracle [[walkStepSql]] has the
    * same semantics: an inner join against the edge CTE drops the walk).
    * Each hop's frontier (one row per live walk) is held on the driver,
    * so more than [[MaxWalks]] starts fail loudly ([[graft.core.Guard.driverRows]]).
    */
  def hashWalks(edges: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // The frontier is O(walks) rows by construction — collect each hop to
    // a driver-local relation (guide §8: decide with small rows; the s20/
    // IVF driver-side-scalar pattern, r16) instead of localCheckpoint'ing
    // it: one job per hop (the collect IS the hop's action) versus three
    // (checkpoint materialization + broadcast build + re-scan), and the
    // final union is a stack of LocalRelations no job re-executes.
    // Schema — and so the declared output — is preserved verbatim by
    // re-creating each frontier from its own collected rows. The frontier
    // still BROADCASTS into the edge join — the edge table itself never
    // shuffles — and the argmin is a map-side-combinable
    // min(struct(score, dst)) rather than a window.
    val spark = edges.sparkSession
    val step0 = starts
      .select(col("node").as("walk_id"), lit(0).as("step"), col("node"))
    val schema = step0.schema
    def local(rows: Array[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def frontier(df: DataFrame): Array[org.apache.spark.sql.Row] =
      graft.core.Guard.driverRows(df.take(MaxWalks + 1), "hashWalks frontier", MaxWalks)
    var curRows = frontier(step0)
    var out = local(curRows)
    var i = 1
    while (i <= steps && curRows.nonEmpty) {
      val cur = local(curRows)
      curRows = frontier(e.join(broadcast(cur.select(col("walk_id"), col("node"))),
          col("node") === col("src"))
        .withColumn("__score",
          Prep.portableHash(col("walk_id") * lit(31) + lit(i), col("dst")))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("__score"), col("dst"))).as("__m"))
        .select(col("walk_id"), lit(i).as("step"),
          col("__m.dst").as("node")))
      out = out.unionByName(local(curRows))
      i += 1
    }
    out
  }

  /** One [[hashWalks]] hop as DuckDB CTEs (mirrors the loop body term for
    * term), against `w{i-1}` and an `edges(src, dst)` CTE. */
  def walkStepSql(i: Int): String =
    s"""w$i AS (SELECT walk_id, $i AS step, dst AS node FROM (
       |  SELECT c.walk_id, e.dst,
       |    row_number() OVER (PARTITION BY c.walk_id ORDER BY
       |      ${Prep.portableHashSql(s"(c.walk_id * 31 + $i)", "e.dst")}, e.dst) AS rn
       |  FROM w${i - 1} c JOIN edges e ON e.src = c.node)
       |WHERE rn = 1)""".stripMargin
}
