package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics as declarative join/agg rounds.
  *
  * PageRank is the canonical "iterate a join-aggregate to a fixed point"
  * workload: each round shuffles O(edges) contribution rows into a
  * per-node sum. The fixed-iteration form here keeps the full lineage
  * declarative (3 rounds = 3 joins Catalyst can see through); the
  * open-ended fixed-point form would truncate lineage per round with
  * `localCheckpoint` exactly like [[graft.ext.Dedup]]'s label propagation.
  *
  * Cross-engine float parity (the DuckDB oracle hash-compares results):
  * per-node contribution sums are accumulated in DECIMAL(38,18) — decimal
  * addition is exact and therefore order-independent, so Spark's partial
  * aggregation and DuckDB's single-threaded sum agree bit-for-bit. Every
  * other step (the division by out-degree, the damping blend) is a fixed
  * chain of scalar IEEE-754 ops that any engine evaluates identically.
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge list (`src`, `dst`;
    * callers pass distinct edges). Dangling mass is dropped (the classic
    * simplified formulation): r_{t+1}(v) = (1-d)/N + d·Σ_{u→v} r_t(u)/deg(u).
    *
    * The node count N is collected to the driver (one scalar — the same
    * count-then-reinject shape as the reference's record_count,
    * reference jobs/03_silver_to_gold.py:71-74) so `1/N` is a literal and
    * the rank seed needs no extra join.
    */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.875): DataFrame = {
    // Same iteration discipline as Dedup.connectedComponents: truncate
    // lineage EVERY round with an eager localCheckpoint, so no action
    // ever faces the full cross-round plan (a 3-round nested join tree
    // re-planned at materialization time measured 10×+ the cost of the
    // three rounds run shallowly — and on a real cluster the fixed-point
    // variant would be unplannable without truncation). The edge list is
    // checkpointed once up front — loop-invariant, read every round —
    // and the per-round checkpoints are O(nodes) rows that the context
    // cleaner reclaims when the previous round's frame goes out of scope.
    // The loop-invariant edge-weight table is built ONCE: every round
    // needs edge × 1/outdeg, so joining deg inside the loop would pay the
    // same O(edges) join 3× (and re-derive deg from e each time — lineage
    // is truncated, but the jobs still run). One (src, dst, outdeg) table,
    // checkpointed, leaves each round exactly one join + one aggregate.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ew = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true) // reused every round + for the final left join
    val n = nodes.count()

    var ranks = nodes.withColumn("r", lit(1.0) / lit(n))
    for (_ <- 1 to iterations) {
      val contribs = ew
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("r") / col("outdeg")).cast("decimal(38,18)").as("contrib"))
        .groupBy("node")
        .agg(sum(col("contrib")).cast("double").as("c"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / lit(n) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Co-occurrence edge list: items sharing ≥ `minSupport` groups become
    * mutual edges (both directions). Group sizes are assumed bounded (the
    * self-join is O(Σ size²) — for unbounded groups cap with a top-k per
    * group first). `minSupport` matters at scale: with it at 1 a dense
    * corpus yields a near-complete graph (on the sf0.1 fixture, 2.39M
    * edges over 2,000 parts = 60% density — pure co-incidence noise);
    * support ≥ 2 keeps the ~7k pairs that actually recur, which is both
    * the meaningful affinity graph and a 300× smaller one.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        minSupport: Int = 1): DataFrame = {
    // One groupBy with collect_set replaces distinct + self-join: the set
    // dedupes items within the group (what the distinct did) and the pair
    // expansion happens per-row under no shuffle at all (what the
    // equi-join's second exchange + probe did). Two exchanges total —
    // (1) group the items, (2) count the pairs — vs three before.
    // collect_set is safe exactly because groups are bounded (doc above);
    // the generated pair rows are the same O(Σ size²) either way.
    // r15: the pair fan-out is the native ArrayPairs expression — the
    // interpreted HOF chain (transform∘filter∘struct, flatten) it
    // replaces was the dominant task CPU of every graph-family query
    // (guide §4: non-codegen expressions in the hot path); same pairs,
    // same order, one allocation per pair (PrepSpec pins parity).
    df.groupBy(col(groupCol).as("g"))
      .agg(collect_set(col(itemCol)).as("items"))
      .select(explode(graft.functions.GraftFunctions.arrayPairs(col("items"))).as("e"))
      .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSupport)
      .select(col("src"), col("dst"))
  }

  /** Per-node triangle counts over an undirected graph given as a directed
    * edge list (either or both directions per edge; self-loops ignored).
    * Returns (node, n_tri) for every node in ≥1 triangle.
    *
    * The enumeration is the standard degree-ordered orientation: every
    * edge points from the smaller to the larger endpoint under the total
    * order (degree, node id), so a triangle {x,y,z} materializes exactly
    * once — as out-edges (x,y), (x,z) of its order-minimal corner plus the
    * closing edge (y,z) — and, decisively for scale, each node's
    * out-neighborhood under this orientation is O(√E) even on power-law
    * graphs (a celebrity node's million followers become IN-edges; its
    * out-list stays short). All three steps are equi-joins — the wedge
    * join fans out per out-pair, the closing join is a semi-probe on the
    * oriented edge set — so the whole thing shuffles on node/edge keys and
    * never goes near a cross join.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // node ids must fit [0, pack base) or the composite order key
    // (d·base + node) stops being a total order — a NEGATIVE id can pack
    // onto another degree class just as an oversized one can, losing the
    // O(√E) out-list bound the orientation exists for — so out-of-range
    // ids raise at scan time (row-level guard: the ids are data, not a
    // parameter — same posture as PQ.subRows' dim guard)
    val guardedHi = when(greatest(col("src"), col("dst")) < lit(100000000L) &&
        least(col("src"), col("dst")) >= lit(0L),
      greatest(col("src"), col("dst"))).otherwise(raise_error(concat(
        lit("triangleCounts: node ids must be in [0, 1e8) (order-key pack base), got ("),
        col("src").cast("string"), lit(", "), col("dst").cast("string"), lit(")"))))
    // canonical undirected edge set: multi-consumer (degrees + 2 key
    // joins) → materialize once (SCALE.md scan rule)
    val und = edges.select(
        least(col("src"), col("dst")).as("lo"),
        guardedHi.as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint(true)
    val deg = und.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // composite order key degree-major, id-minor, packed into one BIGINT
    // (node ids are far below 1e8; a struct comparison would be the
    // Spark-only spelling — the packed key is the cross-engine one)
    val key = lit(100000000L)
    val withK = und
      .join(deg.select(col("node").as("lo"), (col("d") * key + col("lo")).as("klo")), "lo")
      .join(deg.select(col("node").as("hi"), (col("d") * key + col("hi")).as("khi")), "hi")
    // three consumers (e1/e2/e3) → materialize the oriented list once
    val oriented = withK.select(
        when(col("klo") < col("khi"), col("lo")).otherwise(col("hi")).as("a"),
        when(col("klo") < col("khi"), col("hi")).otherwise(col("lo")).as("b"))
      .localCheckpoint(true)
    val tris = oriented.alias("e1")
      .join(oriented.alias("e2"), col("e1.b") === col("e2.a"))
      .join(oriented.alias("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** k-core decomposition via synchronous peeling: repeatedly drop nodes
    * whose degree within the surviving subgraph is < k; what remains after
    * convergence is the k-core. Input is a directed edge list carrying
    * BOTH directions per undirected edge (what [[coOccurrenceEdges]]
    * emits), so a node's degree is its out-edge count into the active set.
    *
    * The active set only ever SHRINKS (peeling is monotone), so a fixed
    * `rounds` budget is exact whenever the peel converges within it and
    * extra rounds are no-ops — which is precisely what lets the unrolled
    * fixed-round oracle ([[kCoreRoundsSql]]) equal the fixed-point answer.
    * Each round is two equi-joins (both edge endpoints against the active
    * set) + one count aggregate over O(E) rows, with lineage truncated per
    * round via localCheckpoint — the same iteration discipline as
    * [[pageRank]] and Dedup.connectedComponents; at 100 TB each round
    * shuffles on node keys only, never a pair space.
    *
    * Returns (node, core_deg) for k-core members with their within-core
    * degree.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // both-directions edge list ⇒ the src set IS the node set
    var active = e.select(col("src").as("node")).distinct().localCheckpoint(true)
    def induced(a: DataFrame): DataFrame =
      e.join(a.select(col("node").as("src")), "src")
        .join(a.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (r16 note: a count-based early stop was measured and REVERTED — at
    // sf0.1 the peel shrinks every round until the budget's last round
    // (5922→1067→138→22→7→3→3), so the convergence check only ever adds
    // one count job per round without skipping any; the fixed budget IS
    // the honest cost at the fixture SFs.)
    for (_ <- 1 to rounds) {
      active = induced(active)
        .filter(col("deg") >= k)
        .select(col("src").as("node"))
        .localCheckpoint(true)
    }
    induced(active)
      .select(col("src").as("node"), col("deg").cast("int").as("core_deg"))
  }

  /** The DuckDB-oracle twin of [[kCore]]: the peel unrolled into one CTE
    * per round (same single-source-of-truth pattern as Layout's Hilbert
    * SQL — the oracle can't drift from the engine because both run the
    * identical round recurrence). Expects an `edges(src, dst)` CTE in
    * scope; emits `r0..r$rounds` plus a `kcore_final(node, core_deg)` CTE.
    */
  def kCoreRoundsSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each round is referenced TWICE by the next (both
    // join legs); inlined CTEs would recompute the whole prefix per
    // reference — 2^rounds expansions of the edge build (measured: DuckDB
    // spilled >80 GB at sf0.1 before the hint; instant with it). The
    // engine side has no such trap — each round is localCheckpointed.
    val r0 = "r0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)"
    val rs = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT e.src AS node FROM edges e
         |  JOIN r${i - 1} sa ON e.src = sa.node
         |  JOIN r${i - 1} sb ON e.dst = sb.node
         |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
    }
    val fin =
      s"""kcore_final AS (SELECT e.src AS node, CAST(count(*) AS INTEGER) AS core_deg
         |  FROM edges e
         |  JOIN r$rounds sa ON e.src = sa.node
         |  JOIN r$rounds sb ON e.dst = sb.node
         |  GROUP BY 1)""".stripMargin
    (r0 +: rs :+ fin).mkString(",\n")
  }

  /** Synchronous label propagation — community detection, the density
    * structure next to [[pageRank]]'s centrality, [[triangleCounts]]'
    * cohesion, and [[kCore]]'s resilience (and distinct from connected
    * COMPONENTS: a bridge edge joins components but rarely survives
    * majority voting). Each round every node adopts its neighbours'
    * MAJORITY label, ties to the smallest label; updates are synchronous
    * (round r reads only round r−1) and the tie-break is total, so a
    * fixed round count is fully deterministic — which is what makes the
    * oracle possible (per-round CTEs, [[lpaRoundsSql]]) where classic
    * async LPA is run-order-dependent.
    *
    * Per round: one equi-join edges⋈labels + a (node, label) count + a
    * per-node argmax window on the count table — all keyed exchanges,
    * lineage truncated per round. Expects both-directions edges.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var lbl = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("c").desc, col("lbl"))
    for (_ <- 1 to rounds) {
      lbl = e.join(lbl.select(col("node").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("lbl"))
        .localCheckpoint(true)
    }
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /** The DuckDB-oracle twin of [[labelPropagation]] (the kCoreRoundsSql
    * pattern): per-round CTEs over an `edges(src, dst)` CTE, emitting
    * `lpa_final(node, community)`. QUALIFY keeps the per-node majority
    * row — same (count desc, label asc) total order as the engine.
    */
  def lpaRoundsSql(rounds: Int): String = {
    val l0 = "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges)"
    val ls = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT e.src AS node, l.lbl AS lbl, count(*) AS c
         |    FROM edges e JOIN l${i - 1} l ON l.node = e.dst
         |    GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) = 1)"""
        .stripMargin
    }
    val fin = s"lpa_final AS (SELECT node, lbl AS community FROM l$rounds)"
    (l0 +: ls :+ fin).mkString(",\n")
  }
}
