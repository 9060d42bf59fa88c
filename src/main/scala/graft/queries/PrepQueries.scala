package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Graph, Layout, Prep}

/** Data-layout, graph-centrality, and feature-prep operators (round 5):
  * Z-order clustering keys, fixed-iteration PageRank, per-group min-max
  * scaling, deterministic hash-reservoir sampling, and median/MAD robust
  * outlier detection. Each has a full DuckDB hash oracle — including
  * PageRank, whose per-node contribution sums run in DECIMAL(38,18) so
  * the result is accumulation-order-independent (see [[graft.ops.Graph]]).
  */
object PrepQueries {

  /** One PageRank round as DuckDB CTEs (mirrors [[Graph.pageRank]]'s loop
    * body term for term — 0.875/0.125 are exact binary fractions so the
    * damping constants are the same double in both engines).
    */
  private def prIterSql(i: Int): String = {
    val prev = if (i == 1) "r0" else s"r${i - 1}"
    s"""c$i AS (SELECT e.dst AS node,
       |  CAST(sum(CAST(r.r / d.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS c
       |  FROM edges e JOIN $prev r ON e.src = r.node
       |  JOIN deg d ON e.src = d.src GROUP BY 1),
       |r$i AS (SELECT nodes.node,
       |  CAST(0.125 AS DOUBLE) / nn.n +
       |  CAST(0.875 AS DOUBLE) * coalesce(c$i.c, CAST(0 AS DOUBLE)) AS r
       |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // ---- Z-order (Morton) layout clustering key: the OPTIMIZE ZORDER BY
    //      primitive. Quantize two dimensions against their global range,
    //      interleave the bits, bucket by leading Z-prefix (what becomes
    //      the file assignment on a real table). Pure codegen arithmetic;
    //      the one shuffle is the final deterministic ordering. ----
    QueryDef("q61_zorder_layout",
      s"""WITH mm AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         |              min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
         |q AS (SELECT l_orderkey, l_linenumber,
         |        CAST(floor(((l_partkey - pmin) * CAST(65535 AS DOUBLE)) / greatest(pmax - pmin, 1)) AS BIGINT) AS qx,
         |        CAST(floor(((l_suppkey - smin) * CAST(65535 AS DOUBLE)) / greatest(smax - smin, 1)) AS BIGINT) AS qy
         |      FROM lineitem CROSS JOIN mm),
         |z AS (SELECT l_orderkey, l_linenumber,
         |        ${Layout.zorderKeySql("qx", "qy", 16)} AS zkey FROM q)
         |SELECT l_orderkey, l_linenumber, zkey, CAST(zkey >> 27 AS INTEGER) AS zbucket
         |FROM z ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val mm = li.agg(
        min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
        min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      li.crossJoin(broadcast(mm))
        .withColumn("qx", Layout.quantize(col("l_partkey"), col("pmin"), col("pmax"), 16))
        .withColumn("qy", Layout.quantize(col("l_suppkey"), col("smin"), col("smax"), 16))
        .withColumn("zkey", Layout.zorderKey(col("qx"), col("qy"), 16))
        .select(col("l_orderkey"), col("l_linenumber"), col("zkey"),
          shiftright(col("zkey"), 27).cast("int").as("zbucket"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- Hilbert-curve layout key: q61's strictly-better sibling (the
    //      curve Delta's OPTIMIZE moved to) — consecutive key ranges are
    //      always spatially contiguous, so per-file min/max envelopes are
    //      tighter at equal file count (LayoutSpec measures the locality
    //      win and proves the adjacency property exhaustively). The
    //      16-level state-threading transform is emitted ONCE as portable
    //      SQL (Layout.hilbertLevelSql) and consumed verbatim by BOTH the
    //      engine (expr per level) and this oracle (chained CTEs) — the
    //      implementations cannot drift. 8 bits/dim → 256×256 grid,
    //      hkey ∈ [0, 65536), >>9 → 128 layout buckets. ----
    QueryDef("q92_hilbert_layout",
      s"""WITH mm AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         |              min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
         |base AS (SELECT l_orderkey, l_linenumber,
         |        CAST(floor(((l_partkey - pmin) * CAST(255 AS DOUBLE)) / greatest(pmax - pmin, 1)) AS BIGINT) AS qx,
         |        CAST(floor(((l_suppkey - smin) * CAST(255 AS DOUBLE)) / greatest(smax - smin, 1)) AS BIGINT) AS qy
         |      FROM lineitem CROSS JOIN mm),
         |${Layout.hilbertCtesSql("base", Seq("l_orderkey", "l_linenumber"), "qx", "qy", 8)}
         |SELECT l_orderkey, l_linenumber, hd8 AS hkey,
         |  CAST(hd8 // 512 AS INTEGER) AS hbucket
         |FROM h8 ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val mm = li.agg(
        min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
        min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      Layout.withHilbertKey(
          li.crossJoin(broadcast(mm))
            .withColumn("qx", Layout.quantize(col("l_partkey"), col("pmin"), col("pmax"), 8))
            .withColumn("qy", Layout.quantize(col("l_suppkey"), col("smin"), col("smax"), 8)),
          col("qx"), col("qy"), bits = 8, out = "hkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("hkey"),
          shiftright(col("hkey"), 9).cast("int").as("hbucket"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- per-group min-max feature scaling: one O(groups) agg broadcast
    //      back onto the facts. min/max (unlike mean/stddev) are order-
    //      independent, so the scaled doubles hash-match exactly. ----
    QueryDef("q62_minmax_scale",
      """WITH stats AS (SELECT c_mktsegment, min(c_acctbal) AS mn, max(c_acctbal) AS mx
        |               FROM customer GROUP BY 1)
        |SELECT c.c_mktsegment, c.c_custkey,
        |  round(CASE WHEN mx = mn THEN CAST(0 AS DOUBLE)
        |             ELSE (c.c_acctbal - mn) / (mx - mn) END, 6) AS acctbal_scaled
        |FROM customer c JOIN stats ON c.c_mktsegment = stats.c_mktsegment
        |ORDER BY c.c_mktsegment, c.c_custkey""".stripMargin) { (s, dir) =>
      Prep.withMinMax(Tables.customer(s, dir), Seq("c_mktsegment"), "c_acctbal")
        .select(col("c_mktsegment"), col("c_custkey"),
          round(Prep.minMaxScaled(col("c_acctbal")), 6).as("acctbal_scaled"))
        .orderBy("c_mktsegment", "c_custkey")
    },

    // ---- fixed-iteration PageRank over the part co-purchase graph
    //      (parts sharing ≥2 orders are mutual edges — support 1 on this
    //      corpus is a 60%-dense co-incidence blob, see Graph scaladoc).
    //      3 declarative join-agg rounds; decimal contribution sums make
    //      the ranks bit-stable across engines and partitionings. ----
    QueryDef("q63_pagerank_parts",
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
         |edges AS MATERIALIZED (SELECT a.item AS src, b.item AS dst
         |          FROM li a JOIN li b ON a.g = b.g AND a.item <> b.item
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),
         |${prIterSql(1)},
         |${prIterSql(2)},
         |${prIterSql(3)}
         |SELECT node AS part, round(r * CAST(1000000 AS DOUBLE), 6) AS rank_ppm
         |FROM r3 ORDER BY rank_ppm DESC, part LIMIT 100""".stripMargin) { (s, dir) =>
      // r16: shared memoized edge table (SharedGraph scaladoc) — the
      // identical deterministic build, paid once per (session, dir)
      val edges = SharedGraph.coEdges(s, dir)
      Graph.pageRank(edges, iterations = 3, damping = 0.875)
        .select(col("node").as("part"),
          round(col("r") * lit(1000000.0), 6).as("rank_ppm"))
        .orderBy(col("rank_ppm").desc, col("part"))
        .limit(100)
    },

    // ---- per-node triangle counts on the q63 co-purchase graph: the
    //      clustering/community primitive PageRank doesn't see (rank
    //      measures reach; triangles measure cohesion). Degree-ordered
    //      orientation (Graph.triangleCounts scaladoc) keeps every step
    //      an equi-join and each out-list O(√E); exact integer counts →
    //      bit parity with the oracle's identical enumeration for free. ----
    QueryDef("q84_triangle_count",
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
        |und AS (SELECT a.item AS lo, b.item AS hi
        |        FROM li a JOIN li b ON a.g = b.g AND a.item < b.item
        |        GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT node, count(*) AS d FROM
        |          (SELECT lo AS node FROM und UNION ALL SELECT hi FROM und) u
        |        GROUP BY 1),
        |ork AS (SELECT u.lo, u.hi,
        |          dl.d * 100000000 + u.lo AS klo, dh.d * 100000000 + u.hi AS khi
        |        FROM und u JOIN deg dl ON dl.node = u.lo
        |                   JOIN deg dh ON dh.node = u.hi),
        |o AS (SELECT CASE WHEN klo < khi THEN lo ELSE hi END AS a,
        |             CASE WHEN klo < khi THEN hi ELSE lo END AS b FROM ork),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM o e1 JOIN o e2 ON e2.a = e1.b
        |                JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, count(*) AS n_tri FROM
        |         (SELECT x AS node FROM t UNION ALL SELECT y FROM t
        |          UNION ALL SELECT z FROM t) q
        |       GROUP BY 1)
        |SELECT node AS part, n_tri FROM pn
        |ORDER BY n_tri DESC, part LIMIT 50""".stripMargin) { (s, dir) =>
      // r16: shared memoized edge table (SharedGraph scaladoc) — the
      // identical deterministic build, paid once per (session, dir)
      val edges = SharedGraph.coEdges(s, dir)
      Graph.triangleCounts(edges)
        .select(col("node").as("part"), col("n_tri"))
        .orderBy(col("n_tri").desc, col("part"))
        .limit(50)
    },

    // ---- k-core decomposition: the "dense-cohesion" graph operator next
    //      to q63's centrality and q84's closure — which parts survive
    //      when every member must co-occur with ≥3 other survivors. The
    //      engine peels iteratively (monotone shrinking active set, one
    //      equi-join pair + count per round, lineage truncated per round);
    //      the oracle is the SAME recurrence unrolled into per-round CTEs
    //      by Graph.kCoreRoundsSql, so engine and oracle cannot drift.
    //      6 rounds covers convergence at every fixture SF (extra rounds
    //      are no-ops past the fixed point — peeling is monotone).
    //      k=2 because co-recurring pairs get RARER as the catalog grows
    //      (same basket sizes over more parts): the 3-core that has 954
    //      members at sf0.01 is empty at sf0.1, while the 2-core is
    //      non-degenerate at every fixture SF. ----
    QueryDef("q102_kcore",
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
         |edges AS MATERIALIZED (SELECT a.item AS src, b.item AS dst
         |          FROM li a JOIN li b ON a.g = b.g AND a.item <> b.item
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |${Graph.kCoreRoundsSql(k = 2, rounds = 6)}
         |SELECT node AS part, core_deg FROM kcore_final
         |ORDER BY part""".stripMargin) { (s, dir) =>
      // r16: shared memoized edge table (SharedGraph scaladoc) — the
      // identical deterministic build, paid once per (session, dir)
      val edges = SharedGraph.coEdges(s, dir)
      Graph.kCore(edges, k = 2, rounds = 6)
        .select(col("node").as("part"), col("core_deg"))
        .orderBy("part")
    },

    // ---- synchronous label-propagation communities: the DENSITY
    //      structure next to q63's centrality, q84's cohesion, q102's
    //      resilience — and distinct from connected components (a bridge
    //      edge joins components but loses majority votes). Synchronous
    //      rounds + total (count desc, label) tie-break make a fixed
    //      round count fully deterministic, so the oracle replays the
    //      recurrence from per-round CTEs (the q102 pattern) where
    //      classic async LPA would be run-order-dependent. ----
    QueryDef("q132_label_prop",
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
         |edges AS MATERIALIZED (SELECT a.item AS src, b.item AS dst
         |          FROM li a JOIN li b ON a.g = b.g AND a.item <> b.item
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |${Graph.lpaRoundsSql(3)}
         |SELECT node AS part, community FROM lpa_final
         |ORDER BY part""".stripMargin) { (s, dir) =>
      // r16: shared memoized edge table (SharedGraph scaladoc) — the
      // identical deterministic build, paid once per (session, dir)
      val edges = SharedGraph.coEdges(s, dir)
      Graph.labelPropagation(edges, rounds = 3)
        .select(col("node").as("part"), col("community"))
        .orderBy("part")
    },

    // ---- deterministic "reservoir" sample: fixed k per group, ranked by
    //      a portable multiplicative hash (rand() is engine-specific; this
    //      is reproducible everywhere). Scale path: pre-filter on a hash
    //      threshold before the per-group rank so the window sees ~k·c
    //      rows per group, not the full table. ----
    QueryDef("q64_hash_reservoir",
      s"""SELECT event_type, event_id, user_id, value, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT event_type, event_id, user_id, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY ${Prep.portableHashSql("user_id", "event_id")}, event_id) AS rn
         |  FROM events)
         |WHERE rn <= 50 ORDER BY event_type, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(Prep.portableHash(col("user_id"), col("event_id")), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("event_type"), col("event_id"), col("user_id"), col("value"), col("rn"))
        .orderBy("event_type", "rn")
    },

    // ---- robust outliers via median/MAD (modified z-score, |z| > 3.5):
    //      immune to the outliers polluting the baseline the way mean/
    //      stddev z-scores are. Exact medians via the engine-portable
    //      middle-rows form (see Prep.groupedMedian); two O(groups) stats
    //      broadcast back onto the facts. ----
    QueryDef("q65_mad_outliers",
      s"""WITH med AS (${Prep.groupedMedianSql("events", "event_type", "value", "med")}),
         |dev AS (SELECT e.event_type, e.event_id, e.value, med.med,
         |               abs(e.value - med.med) AS dev
         |        FROM events e JOIN med ON e.event_type = med.event_type),
         |mad AS (${Prep.groupedMedianSql("dev", "event_type", "dev", "mad")})
         |SELECT d.event_type, d.event_id, d.value,
         |  ${Prep.floorToSql("CAST(0.6745 AS DOUBLE) * (d.value - d.med) / m.mad", 4)} AS robust_z
         |FROM dev d JOIN mad m ON d.event_type = m.event_type
         |WHERE m.mad > 0
         |  AND abs(CAST(0.6745 AS DOUBLE) * (d.value - d.med) / m.mad) > 3.5
         |ORDER BY d.event_type, d.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_type", "event_id", "value")
      val med = Prep.groupedMedian(ev, Seq("event_type"), "value", "med")
      val withMed = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = Prep.groupedMedian(
        withMed.select(col("event_type"), col("dev")), Seq("event_type"), "dev", "mad")
      withMed.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0)
        .withColumn("robust_z", lit(0.6745) * (col("value") - col("med")) / col("mad"))
        .filter(abs(col("robust_z")) > 3.5)
        // 4-decimal FLOOR, not round() — the cross-engine rounding
        // divergence this dodges is documented at Prep.floorTo (q65 hit
        // it at sf0.1: 3.85224999…97 → 3.8522 Spark vs 3.8523 DuckDB)
        .select(col("event_type"), col("event_id"), col("value"),
          Prep.floorTo(col("robust_z"), 4).as("robust_z"))
        .orderBy("event_type", "event_id")
    },

    // ---- DataSource V2 read path: the graft-synthetic source generates
    //      rows on the executors from pure integer arithmetic on id
    //      (Prep.portableHash's constants), with pushed id-range filters
    //      pruning whole partitions at planning time (SourcesSpec pins
    //      the pruned partition count). No parquet table — the oracle
    //      rebuilds the identical rows from DuckDB's range(), so the
    //      whole source→filter→aggregate path hash-matches. ----
    QueryDef("q66_dsv2_source",
      """WITH t AS (
        |  SELECT range AS id,
        |    ((range * 2654435761 + 40503) % 4294967296) AS h
        |  FROM range(0, 100000))
        |SELECT CAST(h % 32 AS INTEGER) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST((h % 100000) / 1000.0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM t WHERE id >= 25000 AND id < 75000
        |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, _) =>
      graft.core.GraftConf.ensure(s)
      s.read.format("graft-synthetic")
        .option("rows", "100000").option("partitions", "16").load()
        .filter(col("id") >= 25000 && col("id") < 75000)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          graft.core.Exact.decimalSum(col("value"), "sum_value"))
        .orderBy("bucket")
    },

    // ---- weighted sampling (A-ES): keep 50 events per type with
    //      probability ∝ |value|+1 via the exponential-race key
    //      −ln(u)/w — deterministic (hash uniform, not rand()), so the
    //      sample is reproducible across runs/engines/retries and the
    //      oracle recomputes it exactly. The quality-weighted corpus
    //      sampling shape: heavier docs survive proportionally more. ----
    QueryDef("q69_weighted_sample",
      s"""SELECT event_type, event_id, samp_key, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT event_type, event_id,
         |    round(${Prep.weightedSampleKeySql("(abs(value) + 1)", "user_id", "event_id")}, 6) AS samp_key,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY round(${Prep.weightedSampleKeySql("(abs(value) + 1)", "user_id", "event_id")}, 6) NULLS LAST,
         |               event_id) AS rn
         |  FROM events)
         |WHERE rn <= 50 ORDER BY event_type, rn""".stripMargin) { (s, dir) =>
      val key = round(Prep.weightedSampleKey(
        abs(col("value")) + 1, col("user_id"), col("event_id")), 6)
      // events.value is nullable → a NULL weight yields a NULL samp_key;
      // Spark ASC defaults NULLS FIRST while DuckDB defaults NULLS LAST,
      // so pin NULLS LAST explicitly on both sides (ADVICE r5).
      val w = Window.partitionBy(col("event_type"))
        .orderBy(key.asc_nulls_last, col("event_id"))
      Tables.events(s, dir)
        .withColumn("samp_key", key)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("event_type"), col("event_id"), col("samp_key"),
          col("rn").cast("int").as("rn"))
        .orderBy("event_type", "rn")
    },

    // ---- typed Aggregator UDAF: quantity-weighted mean price via
    //      graft_wmean (exact BigDecimal partial sums → merge-order-
    //      independent → hash-oracleable; the double division happens
    //      once, at finish, mirroring the oracle's CAST...AS DOUBLE). ----
    QueryDef("q67_weighted_mean_udaf",
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
        |                 * CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE), 6)
        |    AS wavg_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(round(graft.functions.GraftFunctions.weightedMean(
            // (15,2): lossless for 2-decimal prices/integral quantities,
            // and the oracle's int64 decimal multiply stays in range
            col("l_extendedprice").cast("decimal(15,2)"),
            col("l_quantity").cast("decimal(15,2)")), 6)
          .as("wavg_price"))
        .orderBy("l_returnflag")
    },

    // ---- quantile normalization: map each segment's acctbal
    //      DISTRIBUTION onto the pooled distribution (the batch-effect
    //      correction genomics/feature pipelines run when per-shard
    //      scales drift): per-segment percent_rank → fractional index
    //      into the pooled order statistics → linear interpolation
    //      between the two bracketing pooled values. Every rank is an
    //      exact integer ratio and the interpolation is one fixed IEEE
    //      chain, so no decimal detour is needed anywhere. The pooled
    //      rank window is single-partition BY DESIGN at fixture scale
    //      (exact order statistics for the oracle); the 100 TB form is
    //      q154_quantile_norm_bucketed — sketch-edge bucketed pool rank +
    //      plain (non-broadcast) bracketing joins, hash-graded against
    //      this SAME oracle. ----
    QueryDef("q110_quantile_norm",
      s"""WITH nc AS (SELECT count(*) AS nn FROM customer),
         |pool AS (SELECT c_acctbal AS val,
         |    row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn
         |  FROM customer),
         |r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
         |    percent_rank() OVER (PARTITION BY c_mktsegment
         |                         ORDER BY c_acctbal, c_custkey) AS pr
         |  FROM customer),
         |ix AS (SELECT c_mktsegment, c_custkey, c_acctbal,
         |    1.0 + pr * (nn - 1) AS idx
         |  FROM r CROSS JOIN nc)
         |SELECT c_mktsegment, c_custkey, c_acctbal,
         |  ${graft.ops.Prep.floorToSql(
             "pl.val + (ph.val - pl.val) * (idx - CAST(floor(idx) AS BIGINT))", 4)} AS qnorm
         |FROM ix
         |JOIN pool pl ON pl.rn = CAST(floor(idx) AS BIGINT)
         |JOIN pool ph ON ph.rn = CAST(ceil(idx) AS BIGINT)
         |ORDER BY c_mktsegment, c_custkey""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val nc = cust.agg(count(lit(1)).as("nn"))
      val pool = cust.select(col("c_acctbal").as("val"),
        row_number().over(Window.orderBy(col("c_acctbal"), col("c_custkey")))
          .as("rn"))
      val pr = percent_rank().over(Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey")))
      val ix = cust.select(col("c_mktsegment"), col("c_custkey"),
          col("c_acctbal"), pr.as("pr"))
        .crossJoin(broadcast(nc))
        .withColumn("idx", lit(1.0) + col("pr") * (col("nn") - 1))
      val lo = floor(col("idx")).cast("long")
      val hi = ceil(col("idx")).cast("long")
      ix.join(broadcast(pool.select(col("rn").as("__rlo"), col("val").as("__vlo"))),
          lo === col("__rlo"))
        .join(broadcast(pool.select(col("rn").as("__rhi"), col("val").as("__vhi"))),
          hi === col("__rhi"))
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          graft.ops.Prep.floorTo(col("__vlo") +
            (col("__vhi") - col("__vlo")) * (col("idx") - lo), 4).as("qnorm"))
        .orderBy("c_mktsegment", "c_custkey")
    },

    // ---- q110's AT-SCALE twin, graded against the IDENTICAL oracle.
    //      Three scale killers deleted: (1) the pooled order statistics
    //      come from Prep.rankViaBuckets (one sketch aggregate +
    //      PARTITIONED intra-bucket rank + driver-side B-entry prefix
    //      map) instead of a single-task sort of the whole table;
    //      (2) the pool is NOT broadcast — a data-sized broadcast at
    //      100 TB — the two bracketing lookups ride plain equi-joins on
    //      rn, which plan as shuffle joins once the pool outgrows the
    //      auto-broadcast threshold; (3) the per-segment percent_rank is
    //      ALSO bucketed (rankViaBuckets with partitionKeys=segment):
    //      `partitionBy(c_mktsegment)` is a FIVE-value key, so the plain
    //      keyed window is a 5-task sort — 20% of the table per task at
    //      any volume — and pr re-derives as (rank−1)/(n_seg−1), the
    //      exact double division percent_rank itself computes. Ranks are
    //      exact (rankViaBuckets scaladoc), the idx/interpolation chain
    //      is copied verbatim, so the output hash-matches q110's oracle
    //      bit-for-bit. ----
    QueryDef("q154_quantile_norm_bucketed",
      s"""WITH nc AS (SELECT count(*) AS nn FROM customer),
         |pool AS (SELECT c_acctbal AS val,
         |    row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn
         |  FROM customer),
         |r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
         |    percent_rank() OVER (PARTITION BY c_mktsegment
         |                         ORDER BY c_acctbal, c_custkey) AS pr
         |  FROM customer),
         |ix AS (SELECT c_mktsegment, c_custkey, c_acctbal,
         |    1.0 + pr * (nn - 1) AS idx
         |  FROM r CROSS JOIN nc)
         |SELECT c_mktsegment, c_custkey, c_acctbal,
         |  ${graft.ops.Prep.floorToSql(
             "pl.val + (ph.val - pl.val) * (idx - CAST(floor(idx) AS BIGINT))", 4)} AS qnorm
         |FROM ix
         |JOIN pool pl ON pl.rn = CAST(floor(idx) AS BIGINT)
         |JOIN pool ph ON ph.rn = CAST(ceil(idx) AS BIGINT)
         |ORDER BY c_mktsegment, c_custkey""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val nc = cust.agg(count(lit(1)).as("nn"))
      val pool = graft.ops.Prep.rankViaBuckets(
        cust.select(col("c_acctbal").as("val"), col("c_custkey").as("__ck")),
        col("val"), col("__ck"), rankCol = "rn").drop("__ck")
      val nSeg = cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("__nseg"))
      // percent_rank == (rank−1)/(n−1) when the order is unique (custkey
      // tie-break): same IEEE division PercentRank evaluates; n=1 → 0.0
      val pr = when(col("__nseg") === 1, lit(0.0))
        .otherwise((col("__rkseg") - 1).cast("double") /
          (col("__nseg") - 1).cast("double"))
      val ix = graft.ops.Prep.rankViaBuckets(
          cust.select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
          col("c_acctbal"), col("c_custkey"), rankCol = "__rkseg",
          partitionKeys = Seq(col("c_mktsegment")))
        .join(broadcast(nSeg), "c_mktsegment")
        .withColumn("pr", pr)
        .drop("__rkseg", "__nseg")
        .crossJoin(broadcast(nc))
        .withColumn("idx", lit(1.0) + col("pr") * (col("nn") - 1))
      val lo = floor(col("idx")).cast("long")
      val hi = ceil(col("idx")).cast("long")
      ix.join(pool.select(col("rn").as("__rlo"), col("val").as("__vlo")),
          lo === col("__rlo"))
        .join(pool.select(col("rn").as("__rhi"), col("val").as("__vhi")),
          hi === col("__rhi"))
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          graft.ops.Prep.floorTo(col("__vlo") +
            (col("__vhi") - col("__vlo")) * (col("idx") - lo), 4).as("qnorm"))
        .orderBy("c_mktsegment", "c_custkey")
    },

    // ---- key-skew Gini audit (Lorenz concentration of per-key volume):
    //      the diagnostic behind every salting/AQE-skew decision — how
    //      unevenly do rows distribute over a join/groupBy key? For each
    //      distribution, rank keys by volume ascending and compute
    //      G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Everything to the left of the
    //      final divisions is exact integer (rank × count products), so
    //      the result is one fixed IEEE chain — identical cross-engine.
    //      The windows run on the KEY-GRAIN table (cardinality-bounded,
    //      partitioned per distribution); raw rows are touched once by
    //      the map-side-combinable counts. ----
    QueryDef("q117_gini_skew",
      s"""WITH d AS (
         |  SELECT 'lineitem_partkey' AS dist, l_partkey AS k, count(*) AS x
         |  FROM lineitem GROUP BY 2
         |  UNION ALL
         |  SELECT 'orders_custkey', o_custkey, count(*) FROM orders GROUP BY 2),
         |r AS (SELECT dist, x,
         |        row_number() OVER (PARTITION BY dist ORDER BY x, k) AS i,
         |        count(*) OVER (PARTITION BY dist) AS n,
         |        sum(x) OVER (PARTITION BY dist) AS tot
         |      FROM d)
         |SELECT dist, CAST(max(n) AS BIGINT) AS n_keys,
         |  CAST(max(tot) AS BIGINT) AS total,
         |  ${graft.ops.Prep.floorToSql(
               "2.0 * sum(i * x) / (max(n) * max(tot)) - (max(n) + 1.0) / max(n)",
               6)} AS gini
         |FROM r GROUP BY dist ORDER BY dist""".stripMargin) { (s, dir) =>
      val d = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("x"))
        .select(lit("lineitem_partkey").as("dist"), col("k"), col("x"))
        .unionByName(Tables.orders(s, dir)
          .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("x"))
          .select(lit("orders_custkey").as("dist"), col("k"), col("x")))
      val wRank = Window.partitionBy("dist").orderBy(col("x"), col("k"))
      val wAll = Window.partitionBy("dist")
      d.withColumn("i", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("x")).over(wAll))
        .groupBy("dist")
        .agg(max(col("n")).cast("long").as("n_keys"),
          max(col("tot")).cast("long").as("total"),
          graft.ops.Prep.floorTo(
            lit(2.0) * sum(col("i") * col("x")) /
              (max(col("n")) * max(col("tot"))).cast("double") -
              (max(col("n")) + lit(1.0)) / max(col("n")).cast("double"), 6)
            .as("gini"))
        .orderBy("dist")
    },
  )
}
