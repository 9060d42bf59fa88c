package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Plan-shape regression tests: the scale properties SCALE.md claims,
  * asserted against the actual physical plans so a refactor that silently
  * adds a shuffle or un-pushes a filter fails CI.
  */
class PlanSpec extends SparkSpec {

  // AQE wraps plans in AdaptiveSparkPlanExec (children hidden until
  // execution), so count shuffle exchanges on the rendered plan.
  private def shuffles(df: DataFrame): Int =
    "Exchange (hash|range|Single)".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("q01 grouped aggregate: exactly one shuffle (partial+final agg)") {
    // final orderBy adds a range-partition exchange; the aggregate itself
    // must contribute exactly one
    val agg = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("q"))
    assert(shuffles(agg) == 1, agg.queryExecution.executedPlan.toString)
  }

  test("q04 zscore window: exactly one shuffle, both window aggs share it") {
    val z = graft.ops.Stats.zscore(col("value"), Seq(col("user_id")))(
      Tables.events(spark, sf))
    assert(shuffles(z) == 1, z.queryExecution.executedPlan.toString)
  }

  test("star join: dimension sides broadcast, no shuffle on lineitem path") {
    val q = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)).withColumnRenamed("n_nationkey", "l_suppkey"),
        Seq("l_suppkey"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(shuffles(q) == 0, plan)
  }

  test("filter + projection are pushed into the parquet scan") {
    val q = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity,45.0)"), scan)
    // ReadSchema restricted to the needed columns
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), scan)
  }

  test("s40 residual IVF-PQ: lookup tables broadcast (LUT, cross-terms, probe scalars); no cartesian in the scan path") {
    val q = SparkEntry.queries("s40_ann_ivfpq_residual")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the residual decomposition adds two lookup joins to the ADC scan —
    // both must stay broadcast (model-sized sides), and the only
    // cartesian anywhere is the k-row centroid probe each query ranks
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 4, s"expected the LUT/cterm/probe/qnorm joins broadcast, got $bhj:\n$plan")
    // exactly ONE data-sized equi-join exists (codes ⋈ probed candidates
    // on vid — both sides corpus-scaled, a sort-merge/shuffled-hash is the
    // right plan for it); every OTHER side is model-sized and must stay
    // broadcast, so a second SMJ means a broadcast hint was lost
    val smj = "SortMergeJoin".r.findAllIn(plan).length
    assert(smj <= 1, s"only the codes⋈candidates join may sort-merge, got $smj:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the centroid probes must broadcast-nested-loop, never cartesian:\n$plan")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val cart = "CartesianProduct".r.findAllIn(plan).length
    assert(bnl + cart <= 2,
      s"only the two k-row centroid cross joins (corpus + query probe) may be non-equi:\n$plan")
  }

  test("s43 index refresh is one map-only kernel pass: no join, no window, sort-only exchange") {
    val q = SparkEntry.queries("s43_index_refresh")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // both centroid tables fold into the refresh as argmin-kernel
    // literals — any Join or Window here means the refresh regressed to
    // a data-sized formulation that cannot be churn-bounded at 100 TB
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    // the only exchange is the final orderBy's range partition
    assert(shuffles(q) == 1, plan)
  }

  test("minhash signature is map-only: zero shuffles") {
    val sig = graft.ext.Dedup.minhashSignature(
      Tables.documents(spark, sf), col("doc_id"), col("text"))
    assert(shuffles(sig) == 0, sig.queryExecution.executedPlan.toString)
  }

  test("banded interval join plans as a hash/sort-merge join, never BNLJ") {
    val ev = Tables.events(spark, sf)
    val q = graft.ops.TimeSeries.countInWindow(
      ev.filter(col("event_type") === "error"),
      col("user_id"), col("ts"), col("event_id"),
      ev.filter(col("event_type") === "click"),
      col("user_id"), col("ts"), windowSec = 300L)
    val plan = q.queryExecution.executedPlan.toString
    // the whole point of banding: the range predicate rides an equi-join
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("q29 as-of join is join-free: union + one keyed window, no inflation") {
    // The naive formulation joins events×orders on (key, range) and rank-
    // filters — O(events × orders-per-user) intermediate. The union-spine
    // form must plan with NO join operator at all: one hash exchange for
    // the per-key window plus the final presentation sort.
    val q = SparkEntry.queries("q29_asof_join")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Union"), plan)
    assert(shuffles(q) == 2, plan)
  }

  test("q45 approx equi-depth: no window operator, edges broadcast back") {
    // q44's exact form needs a global-order ntile window (single task);
    // the scale form must plan with NO window at all — sketch aggregate,
    // broadcast, map-side bucket assign, one final aggregate.
    val q = SparkEntry.queries("q45_equidepth_approx")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("upsert with a small update batch: target is never shuffled") {
    // the anti join on the distinct update-key set must broadcast (the
    // incremental-load case) — the big target streams map-side
    val target = Tables.orders(spark, sf)
    val updates = target.filter(col("o_orderkey") < 10)
      .withColumn("o_orderpriority", lit("1-URGENT"))
    val q = graft.ops.Maintenance.upsert(target, updates, Seq("o_orderkey"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    // the ONE exchange is the distinct() on the (tiny) update-key set,
    // feeding the BroadcastExchange — the full-width target never shuffles
    assert(shuffles(q) == 1, plan)
  }

  test("scd2: exactly one shuffle (the key-partitioned window)") {
    val q = graft.ops.Maintenance.scd2(Tables.orders(spark, sf),
      Seq("o_custkey"), "o_orderdate", Seq("o_orderkey"))
    assert(shuffles(q) == 1, q.queryExecution.executedPlan.toString)
  }

  test("salted join: dimension replication is broadcast, no extra big-side exchange") {
    val ev = Tables.events(spark, sf).select(col("user_id").as("k"), col("value"))
    val dim = Tables.customer(spark, sf).select(col("c_custkey").as("k"), col("c_mktsegment"))
    val q = graft.ops.Skew.saltedJoin(ev, dim, "k", salts = 8)
    val plan = q.queryExecution.executedPlan.toString
    // the salt replication is a broadcast of the 8-row Range onto the dim
    // (a BNLJ-Cross over 8 literal rows — intended and map-side); the
    // MAIN join must be an equi hash/merge join keyed on BOTH k and the
    // salt, never a nested loop over the fact side
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[k#\\d+L?, __salt".r
      .findFirstIn(plan).isDefined, plan)
    assert(plan.contains("Range (0, 8"), plan)
  }

  test("t20 percentile-band filter: bounds broadcast, no window, scan-side filter") {
    val q = SparkEntry.queries("t20_length_band_filter")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("q55 feature backfill: banded agg join is hash/merge, never BNLJ") {
    val q = SparkEntry.queries("q55_feature_backfill")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    val q = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(shuffles(q) == 0, plan)
  }

  test("t57 top passages: TakeOrdered limit, doc-partitioned windows only") {
    val q = SparkEntry.queries("t57_top_dup_passages")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the span-merge lag/sum windows partition by doc — never global
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("q58 sessionize: windows + session agg share ONE keyed exchange") {
    // both windows and the (user_id, session_seq) aggregate must reuse the
    // user_id hash partitioning — 1 hash exchange + the final sort only
    val q = SparkEntry.queries("q58_sessionize")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(shuffles(q) == 2, plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("t24 domain cap: two-phase ranking, no single-partition window") {
    val q = SparkEntry.queries("t24_domain_cap")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // both ranking phases are keyed windows
    assert("hashpartitioning\\(source".r.findAllIn(plan).nonEmpty, plan)
  }

  test("t25 vocab coverage: one materialized token pass, vocab broadcast") {
    val q = SparkEntry.queries("t25_vocab_coverage")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the (doc, term, tf) table is localCheckpoint-materialized: neither
    // consumer re-scans the documents parquet
    assert(!plan.contains("FileScan parquet"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("t26 bloom decontamination: map-side probe, no join, one agg shuffle") {
    val q = graft.ext.Dedup.contaminationBloom(
      Tables.documents(spark, sf), col("doc_id"), col("text"),
      col("doc_id") % 10 === 9)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("Join"), s"bloom path must not join: $plan")
    assert(shuffles(q) == 1, plan)
  }

  test("s07 PQ ADC: LUT join broadcast, never a nested-loop/cartesian product") {
    val q = SparkEntry.queries("s07_ann_pq")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("s11 int8 quantization audit is map-only: zero shuffles") {
    val q = graft.ext.Similarity.int8QuantAudit(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    assert(shuffles(q) == 0, q.queryExecution.executedPlan.toString)
  }

  test("s12 kNN graph: cell equi-join, never a cartesian/nested-loop pair space") {
    val q = graft.ext.Similarity.knnGraph(
      Tables.embeddings(spark, sf), "vec_id", "embedding", k = 3, cells = 4)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair space must be cell-bounded: $plan")
  }

  test("t29 boilerplate: df join back carries no explode on the probe side") {
    // the doc-frequency aggregate joins back on the gram with fan-out 1;
    // the plan must be a hash/merge equi-join (never nested-loop) and the
    // per-doc window-free aggregation keeps it at 3 exchanges total
    // (grams agg, df agg, doc agg)
    val q = graft.ext.TextOps.boilerplateNgrams(
      Tables.documents(spark, sf), col("doc_id"), col("text"), minDf = 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), s"no window operator expected: $plan")
  }

  test("t55 stored prefix-index query path: zero tokenization, ranking or corpus scan") {
    // The stored-index discipline's whole point: with the index built,
    // the per-run plan is candidate-join + array-intersect verify over
    // two parquet scans. Tokenization (split/explode), the df window
    // rank, and any read of the documents table would mean the index is
    // being silently rebuilt per query.
    val q = SparkEntry.queries("t55_prefix_pairs_stored")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"no explode in the query path: $plan")
    assert(!plan.contains("split("), s"no tokenization in the query path: $plan")
    assert(!plan.contains("Window"), s"no prefix-rank window in the query path: $plan")
    assert(!plan.contains("documents.parquet"),
      s"the corpus itself must not be scanned (index-only): $plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("t58/t59 incremental probe: the batch tokenizes, the corpus never does") {
    // The continuous-ingestion claim is O(batch): the only documents
    // scan in the query path must carry the pushed batch predicate
    // (doc_id % 10 = 7), the prefix-rank window must be absent (it lives
    // in the stored build), and the corpus side must arrive as index
    // parquet scans only.
    Seq("t58_incremental_dedup", "t59_incremental_dedup_capped").foreach { name =>
      val q = SparkEntry.queries(name)(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name: prefix ranking leaked into the query path: $plan")
      // the batch's tokenization happens ONCE at build (shingleHashTable's
      // checkpoint — it appears as Scan ExistingRDD), so the query path
      // never scans the corpus table at all
      assert(!plan.contains("documents.parquet"),
        s"$name: the corpus table must not be scanned in the query path: $plan")
      assert(plan.contains("graft_prefix_index"),
        s"$name: the corpus side must be the stored index: $plan")
      // the corpus-side restriction pushes into BOTH index scans
      val pushed = "NOT \\(\\(doc#\\d+L % 10\\) = 7\\)".r.findAllIn(plan).size
      assert(pushed >= 2,
        s"$name: the corpus-side filter must reach the index scans (found $pushed): $plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("s35 batch assign: map-only — no join, no window, the only exchange is the final sort") {
    // the stored quantizer folds into the kernel as literals at plan
    // build: the query path must not scan the centroid table, train, or
    // shuffle the assignment
    val q = SparkEntry.queries("s35_ann_batch_assign")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(!plan.contains("graft_ivf_centroids"),
      s"centroids must ride as literals, not a scan: $plan")
    assert(shuffles(q) == 1, s"only the final orderBy may exchange: $plan")
  }

  test("t60/t61 merged stable index: the append touches O(batch) — corpus never rescanned, no rank window") {
    // the maintainability claim made physical: the stored side arrives as
    // parquet scans of the stable index, the batch side tokenizes behind
    // its build-time checkpoint, and NO df aggregate or prefix-rank
    // window exists anywhere (the stable order needs neither)
    Seq("t60_prefix_index_merged", "t61_prefix_pairs_merged").foreach { name =>
      val q = SparkEntry.queries(name)(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"$name: the corpus table must not be scanned in the query path: $plan")
      assert(plan.contains("graft_stable_prefix_index"),
        s"$name: the corpus side must be the stored stable index: $plan")
      assert(!plan.contains("Window"),
        s"$name: the stable index needs no rank window, found one: $plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
    // t60's whole query is two exchanges: the batch's per-doc grouping +
    // the output orderBy — nothing keyed on corpus-global state
    val t60 = SparkEntry.queries("t60_prefix_index_merged")(spark, sf)
    assert(shuffles(t60) == 2,
      s"t60: expected batch-groupBy + orderBy only: ${t60.queryExecution.executedPlan}")
  }

  test("s37 merged ANN index: stored scan + map-only batch assign — no join, no training state") {
    // frozen-quantizer maintenance: the stored side is one parquet scan,
    // the batch side is the literal-folded nearest-cell kernel over the
    // filtered embeddings scan, and the only exchange is the output sort
    val q = SparkEntry.queries("s37_ann_index_merged")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("graft_ivf_assign"),
      s"the corpus side must be the stored assignment: $plan")
    assert(!plan.contains("graft_ivf_centroids"),
      s"centroids must ride as literals, not a scan: $plan")
    assert("FileScan parquet".r.findAllIn(plan).length == 2,
      s"exactly stored-assign + batch embeddings scans expected: $plan")
    assert(shuffles(q) == 1, s"only the final orderBy may exchange: $plan")
  }

  test("s36 stored IVF-PQ: probed cells reach the codes scan as literal PartitionFilters; zero training state") {
    val q = SparkEntry.queries("s36_ann_ivfpq_stored")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the nprobe probe is directory pruning, not a row filter: the stored
    // codes scan must carry ccell IN (...) as a PARTITION filter
    assert("PartitionFilters: \\[[^\\]]*ccell#\\d+ IN ".r.findFirstIn(plan).isDefined,
      s"probed cells must prune the codes scan: $plan")
    // zero training in the query path: codebooks/centroids arrive as tiny
    // parquet scans, never as driver-materialized state
    assert(!plan.contains("LocalTableScan") && !plan.contains("ExistingRDD"),
      s"driver-materialized training state leaked into the query: $plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("st12 stream gate (batch twin): corpus rides as the stored stable index; one trailing pair aggregate") {
    // the streaming-legal topology made physical: arrival scan + two
    // broadcast index scans, per-row verify, and the ONLY exchanges are
    // the trailing per-pair aggregate + the output orderBy — no window,
    // no corpus tokenization, nothing stateful before the last operator
    val q = SparkEntry.queries("st12_stream_index_probe")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_stable_prefix_index"),
      s"the corpus side must be the stored stable index: $plan")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("FileScan parquet".r.findAllIn(plan).length == 3,
      s"arrival scan + prefix + sigs expected: $plan")
    assert(shuffles(q) == 2,
      s"only the pair aggregate and the orderBy may exchange: $plan")
  }

  test("q73 EXISTS subquery decorrelates to a left-semi hash/merge join") {
    // RewritePredicateSubquery must fire: the plan is a semi join, never a
    // per-outer-row nested-loop re-execution of the subquery
    val q = SparkEntry.queries("q73_exists_filter")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q74 scalar subquery decorrelates to ONE grouped aggregate + join") {
    // the per-part avg becomes a single aggregate over lineitem joined
    // back on the correlation key — lineitem is scanned twice (outer +
    // subquery), not once per part
    val q = SparkEntry.queries("q74_scalar_subquery")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert("FileScan parquet".r.findAllIn(plan).length <= 3,
      s"subquery must not multiply scans: $plan")
  }

  test("q75 NOT EXISTS decorrelates to a left-anti join") {
    val q = SparkEntry.queries("q75_not_exists")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q76 IN subquery decorrelates to a left-semi join") {
    val q = SparkEntry.queries("q76_in_subquery")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q89 NOT IN nullable: single-column null-aware anti join, never BNLJ") {
    // the nullable key makes a plain LeftAnti WRONG (3VL); the efficient
    // plan is the broadcast-hash null-aware anti, not the O(n·m)
    // BroadcastNestedLoopJoin general fallback
    val q = SparkEntry.queries("q89_notin_nullaware")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // BroadcastHashJoinExec.toString prints the isNullAwareAntiJoin flag
    // as a bare trailing boolean after the build side
    assert("BroadcastHashJoin .*LeftAnti, BuildRight, true".r
      .findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q87 variant: JSON parses ONCE — a single parseJson feeds every typed get") {
    // CollapseProject must NOT inline parse_json into each aggregate arm
    // (v has multiple consumers, so the Project survives); 3 typed gets
    // over a duplicated parse would triple the dominant per-row cost
    val q = SparkEntry.queries("q87_variant_json")(spark, sf)
    val plan = q.queryExecution.optimizedPlan.toString
    val parses = "parseJson".r.findAllIn(plan).length
    assert(parses == 1, s"expected exactly 1 parseJson, got $parses\n$plan")
  }

  test("q84 triangle enumeration: equi-joins only — no cartesian/nested-loop anywhere") {
    // the degree-ordered orientation exists precisely so the wedge and
    // closing joins stay hash/merge equi-joins; a BNLJ here means the
    // pair space went quadratic
    val q = SparkEntry.queries("q84_triangle_count")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q82/q86 conditional aggregates: arms share the aggregate — no per-arm shuffles") {
    // exchange counts are set by aggregate STRUCTURE, never by how many
    // arms/conditions stack: q82's count(DISTINCT …) FILTER needs the
    // two-phase distinct expansion (partial on (group, distinct key) →
    // final on group) = 2; q86's PIVOT is likewise rewritten by Spark to
    // agg-on-(group, pivot) → pivot-first-on-group = 2. The 1-exchange
    // form of a pivot is the CASE-count crosstab (exactly what q86's
    // oracle spells, and q82's non-distinct arms use) — the plan fact
    // that makes the crosstab the better 100 TB spelling.
    def aggExchanges(name: String): (Int, String) = {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      ("Exchange hashpartitioning\\(c_mktsegment".r.findAllIn(plan).length, plan)
    }
    val (nPivot, pivotPlan) = aggExchanges("q86_pivot_sql")
    assert(nPivot == 2, s"q86: $nPivot exchanges\n$pivotPlan")
    val (nFilter, filterPlan) = aggExchanges("q82_filtered_agg")
    assert(nFilter == 2, s"q82: $nFilter exchanges\n$filterPlan")
  }

  test("join hints steer the physical strategy: BROADCAST and SHUFFLE_MERGE honored") {
    // the hint surface a SQL user tunes with — the engine must pass it
    // through to strategy selection, not swallow it in view plumbing
    graft.core.Tables.registerAll(spark, sf)
    val sql =
      """SELECT %s o_orderkey, c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"""
        .stripMargin
    val bc = spark.sql(sql.format("/*+ BROADCAST(c) */"))
      .queryExecution.executedPlan.toString
    assert(bc.contains("BroadcastHashJoin"), bc)
    val smj = spark.sql(sql.format("/*+ SHUFFLE_MERGE(c) */"))
      .queryExecution.executedPlan.toString
    assert(smj.contains("SortMergeJoin"), smj)
  }

  test("q85 SELECT-clause scalar subqueries decorrelate to aggregate + outer join") {
    val q = SparkEntry.queries("q85_select_scalar_subquery")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q78 null-safe join plans as a hash/merge equi-join, never a nested loop") {
    // EqualNullSafe must become a (coalesced) join KEY — a BNLJ here means
    // Catalyst treated <=> as a non-equi condition
    val q = SparkEntry.queries("q78_nullsafe_join")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("q79 lateral LIMIT decorrelates to WindowGroupLimit + hash join") {
    // the correlated ORDER BY ... LIMIT 3 must become a per-group top-k
    // window with map-side group-limit pruning joined on the correlation
    // key — NOT a per-outer-row re-execution (BNLJ/cartesian), which is
    // what makes the same SQL viable when orders is 100 TB
    val q = SparkEntry.queries("q79_lateral_topk")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q80 multiset set ops never replicate via nested-loop or cartesian plans") {
    val q = SparkEntry.queries("q80_multiset_ops")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q79 WindowGroupLimit prunes the shuffle — measured, not just plan-shaped") {
    // the map-side group limit must shrink what the orders shuffle
    // CARRIES, not only what the window later discards: run q79 with the
    // rewrite on vs off (windowGroupLimitThreshold=0 suppresses it) and
    // compare total shuffle-write records.
    def totalShuffleWrites(action: => Unit): Long =
      profile(action).tasks.map(_.shuffleWriteMetrics.recordsWritten).sum
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "0")
      val qOff = SparkEntry.queries("q79_lateral_topk")(spark, sf)
      assert(!qOff.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
      var nOff = 0L
      val wOff = totalShuffleWrites { nOff = qOff.count() }
      spark.conf.set(key, old)
      val qOn = SparkEntry.queries("q79_lateral_topk")(spark, sf)
      var nOn = 0L
      val wOn = totalShuffleWrites { nOn = qOn.count() }
      assert(nOn == nOff, "the rewrite must not change results")
      assert(wOn < wOff,
        s"group limit must cut shuffled records: on=$wOn vs off=$wOff")
    } finally spark.conf.set(key, old)
  }

  test("s15 stored-index ANN: zero training in the plan, index read from parquet") {
    // the in-query twin (s07/adcTopK) carries driver-collected codebooks
    // (LocalTableScan) and a localCheckpoint'd assignment (ExistingRDD);
    // the stored-index path must have NEITHER — every input is a scan of
    // the persisted index or the embeddings table
    val q = SparkEntry.queries("s15_ann_pq_stored")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"training state leaked into plan: $plan")
    assert(!plan.contains("LocalTableScan"), s"driver-collected state in plan: $plan")
    assert("FileScan parquet".r.findAllIn(plan).length >= 3, plan)
  }

  test("q88 named parameters bind as typed literals: filter pushed to the scan") {
    // binding must be plan-identical to hand-inlined literals — the bound
    // double reaches the parquet scan as a pushed filter, proof the
    // parameter became a typed Catalyst literal (a string splice would
    // also lose the date comparison's type)
    val q = SparkEntry.queries("q88_param_binding")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_totalprice,150000.0)"), plan)
    val inlined = spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_totalprice > 150000.0 AND o_orderdate >= DATE '1995-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    assert(q.collect().toSeq == inlined.collect().toSeq)
  }

  test("q92 hilbert chain: one whole-stage projection, shuffles only for the output order") {
    // the 16-level state-threading transform must stay straight-line
    // codegen arithmetic: no shuffle may appear beyond the tiny min/max
    // agg (+ its broadcast) and the final orderBy — a refactor that
    // materializes levels through exchanges would turn a projection into
    // 16 passes at 100 TB
    val q = SparkEntry.queries("q92_hilbert_layout")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    val n = "Exchange (hash|range|Single)".r.findAllIn(plan).length
    assert(n <= 3, s"hilbert layout should shuffle ≤3 times (agg, agg-final, sort), got $n\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the 8-level transform must remain one unbroken Project chain over
    // the scan — no Exchange (or any other operator) may interleave the
    // per-level Projects; pure-expression Projects are codegen'd
    // level 8's hd8 is folded straight into the hkey alias by
    // CollapseProject, so levels 1-7 appear by name and 8 as hkey
    val levels = "AS hd(\\d)#".r.findAllMatchIn(plan)
      .map(_.group(1).toInt).toSet
    assert((1 to 7).forall(levels.contains) && plan.contains("AS hkey"),
      s"missing hilbert levels in plan: $levels\n$plan")
    // between the final key projection and the scalar min/max broadcast
    // that feeds it sits the whole level chain — no Exchange may
    // interleave it (pure-expression Projects fuse under codegen)
    val chain = plan.substring(
      plan.indexOf("AS hkey"), plan.indexOf("BroadcastNestedLoopJoin"))
    assert("Exchange".r.findFirstIn(chain).isEmpty,
      s"an Exchange interrupts the hilbert Project chain:\n$plan")
  }

  test("s18 MIPS: band-bucket equi-join candidates — no cartesian, query side broadcast") {
    val q = SparkEntry.queries("s18_mips_topk")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"MIPS candidate generation must stay an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("m05 aHash: chunk-band join is a hash equi-join; fingerprints computed without shuffle") {
    // the only exchanges: band self-join hash, distinct, verify joins,
    // final sort — NEVER a nested loop over doc pairs
    val q = SparkEntry.queries("m05_ahash_neardup")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"aHash near-dup must never go all-pairs:\n$plan")
  }

  test("runtime bloom filter: selective dim filter injects might_contain into the fact scan leg") {
    // the 100 TB shuffle-volume lever the optimizer owns: a selective
    // filter on the creation side of a shuffle join makes Catalyst
    // inject a bloom-filter semi-join onto the fact leg
    // (InjectRuntimeFilter), so most fact rows drop BEFORE the exchange
    // instead of after it. Broadcast is disabled to force the
    // shuffle-join shape the rule targets; thresholds are opened so the
    // sf0.001 fixture qualifies as "big".
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(keys(0), "-1")
    spark.conf.set(keys(1), "true")
    spark.conf.set(keys(2), "100MB")
    spark.conf.set(keys(3), "0")
    try {
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"expected an injected runtime bloom filter on the fact leg:\n$plan")
      // and it must not have changed the answer
      assert(j.collect().map(_.getLong(1)).sum ==
        li.join(Tables.orders(spark, sf)
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("t40 prefix-filter over-threshold: verify leg falls back to a non-broadcast join") {
    // the 100 TB driver-OOM guard: when the signature payload passes the
    // size gate, the broadcast HINT must be dropped and the verify step
    // planned as a co-partitioned shuffle join — the gate answers false
    // one shingle row past 64 MiB / 8 B; pin the fallback branch by
    // feeding that answer to the verify, with auto-broadcast off so the
    // planner can't silently re-promote the hintless join at this size
    val bound = (64L << 20) / 8L
    assert(graft.ext.Dedup.sigsFitBroadcast(bound))
    assert(!graft.ext.Dedup.sigsFitBroadcast(bound + 1))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val docs = Tables.documents(spark, sf)
      val sh = graft.ext.Dedup.shingleHashTable(docs, col("doc_id"), col("text"))
      val forced = graft.ext.Dedup.pairsFromPrefixIndex(
        graft.ext.Dedup.prefixIndexTable(sh, 2, 5).localCheckpoint(),
        graft.ext.Dedup.signatureTable(sh), 2, 5,
        broadcastSigs = graft.ext.Dedup.sigsFitBroadcast(bound + 1))
      val plan = forced.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"over-threshold verify leg must not broadcast signatures:\n$plan")
      // and the fallback leg returns the exact same pairs as the
      // broadcast leg (already completeness-tested in DedupSpec)
      val hinted = graft.ext.Dedup.prefixFilterPairs(docs,
        col("doc_id"), col("text"))
      assert(forced.select("id_a", "id_b").collect().toSet ==
        hinted.select("id_a", "id_b").collect().toSet)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("t50 URL canonicalize: scan prunes to (doc_id, source), one agg shuffle") {
    val q = SparkEntry.queries("t50_url_canonicalize")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // derivation + canonicalization are pure projection over two narrow
    // columns — reading `text`/`n_chars` for a URL op would be the
    // wasted-IO bug ReadSchema pruning exists to catch
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      plan)
    // the canonical grouping's two-phase count-distinct (partial on
    // (canonical, url), final on canonical) + the final sort's range
    // exchange — nothing else shuffles, and every exchange carries
    // grouped rows, never the raw corpus
    assert(shuffles(q) <= 3, plan)
  }

  test("t52 URL dedup: canonical key computes map-side before the single agg exchange") {
    val q = SparkEntry.queries("t52_url_dedup")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the survivor agg must combine map-side ON the canonical key — a
    // partial min/count below the one hashpartitioning exchange proves
    // the parse_url/regexp key work happened before any shuffle, so the
    // exchange carries grouped rows, never the raw corpus
    assert(plan.contains("partial_min(doc_id"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    // both the derivation scan and the join-back probe prune to the two
    // narrow columns — reading `text` for a URL op is the wasted-IO bug
    assert("ReadSchema: struct<doc_id:bigint,source:string>".r
      .findAllIn(plan).size == 2, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("t51 contamination: eval gram set broadcasts into the corpus probe") {
    val q = SparkEntry.queries("t51_eval_contamination")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("s29 filtered ANN: label predicate rides the join key, never a cross join") {
    val q = SparkEntry.queries("s29_ann_filtered")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the filtered-ANN point: queries hash-join candidates ON label
    // (label-blocked pair space), not cross-join-then-filter
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q66 DSv2 source: pushed range prunes partitions before execution") {
    // the q66 scan shape without the aggregate: 16 range partitions over
    // 100k ids; [25000, 75000) overlaps exactly 8 — the other 8 are
    // dropped at planning time, before any task launches
    val scan = spark.read.format("graft-synthetic")
      .option("rows", "100000").option("partitions", "16").load()
      .filter(col("id") >= 25000 && col("id") < 75000)
    assert(scan.rdd.getNumPartitions == 8,
      s"expected 8 surviving DSv2 partitions, got ${scan.rdd.getNumPartitions}")
  }
  test("q103 EWMA banded self-join stays an equi-join on (key, bin) — no range nested loop") {
    val q = SparkEntry.queries("q103_ewma_smooth")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded EWMA must never plan a nested-loop/cartesian:\n$plan")
  }

  test("q102 k-core: every peel round is equi-join-only and rounds stay lineage-truncated") {
    val q = SparkEntry.queries("q102_kcore")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the executed plan sees only the FINAL degree count over the
    // checkpointed active set — the 6 peel rounds were truncated away
    // (an un-truncated plan would nest 6 join pairs here)
    assert(plan.contains("Scan ExistingRDD"),
      s"expected checkpointed round inputs, got:\n$plan")
  }
  test("q110 quantile normalization: bracketing lookups are broadcast hash joins") {
    val plan = SparkEntry.queries("q110_quantile_norm")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the 1-row scalar count reinjection legitimately plans as a
    // BroadcastNestedLoopJoin-Cross on a single-row build side (the q93/
    // q95 shape); what must NEVER appear is an unbroadcast cartesian
    assert(!plan.contains("CartesianProduct"),
      s"pooled-value lookups must stay equi/broadcast joins:\n$plan")
  }

  test("s21 centroid audit: distances are map-only kernel rows — no vector-scale join at all") {
    // r16: the n·d·L exploded dim-join (the BroadcastHashJoin the old pin
    // allowed) is gone — distances come from the graft_sqdist_dec kernel
    // over collected centroid literals. The ONLY join left is the 1-row
    // BNLJ-Cross accuracy reinjection (legitimate scalar).
    val plan = SparkEntry.queries("s21_centroid_labels")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_sqdist_dec"), plan)
    assert(!plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("m06 WAV frame RMS: pure expression pipeline — no join anywhere in the plan") {
    val plan = SparkEntry.queries("m06_wav_frame_rms")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"frame RMS needs no join:\n$plan")
  }

  test("t40 prefix filter: candidate + verify joins are all hash equi-joins") {
    val plan = SparkEntry.queries("t40_prefix_filter_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering must never pair all docs:\n$plan")
  }

  test("s23 mutual NN: cell-keyed shuffle equi-joins, nothing quadratic") {
    val plan = SparkEntry.queries("s23_mutual_nn")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"grid-blocked NN must stay equi-join-only:\n$plan")
  }

  test("q121/q122 deep join trees: dims all broadcast, never a cartesian") {
    for (name <- Seq("q121_volume_shipping", "q122_market_share")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
      assert(nBhj >= 4 && !plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: want >=4 broadcast dim joins, got $nBhj:\n$plan")
    }
  }

  test("s25 decontamination audit: eval side broadcast, train streams map-side") {
    val plan = SparkEntry.queries("s25_embed_decontam")(spark, sf)
      .queryExecution.executedPlan.toString
    // the deliberate broadcast cross (tiny eval set) is the plan; what
    // must never appear is a shuffle join carrying the train vectors
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"train corpus must stream against a broadcast eval set:\n$plan")
  }

  test("t42 quality gate: one conditional-aggregation pass — no join") {
    val plan = SparkEntry.queries("t42_quality_gate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"rule battery needs no join:\n$plan")
  }

  test("q112 rolling actives: explode + hash aggs — only join is the 1-row calendar clamp") {
    val plan = SparkEntry.queries("q112_rolling_active_users")(spark, sf)
      .queryExecution.executedPlan.toString
    // the scalar (lo, hi) clamp legitimately plans as a 1-row broadcast
    // cross (the q93/q95 shape); no data-sized join may appear
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"coverage-explode form needs no data-sized join:\n$plan")
  }

  test("q111 pareto frontier: price-grain window + broadcast frontier join-back") {
    val plan = SparkEntry.queries("q111_pareto_frontier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the frontier is tiny — its join back must broadcast:\n$plan")
  }

  test("q115/q116/q117: pure keyed-window pipelines — no join anywhere") {
    for (name <- Seq("q115_interval_union", "q116_event_paths",
        "q117_gini_skew")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name needs no join:\n$plan")
    }
  }

  test("s26 binary ANN: query side broadcasts, corpus never sort-merge-shuffles") {
    val plan = SparkEntry.queries("s26_ann_binary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q135 FK audit: one full-outer join per leg — never an inner materialization") {
    // r15 rewrote the semi+anti legs as a single full-outer join + one
    // conditional-count aggregate per leg (distinct key set ⇒ ≤1 match per
    // dim row, so one row grain carries all three counters)
    val plan = SparkEntry.queries("q135_dim_coverage")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("LocalCheckpoint"), plan)
  }

  test("t43 sorted-neighborhood: the rank window partitions per block — no global sort window") {
    // candidates come from a Window partitioned by the block key;
    // an unpartitioned window would read "Window [...] Sort [... ASC NULLS
    // FIRST], false" with an Exchange SinglePartition under it
    val plan = SparkEntry.queries("t43_sorted_neighborhood")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("s31 two-level assignment: query plan is a pruned stored-index scan — no join, no training") {
    // r16: the model is a STORED index (storedIvf2Model) — the query
    // path must be ONE parquet scan of the leaf-assignment table (with
    // the heavy `v` column pruned away: only vid/cell1/cell2 are read)
    // plus the output sort. A Join, a second FileScan (corpus re-scan),
    // or an ExistingRDD (in-query training lineage) means the build
    // leaked back into the per-query path; the only Exchange allowed is
    // the output orderBy's range partitioning.
    val plan = SparkEntry.queries("s31_ivf2_cells")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"build-time join leaked into the query plan: $plan")
    assert(!plan.contains("ExistingRDD"), s"in-query training lineage present: $plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one stored-index scan, got $scans: $plan")
    assert(!plan.contains("embedding"), s"corpus columns read at query time: $plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(exchanges == rangeEx, s"non-orderBy shuffle in the assignment path: $plan")
  }

  test("q154/q155/q156/q118: the bucketed-rank family plans with ZERO unpartitioned WindowExec") {
    // the whole point of the twins (and the q118 swap): the exact global
    // rank is computed without ever moving the input into one window task
    import org.apache.spark.sql.execution.window.WindowExec
    for (name <- Seq("q154_quantile_norm_bucketed", "q155_decile_lift_bucketed",
        "q156_calibration_bins_bucketed", "q118_time_to_convert")) {
      val bad = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
      assert(bad.isEmpty,
        s"$name has ${bad.size} unpartitioned WindowExec:\n${bad.mkString("\n")}")
    }
  }

  test("global-window census: unpartitioned WindowExec ONLY on the documented allowlist") {
    // VERDICT r11 task #6: the bench tail prints WindowExec's single-
    // partition warning somewhere on every board with nothing
    // distinguishing the legitimate sites (windows over aggregate-grain /
    // bounded inputs) from an accidental new global sort over a
    // data-sized input. This census walks EVERY registered query's
    // physical plan: a query may contain an unpartitioned WindowExec only
    // if it is allowlisted below with the reason its window input is
    // cardinality-bounded; the allowlist itself is asserted two-way, so
    // an entry whose global window disappears must be removed (it shrank
    // as q110/q125/q128 did via their q154-q156 twins).
    import org.apache.spark.sql.execution.window.WindowExec
    val allow: Map[String, String] = Map(
      // --- exact-oracle forms, single-partition BY DESIGN, each with a
      //     graded at-scale twin running the same oracle ---
      "q44_equidepth_hist" -> "exact ntile oracle form; scale twin q45 (+q152 bound audit)",
      "q110_quantile_norm" -> "exact pooled-rank oracle form; scale twin q154 (same oracle)",
      "q125_decile_lift" -> "exact ntile oracle form; scale twin q155 (same oracle)",
      "q128_calibration_bins" -> "exact rank oracle form; scale twin q156 (same oracle)",
      // --- windows over CALENDAR-grain series (≤36,525 rows/century —
      //     groupBy(day/month) reduces ahead of the window) ---
      "q20_moving_avg_daily" -> "7-day trailing avg over the daily series",
      "q37_range_frame" -> "RANGE frame over epoch-day series",
      "q38_cumulative_users" -> "running sum over day-grain first-seen counts",
      "q81_acf" -> "lag windows over the daily series",
      "q91_seasonal_decompose" -> "trend window over the daily series",
      "q107_rolling_corr" -> "rolling moments over two daily-count series",
      "c05_monthly_moving_avg" -> "12-month trailing avg over the monthly series",
      // --- windows over DOMAIN-bounded grains (fixed k, range totals,
      //     bounded price domain). q93/q99 were REMOVED from this list in
      //     r12: "distinct values" of a continuous column is data-sized
      //     (~18% of rows at sf0.1), so both now use
      //     Prep.runningTotalsViaBuckets in place of the global window ---
      "q111_pareto_frontier" -> "frontier scan over distinct 2-decimal prices",
      // (t13_pack_bins removed r12: R = n/8192 range totals grow with the
      //  corpus — its offset prefix sum is now runningTotalsViaBuckets)
      "t19_zipf_fit" -> "rank over the TakeOrdered top-100 terms",
      "t32_bm25_topk" -> "rank over the TakeOrdered top-20 survivors")
    val hits = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0) Some(name) else None
    }
    val undocumented = hits.filterNot(allow.contains)
    assert(undocumented.isEmpty,
      s"global-order windows outside the allowlist (either partition them, " +
        s"swap for Prep.rankViaBuckets, or document the bounded grain): " +
        undocumented.mkString(", "))
    val stale = allow.keySet.filterNot(hits.contains)
    assert(stale.isEmpty,
      s"allowlist entries whose global window is gone — delete them: " +
        stale.mkString(", "))
  }

  test("climate fact lineage: Berkeley broadcast into station-partitioned tasks; no exchange under the window") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.pipeline.{Climate, ClimateFixture}
    val (b, st) = ClimateFixture.default
    val lineage = Climate.factLineage(
      Climate.berkeleySilver(Climate.ingestText(spark, b, "Berkeley_Earth")),
      Climate.stationsDim(Climate.stationsSilver(Climate.ingestText(spark, st, "NOAA_Stations"))))
    // the plan AQE starts from, exchanges included
    val plan = lineage.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def scans(p: SparkPlan): Seq[String] = p.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
    }.flatten
    val berkeleyFile = new java.io.File(b).getName
    val join = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(join.size == 1, plan.toString)
    assert(join.head.buildSide == BuildRight && scans(join.head.right) == Seq(berkeleyFile),
      s"the Berkeley scan must be the broadcast side:\n$plan")
    val hash = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hash.size == 1, s"one hash exchange expected:\n$plan")
    assert(hash.head.outputPartitioning.asInstanceOf[HashPartitioning]
      .expressions.map(_.references.map(_.name).mkString) == Seq("station_id"), plan.toString)
    assert(hash.head.child.collectFirst { case t: TakeOrderedAndProjectExec => t.limit }
      .contains(50), s"the hash exchange must be over the 50-station sample:\n$plan")
    val window = plan.collect { case w: WindowExec => w }
    assert(window.nonEmpty, plan.toString)
    window.foreach { w =>
      val below = w.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(below.size == 1 &&
        w.collect { case e: Exchange => e }.size == below.head.collect { case e: Exchange => e }.size,
        s"an exchange sits between the join and the window:\n$plan")
    }
  }
}
