package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_BENCH_OUT separates board OWNERSHIP (the LEAKCHECK_builder
    // pattern): the driver's default invocation owns bench_full.json; the
    // builder's quiesced snapshots go to bench_builder.json, which the
    // driver never overwrites. Provenance is stamped into the JSON.
    run(sfDir, cpus,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json"))
  }

  /** The full board sweep, parameterized so [[Sf1Sweep]] can aim it at an
    * inflated dir with its own canonical file (bench_sf1.json) without
    * clobbering the sf0.1 snapshot. Writes the complete per-query map to
    * `outPath`, prints the headline JSON line, returns the line.
    */
  def run(sfDir: String, cpus: String, outPath: String,
          only: Option[Set[String]] = None): String = {
    // `only` restricts the sweep to a name subset — Sf1Sweep's
    // per-family segments, so a dead JVM costs one segment, not an hour
    def inScope(name: String): Boolean = only.forall(_.contains(name))
    // Canonical per-query reference from the COMMITTED outPath snapshot,
    // read before this run overwrites it: feeds the outlier re-run gate
    // at sweep end. Crude regex parse — keys are [A-Za-z0-9_] and values
    // plain numbers by construction (this file writes them).
    val canonical: Map[String, Double] = try {
      val s = java.nio.file.Files.readString(java.nio.file.Paths.get(outPath))
      // only comparable when the snapshot was measured at THIS scale
      // factor (a dev run at another sf must not trigger re-runs) AND
      // with the same forcing action — the r13 count()→noop re-baseline
      // raised most per-query times (the pruned work is now measured),
      // so a count-era snapshot would flag half the board as outliers
      if (!s.contains("\"sf\":\"" + sfDir + "\"") ||
        !s.contains("\"action\":\"noop\"")) Map.empty
      else {
        val qStart = s.indexOf("\"queries\":{")
        val body = s.substring(qStart + 11, s.indexOf("}", qStart))
        """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
    // Pre-flight contention gate: the min-of-two + loadavg-recording
    // guards DOCUMENT contention but the headline number still whipsaws
    // when another build shares the machine (r6: 101 s contended vs 78-86 s
    // truth). Spin-wait for the 1-minute loadavg to quiesce before
    // measuring anything. r10+r11 both ran with 12 outlier re-runs
    // because the old cpus/8 = 4.0 gate released a board onto a
    // loadavg-6.2 machine after only 120 s: a co-tenant build holding
    // 4 cores passed the gate yet inflated the whole board ~1.12×. The
    // gate is now ~cpus/16 (2.0 on 32 cpus — one stray compile, not a
    // build) and the preflight budget 300 s (loadavg_1m needs ~2-3 min
    // to decay even after the co-tenant exits).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val hostCpus = Runtime.getRuntime.availableProcessors()
    val loadGate = math.max(1.5, hostCpus / 16.0)
    val loadAtStart = osBean.getSystemLoadAverage
    val gateT0 = System.nanoTime()
    while (osBean.getSystemLoadAverage > loadGate &&
      (System.nanoTime() - gateT0) < 300L * 1000000000L)
      Thread.sleep(5000)
    val preflightWait = (System.nanoTime() - gateT0) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: JVM/codegen/parquet-footer costs land here, not on whichever
    // query happens to run first (measured ~6 s of pure first-query noise).
    // Per-table try: one missing/odd table must not abort the rest of the
    // warm-up (r4 shipped exactly that bug — the raw `events` load threw on
    // TIMESTAMP(NANOS) and silently skipped the remaining tables + q01).
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables.loadNormalized(spark, sfDir, t).limit(1).count()
      catch { case e: Throwable => System.err.println(s"[bench] warm-up $t failed: ${e.getMessage}") }
    }
    try SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    catch { case e: Throwable => System.err.println(s"[bench] warm-up query failed: ${e.getMessage}") }
    // Stored-index PRE-PASS (r14 verdict #3): materialize every
    // content-stamped index BEFORE any timed entry, so the stored-index
    // families (t55/t58/t59/t60/t61/st12, s15/s35-s39/s42-s45) time the
    // PROBE — never a build conflated onto a fresh stamp (the t61 x11.1 /
    // s15 x12.3 sf1 "decades" adjudicated in prose two rounds running).
    // The build cost is still visible: prebuild_sec lands in the JSON.
    val prebuildT0 = System.nanoTime()
    try {
      graft.queries.SimilarityQueries.prewarmStoredIndexes(spark, sfDir)
      graft.queries.TextQueries.prewarmStoredIndexes(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] index pre-pass failed: ${e.getMessage}")
    }
    val prebuildSec = (System.nanoTime() - prebuildT0) / 1e9
    // Force FULL materialization through the noop sink, not count():
    // count() lets the optimizer prune every column nobody aggregates —
    // a plan census (r13) found 66 of 275 queries losing work under
    // count(), from terminal window columns (q04's z-score: the whole
    // point of the query, timed at 0!) up to entire join+window subtrees
    // (t56's unique-key LEFT-join elimination). The noop write consumes
    // every output column and keeps the final sort, i.e. it times the
    // DECLARED result — the same work Verify's parquet dump pays, minus
    // encoding. Board totals re-baselined at the switch (SCALE.md).
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        Double.NaN
      }
    }
    // Mid-sweep contention gate: the r10 board needed 12 outlier re-runs
    // (vs 1 in r9) because load arrived DURING the sweep, after the
    // preflight gate passed. Before each query, if the 1-minute loadavg
    // is above the gate, wait a little — bounded by a global budget so a
    // permanently-loud machine costs minutes, not 2 min × 261 queries.
    // The budget RE-ARMS whenever the gate observes a quiet machine: the
    // exhaustible-budget escape hatch is only for sustained co-tenant
    // load, so a second spike hours into the sweep gets its own full
    // budget instead of inheriting an empty one (r11 gap: one long early
    // spike drained the budget and every later spike ran ungated).
    // Loadavg is minute-averaged so this can't dodge every spike, but it
    // stops a sustained co-tenant build from contaminating a long run of
    // consecutive queries.
    val midGateFullNs = 180L * 1000000000L
    var midGateBudgetNs = midGateFullNs
    // The mid-sweep threshold allows the sweep's OWN full-cpu load on
    // top of the co-tenant gate: loadavg cannot distinguish self from
    // co-tenant, and once queries get long enough to saturate the
    // worker pool (the sf1 board holds loadavg ≈ cpus for an hour) a
    // bare `loadGate` threshold self-triggers on the first query, burns
    // the whole budget sleeping on our own load, and never re-arms —
    // leaving real co-tenant spikes ungated. Preflight (measured before
    // any self-load exists) keeps the strict gate.
    val midGateLoad = loadGate + cpus.toDouble
    // (re-arm happens only at ENTRY on a quiet reading — re-arming inside
    // the wait loop could spin forever on load oscillating at the gate)
    def gateIfLoud(): Unit =
      if (osBean.getSystemLoadAverage <= midGateLoad) midGateBudgetNs = midGateFullNs
      else while (midGateBudgetNs > 0 && osBean.getSystemLoadAverage > midGateLoad) {
        Thread.sleep(2000)
        midGateBudgetNs -= 2L * 1000000000L
      }
    // min of two runs per query: damps shared-machine load spikes without
    // hiding real cost (both runs rebuild the full plan; only JVM/codegen
    // warmth carries over, which the warm-up pass already granted).
    val measured = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (name, _) => inScope(name) }
      .map { case (name, fn) =>
      gateIfLoud()
      val times = (1 to 2).map(_ => timeOnce(name, fn))
      // a failed query reports -1, never its time-to-exception (a broken
      // query must not read as a speedup)
      name -> (if (times.exists(_.isNaN)) -1.0 else times.min)
    }
    // Outlier re-run: any query >2.5× its canonical bench_full entry gets
    // TWO more attempts at sweep end, behind the load gate (load spikes
    // are transient; a real regression reproduces). min() keeps genuine
    // slowdowns visible when they repeat and removes them when they were
    // a one-off spike. Two attempts + the gate is the q63/s08-drift
    // playbook applied in-harness: a quiesced min-of-N, so watch items
    // stop reaching the verdict in the first place.
    // Record WHICH queries re-ran, not just how many: adjudicating a
    // board ("was q63 slow, or the machine?") needs the names, and the
    // r13 sf1 snapshot shipped with rerun_outliers=5 and no way to tell.
    val rerunNames = scala.collection.mutable.ListBuffer.empty[String]
    val results = measured.map { case (name, t) =>
      val ref = canonical.getOrElse(name, -1.0)
      name -> (if (t > 0 && ref > 0 && t > 2.5 * ref)
        (SparkEntry.queries ++ SparkEntry.benchOnly).get(name).map { fn =>
          rerunNames += name
          gateIfLoud()
          val reruns = (1 to 2).map(_ => timeOnce(name, fn)).filterNot(_.isNaN)
          (t +: reruns).min
        }.getOrElse(t)
      else t)
    }
    // free every session memo (c09's last bench lineage, the shared
    // dedup and co-purchase tables) now that all timing is done
    graft.core.SessionMemo.release()
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // Contention guard (r4's driver numbers were ~1.8× the uncontended truth
    // because another build was running): record host CPU count, the
    // 1-minute loadavg at gate entry and sweep end, the pre-flight wait,
    // and the outlier re-run count — a contended snapshot is
    // self-documenting instead of reading as a code regression.
    val loadAvg = osBean.getSystemLoadAverage
    def jsonLine(rs: Iterable[(String, Double)]): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = results.values.filter(_ >= 0).sum
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","action":"noop","host_cpus":$hostCpus,"loadavg_1m":${fmt(loadAvg)},"loadavg_preflight":${fmt(loadAtStart)},"preflight_wait_sec":${fmt(preflightWait)},"rerun_outliers":${rerunNames.size},"rerun_names":${rerunNames.map("\"" + _ + "\"").mkString("[", ",", "]")},"prebuild_sec":${fmt(prebuildSec)},"provenance":"${sys.env.getOrElse("SPARK_GRAFT_PROVENANCE", "driver")}","out":"$outPath"}"""
    }
    // The driver keeps only a ~2k-char tail of stdout; the full 80-query
    // map doesn't fit, so stdout carries the headline subset (cost drivers
    // + one per operator family) and the complete per-query map goes to a
    // file. `total` always sums over ALL measured queries.
    val headline = Seq(
      "q01_pricing_summary", "q02_kpi_by_year", "q03_star_join_revenue",
      "q04_zscore_events", "q23_hourly_agg", "q25_rank_family",
      "q29_asof_join", "q37_range_frame", "q43_kl_divergence",
      "q44_equidepth_hist", "c03_climate_fact", "t05_exact_dedup",
      "t06_jaccard_topk", "t07_minhash_lsh", "t13_pack_bins", "t14_tfidf",
      "t16_dedup_clusters", "s01_cosine_topk", "s04_ann_ivf",
      "st01_session_agg", "q47_merge_upsert", "q52_psi_drift",
      "s06_embedding_dedup", "q58_sessionize", "t26_bloom_decontaminate",
      "s07_ann_pq", "s08_semantic_dedup", "st03_dedup_enrich_agg",
      "q61_zorder_layout", "q63_pagerank_parts", "s10_matryoshka_overlap",
      "t28_leakage_safe_split", "s11_int8_quant", "s12_knn_graph",
      "s13_ann_int8", "t29_boilerplate", "q66_dsv2_source",
      "q67_weighted_mean_udaf", "s14_ann_ivfpq", "m04_frame_chunk_dedup",
      "q74_scalar_subquery", "q77_recursive_reach", "s15_ann_pq_stored",
      "s16_hybrid_rrf", "t32_bm25_topk", "st05_stream_stream_join",
      "q88_param_binding", "st07_funnel_chain", "t34_pmi_collocations",
      "q123_market_basket", "q127_hash_walks", "q129_table_profile",
      "q132_label_prop", "t43_sorted_neighborhood", "t45_bpe_train",
      "s26_ann_binary", "s27_ivf_recall", "c09_full_pipeline",
      "t53_dedup_chain_fresh")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath),
      jsonLine(results.toSeq.sortBy(_._1)))
    catch { case e: Throwable => System.err.println(s"[bench] full dump failed: $e") }
    val line = jsonLine(headline.flatMap(h => results.get(h).map(h -> _)))
    println(line)
    spark.stop()
    line
  }
}
