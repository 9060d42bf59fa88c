package graft

import graft.core.{Profile, StoredIndex}
import graft.pipeline.{Climate, ClimateFixture}
import graft.queries.TextQueries
import graft.sources.Sinks

/** Job and task budgets: a pinned count fails on a fixed-cost regression
  * (an extra job, a stage funnelled into one task) without depending on
  * timings.
  */
class JobBudgetSpec extends SparkSpec {

  test("climate pass: the cached fact lineage builds in shuffle-partitions tasks; Climate.run + 8 sinks run 15 jobs") {
    // fresh input paths, so no lineage another suite cached is reused
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs")
    val (b, st) = ClimateFixture.writeTo(dir.resolve("in").toString)
    val out = dir.resolve("gold")
    val (lineage, p) = Profile.of(spark) {
      val g = Climate.run(spark, b, st)
      val tables = Seq("kpis" -> g.kpis, "dim" -> g.stationsDim,
        "fact" -> g.fact, "extremes" -> g.extremes)
      tables.foreach { case (t, df) => Sinks.parquetOverwrite(df, out.resolve(t).toString) }
      tables.foreach { case (t, df) => Sinks.singleFileCsv(df, out.resolve(t + "_csv").toString) }
      g.lineage
    }
    val (n, done) = (p.jobs, p.stages)
    lineage.unpersist(blocking = true)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a stage that holds the cached lineage's RDD builds or reads the cache
    val cached = done.filter(_.rddInfos.exists(_.storageLevel.isValid))
    assert(cached.nonEmpty, "no stage touched the cached lineage")
    val building = cached.minBy(_.stageId)
    assert(building.numTasks == parts,
      s"the lineage-building stage runs ${building.numTasks} tasks, not $parts")
    // no stage moves station×day rows (shuffled or written) in fewer tasks:
    // not the cross join feeding the window, not a CSV export
    val factRows = spark.read.parquet(out.resolve("fact").toString).count()
    val narrow = done.filter { s =>
      val m = s.taskMetrics
      math.max(m.shuffleWriteMetrics.recordsWritten, m.outputMetrics.recordsWritten) >= factRows &&
        s.numTasks < parts
    }
    assert(narrow.isEmpty, s"stages move the $factRows fact rows in fewer than $parts tasks: " +
      narrow.map(s => s"stage ${s.stageId} (${s.numTasks} tasks) ${s.name}").mkString("; "))
    assert(n == 15, s"Climate.run + 8 sinks ran $n jobs")
  }

  // Spark jobs of one warm, noop-forced run, the DataFrame's build
  // included: a collect() that runs while a DataFrame is built (a
  // probed-cell pull, a codebook iteration) is invisible to a plan diff
  // but not to this count. The llm_curation ops first, then the ANN
  // entries whose build runs driver pulls.
  private val pinnedJobs = Seq(
    "t05_exact_dedup" -> 4, "t06_jaccard_topk" -> 6,
    "t55_prefix_pairs_stored" -> 6, "s01_cosine_topk" -> 5,
    "s06_embedding_dedup" -> 7, "m04_frame_chunk_dedup" -> 4,
    "m06_wav_frame_rms" -> 3,
    "s07_ann_pq" -> 16, "s14_ann_ivfpq" -> 27, "s15_ann_pq_stored" -> 10,
    "s36_ann_ivfpq_stored" -> 17, "s40_ann_ivfpq_residual" -> 34,
    "s45_ann_respq_stored" -> 20, "s32_ann_ivf2" -> 7)

  test("jobs of a warm forced run, build included, are pinned per entry") {
    val got = pinnedJobs.map { case (name, _) =>
      val fn = SparkEntry.queries(name)
      Harness.force(fn(spark, sf)) // warm: stored indexes built, tables resolved
      name -> profile(Harness.force(fn(spark, sf))).jobs
    }
    info(got.map { case (q, n) => s"$q=$n" }.mkString(" "))
    val off = pinnedJobs.zip(got).collect { case ((q, want), (_, n)) if n != want => s"$q: $n jobs, pinned $want" }
    assert(off.isEmpty, off.mkString("; "))
  }

  test("text-index prebuild: a fresh corpus builds the three families in 45 jobs; a new session reuses them in 12") {
    // a copy of the suite's documents in a new directory: no index of
    // any family is published for it yet
    val dir = java.nio.file.Files.createTempDirectory("graft_text_jobs").toString
    spark.read.parquet(s"$sf/documents.parquet").write.parquet(s"$dir/documents.parquet")
    val indexes = Seq(StoredIndex.location("prefix_index", dir),
      StoredIndex.location("prefix_index", dir, "_cap20"),
      StoredIndex.location("stable_prefix_index", dir))
    try {
      val build = profile(TextQueries.prewarmStoredIndexes(spark, dir)).jobs
      assert(indexes.forall(i => java.nio.file.Files.exists(i.resolve(StoredIndex.Marker))))
      val other = spark.newSession()
      val reuse = Profile.of(other)(TextQueries.prewarmStoredIndexes(other, dir))._2.jobs
      info(s"build $build jobs, reuse $reuse jobs")
      assert((build, reuse) == (45, 12))
    } finally indexes.foreach(i => org.apache.commons.io.FileUtils.deleteDirectory(i.toFile))
  }
}
