package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType}
import graft.ops.{Anomaly, Parse, Stats}

/** The flagship pipeline: the reference's full Bronze → Silver → Gold
  * medallion flow re-expressed Spark-first, producing the same four gold
  * tables with the same values (reference jobs/01..03; SURVEY.md §1.3).
  *
  * Documented deviations from the reference (SURVEY.md §7.5):
  *  - the 50-station sample is `orderBy(station_id).limit(50)` instead of a
  *    nondeterministic bare `limit(50)` (reference 03:77) — deterministic
  *    by design;
  *  - the fact lineage is cached once and reused for the extremes table
  *    instead of recomputed (reference recomputes the whole cross-join +
  *    window per consumer, SURVEY.md §3.3) — same results, one pass.
  */
object Climate {

  // ---------- Bronze (reference jobs/01_ingest_to_bronze.py) ----------

  /** Raw text → one `value` row per line + lineage columns. */
  def ingestText(spark: SparkSession, path: String, source: String): DataFrame = {
    graft.core.GraftConf.ensure(spark)
    spark.read.text(path)
      .withColumn("ingestion_date", current_timestamp())
      .withColumn("source", lit(source))
  }

  // ---------- Silver (reference jobs/02_bronze_to_silver.py) ----------

  /** Berkeley daily lines → (year int, month int, day int, anomaly float).
    * Comment lines dropped; token indices 1,2,3,5 of the 6-token layout
    * (SURVEY.md §1.4); rows with null year/month/anomaly dropped.
    */
  def berkeleySilver(bronze: DataFrame): DataFrame =
    bronze
      .transform(Parse.tokens(Seq(
        Parse.TokenField(1, "year", IntegerType),
        Parse.TokenField(2, "month", IntegerType),
        Parse.TokenField(3, "day", IntegerType),
        Parse.TokenField(5, "anomaly", FloatType))))
      .transform(Parse.dropNullRows(Seq("year", "month", "anomaly")))

  /** GHCND fixed-width station lines → typed station table; rows with null
    * id/lat/lon dropped (reference 02:54-63).
    */
  def stationsSilver(bronze: DataFrame): DataFrame =
    bronze
      .transform(Parse.fixedWidth(Seq(
        Parse.FixedField(1, 11, "station_id"),
        Parse.FixedField(13, 8, "latitude", Some(FloatType)),
        Parse.FixedField(22, 9, "longitude", Some(FloatType)),
        Parse.FixedField(32, 6, "elevation", Some(FloatType)),
        Parse.FixedField(39, 2, "state"),
        Parse.FixedField(42, 30, "name"))))
      .transform(Parse.dropNullRows(Seq("station_id", "latitude", "longitude")))

  // ---------- Gold (reference jobs/03_silver_to_gold.py) ----------

  /** climate_kpis: yearly global KPI stats + static station count
    * (reference 03:33-43). `stationCount` is the silver stations row count,
    * re-entering the plan as a literal exactly as the reference does.
    */
  def kpis(berkeley: DataFrame, stationCount: Long): DataFrame =
    berkeley.groupBy("year").agg(
      round(avg("anomaly"), 4).as("avg_global_anomaly"),
      round(max("anomaly"), 4).as("max_anomaly"),
      round(min("anomaly"), 4).as("min_anomaly"),
      round(stddev("anomaly"), 4).as("std_dev_anomaly"))
      .withColumn("station_count", lit(stationCount))

  /** stations_dim: projection/rename (name→location, state→country;
    * reference 03:55-62).
    */
  def stationsDim(stations: DataFrame): DataFrame =
    stations.select(
      col("station_id"),
      col("name").as("location"),
      col("state").as("country"),
      col("latitude"), col("longitude"), col("elevation"))

  /** climate_anomalies_monthly — despite the name, station × DAY grain
    * (SURVEY.md §2.10, must-replicate quirk): daily global anomalies
    * (year ≥ 2000) cross-joined with ≤50 stations, synthetic local noise
    * keyed on (station_id, year, month), per-station z-scores with
    * zero-guard and injection override, `day` dropped from the projection
    * but not aggregated, record_count a constant 30.
    */
  def factTable(berkeley: DataFrame, dim: DataFrame): DataFrame =
    factProject(factLineage(berkeley, dim))

  /** The fact chain UP TO the final projection — keeps the per-station
    * window stats (`station_mean_anom`, `station_std_anom`) so the c03
    * oracle can stage them from the SAME materialized lineage the fact is
    * dumped from (float window sums are summation-order-sensitive, so an
    * independent recomputation could flip a z at the 3-dp boundary; one
    * shared cache of this frame makes fact + staged stats bit-consistent
    * by construction). Callers cache THIS and project.
    *
    * The station sample is the stream side of the cross join, hash
    * partitioned on `station_id` into the session's shuffle-partition
    * count, and the year ≥ 2000 Berkeley silver is the broadcast side. So
    * the station×day rows are produced in parallel tasks, already
    * clustered for the per-station window, which needs no exchange. The
    * count is explicit because AQE coalesces a by-column repartition
    * without one down to a single task. Each station's rows still reach
    * the window in Berkeley file order (one stream row meets the whole
    * broadcast side in order), so the float window sums, and with them
    * the stats and z-scores, are added in the same order as a Berkeley-
    * streamed join that shuffles by station.
    */
  def factLineage(berkeley: DataFrame, dim: DataFrame): DataFrame = {
    val base   = berkeley.filter(col("year") >= 2000)
    val sample = stationSample(dim)
    val keys   = Seq(col("station_id"), col("year"), col("month"))

    val parts = berkeley.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val withNoise = sample.repartition(parts, col("station_id"))
      .crossJoin(broadcast(base))
      .select((base.columns ++ sample.columns).toSeq.map(col): _*)
      .withColumn("baseline_temperature",
        round(lit(30.0) - lit(0.5) * abs(col("latitude")), 2))
      .transform(Anomaly.deterministicNoise(keys))
      .transform(Anomaly.injectExtremes(keys))
      .withColumn("temperature_anomaly",
        round(col("anomaly") + col("local_noise"), 2))
      .withColumn("avg_temperature",
        round(col("baseline_temperature") + col("temperature_anomaly"), 2))

    val w = Window.partitionBy("station_id")
    withNoise
      .withColumn("station_mean_anom", avg("temperature_anomaly").over(w))
      .withColumn("station_std_anom", stddev("temperature_anomaly").over(w))
      .withColumn("z_score",
        when(col("station_std_anom") === 0, 0.0)
          .otherwise(round(
            (col("temperature_anomaly") - col("station_mean_anom")) /
              col("station_std_anom"), 3)))
      .transform(Anomaly.overrideInjectedZ())
      .withColumn("date", expr("make_date(year, month, 1)"))
      .withColumn("record_count", lit(30))
  }

  /** The ≤50 stations the fact covers: the lowest ids, a deterministic
    * sample (documented deviation from the reference's bare limit(50)).
    * [[factLineage]] and [[noiseTable]] share it, so c03's staged noise
    * covers exactly the fact's stations.
    */
  private def stationSample(dim: DataFrame): DataFrame =
    dim.orderBy("station_id").limit(50)

  /** [[factLineage]] → the reference's published fact columns. */
  def factProject(lineage: DataFrame): DataFrame =
    lineage.select(col("year"), col("month"), col("date"),
      col("station_id"), col("location"), col("latitude"), col("longitude"),
      col("avg_temperature"), col("baseline_temperature"),
      col("temperature_anomaly"), col("z_score"), col("record_count"))

  /** Per-station window stats exactly as they sit inside [[factLineage]]
    * (one row per station — the window value is constant across the
    * partition). Staged by Verify as `_staged_climate_stats` so c03's
    * oracle re-derives z from the same mean/std doubles instead of
    * re-accumulating float sums in a different order.
    */
  def stationStats(lineage: DataFrame): DataFrame =
    lineage.select(col("station_id"),
      col("station_mean_anom").as("mean_anom"),
      col("station_std_anom").as("std_anom"))
      .distinct()

  /** The fact table's synthetic-noise column at its NATURAL grain —
    * one row per (station_id, year, month) with the post-injection
    * `local_noise` value. This is the ONLY engine-trusted input the fact
    * chain has (Murmur3 has no DuckDB form, SURVEY.md §7.5 risk 5):
    * Verify stages it so c03's oracle can re-derive the ENTIRE
    * bronze→gold fact chain in DuckDB — cross join, baseline arithmetic,
    * per-station z window, injection override, projection — with only
    * these ~50×months scalars taken on trust (the `_staged_ivf_centroids`
    * precedent). Key columns and their types are EXACTLY [[factTable]]'s
    * hash inputs (string station_id, int year/month, same column order),
    * so the values are bit-identical to the fact's internal noise.
    */
  def noiseTable(berkeley: DataFrame, dim: DataFrame): DataFrame = {
    val keys = Seq(col("station_id"), col("year"), col("month"))
    berkeley.filter(col("year") >= 2000)
      .select(col("year"), col("month")).distinct()
      .crossJoin(broadcast(stationSample(dim).select(col("station_id"))))
      .transform(Anomaly.deterministicNoise(keys))
      .transform(Anomaly.injectExtremes(keys))
      .select(col("station_id"), col("year"), col("month"), col("local_noise"))
  }

  /** climate_extremes: |z| ≥ 2.5 rows of the fact, labeled
    * EXTREME_HEAT / EXTREME_COLD (reference 03:148-153).
    */
  def extremes(fact: DataFrame): DataFrame =
    fact
      .transform(Stats.extremes(col("z_score"),
        highLabel = "EXTREME_HEAT", lowLabel = "EXTREME_COLD"))
      .select(col("date"), col("station_id"), col("location"),
        col("temperature_anomaly"), col("z_score"), col("event_type"))

  // ---------- Full run ----------

  final case class Gold(kpis: DataFrame, stationsDim: DataFrame,
                        fact: DataFrame, extremes: DataFrame,
                        stationStats: DataFrame, lineage: DataFrame)

  /** End-to-end: raw text files → four gold DataFrames (+ the staged
    * station-stats side table). The PRE-projection fact lineage is cached
    * — one cross-join + window pass serves fact, extremes, AND the staged
    * stats, and `lineage` is the handle callers unpersist.
    */
  def run(spark: SparkSession, berkeleyPath: String, stationsPath: String): Gold = {
    val berkeley = berkeleySilver(ingestText(spark, berkeleyPath, "Berkeley_Earth"))
    val stations = stationsSilver(ingestText(spark, stationsPath, "NOAA_Stations"))
    val dim      = stationsDim(stations)
    val lineage  = factLineage(berkeley, dim).cache()
    val fact     = factProject(lineage)
    Gold(kpis(berkeley, stations.count()), dim, fact, extremes(fact),
      stationStats(lineage), lineage)
  }
}
