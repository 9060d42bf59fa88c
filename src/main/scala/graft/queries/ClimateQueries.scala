package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.SessionMemo
import graft.pipeline.{Climate, ClimateFixture}

/** The flagship climate pipeline surfaced as named queries over the
  * deterministic fixture (FIXTURES.md §A). The kpis and stations_dim
  * tables get full DuckDB oracles — DuckDB re-parses the SAME raw text
  * files with its own SQL (regexp_split / substr), an independent
  * implementation of the whole bronze→silver→gold path.
  *
  * The fact table (c03) uses Spark's Murmur3 `hash` for its synthetic
  * noise (no DuckDB equivalent, SURVEY.md §7.5 risk 5). Since round 9 it
  * is FULLY oracled anyway: Verify stages the noise at its natural
  * (station_id, year, month) grain (`_staged_climate_noise`, see
  * [[Climate.noiseTable]]), and c03's oracle re-derives the ENTIRE
  * bronze→gold fact chain in DuckDB — raw-text re-parse, cross join,
  * baseline arithmetic, per-station z window, injection override — with
  * only those ~50×months noise scalars taken on trust (the
  * `_staged_ivf_centroids` precedent; noise exactness itself is
  * golden-tested bit-exact vs reference PySpark in ClimateSpec). The
  * DOWNSTREAM derivations (c04 extremes, c06 corrected monthly, c07
  * top-k, c08 geo means) are oracled from c03's staged parquet output
  * (`read_parquet('__GRAFT_OUT__/c03_climate_fact/...')` — Verify
  * substitutes the absolute output dir for [[ClimateQueries.OutToken]]
  * when writing oracle_sql.json).
  */
object ClimateQueries {

  /** Placeholder in oracle SQL for the Verify output dir (substituted by
    * graft.Verify at dump time, when the directory is known).
    */
  val OutToken = "__GRAFT_OUT__"

  private val stagedFact = s"read_parquet('$OutToken/c03_climate_fact/*.parquet')"

  private val stagedNoise =
    s"read_parquet('$OutToken/_staged_climate_noise/*.parquet')"

  private val stagedStats =
    s"read_parquet('$OutToken/_staged_climate_stats/*.parquet')"

  private def fixture(): (String, String) = ClimateFixture.default

  /** The Verify-staged noise table behind c03's oracle (SparkEntry.staged
    * wires this in). Deterministic across calls — pure hash arithmetic
    * over the fixture keys, no sampling or float accumulation.
    */
  def stagedNoiseTable(s: SparkSession): org.apache.spark.sql.DataFrame = {
    val (b, st) = fixture()
    val berkeley = Climate.berkeleySilver(Climate.ingestText(s, b, "t"))
    val dim = Climate.stationsDim(
      Climate.stationsSilver(Climate.ingestText(s, st, "t")))
    Climate.noiseTable(berkeley, dim).orderBy("station_id", "year", "month")
  }

  /** The Verify-staged per-station window stats behind c03's oracle —
    * pulled from the SAME session-memoized cached lineage the c03 dump
    * projects from, so mean/std are bit-identical to the values inside
    * the dumped z-scores (float window sums are summation-order-
    * sensitive; an independent recomputation could differ in the last
    * ulp and flip a round-3 boundary).
    */
  def stagedStatsTable(s: SparkSession): org.apache.spark.sql.DataFrame =
    gold(s).stationStats.orderBy("station_id")

  /** Spark-semantics round for DuckDB oracle SQL: Spark's `round(x, n)`
    * on doubles is HALF_UP over the SHORTEST decimal representation
    * (scala BigDecimal(double) = Double.toString), while DuckDB's double
    * `round` works on the exact binary expansion — they disagree exactly
    * at representation boundaries (round(2.385, 2): Spark 2.39, DuckDB
    * 2.38, because the nearest double is 2.38499…). Routing through
    * VARCHAR (DuckDB casts doubles to shortest round-trip form) and
    * DECIMAL (half-away-from-zero round, = HALF_UP for both signs)
    * reproduces Spark bit-for-bit.
    */
  private def rs(x: String, n: Int): String =
    s"CAST(round(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(35,17)), $n) AS DOUBLE)"

  // One pipeline build per session: the climate queries share a cached
  // fact lineage instead of re-running bronze→gold each (the reference's
  // recompute waste, SURVEY.md §4, fixed engine-side). Replacing the
  // memo's entry unpersists the previous session's lineage.
  private val goldMemo = SessionMemo[Climate.Gold](_.lineage.unpersist())

  // Bench-only composed-pipeline run (c09): the reference's actual shape
  // is three chained spark-submits producing FOUR gold tables off one
  // shared lineage (scripts/run_pipeline.sh:26-32) — timing it as one
  // unit makes a lost cache() in the shared climate lineage surface as a
  // board regression instead of hiding behind the per-query memo. Each
  // call builds a FRESH Gold (never the session memo — that would time a
  // no-op) and returns a union of the four tables' one-row counts, so
  // one count() action evaluates every gold leg. The previous bench
  // lineage is unpersisted before each build to keep repeat runs flat,
  // and SessionMemo.release() frees the last one after the board.
  private val benchLineage = SessionMemo[org.apache.spark.sql.DataFrame](_.unpersist())

  def fullPipelineFresh(s: SparkSession): org.apache.spark.sql.DataFrame =
    synchronized {
      benchLineage.clear()
      val (b, st) = fixture()
      val g = Climate.run(s, b, st)
      benchLineage.put(s, b, g.lineage)
      Seq("climate_kpis" -> g.kpis, "stations_dim" -> g.stationsDim,
        "climate_fact" -> g.fact, "climate_extremes" -> g.extremes)
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("table"), col("n_rows"))
        }
        .reduce(_ unionByName _)
    }

  private def gold(s: SparkSession): Climate.Gold = {
    val (b, st) = fixture()
    goldMemo(s, b)(Climate.run(s, b, st))
  }

  /** DuckDB-side re-implementation of the Berkeley text → silver parse. */
  private def berkeleySilverSql(path: String): String =
    s"""SELECT TRY_CAST(parts[2] AS INTEGER) AS year,
       |  TRY_CAST(parts[3] AS INTEGER) AS month,
       |  TRY_CAST(parts[4] AS INTEGER) AS day,
       |  TRY_CAST(parts[6] AS REAL) AS anomaly
       |FROM (
       |  SELECT regexp_split_to_array(trim(value), '\\s+') AS parts
       |  FROM read_csv('$path', delim='\\t', header=false, quote='',
       |                columns={'value': 'VARCHAR'})
       |  WHERE NOT starts_with(value, '%'))
       |WHERE TRY_CAST(parts[2] AS INTEGER) IS NOT NULL
       |  AND TRY_CAST(parts[3] AS INTEGER) IS NOT NULL
       |  AND TRY_CAST(parts[6] AS REAL) IS NOT NULL""".stripMargin

  /** DuckDB-side re-implementation of the GHCND fixed-width → silver parse. */
  private def stationsSilverSql(path: String): String =
    s"""SELECT trim(substr(value, 1, 11)) AS station_id,
       |  TRY_CAST(trim(substr(value, 13, 8)) AS REAL) AS latitude,
       |  TRY_CAST(trim(substr(value, 22, 9)) AS REAL) AS longitude,
       |  TRY_CAST(trim(substr(value, 32, 6)) AS REAL) AS elevation,
       |  trim(substr(value, 39, 2)) AS state,
       |  trim(substr(value, 42, 30)) AS name
       |FROM read_csv('$path', delim='\\t', header=false, quote='',
       |              columns={'value': 'VARCHAR'})
       |WHERE trim(substr(value, 1, 11)) IS NOT NULL
       |  AND TRY_CAST(trim(substr(value, 13, 8)) AS REAL) IS NOT NULL
       |  AND TRY_CAST(trim(substr(value, 22, 9)) AS REAL) IS NOT NULL""".stripMargin

  val all: Seq[QueryDef] = {
    val (bPath, stPath) = fixture()
    Seq(

      QueryDef("c01_climate_kpis",
        s"""SELECT year,
           |  round(avg(anomaly), 4) AS avg_global_anomaly,
           |  round(max(anomaly), 4) AS max_anomaly,
           |  round(min(anomaly), 4) AS min_anomaly,
           |  round(stddev(anomaly), 4) AS std_dev_anomaly,
           |  (SELECT count(*) FROM (${stationsSilverSql(stPath)})) AS station_count
           |FROM (${berkeleySilverSql(bPath)})
           |GROUP BY year ORDER BY year""".stripMargin) { (s, _) =>
        gold(s).kpis.orderBy("year")
      },

      QueryDef("c02_stations_dim",
        s"""SELECT station_id, name AS location, state AS country,
           |  latitude, longitude, elevation
           |FROM (${stationsSilverSql(stPath)})
           |ORDER BY station_id""".stripMargin) { (s, _) =>
        gold(s).stationsDim.orderBy("station_id")
      },

      // The full fact chain re-derived in DuckDB from raw text + the two
      // staged engine-trusted inputs: the Murmur3 noise grain (no DuckDB
      // form) and the 50 per-station window mean/std doubles (float
      // window sums are summation-order-sensitive — recomputing them in
      // DuckDB flips a z at the round-3 boundary). Everything else —
      // raw-text re-parse, deterministic sample, cross join, baseline
      // arithmetic, Spark-semantics rounding (rs), z formula with
      // 0-guard, injection override, §2.10 grain quirk, projection — is
      // independently recomputed. The combined CASE is equivalent to the
      // engine's compute-then-override order: the override branches
      // depend only on local_noise, so checking them first yields the
      // same value. `date` goes through dayStr/strftime on both sides
      // (string parity convention; the c04-c08 staged-fact oracles read
      // the string form).
      QueryDef("c03_climate_fact",
        s"""WITH sample AS (
           |  SELECT station_id, name AS location, latitude, longitude
           |  FROM (${stationsSilverSql(stPath)})
           |  ORDER BY station_id LIMIT 50),
           |j AS (
           |  SELECT b.year, b.month, s.station_id, s.location,
           |    s.latitude, s.longitude,
           |    ${rs("30.0::DOUBLE - 0.5::DOUBLE * abs(s.latitude)", 2)}
           |      AS baseline_temperature,
           |    n.local_noise,
           |    ${rs("b.anomaly + n.local_noise", 2)} AS temperature_anomaly
           |  FROM (SELECT * FROM (${berkeleySilverSql(bPath)})
           |        WHERE year >= 2000) b
           |  CROSS JOIN sample s
           |  JOIN $stagedNoise n ON n.station_id = s.station_id
           |    AND n.year = b.year AND n.month = b.month),
           |w AS (
           |  SELECT j.*, st.mean_anom AS m, st.std_anom AS sd
           |  FROM j JOIN $stagedStats st ON st.station_id = j.station_id)
           |SELECT year, month,
           |  strftime(make_date(year, month, 1), '%Y-%m-%d') AS date,
           |  station_id, location, latitude, longitude,
           |  ${rs("baseline_temperature + temperature_anomaly", 2)}
           |    AS avg_temperature,
           |  baseline_temperature, temperature_anomaly,
           |  CASE WHEN local_noise > 10.0 THEN 5.0
           |       WHEN local_noise < -10.0 THEN -5.0
           |       WHEN sd = 0 THEN 0.0
           |       ELSE ${rs("(temperature_anomaly - m) / sd", 3)} END AS z_score,
           |  CAST(30 AS INTEGER) AS record_count
           |FROM w
           |ORDER BY station_id, date, temperature_anomaly, z_score""".stripMargin) { (s, _) =>
        gold(s).fact
          .withColumn("date", Parity.dayStr(col("date")))
          .orderBy("station_id", "date", "temperature_anomaly", "z_score")
      },

      // Extremes re-derived in DuckDB from the staged fact: same |z| filter,
      // labeling, and projection (reference jobs/03_silver_to_gold.py:148-153).
      // `date` goes through dayStr on both sides (string parity convention).
      QueryDef("c04_climate_extremes",
        s"""SELECT date, station_id, location,
           |  temperature_anomaly, z_score,
           |  CASE WHEN z_score > 0 THEN 'EXTREME_HEAT' ELSE 'EXTREME_COLD' END AS event_type
           |FROM $stagedFact
           |WHERE abs(z_score) >= 2.5
           |ORDER BY station_id, date, temperature_anomaly, z_score""".stripMargin) { (s, _) =>
        gold(s).extremes
          .withColumn("date", Parity.dayStr(col("date")))
          .orderBy("station_id", "date", "temperature_anomaly", "z_score")
      },

      // notebook cell 11 (SURVEY.md §2.7 W2): monthly global series +
      // 12-month trailing moving average — oracled via DuckDB's own
      // re-parse of the raw fixture text + the same window frame.
      QueryDef("c05_monthly_moving_avg",
        s"""SELECT year, month,
           |  round(avg(anomaly), 4) AS monthly_anomaly,
           |  round(avg(avg(anomaly)) OVER (ORDER BY year, month
           |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 4) AS moving_avg_12m
           |FROM (${berkeleySilverSql(bPath)})
           |GROUP BY year, month ORDER BY year, month""".stripMargin) { (s, _) =>
        import graft.ops.Stats
        val (b, _) = fixture()
        val monthly = Climate.berkeleySilver(Climate.ingestText(s, b, "t"))
          .groupBy("year", "month")
          .agg(avg("anomaly").as("m_avg"))
        Stats.movingAvg(col("m_avg"), Seq(col("year"), col("month")), n = 12)(monthly)
          .select(col("year"), col("month"),
            round(col("m_avg"), 4).as("monthly_anomaly"),
            round(col("moving_avg"), 4).as("moving_avg_12m"))
          .orderBy("year", "month")
      },

      // SURVEY.md §2.10: the CORRECTED monthly grain the reference's
      // "monthly" fact should have had — aggregated per (station, month)
      // with a real record count. Oracled as a DuckDB aggregate over the
      // staged fact.
      QueryDef("c06_fact_monthly_corrected",
        s"""SELECT station_id, year, month,
           |  round(avg(temperature_anomaly), 4) AS avg_anomaly,
           |  round(avg(avg_temperature), 4) AS avg_temperature,
           |  count(*) AS record_count
           |FROM $stagedFact
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
        gold(s).fact
          .groupBy("station_id", "year", "month")
          .agg(round(avg("temperature_anomaly"), 4).as("avg_anomaly"),
            round(avg("avg_temperature"), 4).as("avg_temperature"),
            count(lit(1)).as("record_count"))
          .orderBy("station_id", "year", "month")
      },

      // notebook cell 18 (SURVEY.md §2.5 J2): per-station mean anomaly
      // with the dimension attributes for the geo view. The fact already
      // carries (location, latitude, longitude) per station, so the
      // DuckDB oracle groups by them directly — same rows as the
      // dimension join (fact stations ⊆ dim, attributes functionally
      // determined by station_id).
      QueryDef("c08_station_geo_means",
        s"""SELECT station_id, location, latitude, longitude,
           |  round(avg(temperature_anomaly), 4) AS mean_anomaly
           |FROM $stagedFact
           |GROUP BY 1, 2, 3, 4 ORDER BY station_id""".stripMargin) { (s, _) =>
        val g = gold(s)
        g.fact.groupBy("station_id")
          .agg(round(avg("temperature_anomaly"), 4).as("mean_anomaly"))
          .join(broadcast(g.stationsDim), Seq("station_id"))
          .select(col("station_id"), col("location"),
            col("latitude"), col("longitude"), col("mean_anomaly"))
          .orderBy("station_id")
      },

      // notebook cell 15 (SURVEY.md §2.8 L3): top-10 extremes by |z|,
      // deterministic tie-break (z_score closes the remaining tie between
      // a +z/−z pair with equal |z| and temperature_anomaly).
      QueryDef("c07_top_extremes",
        s"""SELECT date, station_id, location,
           |  temperature_anomaly, z_score,
           |  CASE WHEN z_score > 0 THEN 'EXTREME_HEAT' ELSE 'EXTREME_COLD' END AS event_type
           |FROM $stagedFact
           |WHERE abs(z_score) >= 2.5
           |ORDER BY abs(z_score) DESC, station_id, date, temperature_anomaly, z_score
           |LIMIT 10""".stripMargin) { (s, _) =>
        gold(s).extremes
          .withColumn("date", Parity.dayStr(col("date")))
          .orderBy(abs(col("z_score")).desc, col("station_id"), col("date"),
            col("temperature_anomaly"), col("z_score"))
          .limit(10)
      },

      // ---- composed-pipeline correctness IDENTITY: c09_full_pipeline
      //      times the reference's three-job composed shape (bench-only);
      //      this row hash-checks it. A FRESH shared lineage (the exact
      //      build c09 times) is compared table-by-table against the
      //      session-memoized per-query gold — the lineage c01-c04's
      //      hash-oracled rows are graded from — with exceptAll BOTH
      //      ways: bit-exact on every column, doubles included (same
      //      deterministic pipeline, so any difference is a real bug).
      //      The oracle pins the expected verdict, the q151-q153
      //      bound-audit pattern: a future cache-sharing bug that changes
      //      composed RESULTS (not just time) flips a boolean here and
      //      fails the driver's hash check. ----
      QueryDef("c09_pipeline_identity",
        """SELECT tbl, identical FROM (VALUES
          |  ('climate_extremes', true),
          |  ('climate_fact', true),
          |  ('climate_kpis', true),
          |  ('stations_dim', true)) AS t(tbl, identical)
          |ORDER BY tbl""".stripMargin) { (s, _) =>
        pipelineIdentity(s)
      },
    )
  }

  /** Build ONE fresh composed lineage and compare each gold table
    * against the memoized per-query gold — [[all]]'s c09 identity row.
    * exceptAll both ways ⇒ equal as multisets; the fresh lineage is
    * unpersisted before returning so the audit leaves no cache residue.
    */
  private def pipelineIdentity(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (b, st) = fixture()
    val fresh = Climate.run(s, b, st)
    val memoG = gold(s)
    val rows =
      try Seq(
        ("climate_extremes", fresh.extremes, memoG.extremes),
        ("climate_fact", fresh.fact, memoG.fact),
        ("climate_kpis", fresh.kpis, memoG.kpis),
        ("stations_dim", fresh.stationsDim, memoG.stationsDim))
        .map { case (n, a, m) =>
          (n, a.exceptAll(m).isEmpty && m.exceptAll(a).isEmpty)
        }
      finally {
        try fresh.lineage.unpersist() catch { case _: Throwable => () }
      }
    rows.toDF("tbl", "identical").orderBy("tbl")
  }
}
