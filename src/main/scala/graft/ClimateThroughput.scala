package graft

import graft.pipeline.{Climate, ClimateFixture}
import graft.sources.Sinks

/** Flagship-pipeline throughput benchmark: the FULL reference job-03
  * surface (4 gold parquet writes + 4 single-file CSV exports) on a
  * scaled fixture (1980-2024 daily × 200 stations → 456,600 fact rows).
  *
  * Reference comparison (same machine, local[32], Spark 4.1.2, same
  * fixture, the reference's exact PySpark chain incl. its uncached
  * extremes/export recomputes): reference 20.3-23.7 s; this engine
  * 15.4-17.8 s (~25-30% faster) — the win is the single cached fact
  * lineage serving all four fact-derived outputs where the reference
  * recomputes the cross-join + window chain per consumer (SURVEY.md §3.3).
  *
  * Since the fact lineage streams the station sample against a broadcast
  * Berkeley side and the CSV export writes its parts in parallel, this
  * main was re-run on a 4-core host (still local[32]): before, 33.3,
  * 31.2 and 32.5 s (a fourth run, 43.6 s, shared the host with a
  * compile); after, 32.3 and 31.8 s. One cold JVM runs the job once, so
  * session start-up, code generation and JIT warm-up dominate and the
  * change does not resolve here; the warm-pass effect is measured by
  * perfbench's climate_medallion workload.
  */
object ClimateThroughput {
  def main(args: Array[String]): Unit = {
    val dir = sys.props("user.dir") + "/target/graft-big-fixture"
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val b = d.resolve("berkeley_daily.txt"); val st = d.resolve("ghcnd_stations.txt")
    if (!java.nio.file.Files.exists(b))
      java.nio.file.Files.writeString(b, ClimateFixture.berkeleyTextFor(1980, 2024))
    if (!java.nio.file.Files.exists(st))
      java.nio.file.Files.writeString(st, ClimateFixture.stationsTextFor(200))

    val spark = Harness.session("32")
    val out = dir + "/gold_scala"
    val t0 = System.nanoTime()
    val g = Climate.run(spark, b.toString, st.toString)
    Sinks.parquetOverwrite(g.kpis, s"$out/kpis")
    Sinks.parquetOverwrite(g.stationsDim, s"$out/dim")
    Sinks.parquetOverwrite(g.fact, s"$out/fact")
    Sinks.parquetOverwrite(g.extremes, s"$out/extremes")
    Sinks.singleFileCsv(g.kpis, s"$out/kpis_csv")
    Sinks.singleFileCsv(g.stationsDim, s"$out/dim_csv")
    Sinks.singleFileCsv(g.fact, s"$out/fact_csv")
    Sinks.singleFileCsv(g.extremes, s"$out/extremes_csv")
    val dt = (System.nanoTime() - t0) / 1e9
    val n = spark.read.parquet(s"$out/fact").count()
    println(f"""{"metric":"climate_gold_full_job","value":$dt%.2f,"unit":"sec","fact_rows":$n}""")
    spark.stop()
  }
}
