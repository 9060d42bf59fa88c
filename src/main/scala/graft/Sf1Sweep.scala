package graft

/** One-command repeatable sf1 sweep: Inflate (×10 over sf0.1, if the
  * inflated dir is missing) → full-board Bench against it → the
  * sf1/sf0.1 nonlinearity report (tools/sf1_ratio.py). Writes the
  * machine-readable snapshot to `bench_sf1.json` at the REPO ROOT (a
  * committed artifact — each round's sweep diffs against the previous
  * round's snapshot instead of re-deriving ratios from prose).
  *
  * CRASH-RESUMABLE since r15 (VERDICT r14 #4: a quiesced re-sweep died
  * 58 min in on Spark's uncaught-exception exit 56 and discarded
  * EVERYTHING): the board runs as per-family SEGMENTS (q, c, t, s, st,
  * m), each with its own checkpoint JSON under target/sf1_segments/ and
  * its own SparkSession (a fresh JVM-internal session per segment also
  * caps the dedup family's residency). A dead JVM costs one segment;
  * re-running Sf1Sweep skips checkpoints that already cover their
  * segment's query set at this sf, re-runs the rest, and merges
  * everything into bench_sf1.json at the end.
  *
  * The 64 g driver-heap requirement (SCALE.md "Full-board sf1 sweep":
  * the dedup family OOMs the default 8 g single-JVM heap at sf1 —
  * ordinary EXECUTOR memory on a real cluster, but local[n] puts it all
  * in one JVM) is ENCODED here, not just documented: the sweep refuses
  * to start under ~48 g of max heap rather than dying 700 s in.
  *
  * Usage: `SPARK_DRIVER_MEM=64g SPARK_GRAFT_CPUS=8 sbt "runMain
  * graft.Sf1Sweep"` — dev tooling like [[Inflate]]/[[ScaleCheck]], not
  * part of the shipped library.
  */
object Sf1Sweep {
  def main(args: Array[String]): Unit = {
    val maxHeapGb = Runtime.getRuntime.maxMemory / (1L << 30)
    require(maxHeapGb >= 48,
      s"sf1 sweep needs a 64 g driver heap (have ${maxHeapGb} g): the " +
        "dedup family's candidate state OOMs the default 8 g single-JVM " +
        "heap at sf1. Re-run with SPARK_DRIVER_MEM=64g.")
    val srcDir = Harness.sfDir
    val sf1Dir = "target/sf1"

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sf1Dir, "lineitem.parquet"))) {
      println(s"[sf1] inflating $srcDir -> $sf1Dir x10")
      Inflate.main(Array(srcDir, sf1Dir, "10"))
      // Inflate leaves a session behind; Bench.run builds its own
      Harness.stopSession()
    } else println(s"[sf1] reusing existing $sf1Dir")

    val segDir = java.nio.file.Paths.get("target", "sf1_segments")
    java.nio.file.Files.createDirectories(segDir)
    val allNames = Harness.registry.keySet
    def family(n: String): String = if (n.startsWith("st")) "st" else n.take(1)
    val families = Seq("q", "c", "t", "s", "st", "m")
    val unknown = allNames.filterNot(n => families.contains(family(n)))
    require(unknown.isEmpty, s"queries outside the segment families: $unknown")

    for (f <- families) {
      val names = allNames.filter(n => family(n) == f)
      val segPath = segDir.resolve(s"bench_sf1_$f.json").toString
      // a checkpoint counts only if it was measured at THIS sf with the
      // noop action AND covers every query the segment now holds — adding
      // a query to a family re-runs that family, nothing else
      // SPARK_GRAFT_SF1_FORCE=1 re-measures every segment while KEEPING
      // the existing checkpoint as the outlier-re-run canonical — the
      // re-sweep path when a completed board carried contention (each
      // segment's prior values gate the fresh ones at 2.5×)
      val force = sys.env.get("SPARK_GRAFT_SF1_FORCE").contains("1")
      val done = !force && Harness.Board.read(segPath).exists(b =>
        b.sf == sf1Dir && b.action == Harness.Board.Action &&
          names.subsetOf(b.queries.map(_._1).toSet))
      if (done) println(s"[sf1] segment $f: checkpoint covers ${names.size} queries, skipping")
      else {
        println(s"[sf1] segment $f: running ${names.size} queries")
        Bench.run(sf1Dir, Harness.cpus, segPath, Some(names))
        Harness.stopSession()
      }
    }

    // ---- merge segments into the canonical snapshot ----
    val segs = families.map(f =>
      Harness.Board.parse(java.nio.file.Files.readString(segDir.resolve(s"bench_sf1_$f.json"))))
    val queries = segs.flatMap(_.queries).sortBy(_._1)
    val merged = Harness.Board(
      total = queries.collect { case (_, v) if v >= 0 => v }.sum,
      queries = queries,
      sf = sf1Dir,
      action = Harness.Board.Action,
      hostCpus = Runtime.getRuntime.availableProcessors(),
      loadavg1m = segs.map(_.loadavg1m).max,
      loadavgPreflight = segs.map(_.loadavgPreflight).max,
      preflightWaitSec = segs.map(_.preflightWaitSec).sum,
      rerunNames = segs.flatMap(_.rerunNames),
      prebuildSec = segs.map(_.prebuildSec).filter(_ >= 0).sum,
      provenance = Harness.Board.provenance,
      out = "bench_sf1.json",
      segments = Some(families.size))
    Harness.Board.write("bench_sf1.json", merged)
    println(s"[sf1] merged ${queries.size} queries, total ${Harness.Board.fmt(merged.total)} s -> bench_sf1.json")

    // nonlinearity report vs the committed sf0.1 canonical — best-effort
    // (the analyzer is dev-side python; absence shouldn't fail the sweep)
    try {
      val p = new ProcessBuilder("python3", "tools/sf1_ratio.py",
        "bench_full.json", "bench_sf1.json").inheritIO().start()
      p.waitFor()
    } catch {
      case e: Throwable =>
        println(s"[sf1] ratio report skipped (${e.getMessage}); run: " +
          "python3 tools/sf1_ratio.py bench_full.json bench_sf1.json")
    }
  }
}
