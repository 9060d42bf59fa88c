package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.Parity

/** Evidence for the SCALE.md partitioned-layout claim: a date-partitioned
  * parquet write + a day filter produces a scan whose PartitionFilters
  * prune to the matching directories — the layout that makes time-bounded
  * queries touch days/total of 100 TB instead of all of it.
  */
class PartitionPruningSpec extends SparkSpec {

  test("date-partitioned write + day filter -> partition-pruned scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.sources.Sinks.partitionedParquet(
      Tables.events(spark, sf).withColumn("day", Parity.dayStr(col("ts"))),
      dir, Seq("day"))

    val allDays = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("day="))
    assert(allDays > 5, s"expected multiple day partitions, got $allDays")

    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("isnotnull(day") || plan.contains("day#")),
      s"expected partition filters in:\n$plan")
    // pruning is observable: the scanned files all come from one partition
    val files = q.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("day=2024-01-03")),
      s"scan leaked outside the pruned partition: ${files.take(3).mkString}")
  }

  test("IVF stored index: cell-partitioned write -> probe scan reads only probed cells") {
    // the at-scale IVF deployment SCALE.md describes, executed: vectors
    // labeled with their coarse cell, persisted partitioned by cell, and
    // an nprobe=2 probe scan provably touches only the two probed
    // partitions (nprobe/cells of the data, not all of it)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val assigned = graft.ext.IVF.assignTable(
      Tables.embeddings(spark, sf), "vec_id", "embedding", cells = 4, iters = 2)
    graft.sources.Sinks.partitionedParquet(assigned, dir, Seq("cell"))

    val probed = assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).limit(2)
      .collect().map(_.getInt(0))
    val q = spark.read.parquet(dir).filter(col("cell").isin(probed.map(Int.box): _*))
    val files = q.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty &&
      files.forall(f => probed.exists(c => f.contains(s"cell=$c"))),
      s"probe scan leaked outside cells ${probed.mkString(",")}: ${files.take(3).mkString}")
  }

  test("s36 stored IVF-PQ index: probe reads only probed-cell files of the REAL stored index") {
    // not a synthetic layout — this drives the very codes_by_cell table
    // the graded s36 query stores and probes (invoking the query builds
    // it behind its content stamp), then proves the file-level prune on it
    SparkEntry.queries("s36_ann_ivfpq_stored")(spark, sf)
    // pathKey, NOT the pre-r14 hashCode hex: the old expression kept
    // passing on machines where a stale r13-era index dir survived in
    // tmpdir, and would 404 on a fresh box
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_index_" +
      graft.core.StoredIndex.pathKey(sf) + "/codes_by_cell"
    val idx = spark.read.parquet(idxDir)
    val cells = idx.select("ccell").distinct().collect().map(_.getInt(0)).sorted
    assert(cells.length > 2, s"need >2 occupied cells to observe pruning, got ${cells.length}")
    val probed = cells.take(2)
    val files = idx.filter(col("ccell").isin(probed.map(Int.box): _*))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty &&
      files.forall(f => probed.exists(c => f.contains(s"ccell=$c"))),
      s"probe scan leaked outside cells ${probed.mkString(",")}: ${files.take(3).mkString}")
  }

  test("s45 stored residual IVF-PQ: probe prunes BOTH the codes and the cross-term tables to probed cells") {
    // the residual deployment stores TWO ccell-partitioned artifacts —
    // codes and the centroid×codeword cross terms; a probe must read only
    // probed directories of each (invoking the query builds the real
    // index behind its content stamp)
    SparkEntry.queries("s45_ann_respq_stored")(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_respq_index_" +
      graft.core.StoredIndex.pathKey(sf)
    for (side <- Seq("codes_by_cell", "cterm_by_cell")) {
      val idx = spark.read.parquet(s"$base/$side")
      val cells = idx.select("ccell").distinct().collect().map(_.getInt(0)).sorted
      assert(cells.length > 2, s"$side: need >2 cells to observe pruning, got ${cells.length}")
      val probed = cells.take(2)
      val files = idx.filter(col("ccell").isin(probed.map(Int.box): _*))
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(files.nonEmpty &&
        files.forall(f => probed.exists(c => f.contains(s"ccell=$c"))),
        s"$side scan leaked outside cells ${probed.mkString(",")}: ${files.take(3).mkString}")
    }
  }
}
