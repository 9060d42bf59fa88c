package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.core.Publish

/** The reference's two sinks (SURVEY.md §2.2) and three more layouts: five
  * writers, all but [[bucketedTable]] published through [[Publish]]. */
object Sinks {

  /** K1: idempotent parquet layer write. At scale, callers should
    * `.repartition(n, keyCols)` or partitionBy a date column first; this
    * helper deliberately leaves partitioning to the caller.
    */
  def parquetOverwrite(df: DataFrame, path: String): Unit =
    Publish(df.sparkSession, path)(p => df.write.parquet(p.toString))

  /** K2: single-file CSV export for BI tools
    * (reference jobs/03_silver_to_gold.py:5-17): `path` becomes a
    * directory holding exactly one header-first `.csv` file, byte-identical
    * to what the reference's `coalesce(1)` write produces.
    *
    * The rows are written in parallel, one header-bearing part file per
    * non-empty partition (partition 0 always writes one), into the
    * publish's staging directory. The driver then concatenates the parts in
    * part-name order (partition order), keeping the first header only, and
    * deletes the parts. Column names must not contain a newline: the header
    * is taken to be the first line of each part.
    */
  def singleFileCsv(df: DataFrame, path: String): Unit = {
    require(!df.columns.exists(_.contains('\n')),
      s"singleFileCsv: a column name holds a newline: ${df.columns.mkString(", ")}")
    Publish(df.sparkSession, path) { out =>
      val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      val parts = new Path(out, "parts")
      df.write
        .option("header", "true")
        .option("delimiter", ",")
        .option("encoding", "UTF-8")
        .csv(parts.toString)
      val files = fs.listStatus(parts).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
        .sortBy(_.getName)
      concatenate(fs, files.toSeq, new Path(out, files.head.getName))
      fs.delete(parts, true)
    }
  }

  /** `files` into `out`: one header, then each file without its own,
    * which must be the same bytes. */
  private def concatenate(fs: FileSystem, files: Seq[Path], out: Path): Unit = {
    val header = firstLine(fs, files.head)
    val sink = fs.create(out)
    try {
      sink.write(header)
      files.foreach { f =>
        val in = fs.open(f)
        try {
          require(java.util.Arrays.equals(in.readNBytes(header.length), header),
            s"$f does not start with the header")
          in.transferTo(sink)
        } finally in.close()
      }
    } finally sink.close()
  }

  /** The first line of `f`, its newline included. */
  private def firstLine(fs: FileSystem, f: Path): Array[Byte] = {
    val in = fs.open(f)
    try {
      val line = new java.io.ByteArrayOutputStream()
      Iterator.continually(in.read()).takeWhile(_ >= 0).find { b => line.write(b); b == '\n' }
      line.toByteArray
    } finally in.close()
  }

  /** ORC layer write — the second columnar format Spark ships natively
    * (vectorized reader, predicate pushdown, column pruning — same scan
    * posture as parquet). Round-trip evidenced in TimeSeriesSpec.
    */
  def orcOverwrite(df: DataFrame, path: String): Unit =
    Publish(df.sparkSession, path)(p => df.write.orc(p.toString))

  /** Date/key-partitioned parquet layout — the 100 TB fact-table shape:
    * queries filtered on `partitionCols` scan only matching directories
    * (pruning evidenced in PartitionPruningSpec).
    */
  def partitionedParquet(df: DataFrame, path: String,
                         partitionCols: Seq[String]): Unit =
    Publish(df.sparkSession, path)(p =>
      df.write.partitionBy(partitionCols: _*).parquet(p.toString))

  /** Bucketed + sorted managed table: both sides of a repeated fact-fact
    * join written this way co-locate and join with zero shuffle
    * (evidenced in BucketingSpec). It keeps Spark's in-place overwrite:
    * a catalog table cannot be renamed into place by [[Publish]].
    */
  def bucketedTable(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
}
