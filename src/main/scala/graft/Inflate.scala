package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf-inflation tool: writes an sf≥1-equivalent copy of a testdata dir by
  * unioning `mult` key-shifted copies of every table, preserving
  * referential integrity (each copy's fact keys point at that copy's dim
  * keys, so joins neither break nor cross copies) and the corpus
  * STRUCTURE the LLM-pipeline families measure:
  *
  *  - documents: copy i>0 gets a per-copy suffix token, so copies are
  *    NEAR-dups of their original (Jaccard just under 1) — dedup /
  *    clustering queries see mult-sized clusters, the ScaleCheck fixture
  *    shape, instead of a degenerate exact-dup corpus;
  *  - embeddings: copy i>0 is the original vector plus a small per-copy
  *    offset — ANN cells/buckets grow mult× with preserved geometry;
  *  - region/nation stay fixed (real dims don't scale with facts).
  *
  * Purpose: the full-board sf1 bench (SCALE.md "sf1 sweep") — the
  * per-query sf1/sf0.1 ratio is the nonlinearity detector the sf0.1
  * board can't provide. NOT part of the shipped library; dev tooling
  * like [[ScaleCheck]]. Output lands under target/ (never touches
  * /root/testdata).
  *
  * Usage: `sbt "runMain graft.Inflate [srcDir] [outDir] [mult]"`
  * (defaults /root/testdata/sf0.1 → target/sf1 × 10).
  */
object Inflate {

  def main(args: Array[String]): Unit = {
    val src  = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out  = if (args.length > 1) args(1) else "target/sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session(Harness.cpus)

    // Key strides: far above any sf0.1 key, divisible by the small
    // moduli queries use for sampling (% 50, % 10), so per-copy query
    // densities match the original.
    val ORD = 100000000L // l/o_orderkey
    val KEY = 10000000L  // custkey/partkey/suppkey/user_id/doc_id/vec_id/event_id

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    def inflate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => shift(df, i)).reduce(_ unionByName _)

    def shiftCol(df: DataFrame, c: String, stride: Long, i: Int): DataFrame =
      df.withColumn(c, col(c) + lit(stride * i))

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> load("region"),
      "nation" -> load("nation"),
      "customer" -> inflate(load("customer"))((d, i) =>
        shiftCol(d, "c_custkey", KEY, i)),
      "supplier" -> inflate(load("supplier"))((d, i) =>
        shiftCol(d, "s_suppkey", KEY, i)),
      "part" -> inflate(load("part"))((d, i) =>
        shiftCol(d, "p_partkey", KEY, i)),
      "orders" -> inflate(load("orders"))((d, i) =>
        shiftCol(shiftCol(d, "o_orderkey", ORD, i), "o_custkey", KEY, i)),
      "lineitem" -> inflate(load("lineitem"))((d, i) =>
        shiftCol(shiftCol(shiftCol(
          d, "l_orderkey", ORD, i), "l_partkey", KEY, i), "l_suppkey", KEY, i)),
      "events" -> inflate(load("events"))((d, i) =>
        shiftCol(shiftCol(d, "event_id", KEY, i), "user_id", KEY, i)),
      "documents" -> inflate(load("documents"))((d, i) =>
        shiftCol(d, "doc_id", KEY, i)
          .withColumn("text",
            if (i == 0) col("text")
            else concat(col("text"), lit(s" copyvariant$i")))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      "embeddings" -> inflate(load("embeddings"))((d, i) =>
        shiftCol(d, "vec_id", KEY, i)
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else transform(col("embedding"),
              x => (x + lit(i * 1e-3f)).cast("float")))),
    )

    // optional 4th arg: comma-separated table subset — a ×1000
    // embeddings-only decade (the ivf2 crossover probe) must not pay a
    // ×1000 lineitem write. NOTE: always inflate from sf0.1 (stride ×
    // copy-index must stay collision-free; re-inflating an inflated dir
    // reuses the same strides and collides keys).
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    tables.filter { case (t, _) => only.forall(_.contains(t)) }
      .foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[inflate] $t -> $out/$t.parquet")
      }
    spark.stop()
  }
}
