package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** Pins the bit-equality contract between the native codegen'd graft_dot
  * expression and the built-in-HOF fold the DuckDB oracles mirror — the
  * parity every similarity oracle pairing depends on (Similarity.dot
  * doc). Null semantics must match exactly: null side, length mismatch,
  * and null element all poison the result; empty arrays fold to 0.0.
  */
class DotProductSpec extends SparkSpec {

  /** Built-in-HOF reference formulation, what [[Similarity.dot]] must
    * keep matching bit-for-bit. */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("graft_dot == dotHof on normal/null/mismatch/empty/NaN/null-element arrays") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0d, 2.0d, 3.0d),            array(4.0d, 5.0d, 6.0d)),
        |  (array(0.1d, 0.2d),                  array(0.3d, 0.7d)),
        |  (CAST(null AS array<double>),        array(1.0d)),
        |  (array(1.0d),                        CAST(null AS array<double>)),
        |  (array(1.0d, 2.0d),                  array(1.0d)),
        |  (CAST(array() AS array<double>),     CAST(array() AS array<double>)),
        |  (array(CAST('NaN' AS double), 1.0d), array(1.0d, 1.0d)),
        |  (array(1.0d, CAST(null AS double)),  array(1.0d, 1.0d)),
        |  (array(1.0d, 2.0d, 4.0d, 8.0d),      array(0.1d, 0.01d, 0.001d, 0.0001d)),
        |  (array(1e300d, 1e300d),              array(1e300d, -1e300d))
        |AS t(a, b)""".stripMargin)
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      dotHof(col("a"), col("b")).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"row $i null mismatch: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
               java.lang.Double.doubleToLongBits(r.getDouble(1)),
          s"row $i: native ${r.getDouble(0)} vs hof ${r.getDouble(1)}")
    }
    // expected null pattern: null side ×2, length mismatch, null element
    val nulls = rows.count(_.isNullAt(0))
    assert(nulls == 4, s"expected 4 null results, got $nulls")
    // empty arrays fold to 0.0 on both sides
    assert(rows.exists(r => !r.isNullAt(0) && r.getDouble(0) == 0.0))
  }

  test("public dot/cosine are registration-free (fresh-session safe)") {
    // must not require GraftFunctions.register: a brand-new session with
    // no graft registrations evaluates them fine
    val fresh = spark.newSession()
    import fresh.implicits._
    val df = Seq((Seq(3.0, 4.0), Seq(3.0, 4.0))).toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      round(Similarity.cosine(col("a"), col("b")), 9).as("c")).collect().head
    assert(r.getDouble(0) == 25.0 && r.getDouble(1) == 1.0)
  }
}
