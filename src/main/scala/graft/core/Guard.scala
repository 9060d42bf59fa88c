package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Loud gates for code paths that are intentionally super-linear.
  *
  * The engine's "no silent caps" discipline (SCALE.md) cuts both ways:
  * a bounded operator must say what it dropped, and an UNBOUNDED
  * quadratic one must refuse to run past its design envelope instead of
  * silently turning a 100 TB job into an all-pairs explosion. The exact
  * truth generators behind the evaluation harnesses (t46's all-pairs
  * Jaccard, s27's brute-force top-k) are the canonical users: they are
  * correct at any size but only AFFORDABLE at sampled size, so feeding
  * them a full-scale table is always a bug — this makes it a loud one.
  */
object Guard {

  /** Asserts `df` is within the explicit row gate for a quadratic
    * computation; returns `df` unchanged so it chains as a `.transform`.
    * The count is one cheap job against an input that the caller is
    * about to scan many times over anyway.
    */
  def quadratic(df: DataFrame, what: String,
                maxRows: Long = 200000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"$what: quadratic truth generation is gated at $maxRows input rows " +
        s"but got $n — sample the input explicitly or raise maxRows " +
        "deliberately (no silent caps, no silent blowups)")
    df
  }

  /** Asserts a driver-side collect stayed within its row bound: `rows` is
    * the result of `take(maxRows + 1)`, so more than `maxRows` rows means
    * the input exceeded the bound. Returns `rows` unchanged; fails loudly
    * instead of truncating (no silent caps).
    */
  def driverRows(rows: Array[Row], what: String, maxRows: Int): Array[Row] = {
    require(rows.length <= maxRows,
      s"$what: driver-side collect is gated at $maxRows rows but got more — " +
        "use a smaller input or raise maxRows deliberately (no silent caps)")
    rows
  }
}
