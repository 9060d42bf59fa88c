package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator` UDAF — the third native-extension tier the engine
  * demonstrates (Catalyst `Expression`s with codegen: DotProduct/MinHash;
  * optimizer `Rule`: ApproxDistinctRewrite; typed `Aggregator`: this).
  * Held as `GraftFunctions.weightedMean` via `functions.udaf`; SQL calls
  * it as `graft_wmean(x, w)`.
  *
  * Weighted mean with EXACT decimal accumulation: both partial sums are
  * unlimited-precision BigDecimal adds, so reduce/merge are associative
  * and commutative in the mathematical sense — the result is independent
  * of partitioning and merge order (the property that makes a custom
  * aggregate safe under partial aggregation + AQE re-planning at any
  * scale, and hash-oracleable cross-engine: DuckDB's DECIMAL sum reaches
  * the identical rational, so the final double cast matches bit-for-bit).
  * The naive double-accumulator version is order-dependent and would
  * flicker under round(…, 6) at partition boundaries.
  *
  * Callers pass DECIMAL-cast columns (`.cast("decimal(18,6)")`) — the
  * one rounding step happens at that cast, identically on both engines.
  */
object WeightedMean extends Aggregator[
    (java.math.BigDecimal, java.math.BigDecimal),   // (x, w) as exact decimals
    (java.math.BigDecimal, java.math.BigDecimal),   // (Σ x·w, Σ w)
    Double] {
  private val Z = java.math.BigDecimal.ZERO
  override def zero: (java.math.BigDecimal, java.math.BigDecimal) = (Z, Z)
  override def reduce(b: (java.math.BigDecimal, java.math.BigDecimal),
                      in: (java.math.BigDecimal, java.math.BigDecimal)) =
    if (in._1 == null || in._2 == null) b
    else (b._1.add(in._1.multiply(in._2)), b._2.add(in._2))
  override def merge(a: (java.math.BigDecimal, java.math.BigDecimal),
                     b: (java.math.BigDecimal, java.math.BigDecimal)) =
    (a._1.add(b._1), a._2.add(b._2))
  /** Double division LAST (mirrors the oracle's CAST(sum AS DOUBLE) /
    * CAST(sum AS DOUBLE)) — a BigDecimal divide would need an arbitrary
    * scale choice and diverge from SQL semantics.
    */
  override def finish(b: (java.math.BigDecimal, java.math.BigDecimal)): Double =
    if (b._2.signum == 0) Double.NaN
    else b._1.doubleValue() / b._2.doubleValue()
  override def bufferEncoder: Encoder[(java.math.BigDecimal, java.math.BigDecimal)] =
    Encoders.tuple(Encoders.DECIMAL, Encoders.DECIMAL)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
