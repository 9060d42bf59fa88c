package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark-side definition plus (when the
  * semantics are ANSI-SQL-expressible) the DuckDB oracle the driver
  * hash-compares against (repo:SparkEntry contract, SURVEY.md §5).
  *
  * Column names/aliases MUST match between `fn`'s output and `oracle`'s
  * SELECT list — the driver sorts columns by name before hashing.
  * Every query is made row-deterministic (explicit ORDER BY on both sides)
  * so the comparison never depends on partition order.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))

  /** A query with no SQL-expressible oracle (driver records rows-only). */
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}
