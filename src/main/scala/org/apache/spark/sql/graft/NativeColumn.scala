package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ExpressionUtils}

/** A Column over a native Catalyst expression, with no function-registry
  * lookup: `build` receives the argument Columns as placeholders that the
  * session of the Dataset the Column is used on converts, so the Column
  * resolves on any session — including one that never registered the
  * engine's functions and one that is not active when the Column is
  * built. Lives under `org.apache.spark.sql` because the placeholder and
  * the Expression-to-Column conversion are package-private there.
  */
object NativeColumn {
  def apply(args: Column*)(build: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(build(args.map(a => ColumnNodeExpression(a.node))))
}
