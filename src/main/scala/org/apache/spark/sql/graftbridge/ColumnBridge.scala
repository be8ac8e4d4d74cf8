package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ⇄ Expression bridge for graft's parameterized native expressions.
  *
  * Spark 4 removed the public `Column(expr)` constructor; the supported
  * seam for libraries registering STATELESS functions is
  * `SparkSessionExtensions.injectFunction` (which [[graft.GraftExtensions]]
  * uses for the vector metrics and the text operators; its builders cross
  * this bridge to call the Column operators). Model-carrying expressions
  * ([[graft.functions.NearestCentroid]] and friends close over fitted
  * centroids/codebooks, which have no SQL literal form) can't go through
  * the function registry, so this one-liner — in an `org.apache.spark.sql`
  * subpackage to satisfy `private[sql]` — wraps them the same way Spark's
  * own `functions` object does internally. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` fully converted, as `Dataset.select` converts it: an
    * [[expression]] may still wrap column nodes that only the conversion
    * of an enclosing column resolves, so a function builder, which hands
    * its result straight to the analyzer, needs this form. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
