package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one sanctioned crossing into Spark's `private[sql]` surface:
  * Column ↔ Expression converters (`classic.ExpressionUtils`), needed to
  * build a Column from an expression that the public FunctionRegistry path,
  * whose builders only receive child Expressions, cannot spell. Two
  * expressions carry such a payload:
  *  - [[graft.functions.BloomBitTest]]: a broadcast word array;
  *  - [[ParseMessage]] (this package; ingest's parse): a Jackson factory
  *    built from `JSONOptions`, itself `private[sql]`.
  *
  * Kept deliberately tiny (two forwarders, no logic) so the private-API
  * contact surface is auditable in one screenful; everything else in graft
  * uses the public DataFrame/Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
