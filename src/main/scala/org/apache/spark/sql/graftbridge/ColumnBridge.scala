package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression converters (`classic.ExpressionUtils`), needed to
  * build a Column from an expression that the public FunctionRegistry path,
  * whose builders only receive child Expressions, cannot spell. Two
  * expressions carry such a payload:
  *  - [[graft.functions.BloomBitTest]]: a broadcast word array;
  *  - [[ParseMessage]] (this package; ingest's parse): a Jackson factory
  *    built from `JSONOptions`, itself `private[sql]`.
  *
  * This package is the core's one crossing into Spark's `private[sql]`
  * surface and its logical plans. Everything it offers:
  *  - `ColumnBridge.column` and `ColumnBridge.expression`, two forwarders;
  *  - [[ParseMessage]], ingest's one parse per message;
  *  - [[PlanBridge.overInput]] and [[PlanBridge.overStandIn]], which build
  *    a pipeline call's steps over a stand-in leaf so that the caller's
  *    plan is analyzed once per call;
  *  - [[PlanBridge.foreachInternalPartition]], which runs a frame's own
  *    plan and hands over Spark's internal rows, for
  *    `MetricsSink.writeBatch`.
  * Kept small so the private-API contact surface is auditable in a few
  * screenfuls; everything else in graft uses the public DataFrame/Column
  * API, apart from `writeBatch`'s reads of the internal rows it is handed.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
