package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** How a pipeline call builds its plan and how the sink runs it, with the
  * driver-side work of each done once.
  *
  * Spark analyzes every DataFrame step eagerly, over the caller's whole
  * plan, and each analysis walks every operator of it and every row its
  * local relations hold: a call of k steps over a long lineage or many
  * local rows walks them k times on the driver while the executors wait.
  * [[overInput]] walks them once per call. [[foreachInternalPartition]]
  * runs the plan a frame was analyzed and planned with, where
  * `Dataset.foreachPartition` analyzes and plans it a second time, around
  * a `Row` deserializer.
  */
object PlanBridge {

  /** An input plan is worth a stand-in when analyzing it once per step
    * costs more than the stand-in's one more analysis of the steps: when
    * its local relations hold more than `StandInRows` rows, or it has more
    * than `StandInNodes` operators. Building and planning a benchmark job
    * on 4 vCPU (median of 20 builds) took the same time both ways, within
    * noise, over up to 2,000 local rows and over a parquet scan with up to
    * 30 operators above it; the stand-in was faster from 4,000 to 8,000
    * rows on (about 2x at 30,000) and with 100 operators.
    */
  val StandInRows = 4000
  val StandInNodes = 32

  /** `steps(df)`, through [[overStandIn]] when `df`'s plan is worth it
    * (see [[StandInRows]]), else applied to `df` as they are.
    */
  def overInput(df: DataFrame)(steps: DataFrame => DataFrame): DataFrame = {
    val nodes = df.queryExecution.analyzed.collectWithSubqueries { case n => n }
    val rows = nodes.collect { case l: LocalRelation => l.data.size.toLong }.sum
    if (rows > StandInRows || nodes.size > StandInNodes) overStandIn(df)(steps) else steps(df)
  }

  /** `steps(df)`, with `df`'s plan analyzed once: the steps are built over
    * a stand-in leaf holding `df`'s output attributes (same ids, types,
    * nullability and metadata), then `df`'s analyzed plan takes the leaf's
    * place and the whole is analyzed by `Dataset.ofRows`, with every
    * analyzer and check rule, so a cached `df` is still read from its cache.
    *
    * Over the stand-in, the steps must read their input exactly once. A
    * step that copies the leaf (a self-join, which `DeduplicateRelations`
    * rewrites with new attribute ids) or reads it inside a subquery would
    * otherwise run on an empty relation, so it fails here instead.
    */
  def overStandIn(df: DataFrame)(steps: DataFrame => DataFrame): DataFrame = {
    val input = df.queryExecution.analyzed
    val session = df.sparkSession.asInstanceOf[SparkSession]
    val leaf = LocalRelation(input.output, Nil, df.isStreaming)
    val built = steps(Dataset.ofRows(session, leaf)).queryExecution.analyzed
    val reads = built.collectWithSubqueries {
      case l: LocalRelation if l.data.isEmpty && l.schema == leaf.schema && l.isStreaming == leaf.isStreaming => l
    }.size
    var replaced = 0
    val plan = built.transformUp { case l if l eq leaf => replaced += 1; input }
    require(reads == 1 && replaced == 1,
      s"the steps must read their input exactly once, as it is: found $reads reads and $replaced in place")
    Dataset.ofRows(session, plan)
  }

  /** Runs `df`'s own executed plan, as one SQL execution (so listeners,
    * `Dataset.observe` among them, see it), and hands `f` each partition's
    * rows in Spark's internal form, in `df.schema`'s column order.
    */
  def foreachInternalPartition(df: DataFrame)(f: Iterator[InternalRow] => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.executedPlan.resetMetrics()
      qe.toRdd.foreachPartition(f)
    }
  }
}
