package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** `PlanBridge.overStandIn`: steps built over a stand-in leaf, with the
  * caller's plan put back in its place, give the plan the steps give when
  * applied to the caller's frame directly. `PlanBridge.overInput` takes
  * that path only over an input holding many local rows or a long lineage.
  */
class PlanBridgeSpec extends SparkSpec {
  import spark.implicits._

  /** A plan's tree with every expression id renumbered by first appearance. */
  private def normalized(p: LogicalPlan): String = {
    val ids = mutable.Map.empty[String, Int]
    "#\\d+".r.replaceAllIn(p.treeString(verbose = true), m => "#" + ids.getOrElseUpdate(m.matched, ids.size))
  }

  /** Steps with a projection, a filter, a generator and an aggregation. */
  private def steps(in: DataFrame): DataFrame =
    in.withColumn("y", col("x") * 2)
      .filter(col("y") > 1)
      .select(col("*"), explode(array(col("y"), col("y") + 1)).as("e"))
      .groupBy(col("k")).agg(sum(col("e")).as("total"))

  private def plain: DataFrame = spark.range(0, 20).select(($"id" % 3).as("k"), $"id".as("x"))

  /** `overStandIn(df)(steps)`, checking that the steps see only a stand-in
    * for `df`: an empty relation with `df`'s output, and no node of its plan.
    */
  private def viaLeaf(df: DataFrame): DataFrame = {
    val input = df.queryExecution.analyzed
    val inputNodes = input.collect { case n => n }
    PlanBridge.overStandIn(df) { in =>
      val seen = in.queryExecution.analyzed
      seen match {
        case l: LocalRelation =>
          assert(l.data.isEmpty && l.output == input.output && l.isStreaming == df.isStreaming)
        case other => fail(s"steps saw more than a stand-in leaf:\n$other")
      }
      assert(seen.collect { case n => n }.forall(n => !inputNodes.exists(_ eq n)))
      steps(in)
    }
  }

  /** The optimized plan; a streaming frame's is the optimizer run on its
    * analyzed plan, as `optimizedPlan` refuses streaming sources.
    */
  private def optimized(df: DataFrame): LogicalPlan = {
    val qe = df.queryExecution
    if (df.isStreaming) qe.sparkSession.sessionState.optimizer.execute(qe.analyzed) else qe.optimizedPlan
  }

  private def samePlan(df: DataFrame, built: DataFrame => DataFrame = viaLeaf): Unit = {
    val got = normalized(optimized(built(df)))
    val want = normalized(optimized(steps(df)))
    assert(got == want, s"\n$got\n---\n$want")
  }

  test("plain input: the stand-in's result plans as the steps applied directly") {
    samePlan(plain)
    assert(viaLeaf(plain).collect().toSet == steps(plain).collect().toSet)
  }

  test("cached input: same plan, still read from the cache") {
    val cached = plain.cache()
    try {
      cached.count()
      samePlan(cached)
      val p = viaLeaf(cached).queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"), p)
      assert(viaLeaf(cached).collect().toSet == steps(plain).collect().toSet)
    } finally cached.unpersist()
  }

  test("streaming input: same plan over a streaming stand-in") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("k", "x")
    assert(stream.isStreaming)
    samePlan(stream)
    assert(viaLeaf(stream).isStreaming)
  }

  test("overInput takes the stand-in only over more than StandInRows local rows or StandInNodes operators") {
    val n = PlanBridge.StandInRows
    val empty = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), plain.schema)
    val few = (0L until n).map(i => (i % 3, i)).toDF("k", "x")
    val many = (0L to n).map(i => (i % 3, i)).toDF("k", "x")
    def lineage(ops: Int) = (1 to ops).foldLeft(plain)((d, k) => d.filter($"x" > -k))
    val (short, long) = (lineage(PlanBridge.StandInNodes - 2), lineage(PlanBridge.StandInNodes - 1))
    assert(short.queryExecution.analyzed.collect { case p => p }.size == PlanBridge.StandInNodes)
    val cached = many.filter($"x" > 0).cache()
    try for ((input, standIn) <- Seq(plain -> false, empty -> false, few -> false, short -> false,
        few.union(few) -> true, many -> true, cached -> true, long -> true)) {
      val analyzed = input.queryExecution.analyzed
      var seen: LogicalPlan = null
      val built = PlanBridge.overInput(input) { in => seen = in.queryExecution.analyzed; steps(in) }
      if (standIn) assert(seen.isInstanceOf[LocalRelation] && seen.children.isEmpty && !(seen eq analyzed))
      else assert(seen eq analyzed)
      samePlan(input, PlanBridge.overInput(_)(steps))
      assert(built.collect().toSet == steps(input).collect().toSet)
    } finally cached.unpersist()
  }

  test("steps that do not read their input exactly once, as it is, fail when built") {
    for (input <- Seq(plain, Seq((1L, 2L)).toDF("k", "x"))) {
      def rejected(bad: DataFrame => DataFrame): Unit = {
        val e = intercept[IllegalArgumentException](PlanBridge.overStandIn(input)(bad))
        assert(e.getMessage.contains("the steps must read their input exactly once"), e.getMessage)
      }
      rejected(in => in.join(in, Seq("k"))) // a self-join copies the leaf
      rejected(in => in.union(in))
      rejected(_ => spark.range(1).toDF("k"))
    }
  }
}
