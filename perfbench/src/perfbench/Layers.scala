package perfbench

import scala.collection.mutable

import graft.model.MetricDefinition
import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import Main.{inGroup, noop}

/** Per-layer measurement shared by the workloads. */
object Layers {

  /** The OR gate over all definitions: rows passing it reach the fan-out. */
  def anyMatch(defs: Seq[MetricDefinition], m: LogsToMetrics.Mode) =
    defs.map(d => m.pred(d.filters)).reduce(_ || _)

  /** Each layer alone on pre-materialized input, under its own span and
    * job group: the layer call plus a noop write of its output is timed,
    * then the output is cached (untimed) as the next layer's input.
    * `input` is raw messages when `withIngest`, else records. Returns the
    * number of points the pipeline step produced.
    */
  def staged(spark: SparkSession, trace: Trace, input: DataFrame, withIngest: Boolean,
      defs: Seq[MetricDefinition], mode: LogsToMetrics.Mode)(
      pipeline: DataFrame => Seq[DataFrame])(sink: Seq[DataFrame] => Unit): Long = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { df.cache().count(); cached += df; df }
    try trace.span("staged") {
      val p =
        if (!withIngest) input
        else keep(trace.span("ingest") {
          val p = Main.ingest(input); inGroup(spark, "ingest")(noop(p)); p
        })
      val f = keep(trace.span("filter") {
        val f = p.filter(anyMatch(defs, mode)); inGroup(spark, "filter")(noop(f)); f
      })
      val pts = trace.span("pipeline") {
        val pts = pipeline(f); inGroup(spark, "pipeline")(pts.foreach(noop)); pts
      }.map(keep)
      trace.span("sinks")(inGroup(spark, "sinks")(sink(pts)))
      pts.map(_.count()).sum
    } finally cached.foreach(_.unpersist())
  }

  /** Self time of each layer inside the fused job. Spark runs a job's
    * layers as one pipelined plan, so a layer's share is measured by
    * cutting the job after it: `steps` are the job cut after each layer in
    * order (the last one is the whole job). The cuts run in turn,
    * `InJobRounds` times, each under a span and job group, so that drift
    * over the run reaches every cut alike. A layer's self time is the
    * median of its cut minus the median of the previous cut; the self
    * times add up to the whole job's median. The spread of each layer's
    * per-round self time is logged: the noise its figure carries.
    */
  def inJob(spark: SparkSession, trace: Trace, steps: Seq[(String, () => Unit)]): Seq[(String, Double)] = {
    val rounds = (0 until InJobRounds).map { _ =>
      steps.map { case (layer, run) =>
        System.gc() // each cut starts on a collected heap, not on the previous cut's garbage
        val t0 = Collect.nowMs()
        inGroup(spark, s"upto.$layer")(trace.span(s"upto.$layer")(run()))
        (Collect.nowMs() - t0) / 1000
      }
    }
    val layers = steps.map(_._1)
    val perRound = rounds.map(cuts => cuts.zip(0.0 +: cuts).map { case (t, prev) => t - prev })
    Main.log("in-job self s per round: " + layers.indices.map { i =>
      layers(i) + "=" + perRound.map(r => f"${r(i)}%.3f").mkString("/")
    }.mkString(" "))
    val medians = layers.indices.map(i => Stats.median(rounds.map(_(i))))
    layers.zip(medians.zip(0.0 +: medians).map { case (t, prev) => t - prev })
  }

  val InJobRounds = 3

  /** Runs `df` the way `MetricsSink.writeBatch` does, each partition's rows
    * handed to an iterator, with no sink behind it: the pipeline cut of
    * `inJob`, which then differs from the whole job by the sink's own work.
    */
  def consume(df: DataFrame): Unit = df.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))

  /** Work counters, counted outside the timed spans: records in/out of
    * ingest, dropped messages, messages that took the legacy-charset
    * cascade, input bytes, rows passing the OR gate, fan-out rows.
    */
  def counts(raw: Option[DataFrame], parsed: DataFrame, defs: Seq[MetricDefinition],
      mode: LogsToMetrics.Mode): Map[String, Double] = {
    def d(v: Any) = Option(v).fold(0.0)(_.toString.toDouble)
    val row = parsed.agg(
      count(lit(1)),
      sum(when(anyMatch(defs, mode), 1L).otherwise(0L)),
      defs.map(x => sum(when(mode.pred(x.filters), 1L).otherwise(0L))).reduce(_ + _)).head()
    val out = d(row.get(0))
    val ingest = raw.fold(Map("ingest.records_in" -> 0.0, "ingest.records_out" -> 0.0,
      "ingest.dropped" -> 0.0, "ingest.cascade_rows" -> 0.0, "ingest.bytes_in" -> 0.0)) { in =>
      val r = in.agg(
        count(lit(1)),
        sum(when(call_function("is_valid_utf8", col("raw")), 0L).otherwise(1L)),
        sum(length(col("raw")))).head()
      Map("ingest.records_in" -> d(r.get(0)), "ingest.records_out" -> out,
        "ingest.dropped" -> (d(r.get(0)) - out), "ingest.cascade_rows" -> d(r.get(1)),
        "ingest.bytes_in" -> d(r.get(2)))
    }
    ingest ++ Map(
      "filter.match_rows" -> d(row.get(1)),
      "filter.selectivity" -> d(row.get(1)) / out,
      "pipeline.fanout_rows" -> d(row.get(2)))
  }
}
