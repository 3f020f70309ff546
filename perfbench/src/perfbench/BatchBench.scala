package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.pipeline.LogsToMetrics
import graft.sinks.MetricsSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Main.noop

/** The two batch workloads.
  *
  *  - `backfill_json`: raw JSON messages (binary) → `Ingest.parseSchemaless`
  *    → `LogsToMetrics(Schemaless)` with 6 definitions → `writeBatch`.
  *  - `fanout_typed`: already-typed rows → `LogsToMetrics(Typed)` with 64
  *    definitions → `writeBatch`. No ingest.
  *
  * Input is generated once per run and cached in memory; a job runs from
  * the first program call on the cached input to the sink accepting the
  * last point.
  */
final class BatchBench(o: Main.Opts, r: Main.Result) {
  import BatchBench._

  private val json = o.workload == "backfill_json"
  private val yamlDefs = if (json) Defs.backfill else Defs.fanout
  private val n = if (json) BackfillMessages else FanoutRows
  private val trace = new Trace
  private val counters = new LayerCounters

  private def mode(input: DataFrame): LogsToMetrics.Mode =
    if (json) LogsToMetrics.Schemaless("msg") else LogsToMetrics.Typed(input.schema)

  private def parsed(input: DataFrame): DataFrame = if (json) Main.ingest(input) else input

  private var sinkPoints = 0L

  /** Input → points, as a user's job composes the program's calls. */
  private def points(defs: Seq[graft.model.MetricDefinition], input: DataFrame): DataFrame = {
    val p = trace.span("ingest.call")(parsed(input))
    trace.span("pipeline.call")(LogsToMetrics(defs, mode(input))(p))
  }

  def run(): Unit = {
    // input generation needs no Spark: it runs while the session starts
    val generated = Future(generate())(ExecutionContext.global)
    val (spark, defs) = Main.open(o, yamlDefs, trace)
    val (rows, oracle) = Await.result(generated, Duration.Inf)
    val input = load(spark, rows)
    Main.log(s"input generated: $n rows, ${oracle.points} expected points")
    val expected = oracle.points
    Jvm.reset()
    spark.sparkContext.addSparkListener(counters)

    val jobS, eps = mutable.ArrayBuffer.empty[Double]
    /** Per job: p50 and p99 of its points' latency; the run reports the
      * median job's, so one slow job does not set the p99.
      */
    val latP50, latP99 = mutable.ArrayBuffer.empty[Double]
    var latSamples = 0L
    val tracedJobS, tracedEps = mutable.ArrayBuffer.empty[Double]

    /** One complete job; checks every exported point against the oracle. */
    def fullJob(traced: Boolean): Unit = {
      Collect.drain(0)
      val t0 = Collect.nowMs()
      def body(): Unit = {
        val out = MetricsSink.formatted(points(defs, input))
        trace.span("sinks.call")(MetricsSink.writeBatch(out, Collect.sinkFor(0)))
      }
      r.attempted += 1 + expected
      try {
        if (traced) Main.inGroup(spark, "job")(trace.span("job")(body())) else body()
        val t1 = Collect.nowMs()
        val got = Collect.drain(0)
        r.failed += oracle.mismatches(got.map(_.point))
        val lastMs = if (got.isEmpty) t1 else got.map(_.atMs).max
        if (traced) {
          tracedJobS += (t1 - t0) / 1000; tracedEps += n / ((lastMs - t0) / 1000)
        } else {
          jobS += (t1 - t0) / 1000; eps += n / ((lastMs - t0) / 1000)
          val lat = got.map(_.atMs - t0)
          latP50 += Stats.quantile(lat, 0.5); latP99 += Stats.quantile(lat, 0.99); latSamples += lat.size
        }
      } catch {
        case e: Exception =>
          Main.log(s"job failed: $e")
          r.failed += 1 + expected
      }
    }

    (0 until WarmupJobs).foreach(_ => fullJob(traced = false)) // codegen, JIT, caches
    Main.log(s"warm-up jobs done: ${jobS.map(x => f"$x%.3f").mkString(" ")}")
    jobS.clear(); eps.clear(); latP50.clear(); latP99.clear(); latSamples = 0
    val measureEnd = Collect.nowMs() + o.seconds * 1000.0 / (if (o.trace) 2 else 1)
    var i = 0
    while (i < MinJobs * (if (o.trace) 2 else 1) || Collect.nowMs() < measureEnd) {
      fullJob(traced = o.trace && i % 2 == 1)
      i += 1
    }

    if (!o.trace) {
      r.put("events_per_s", Stats.median(eps))
      r.put("emit_latency_p50_ms", Stats.median(latP50))
      r.put("emit_latency_p99_ms", Stats.median(latP99))
      Main.log(s"${jobS.size} jobs ${jobS.map(x => f"$x%.3f").mkString(" ")}, $latSamples latency samples")
    } else {
      val staticPoints = Layers.staged(spark, trace, input, json, defs, mode(input))(
        f => Seq(LogsToMetrics(defs, mode(input))(f))) { pts =>
        Collect.drain(0)
        MetricsSink.writeBatch(MetricsSink.formatted(pts.head), Collect.sinkFor(0))
        val got = Collect.drain(0)
        r.attempted += 1 + expected
        r.failed += oracle.mismatches(got.map(_.point))
        sinkPoints = got.size
      }
      Layers.counts(if (json) Some(input) else None, parsed(input), defs, mode(input))
        .foreach { case (k, v) => r.put(k, v) }
      counters.settle()
      val jobGroup = counters.get("job")
      r.put("pipeline.points_out", staticPoints)
      r.put("pipeline.shuffle_bytes", counters.get("pipeline").shuffleBytes.get)
      r.put("pipeline.spill_bytes", counters.get("pipeline").spillBytes.get)
      r.put("sinks.points", sinkPoints)
      r.put("sinks.failed_writes", staticPoints - sinkPoints)
      r.put("spark.task_busy_share", jobGroup.runMs.get / (tracedJobS.sum * 1000 * Main.Cores))
      r.put("spark.gc_s", Jvm.gcS)
      r.put("jvm.peak_heap_mb", Jvm.peakHeapMb)
      r.put("trace.events_per_s", Stats.median(tracedEps))
      r.put("trace.overhead_frac", 1 - Stats.median(tracedEps) / Stats.median(eps))
      r.put("trace.job_s", Stats.median(jobS))
      Seq("ingest", "filter", "pipeline", "sinks")
        .foreach(l => r.put(s"$l.isolated_s", trace.selfS(l)))
      val m = mode(input)
      Layers.inJob(spark, trace,
        (if (json) Seq("ingest" -> (() => noop(parsed(input)))) else Nil) ++ Seq(
          "filter" -> (() => noop(parsed(input).filter(Layers.anyMatch(defs, m)))),
          "pipeline" -> (() => Layers.consume(MetricsSink.formatted(LogsToMetrics(defs, m)(parsed(input))))),
          "sinks" -> { () =>
            Collect.drain(0) // the previous cut's points
            MetricsSink.writeBatch(MetricsSink.formatted(points(defs, input)), Collect.sinkFor(0))
          }))
        .foreach { case (l, s) => r.put(s"$l.s", s) }
      r.attempted += 1 + expected
      r.failed += oracle.mismatches(Collect.drain(0).map(_.point))
      parallelEfficiency(spark, defs, rows)
      counters.settle()
    }
    val (setupS, parseMs, planMs) = Main.setup(o, yamlDefs, trace) { (spark, defs) =>
      val empty = spark.createDataFrame(java.util.List.of[Row](), if (json) RawSchema else TypedSchema)
      MetricsSink.formatted(points(defs, empty)).queryExecution.executedPlan
    }
    Main.log(f"set-up: median $setupS%.3f s")
    if (!o.trace) r.put("setup_s", setupS)
    else {
      r.put("model.config_parse_ms", parseMs)
      r.put("pipeline.plan_ms", planMs)
      trace.write(o.work.getParent.resolve("traces").resolve(s"${o.workload}-${o.seed}.jsonl"), counters)
    }
  }

  /** Ingest and pipeline on half of the input at `local[cores]` and at
    * `local[1]`, each the faster of two runs: efficiency = T1 / (cores ×
    * Tcores). Leaves a `local[1]` session active.
    */
  private def parallelEfficiency(spark: SparkSession, defs: Seq[graft.model.MetricDefinition],
      rows: java.util.List[Row]): Unit = {
    def probe(s: SparkSession, tag: String): (Double, Double) = {
      val half = s.createDataFrame(rows, if (json) RawSchema else TypedSchema)
        .filter(col("i") % 2 === 0).cache()
      half.count()
      def best(name: String)(body: => Unit) = (0 until 2).map { _ =>
        val t0 = Collect.nowMs(); trace.span(s"$name.$tag")(body); Collect.nowMs() - t0
      }.min
      val p = parsed(half)
      val ingestMs = if (json) best("ingest")(noop(p)) else 0.0
      p.cache().count()
      val pipelineMs = best("pipeline")(noop(LogsToMetrics(defs, mode(half))(p)))
      p.unpersist(); half.unpersist()
      (ingestMs, pipelineMs)
    }
    val (i4, p4) = probe(spark, s"local${Main.Cores}")
    spark.stop()
    val one = Main.session(o, 1)
    val (i1, p1) = probe(one, "local1")
    r.put("ingest.parallel_eff", if (json) i1 / (Main.Cores * i4) else 0.0)
    r.put("pipeline.parallel_eff", p1 / (Main.Cores * p4))
  }

  /** Generates the input in one seeded pass, feeding the oracle as it
    * goes. The rows stay in memory so that a new session can reload them.
    */
  private def generate(): (java.util.List[Row], Oracle) = {
    val gen = new EventGen(o.seed, users = if (json) 0 else 10000)
    val oracle = new Oracle(yamlDefs, schemaless = json)
    val rows = new java.util.ArrayList[Row](n)
    (0 until n).foreach { i =>
      val ts = BaseMs + gen.nextInt(if (json) BackfillSpanMs else FanoutSpanMs)
      rows.add(
        if (json) {
          val (bytes, ev) = gen.message(ts)
          ev.foreach(oracle.add)
          Row(bytes, i.toLong)
        } else {
          val e = gen.event(ts)
          oracle.add(e)
          Row(new java.sql.Timestamp(ts), e.severity, e.service, e.path, e.status, e.rt,
            if (e.bytes < 0) null else e.bytes, e.region, e.user, i.toLong)
        })
    }
    (rows, oracle)
  }

  /** The input as a cached, materialized frame of `spark`. */
  private def load(spark: SparkSession, rows: java.util.List[Row]): DataFrame = {
    // 4 partitions per core: a slow core delays a stage by a small task,
    // not by a quarter of the input
    val df = spark.createDataFrame(rows, if (json) RawSchema else TypedSchema)
      .repartition(4 * Main.Cores).cache()
    df.count()
    df
  }
}

object BatchBench {
  /** Input sizes. A job takes a few seconds on 4 cores, so a run measures
    * several jobs and reports their median.
    */
  val BackfillMessages = 300000
  val FanoutRows = 80000
  val MinJobs = 3
  val WarmupJobs = 2
  /** Event times start at 2026-01-01T00:00:00Z and span one hour
    * (backfill) or 30 minutes (fan-out).
    */
  val BaseMs = 1767225600000L
  val BackfillSpanMs = 3600000
  val FanoutSpanMs = 1800000

  val RawSchema = StructType(Seq(StructField("raw", BinaryType), StructField("i", LongType)))
  val TypedSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("severity", StringType),
    StructField("service", StringType), StructField("path", StringType),
    StructField("status", IntegerType), StructField("response_time", DoubleType),
    StructField("bytes", LongType), StructField("region", StringType),
    StructField("user", StringType), StructField("i", LongType)))
}
