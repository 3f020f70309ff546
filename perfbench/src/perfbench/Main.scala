package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ingest.Ingest
import graft.model.{ConfigLoader, MetricDefinition}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Log-to-metrics benchmark entry point.
  *
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <BENCHMARK.json>` runs one
  * workload against the program's public entry points and prints one JSON
  * line as the last line of stdout:
  * `{"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}`.
  * Untraced runs report the end-to-end metrics; traced runs report the
  * per-layer metrics (see perfbench/LAYERS.md), as BENCHMARK.json names
  * them. Everything the run writes goes under the work dir.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, spec: Spec)

  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** Collected result of one run. Every metric must be declared in
    * BENCHMARK.json, which also gives its unit.
    */
  final class Result(units: Map[String, String]) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    def put(name: String, value: Double): Unit =
      metrics(name) = (value, units.getOrElse(name, sys.error(s"metric $name is not declared in BENCHMARK.json")))

    def json: String = {
      val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(w, seed, secs, tr, work, spec) = args
    val o = Opts(w, seed.toLong, secs.toInt, tr == "1", Paths.get(work).toAbsolutePath, new Spec(Paths.get(spec)))
    val declared = if (o.trace) o.spec.perLayer else o.spec.endToEnd
    val r = new Result(declared)
    o.workload match {
      case "backfill_json" | "fanout_typed" => new BatchBench(o, r).run()
      case "stream_tail" => new StreamTail(o, r).run()
      case other => sys.error(s"unknown workload $other")
    }
    log("workload done")
    SparkSession.getActiveSession.foreach(_.stop())
    log("session stopped")
    // a layer that does not run in a workload reports 0
    if (o.trace) declared.keys.foreach(k => if (!r.metrics.contains(k)) r.put(k, 0.0))
    // a missing or non-finite measurement fails the run: no result line
    val unmeasured = declared.keys.filter { k =>
      r.metrics.get(k).forall { case (v, _) => v.isNaN || v.isInfinite || (!o.trace && v <= 0) }
    }
    if (unmeasured.nonEmpty) {
      log(s"no measurement for ${unmeasured.mkString(", ")}: ${r.json}")
      sys.exit(2)
    }
    println(r.json)
    // a run whose output differs from the oracle fails
    sys.exit(if (r.failed == 0) 0 else 1)
  }

  def session(o: Opts, cores: Int = Cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // pools share the cores fairly: the stream gives each query a pool;
      // batch jobs all run in the default pool, first in first out
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The metric YAML parsed by the program's config loader. */
  def parseConfig(defs: Seq[Def]): Seq[MetricDefinition] =
    ConfigLoader.fromYaml(Def.yaml(defs)).map(_.definition)

  /** Ingest edge shared by the JSON workloads: raw bytes → parsed map with
    * the event time read from the message's `ts` (epoch ms).
    */
  def ingest(raw: DataFrame): DataFrame =
    Ingest.parseSchemaless(raw, "raw")
      .withColumn("ts", timestamp_millis(try_element_at(col("msg"), lit("ts")).cast("long")))

  /** The run's session and the workload's definitions, before anything
    * is measured.
    */
  def open(o: Opts, yamlDefs: Seq[Def], trace: Trace): (SparkSession, Seq[MetricDefinition]) =
    trace.span("open")((trace.span("spark.session")(session(o)), parseConfig(yamlDefs)))

  /** Set-up measured once the workload ran, so that the planner and
    * session code paths it shares with the jobs are compiled and set-up no
    * longer speeds up from one rep to the next: `SetupWarmups` unmeasured,
    * then `SetupReps` measured set-ups, each stopping the active session
    * and then timing SparkSession start, config parse and plan build.
    * Returns the medians (setup s, config-parse ms, plan ms); the last
    * session stays active.
    */
  def setup(o: Opts, yamlDefs: Seq[Def], trace: Trace)(plan: (SparkSession, Seq[MetricDefinition]) => Unit)
      : (Double, Double, Double) = {
    val total, parse, planMs = mutable.ArrayBuffer.empty[Double]
    (0 until SetupWarmups + SetupReps).foreach { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = Collect.nowMs()
      trace.span("setup") {
        val spark = trace.span("spark.session")(session(o))
        val t1 = Collect.nowMs()
        val defs = trace.span("model.config_parse")(parseConfig(yamlDefs))
        val t2 = Collect.nowMs()
        trace.span("pipeline.plan")(plan(spark, defs))
        parse += t2 - t1
        planMs += Collect.nowMs() - t2
      }
      total += (Collect.nowMs() - t0) / 1000
    }
    log("set-up reps ms: " + total.map(x => f"${x * 1000}%.0f").mkString(" "))
    def measured(xs: mutable.ArrayBuffer[Double]) = Stats.median(xs.drop(SetupWarmups))
    (measured(total), measured(parse), measured(planMs))
  }

  val SetupWarmups = 6
  val SetupReps = 9

  /** Runs `body` as one job group so its task counters land on `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally spark.sparkContext.clearJobGroup()
  }

  private val t0 = System.nanoTime()

  /** Progress note on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

}

/** Metric names and units as BENCHMARK.json declares them. */
final class Spec(path: Path) {
  private val root = new ObjectMapper().readTree(path.toFile)
  private def units(key: String): Map[String, String] = ListMap(root.get(key).elements().asScala.toSeq
    .map(m => m.get("name").asText -> m.get("unit").asText): _*)
  val endToEnd: Map[String, String] = units("end_to_end")
  val perLayer: Map[String, String] = units("per_layer")
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}
