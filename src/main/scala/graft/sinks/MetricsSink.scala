package graft.sinks

import graft.model.ExportTarget
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Export layer — re-expresses the reference's exporter stack
  * (/root/reference/beametrics/metrics_exporter.py:65-220,
  * /root/reference/beametrics/pipeline.py:211-233) on Spark:
  *
  *  - a [[MetricsSink]] is constructed once per partition (≡ DoFn.setup
  *    building clients once per worker, pipeline.py:216-223), rows stream
  *    through `write`, `close` flushes;
  *  - export errors are logged and swallowed by default (at-least-once,
  *    never fails the pipeline — metrics_exporter.py:116-119,
  *    pipeline.py:229-233), with a strict mode for tests;
  *  - the point format matches the reference local exporter's JSON line:
  *    `{"timestamp": …, "metric_name": …, "value": …, "labels": {…}}`
  *    (metrics_exporter.py:213-220).
  *
  * The GCM (Cloud Monitoring) variant is out of engine scope (network
  * client); [[formatted]] produces its request-shaped rows so an adapter
  * only needs transport.
  */
trait MetricsSink extends Serializable {
  def write(point: MetricPoint): Unit
  def close(): Unit = ()
}

/** One exported time-series point. */
final case class MetricPoint(
    timestamp: java.sql.Timestamp,
    metricName: String,
    value: Double,
    labels: Map[String, String]) {

  /** Reference local-exporter JSON line shape (metrics_exporter.py:213-220).
    * Timestamp renders as ISO-8601 UTC (Instant) — `java.sql.Timestamp
    * .toString` uses the JVM default timezone, which would make exported
    * lines host-dependent.
    */
  def toJsonLine: String = {
    def esc(s: String) =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val ls = labels.toSeq.sorted
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    val ts = java.time.Instant.ofEpochMilli(timestamp.getTime).toString
    s"""{"timestamp": "$ts", "metric_name": "${esc(metricName)}", "value": $value, "labels": $ls}"""
  }
}

final class ConsoleSink extends MetricsSink {
  def write(p: MetricPoint): Unit = println(p.toJsonLine)
}

object MetricsSink {

  /** Shape a LogsToMetrics/StreamingMetrics output frame into exportable
    * point rows (`window_end` is the reference's point timestamp — the
    * window close). A point without a value — a min/max/avg group whose
    * rows all lack the field — is dropped here, so no export path
    * reads a null `value`.
    */
  def formatted(df: DataFrame, metricNamePrefix: String = ""): DataFrame =
    df.filter(col("value").isNotNull).select(
      col("window_end").as("timestamp"),
      concat(lit(metricNamePrefix), col("metric")).as("metric_name"),
      col("value"),
      col("labels"))

  /** Route a (micro-)batch to per-metric sinks, constructed once per
    * partition. `strict = false` reproduces the reference's
    * log-and-continue export policy; `true` propagates failures.
    */
  def writeBatch(
      formatted: DataFrame,
      sinkFor: String => MetricsSink,
      strict: Boolean = false): Unit =
    formatted.foreachPartition { (rows: Iterator[Row]) =>
      val open = scala.collection.mutable.Map.empty[String, MetricsSink]
      try rows.foreach { r =>
        val p = MetricPoint(
          r.getTimestamp(r.fieldIndex("timestamp")),
          r.getString(r.fieldIndex("metric_name")),
          r.getDouble(r.fieldIndex("value")),
          r.getMap[String, String](r.fieldIndex("labels")).toMap)
        val sink = open.getOrElseUpdate(p.metricName, sinkFor(p.metricName))
        try sink.write(p)
        catch {
          case e: Exception if !strict =>
            // at-least-once: log and keep going (pipeline.py:229-233)
            System.err.println(s"[graft-sink] export failed for ${p.metricName}: ${e.getMessage}")
        }
      } finally open.values.foreach(_.close())
    }

  /** GCM CreateTimeSeriesRequest-shaped rows from a [[formatted]] frame.
    * Reference quirk preserved (metrics_exporter.py:76-78,104-111): the
    * point interval is the export timestamp floored to the MINUTE, and the
    * same aligned second is both interval start and end (a gauge-style
    * instant). The batch analog of export-time `time.time()` is the point's
    * own timestamp. Transport stays out of scope — an adapter serializes
    * these rows verbatim.
    */
  def gcmRequestShaped(formatted: DataFrame): DataFrame = {
    // ONE aligned expression aliased for both interval edges — the gauge
    // contract is start == end, so they must never drift apart
    val aligned = unix_timestamp(col("timestamp")) - unix_timestamp(col("timestamp")) % 60
    formatted.select(
      col("metric_name").as("metric_type"),
      lit("global").as("resource_type"), // series.resource.type (metrics_exporter.py:101)
      col("labels"),
      col("value").cast("double").as("double_value"),
      aligned.as("interval_end_seconds"),
      aligned.as("interval_start_seconds"))
  }

  /** One export target: its metric-name prefix and per-metric sink factory. */
  final case class Target(
      metricNamePrefix: String,
      sinkFor: String => MetricsSink)

  /** Fan ONE micro-batch out to several export targets (e.g. local JSON +
    * a monitoring adapter) from a single source read: the batch is cached
    * once, every target consumes the cached rows, then the cache is
    * released. The alternative — one writeStream per target — re-reads the
    * source and re-runs the windowed aggregation per target (SURVEY §7.5
    * risk 3), which at scale multiplies both the scan and the shuffle by
    * the number of targets.
    *
    * Targets degrade INDEPENDENTLY: each target's export is attempted even
    * when an earlier target throws (otherwise targets past the failing one
    * would fall behind while earlier ones already exported, and a retried
    * batch would duplicate to them — divergent histories). In default
    * (non-strict) mode a target's failure is logged and the batch
    * succeeds; in strict mode the first failure is rethrown AFTER all
    * targets were attempted, with later failures attached as suppressed.
    */
  def multiRouter(targets: Seq[Target], strict: Boolean = false): (DataFrame, Long) => Unit =
    (batch, _) => {
      val cached = batch.persist()
      try {
        val failures = targets.flatMap { t =>
          try { writeBatch(formatted(cached, t.metricNamePrefix), t.sinkFor, strict); Nil }
          catch {
            case e: Exception =>
              System.err.println(
                s"[graft-sink] target '${t.metricNamePrefix}' failed: ${e.getMessage}")
              Seq(e)
          }
        }
        if (strict && failures.nonEmpty) {
          failures.tail.foreach(failures.head.addSuppressed)
          throw failures.head
        }
      } finally cached.unpersist()
    }

  /** Metric-name prefix validation parity (main.py:134-147):
    * monitoring targets get the `custom.googleapis.com/` prefix.
    */
  def prefixFor(target: ExportTarget): String = target match {
    case ExportTarget.Local => ""
    case ExportTarget.Monitoring(_, prefix) => s"$prefix/"
  }

  /** Effectively-once wrapper for any foreachBatch body. Structured
    * Streaming re-delivers a micro-batch — SAME batchId — after a failure
    * or restart; an export sink without external transactions would then
    * double-emit every point of the replayed batch. This wrapper skips
    * batches whose commit marker exists and writes the marker only AFTER
    * the body succeeds (temp file + atomic rename, so a crash mid-commit
    * leaves no marker and the batch replays — at-least-once inside one
    * batch attempt, exactly-once across attempts).
    *
    * `commitDir` should live in the same durability domain as the query
    * checkpoint (the offsets that drive re-delivery); a path on the
    * checkpoint's filesystem is the natural choice. The marker write is
    * driver-side (foreachBatch bodies run on the driver) — one tiny file
    * per batch, independent of batch size.
    *
    * Markers are retained for the trailing `retainBatches` ids only:
    * Structured Streaming replays recent batches, never arbitrarily old
    * ones, so markers far behind the frontier are dead weight (a 10 s
    * trigger writes ~3M files/year unbounded). Each commit deletes
    * markers below `id - retainBatches` — a handful of best-effort
    * deletes per batch, amortized constant.
    */
  def idempotent(commitDir: String, retainBatches: Long = 1000L)(
      body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = (batch, id) => {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(retainBatches > 0, "retainBatches must be positive")
    val dir = Paths.get(commitDir)
    Files.createDirectories(dir)
    val marker = dir.resolve(s"batch-$id")
    if (Files.exists(marker)) {
      System.err.println(s"[graft-sink] batch $id already committed — skipping replay")
      // Skip the EXPORT only — the batch itself must still be processed: a
      // replayed micro-batch re-runs the stateful aggregation, and its
      // state-store commits are what move the query past the crashed
      // epoch (Spark validates per-batch store commits,
      // [STATE_STORE_COMMIT_VALIDATION_FAILED], and an unconsumed
      // foreachBatch frame commits nothing). One no-op pass over the
      // replayed batch — replays are rare and bounded by one trigger.
      batch.foreach((_: Row) => ())
    } else {
      body(batch, id)
      val tmp = dir.resolve(s".batch-$id.${java.util.UUID.randomUUID}.tmp")
      Files.write(tmp, Array.emptyByteArray)
      try Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a concurrent attempt won the rename — the batch IS committed
        case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp)
      }
      // retention: drop markers far behind the replay frontier
      val cutoff = id - retainBatches
      if (cutoff >= 0) {
        val stream = Files.list(dir)
        try stream.forEach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("batch-")) {
            scala.util.Try(name.stripPrefix("batch-").toLong).toOption
              .filter(_ < cutoff)
              .foreach(_ => scala.util.Try(Files.deleteIfExists(p)))
          }
        } finally stream.close()
      }
    }
  }
}
