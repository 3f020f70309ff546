package graft.streaming

import graft.model.MetricDefinition
import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming face of the engine — the reference's native mode
  * (an unbounded Pub/Sub stream windowed into metric points,
  * /root/reference/beametrics/pipeline.py:164-186).
  *
  * Differences from the batch transform (graft.pipeline.LogsToMetrics),
  * both forced by Spark's streaming model:
  *  - Windows use `window(ts, size)` instead of the integer epoch-floor
  *    math: Spark's watermark/event-time tag propagates only through the
  *    built-in window function, and its bucketing is the identical
  *    epoch-floor (TimeWindow start = ts - (ts - offset) % size).
  *  - One streaming aggregation per DISTINCT window size (window size must
  *    be a plan-time literal per aggregation). Configs sharing a size share
  *    one single-pass fan-out aggregation, exactly like the batch path.
  *
  * Late-data policy: the reference drops late records (Beam default,
  * allowed lateness 0 — SURVEY.md §2.3); `watermarkDelay = "0 seconds"`
  * reproduces that, and is configurable for real deployments.
  *
  * Scale: each query is scan → watermark → explode of the matching
  * definition ids → partial agg → shuffle by (window, definition family
  * id, dynamic label values) → stateful final agg. The metric name and
  * static labels are attached from the family id after the aggregation,
  * so they stay out of the shuffle and the state key; state per
  * key-window is evicted at watermark — bounded by live windows × label
  * cardinality.
  */
object StreamingMetrics {

  /** Attach the metric pipeline to a streaming DataFrame. Returns one
    * streaming DataFrame per distinct window size (start each with
    * `writeStream`; append mode emits exactly one point per closed window,
    * matching the reference's emit-on-window-close).
    */
  def attach(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      mode: LogsToMetrics.Mode,
      tsCol: String = "ts",
      watermarkDelay: String = "0 seconds"): Seq[DataFrame] = {
    require(defs.nonEmpty, "at least one metric definition")
    defs.groupBy(_.effectiveWindowSizeSec).toSeq.sortBy(_._1).map { case (wsize, group) =>
      attachWindowed(stream, group, mode, tsCol, watermarkDelay,
        ts => window(ts, s"$wsize seconds"))
    }
  }

  /** Sliding-window variant: each event lands in windowSize/slide
    * overlapping windows (Spark's window() with a slide duration — the
    * streaming twin of the batch q_sliding_window shape). Same one
    * aggregation per distinct window size, same append-mode
    * emit-on-window-close; state grows by the overlap factor (each key
    * holds size/slide live windows), still watermark-evicted.
    */
  def attachSliding(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      slideSec: Long,
      mode: LogsToMetrics.Mode,
      tsCol: String = "ts",
      watermarkDelay: String = "0 seconds"): Seq[DataFrame] = {
    require(defs.nonEmpty, "at least one metric definition")
    require(slideSec > 0, "slide must be positive")
    defs.groupBy(_.effectiveWindowSizeSec).toSeq.sortBy(_._1).map { case (wsize, group) =>
      attachWindowed(stream, group, mode, tsCol, watermarkDelay,
        ts => window(ts, s"$wsize seconds", s"$slideSec seconds"))
    }
  }

  /** Gap-based session-window variant (Spark's session_window — the
    * streaming twin of the batch q_session_window shape): windows are
    * per-key activity bursts separated by ≥ `gapSec` of silence, so
    * per-config window sizes don't apply — every def shares the gap and
    * ONE streaming aggregation. A session closes (and emits, append mode)
    * when the watermark passes its end; state per key is the single open
    * session, merged as micro-batches extend it.
    */
  def attachSession(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      gapSec: Long,
      mode: LogsToMetrics.Mode,
      tsCol: String = "ts",
      watermarkDelay: String = "0 seconds"): DataFrame = {
    require(defs.nonEmpty, "at least one metric definition")
    require(gapSec > 0, "session gap must be positive")
    attachWindowed(stream, defs, mode, tsCol, watermarkDelay,
      ts => session_window(ts, s"$gapSec seconds"))
  }

  /** Shared shape for every window kind: one scan, one shuffle, N configs.
    * The fan-out itself is LogsToMetrics.FanOut — identical semantics to
    * the batch path by construction; `winFn` supplies the
    * tumbling/sliding/session grouping column over the fanned-out
    * event-time.
    *
    * No OR gate here: Spark pushes a deterministic filter that does not
    * read the event-time column below `EventTimeWatermark`, so a gated row
    * that matches no definition would never advance the watermark and a
    * quiet metric's window would stay open. Such a row explodes to no
    * definition id instead, above the watermark.
    */
  private def attachWindowed(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      mode: LogsToMetrics.Mode,
      tsCol: String,
      watermarkDelay: String,
      winFn: Column => Column): DataFrame = {
    val fo = new LogsToMetrics.FanOut(defs, mode, epochWindows = false)
    // Normalize TIMESTAMP_NTZ BEFORE the watermark: Spark rejects NTZ
    // watermark columns outright ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]).
    fo.rows(LogsToMetrics.ltzEventTime(stream, tsCol).withWatermark(tsCol, watermarkDelay), tsCol)
      .groupBy(winFn(col("_ts")).as("window") +: fo.keys: _*)
      .agg(fo.aggregates.head, fo.aggregates.tail: _*)
      .select(
        fo.metric.as("metric"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        fo.labels.as("labels"),
        fo.value.as("value"))
  }
}
