package graft.streaming

import graft.model.MetricDefinition
import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.DataFrame

/** Structured Streaming face of the engine — the reference's native mode
  * (an unbounded Pub/Sub stream windowed into metric points,
  * /root/reference/beametrics/pipeline.py:164-186).
  *
  * [[attach]] is the batch transform (graft.pipeline.LogsToMetrics) over a
  * watermarked event time, and [[attachSliding]] the same with a slide
  * shorter than the window; the reference has no other window kind (no
  * session windows). One scan, one parse and ONE stateful aggregation
  * serve every window size, as the reference's `DynamicFixedWindows`
  * gives each element its own size in one pass.
  * Each fanned-out row is keyed by its definition's window end `_wend`,
  * which carries the watermark metadata of the event-time column, so Spark
  * evicts a window (emits it, append mode) and drops late rows when
  * `_wend <= watermark` — the rule `window()` applies to `window.end`.
  * The only difference from the batch transform is that there is no OR
  * gate: Spark pushes a deterministic filter that does not read the event
  * time below `EventTimeWatermark`, so a gated row that matches no
  * definition would never advance the watermark and a quiet metric's
  * window would stay open. Such a row explodes to no definition id
  * instead, above the watermark. A row without an event time is dropped
  * there too, before the explode: it has no window to close, so its group
  * would never leave the state (the reference's event time, the Pub/Sub
  * publish time, always exists).
  *
  * Late-data policy: the reference drops late records (Beam default,
  * allowed lateness 0 — SURVEY.md §2.3); `watermarkDelay = "0 seconds"`
  * reproduces that, and is configurable for real deployments.
  *
  * Scale: scan → watermark → explode of the matching definition ids →
  * partial agg → shuffle by (window end, definition family id, dynamic
  * label values) → stateful final agg. The family id is a digest of the
  * family's content (name, kind, window size, label layout), so a restart
  * with an edited config never reads a window's state as another metric;
  * state of a family no longer configured is dropped when its window
  * closes. The metric name and static labels are attached from the family
  * id after the aggregation, so they stay out of the shuffle and the state
  * key; state per key-window is evicted at watermark — bounded by live
  * windows × label cardinality.
  */
object StreamingMetrics {

  /** Attach the metric pipeline to a streaming DataFrame. Returns one
    * streaming DataFrame holding every definition's points (start it with
    * `writeStream`; append mode emits exactly one point per closed window,
    * matching the reference's emit-on-window-close).
    */
  def attach(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      mode: LogsToMetrics.Mode,
      tsCol: String = "ts",
      watermarkDelay: String = "0 seconds"): Seq[DataFrame] =
    Seq(aggregate(stream, defs, mode, None, tsCol, watermarkDelay))

  /** Sliding-window variant: each event lands in every window of its
    * definition's size that starts on a multiple of `slideSec` and holds
    * it (Spark's `window(ts, size, slide)`; the streaming twin of the batch
    * q_sliding_window shape). Same one aggregation for every window size,
    * keyed by the window end, and the same append-mode emit-on-window-close;
    * state grows by the overlap factor (each key holds up to size/slide
    * live windows), still watermark-evicted. A slide longer than some
    * definition's window is rejected.
    */
  def attachSliding(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      slideSec: Long,
      mode: LogsToMetrics.Mode,
      tsCol: String = "ts",
      watermarkDelay: String = "0 seconds"): DataFrame =
    aggregate(stream, defs, mode, Some(slideSec), tsCol, watermarkDelay)

  /** The fan-out over the watermarked event time. TIMESTAMP_NTZ is
    * normalized BEFORE the watermark: Spark rejects NTZ watermark columns
    * outright ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]).
    */
  private def aggregate(
      stream: DataFrame,
      defs: Seq[MetricDefinition],
      mode: LogsToMetrics.Mode,
      slideSec: Option[Long],
      tsCol: String,
      delay: String): DataFrame =
    new LogsToMetrics.FanOut(defs, mode, slideSec)
      .points(LogsToMetrics.ltzEventTime(stream, tsCol).withWatermark(tsCol, delay), tsCol)
}
