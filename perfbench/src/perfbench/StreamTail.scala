package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.MetricDefinition
import graft.pipeline.LogsToMetrics
import graft.sinks.MetricsSink
import graft.streaming.StreamingMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** `stream_tail`: an open-loop generator lands JSON lines in a file-source
  * directory at a fixed rate; the stream goes through the ingest edge and
  * `StreamingMetrics.attach` (one query per window size), and each query's
  * `foreachBatch` is `idempotent(multiRouter(two targets))`.
  *
  * Every event is stamped with its due time. ~1% are stamped up to 2 s
  * early (out of order, inside the 3 s watermark); ~0.5% are 8–12 minutes
  * late. Late events land only after every query finished its first batch
  * over a primer file, so their windows (≤ 300 s) are already behind the
  * watermark and Spark drops them, as the oracle does. At the end a flush
  * event an hour ahead closes every window, and both targets' output
  * is checked against the oracle.
  */
final class StreamTail(o: Main.Opts, r: Main.Result) {
  import StreamTail._

  private val trace = new Trace
  private val counters = new LayerCounters
  private val dir = o.work.resolve("stream")
  private val src = dir.resolve("in")
  private val oracle = new Oracle(Defs.stream, schemaless = true)

  /** Progress of every batch of every query, in arrival order. */
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** (query, batch, sink start ms, body ms, total ms) of every foreachBatch call. */
  private val sinkCalls = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Double, Double, Double)]()

  private def pipeline(spark: SparkSession, lines: DataFrame, defs: Seq[MetricDefinition]) =
    StreamingMetrics.attach(Main.ingest(lines.select(col("value").cast("binary").as("raw"))),
      defs, LogsToMetrics.Schemaless("msg"), "ts", s"$WatermarkMs milliseconds")

  private def foreachBatchFor(q: Int): (DataFrame, Long) => Unit = {
    val body = MetricsSink.multiRouter(Seq(
      MetricsSink.Target("", Collect.sinkFor(0)),
      MetricsSink.Target("custom.googleapis.com/", Collect.sinkFor(1))))
    var bodyMs = 0.0
    val timedBody: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = Collect.nowMs(); body(df, id); bodyMs = Collect.nowMs() - t0
    }
    val committed = MetricsSink.idempotent(dir.resolve(s"commit-$q").toString)(timedBody)
    (df, id) => {
      val t0 = Collect.nowMs()
      bodyMs = 0.0
      committed(df, id)
      sinkCalls.add((q, id, t0, bodyMs, Collect.nowMs() - t0))
    }
  }

  def run(): Unit = {
    val (spark, defs) = Main.open(o, Defs.stream, trace)
    Files.createDirectories(src)
    val gen = new EventGen(o.seed)
    val landing = new Landing(src)
    Jvm.reset()
    if (o.trace) spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // primer: one file before the queries start, so each query's first
    // batch sets a watermark before any late event can land
    val t0 = System.currentTimeMillis()
    landing.land((0 until PrimerEvents).map { j =>
      val (bytes, ev) = gen.message(t0 - PrimerEvents + j)
      ev.foreach(oracle.add)
      bytes
    }, t0)
    val lines = spark.readStream.schema(LineSchema).format("text").load(src.toString)
    // each query gets a scheduler pool of its own: the three queries
    // trigger together, and in one FIFO queue the order their jobs happen
    // to reach it would decide which window size waits for the others
    val queries = pipeline(spark, lines, defs).zipWithIndex.map { case (out, q) =>
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"query$q")
      out.writeStream
        .outputMode("append")
        .option("checkpointLocation", dir.resolve(s"ckpt-$q").toString)
        .foreachBatch(foreachBatchFor(q))
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .start()
    }
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    val ids = queries.map(_.id).zipWithIndex.toMap
    awaitUntil(60000)(queries.forall(q => Option(q.lastProgress).isDefined))
    Main.log(s"${queries.size} queries past their first batch")

    // the span starts on the trigger grid, `WarmupMs` of load after the
    // generator starts, so every run measures equally warm queries; window
    // ends are on the grid too, so a 10 s span holds the export of
    // exactly one 10 s window
    val spanStart = math.ceil((Collect.nowMs() + WarmupMs) / TriggerMs).toLong * TriggerMs
    // open loop: tick k lands at start + (k+1)·tick whatever the system does
    val start = spanStart - WarmupMs
    val spanEnd = spanStart + o.seconds * 1000L
    val perTick = (Rate * TickMs / 1000).toInt
    val lags = mutable.ArrayBuffer.empty[Double]
    var late, ooo = 0L
    var k = 0L
    // the last tick lands one tick before the span ends, with the flush
    // right after it, so that the batch triggered at the span's end reads
    // both and the next one exports every window
    while (start + (k + 1) * TickMs < spanEnd) {
      val batch = (0 until perTick).map { j =>
        val due = start + (k * perTick + j) * 1000 / Rate
        val u = gen.nextDouble()
        val ts =
          if (u < LateFrac) { late += 1; due - 480000 - gen.nextInt(240000) }
          else if (u < LateFrac + OooFrac) { ooo += 1; due - gen.nextInt(WatermarkMs - 1000) }
          else due
        val (bytes, ev) = gen.message(ts)
        if (u >= LateFrac) ev.foreach(oracle.add)
        bytes
      }
      val landAt = start + (k + 1) * TickMs
      val wait = landAt - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      landing.land(batch, landAt)
      lags += Collect.nowMs() - landAt
      k += 1
    }
    // flush: an event an hour ahead; it passes one definition of every
    // window size, since rows failing every filter never reach a query's
    // watermark
    landing.land(Seq(gen.event(spanEnd + 3600000).copy(status = 200, path = "/api/v1/users/get",
      rtText = "1500.000").json.getBytes(UTF_8)), System.currentTimeMillis())

    Main.log(s"generator done: ${landing.lines.get} lines in ${landing.files.size} files")
    // the flush closes every window; wait until both targets hold them all
    val got0, got1 = mutable.ArrayBuffer.empty[Received]
    awaitUntil(90000) {
      got0 ++= Collect.drain(0); got1 ++= Collect.drain(1)
      queries.exists(_.exception.isDefined) || got0.size >= oracle.points && got1.size >= oracle.points
    }
    Main.log(s"received ${got0.size} + ${got1.size} of ${oracle.points} points per target")
    queries.foreach(q => q.exception.foreach(e => Main.log(s"query failed: $e")))
    queries.foreach(_.stop())
    got0 ++= Collect.drain(0); got1 ++= Collect.drain(1)

    val batches = progress.asScala.toVector
    r.attempted += batches.size + 2L * oracle.points
    r.failed += queries.count(_.exception.isDefined)
    r.failed += oracle.mismatches(got0.map(_.point))
    r.failed += oracle.mismatches(got1.map(_.point), "custom.googleapis.com/")

    def endMs(p: StreamingQueryProgress) = startMs(p) + p.durationMs.get("triggerExecution").doubleValue
    val inSpan = batches.filter(p => startMs(p) >= spanStart && endMs(p) <= spanEnd && p.numInputRows > 0)
    val batchMs = inSpan.map(p => endMs(p) - startMs(p))
    val started = batches.filter(p => startMs(p) >= spanStart && startMs(p) < spanEnd)
    // per query: rows of its batches that started inside the span, over
    // the time from the first of them to the next batch start (a batch that
    // overruns delays it); the median query counts
    val eps = Stats.median(ids.values.map { q =>
      val in = started.filter(p => ids(p.id) == q)
      batches.filter(p => ids(p.id) == q && startMs(p) >= spanEnd).map(startMs).minOption match {
        case Some(next) if in.nonEmpty => in.map(_.numInputRows).sum / ((next - in.map(startMs).min) / 1000)
        case _ => Double.NaN
      }
    })
    // emit latency of the points exported during the span (primer windows
    // aside): sink receive time minus window end. The span holds the
    // export of exactly one 10 s window: a window ending at W is exported
    // in the batch of trigger W + 10 s, a few seconds into it, since a
    // batch closes windows with the watermark the batch before it computed.
    val lat = got0.filter(g => g.atMs >= spanStart && g.atMs < spanEnd && g.point.timestamp.getTime > start)
      .map(g => g.atMs - g.point.timestamp.getTime)
    Main.log("median batch phases ms: " + inSpan.flatMap(_.durationMs.asScala.keys).distinct.sorted
      .map(k => s"$k=${Stats.median(inSpan.map(_.durationMs.asScala.get(k).fold(0.0)(_.doubleValue)))}")
      .mkString(" "))
    Main.log(s"${batches.size} batches, ${started.size} in the span, ${lat.size} latency samples, " +
      s"${landing.lines.get} lines, $late late, $ooo out of order")

    if (!o.trace) {
      r.put("events_per_s", eps)
      r.put("emit_latency_p50_ms", Stats.quantile(lat, 0.5))
      r.put("emit_latency_p99_ms", Stats.quantile(lat, 0.99))
    } else {
      val landedAt = landing.history
      def landedBy(t: Double) = landedAt.takeWhile(_._1 <= t).lastOption.fold(0L)(_._2)
      val backlog = ids.values.map { q =>
        var cum = 0L
        batches.filter(p => ids(p.id) == q).map { p => cum += p.numInputRows; landedBy(endMs(p)) - cum }.max
      }.max
      val stateByQuery = ids.keys.toSeq.map(id => batches.filter(_.id == id).map(_.stateOperators.toSeq))
      r.put("streaming.batches", inSpan.size)
      r.put("streaming.batch_ms_p50", Stats.quantile(batchMs, 0.5))
      r.put("streaming.batch_ms_p99", Stats.quantile(batchMs, 0.99))
      r.put("streaming.state_rows", stateByQuery.map(_.map(_.map(_.numRowsTotal).sum).max).sum)
      r.put("streaming.state_mb", stateByQuery.map(_.map(_.map(_.memoryUsedBytes).sum).max).sum / 1048576.0)
      r.put("streaming.state_commit_ms",
        Stats.median(inSpan.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)))
      r.put("streaming.backlog_events_max", backlog)
      r.put("streaming.watermark_dropped_rows",
        batches.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum)
      r.put("streaming.source_reads_per_event",
        batches.map(_.numInputRows).sum.toDouble / landing.lines.get)
      r.put("generator.lag_ms_max", lags.max)
      val calls = sinkCalls.asScala.toVector
      r.put("sinks.commit_ms", Stats.median(calls.map(c => c._5 - c._4)))
      r.put("sinks.latency_samples", lat.size)
      r.put("sinks.points", got0.size + got1.size)
      r.put("sinks.failed_writes", 2L * oracle.points - got0.size - got1.size)
      r.put("pipeline.points_out", got0.size)
      r.put("trace.events_per_s", eps)
      counters.settle()
      val streamMs = batches.map(endMs).max - batches.map(startMs).min
      r.put("spark.task_busy_share", counters.all.runMs.get / (streamMs * Main.Cores))
      r.put("spark.gc_s", Jvm.gcS)
      r.put("jvm.peak_heap_mb", Jvm.peakHeapMb)
      spansOf(batches, calls, ids)

      // layers on one second of landed input (10,000 messages): alone, and
      // cut inside the job
      val all = spark.read.schema(LineSchema).text(src.toString).select(col("value").cast("binary").as("raw"))
      val second = spark.read.schema(LineSchema).text(landing.files.slice(1, 1 + (1000 / TickMs).toInt).map(_.toString): _*)
        .select(col("value").cast("binary").as("raw")).cache()
      second.count()
      val mode = LogsToMetrics.Schemaless("msg")
      def attached(parsed: DataFrame) = StreamingMetrics.attach(parsed, defs, mode, "ts", s"$WatermarkMs milliseconds")
      val sink = foreachBatchFor(queries.size)
      var batchId = 0L
      def export(outs: Seq[DataFrame]): Unit = outs.foreach { df => sink(df, batchId); batchId += 1 }
      Layers.staged(spark, trace, second, withIngest = true, defs, mode)(attached)(export)
      Seq("ingest", "filter", "pipeline", "sinks").foreach(l => r.put(s"$l.isolated_s", trace.selfS(l)))
      Layers.inJob(spark, trace, Seq(
        "ingest" -> (() => Main.noop(Main.ingest(second))),
        "filter" -> (() => Main.noop(Main.ingest(second).filter(Layers.anyMatch(defs, mode)))),
        "pipeline" -> (() => attached(Main.ingest(second)).foreach(df => Layers.consume(MetricsSink.formatted(df)))),
        "sinks" -> (() => export(attached(Main.ingest(second))))))
        .foreach { case (l, s) => r.put(s"$l.s", s) }
      Collect.drain(0); Collect.drain(1)
      second.unpersist()
      counters.settle()
      r.put("pipeline.shuffle_bytes", counters.get("pipeline").shuffleBytes.get)
      r.put("pipeline.spill_bytes", counters.get("pipeline").spillBytes.get)
      Layers.counts(Some(all), Main.ingest(all), defs, mode).foreach { case (k, v) => r.put(k, v) }
    }
    val (setupS, parseMs, planMs) = Main.setup(o, Defs.stream, trace) { (spark, defs) =>
      val empty = spark.createDataFrame(java.util.List.of[Row](), LineSchema)
      pipeline(spark, empty, defs).foreach(df => MetricsSink.formatted(df).queryExecution.executedPlan)
    }
    Main.log(f"set-up: median $setupS%.3f s")
    if (!o.trace) r.put("setup_s", setupS)
    else {
      r.put("model.config_parse_ms", parseMs)
      r.put("pipeline.plan_ms", planMs)
      trace.write(o.work.getParent.resolve("traces").resolve(s"${o.workload}-${o.seed}.jsonl"), counters)
    }
  }

  /** Streaming spans from query progress: one per batch, with the
    * foreachBatch sink call as its child.
    */
  private def spansOf(batches: Seq[StreamingQueryProgress],
      calls: Seq[(Int, Long, Double, Double, Double)], ids: Map[java.util.UUID, Int]): Unit = {
    val root = trace.add("stream", 0, batches.map(startMs).min,
      batches.map(p => startMs(p) + p.durationMs.get("triggerExecution").doubleValue).max)
    batches.foreach { p =>
      val q = ids(p.id)
      val s = startMs(p)
      val id = trace.add(s"streaming.batch.q$q", root, s, s + p.durationMs.get("triggerExecution").doubleValue)
      calls.find(c => c._1 == q && c._2 == p.batchId).foreach { c =>
        trace.add("sinks.batch", id, c._3, c._3 + c._5)
      }
    }
  }

  /** Polls `done` until it holds or `maxMs` passed (then logs and goes on:
    * the oracle check counts whatever is missing).
    */
  private def awaitUntil(maxMs: Long)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
    if (!done) Main.log(s"gave up waiting after $maxMs ms")
  }
}

object StreamTail {
  /** Offered load, events per second, and the landing period. */
  val Rate = 10000L
  val TickMs = 200L
  /** Micro-batch trigger interval. Triggers fire on multiples of it, and
    * window ends are multiples of it too, so every window closes at the same
    * phase of the batch cycle: latency varies with batch work, not with
    * where a window end happens to fall between batches.
    */
  val TriggerMs = 5000L
  /** Load before the span, while the JIT and the state stores warm up. */
  val WarmupMs = 15000L
  val WatermarkMs = 3000
  val LateFrac = 0.005
  val OooFrac = 0.01
  val PrimerEvents = 200

  val LineSchema = StructType(Seq(StructField("value", StringType)))

  def startMs(p: StreamingQueryProgress): Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Lands whole files atomically: written under a hidden name (ignored by
    * the file source), then renamed into place.
    */
  final class Landing(dir: Path) {
    val lines = new AtomicLong
    private val landed = mutable.ArrayBuffer.empty[(Double, Long)]
    private val paths = mutable.ArrayBuffer.empty[Path]

    def land(msgs: Seq[Array[Byte]], atMs: Long): Unit = {
      val name = f"part-${paths.size}%06d.json"
      val tmp = dir.resolve(s".$name.tmp")
      val out = new java.io.ByteArrayOutputStream(msgs.size * 200)
      msgs.foreach { m => out.write(m); out.write('\n') }
      Files.write(tmp, out.toByteArray)
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      synchronized { paths += dir.resolve(name); landed += ((Collect.nowMs(), lines.addAndGet(msgs.size))) }
    }
    def history: Vector[(Double, Long)] = synchronized(landed.toVector)
    def files: Vector[Path] = synchronized(paths.toVector)
  }
}
