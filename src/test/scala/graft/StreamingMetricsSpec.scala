package graft

import graft.ingest.Ingest
import graft.model._
import graft.pipeline.LogsToMetrics
import graft.streaming.StreamingMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming e2e parity: MemoryStream of raw JSON bytes → ingest →
  * StreamingMetrics (append mode, watermark 0s) must emit exactly the
  * batch LogsToMetrics result for closed windows, one point per window
  * close — the reference's Beam semantics (on-watermark firing, late data
  * dropped; SURVEY.md §2.3 Streaming).
  */
class StreamingMetricsSpec extends SparkSpec {
  import spark.implicits._

  private val defs = Seq(
    MetricDefinition(
      "error_count",
      MetricType.Count,
      Seq(FilterCondition("severity", "ERROR", "equals")),
      windowSizeSec = 60),
    MetricDefinition(
      "bytes_sum",
      MetricType.Sum("bytes"),
      Seq(FilterCondition("severity", "ERROR", "equals")),
      windowSizeSec = 60))

  // reference fixture shapes (tests/test_pipeline.py:46,163-178)
  private def msg(sev: String, bytes: Int): String =
    s"""{"severity": "$sev", "bytes": $bytes}"""

  private def at(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000L)

  /** A field of the parsed message map; null when missing. */
  private def field(name: String) = try_element_at(col("msg"), lit(name))

  test("TIMESTAMP_NTZ event-time streams window identically (normalized before the watermark)") {
    // Spark rejects NTZ watermark columns ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]);
    // attach must normalize BEFORE withWatermark or this start() throws
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val ntz = mem.toDF.toDF("ts", "v")
      .withColumn("ts", to_timestamp_ntz(date_format($"ts", "yyyy-MM-dd HH:mm:ss")))
    assert(ntz.schema("ts").dataType.typeName == "timestamp_ntz")
    val defs = Seq(MetricDefinition("cnt", MetricType.Count, windowSizeSec = 60))
    val Seq(out) = StreamingMetrics.attach(ntz, defs, LogsToMetrics.Typed(ntz.schema))
    val q = out.writeStream.format("memory").queryName("sntz").outputMode("append").start()
    try {
      mem.addData((at(10), 1.0), (at(20), 2.0))
      q.processAllAvailable()
      mem.addData((at(70), 3.0)) // closes [0, 60)
      q.processAllAvailable()
      val rows = spark.table("sntz")
        .select(unix_timestamp($"window_start").as("ws"), $"value")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((0L, 2.0)), s"NTZ stream must window at the same instants: $rows")
    } finally q.stop()
  }

  test("append-mode streaming windows match the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Array[Byte])]
    val raw = mem.toDF.toDF("ts", "raw")
    val parsed = Ingest.parseSchemaless(raw, "raw")
    val Seq(out) = StreamingMetrics.attach(parsed, defs, LogsToMetrics.Schemaless("msg"))

    val query = out.writeStream
      .format("memory")
      .queryName("stream_parity")
      .outputMode("append")
      .start()
    try {
      // window [60,120): 2 errors (100 + 250 bytes), 1 warning (filtered)
      mem.addData(
        (at(65), msg("ERROR", 100).getBytes("UTF-8")),
        (at(80), msg("WARNING", 999).getBytes("UTF-8")),
        (at(110), msg("ERROR", 250).getBytes("UTF-8")))
      query.processAllAvailable()
      // nothing emitted yet: watermark (0s delay) still inside the window
      assert(spark.table("stream_parity").count() == 0)

      // an event in a later window advances the watermark past 120 ⇒ the
      // first window closes and emits exactly once
      mem.addData((at(200), msg("ERROR", 7).getBytes("UTF-8")))
      query.processAllAvailable()
      val emitted = spark
        .table("stream_parity")
        .select($"metric", unix_timestamp($"window_start").as("ws"), $"value")
        .as[(String, Long, Double)]
        .collect()
        .toSet
      assert(emitted == Set(("error_count", 60L, 2.0), ("bytes_sum", 60L, 350.0)))

      // late data (ts inside the closed window) is dropped, not re-emitted
      mem.addData((at(70), msg("ERROR", 999).getBytes("UTF-8")))
      query.processAllAvailable()
      assert(spark.table("stream_parity").count() == 2)
    } finally query.stop()

    // batch path over the same non-late records produces the same points
    val batchIn = Ingest.parseSchemaless(
      Seq(
        (at(65), msg("ERROR", 100).getBytes("UTF-8")),
        (at(80), msg("WARNING", 999).getBytes("UTF-8")),
        (at(110), msg("ERROR", 250).getBytes("UTF-8")))
        .toDF("ts", "raw"),
      "raw")
    val batch = LogsToMetrics(defs, LogsToMetrics.Schemaless("msg"))(batchIn)
      .select($"metric", unix_timestamp($"window_start").as("ws"), $"value")
      .as[(String, Long, Double)]
      .collect()
      .toSet
    assert(batch == Set(("error_count", 60L, 2.0), ("bytes_sum", 60L, 350.0)))
  }

  test("events matching no definition still advance the watermark and close windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Array[Byte])]
    val parsed = Ingest.parseSchemaless(mem.toDF.toDF("ts", "raw"), "raw")
    val Seq(out) = StreamingMetrics.attach(parsed, defs.take(1), LogsToMetrics.Schemaless("msg"))
    val q = out.writeStream.format("memory").queryName("quiet_close").outputMode("append").start()
    try {
      mem.addData((at(65), msg("ERROR", 1).getBytes("UTF-8")))
      q.processAllAvailable()
      // only an event that error_count filters out passes the window end
      mem.addData((at(200), msg("INFO", 1).getBytes("UTF-8")))
      q.processAllAvailable()
      val emitted = spark.table("quiet_close")
        .select($"metric", unix_timestamp($"window_start").as("ws"), $"value")
        .as[(String, Long, Double)].collect().toSet
      assert(emitted == Set(("error_count", 60L, 1.0)),
        s"the non-matching event's time must close [60, 120): $emitted")
    } finally q.stop()
  }

  test("a row without an event time leaves no state once the watermark passes every window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Int)]
    val in = mem.toDF.toDF("ts", "severity", "bytes")
    val Seq(out) = StreamingMetrics.attach(in, defs, LogsToMetrics.Typed(in.schema))
    val q = out.writeStream.format("memory").queryName("null_ts").outputMode("append").start()
    try {
      mem.addData((at(10), "ERROR", 5), (null, "ERROR", 7))
      q.processAllAvailable()
      // an event that no definition matches moves the watermark past [0, 60)
      mem.addData((at(200), "INFO", 1))
      q.processAllAvailable()
      val emitted = spark.table("null_ts")
        .select($"metric", unix_timestamp($"window_start").as("ws"), $"value")
        .as[(String, Long, Double)].collect().toSet
      assert(emitted == Set(("error_count", 0L, 1.0), ("bytes_sum", 0L, 5.0)))
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 0)
    } finally q.stop()
  }

  test("avg metric type aggregates correctly across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Array[Byte])]
    val parsed = Ingest.parseSchemaless(mem.toDF.toDF("ts", "raw"), "raw")
    val Seq(out) = StreamingMetrics.attach(
      parsed,
      Seq(MetricDefinition("avg_bytes", MetricType.Avg("bytes"), windowSizeSec = 60)),
      LogsToMetrics.Schemaless("msg"))
    val q = out.writeStream.format("memory").queryName("avg_stream").outputMode("append").start()
    try {
      // values arrive in different micro-batches; avg must combine state
      mem.addData((at(10), msg("ERROR", 10).getBytes("UTF-8")))
      mem.addData((at(20), msg("ERROR", 30).getBytes("UTF-8")),
        (at(30), """{"severity": "X"}""".getBytes("UTF-8"))) // no bytes field ⇒ excluded
      mem.addData((at(200), msg("ERROR", 0).getBytes("UTF-8")))
      q.processAllAvailable()
      val vals = spark.table("avg_stream").select($"value").as[Double].collect().toList
      assert(vals == List(20.0)) // (10+30)/2 — missing-field row excluded
    } finally q.stop()
  }

  test("10, 60 and 300 s windows plan one scan, parse, watermark and state store") {
    import org.apache.spark.sql.execution.streaming.operators.stateful.{EventTimeWatermarkExec, StateStoreSaveExec}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val mixed = Seq(10, 60, 300).map(s => MetricDefinition(s"m$s", MetricType.Count,
      Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = s))
    val mode = LogsToMetrics.Schemaless("msg")
    // a delay the data never passes: no window closes, so the last batch
    // is the data batch, not a no-data eviction batch over an empty scan
    val delay = "1 hour"
    Seq[(String, org.apache.spark.sql.DataFrame => Seq[org.apache.spark.sql.DataFrame])](
      "tumbling" -> (StreamingMetrics.attach(_, mixed, mode, watermarkDelay = delay)),
      "sliding by 10 s" -> (p => Seq(StreamingMetrics.attachSliding(p, mixed, slideSec = 10, mode,
        watermarkDelay = delay)))
    ).foreach { case (name, attach) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(java.sql.Timestamp, Array[Byte])]
      val outs = attach(Ingest.parseSchemaless(mem.toDF.toDF("ts", "raw"), "raw"))
      val queries = outs.map(_.writeStream.format("memory").queryName(s"plan_pin_${System.nanoTime}")
        .outputMode("append").start())
      try {
        mem.addData((at(65), msg("ERROR", 1).getBytes("UTF-8")))
        queries.foreach(_.processAllAvailable())
        val plans = queries.map(_.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
        def count(f: org.apache.spark.sql.execution.SparkPlan => Int) = plans.map(p => p.collect { case n => f(n) }.sum).sum
        val scans = count(n => if (n.children.isEmpty) 1 else 0)
        val parses = count(_.expressions.map(_.collect { case e if e.prettyName == "parse_message" => e }.size).sum)
        val watermarks = count { case _: EventTimeWatermarkExec => 1; case _ => 0 }
        val stores = count { case _: StateStoreSaveExec => 1; case _ => 0 }
        assert((scans, parses, watermarks, stores) == (1, 1, 1, 1),
          s"$name: (scans, parse_message, watermarks, state stores) over ${plans.size} queries:\n${plans.mkString("\n")}")
      } finally queries.foreach(_.stop())
    }
  }

  test("mixed window sizes stream ≡ batch for closed windows (typed, schemaless, TIMESTAMP_NTZ)") {
    val mixed = Seq(
      MetricDefinition("errors", MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 10),
      // equal name, kind and labels, another size: separate points
      MetricDefinition("errors", MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60),
      MetricDefinition("bytes_by_user", MetricType.Sum("bytes"),
        dynamicLabels = Map("user" -> "user"), windowSizeSec = 60),
      MetricDefinition("max_bytes", MetricType.Max("bytes"),
        staticLabels = Map("env" -> "test"), windowSizeSec = 300),
      MetricDefinition("all", MetricType.Count, windowSizeSec = 300))
    val rnd = new scala.util.Random(17)
    def ev(sec: Long): (java.sql.Timestamp, String, Int, String) =
      (at(sec), Seq("ERROR", "INFO", "WARN")(rnd.nextInt(3)), rnd.nextInt(1000), s"u${rnd.nextInt(3)}")
    // four micro-batches over [0, 800): each shuffled, and each after the
    // first also carries rows up to 15 s behind the previous batch's
    // maximum — out of order, but inside the 20 s watermark delay
    val onTime = (0 until 4).map { k =>
      val early = if (k == 0) Nil else Seq.fill(5)(ev(k * 200L - 1 - rnd.nextInt(15)))
      rnd.shuffle(Seq.fill(40)(ev(k * 200L + rnd.nextInt(200))) ++ early)
    }
    // every window of these ends by 600 s, behind the watermark the fourth
    // batch left (its maximum, near 800 s, minus 20 s): dropped
    val late = Seq(ev(5), ev(123), ev(299), ev(450))
    val flush = Seq(ev(10000)) // watermark 9980: closes every earlier window
    val closedBy = 9980L

    def check(name: String, shape: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(java.sql.Timestamp, String, Int, String)]
      val stream = shape(mem.toDF.toDF("ts", "severity", "bytes", "user"))
      val mode = if (stream.columns.contains("msg")) LogsToMetrics.Schemaless("msg") else LogsToMetrics.Typed(stream.schema)
      val Seq(out) = StreamingMetrics.attach(stream, mixed, mode, watermarkDelay = "20 seconds")
      val qn = s"mixed_$name"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      def points(df: org.apache.spark.sql.DataFrame) =
        df.select($"metric", unix_timestamp($"window_start"), unix_timestamp($"window_end"), $"labels", $"value")
          .as[(String, Long, Long, Map[String, String], Double)].collect().toSet
      val streamed = try {
        (onTime :+ late :+ flush).foreach { b => mem.addData(b); q.processAllAvailable() }
        points(spark.table(qn))
      } finally q.stop()
      def batch(rows: Seq[(java.sql.Timestamp, String, Int, String)]) =
        points(LogsToMetrics(mixed, mode)(shape(rows.toDF("ts", "severity", "bytes", "user")))
          .filter(unix_timestamp($"window_end") <= closedBy))
      val expected = batch(onTime.flatten ++ flush)
      assert(streamed == expected, s"$name: missing=${expected -- streamed} extra=${streamed -- expected}")
      assert(batch(onTime.flatten ++ late ++ flush) != expected, "the late rows must matter to the batch")
      assert(Set(10L, 60L).forall(s => streamed.exists(p => p._1 == "errors" && p._3 - p._2 == s)),
        s"$name: both error window sizes must emit: $streamed")
    }

    check("typed", identity)
    check("schemaless", df => Ingest.parseSchemaless(
      df.select($"ts", encode(to_json(struct($"severity", $"bytes", $"user")), "UTF-8").as("raw")), "raw"))
    check("ntz", _.withColumn("ts", to_timestamp_ntz(date_format($"ts", "yyyy-MM-dd HH:mm:ss"))))
  }

  test("multi-sink fan-out: N targets from one cached micro-batch (one source read)") {
    import graft.sinks.{MetricPoint, MetricsSink}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Array[Byte])]
    val scanned = spark.sparkContext.longAccumulator("rows_scanned")
    val countingScan = udf { (_: java.sql.Timestamp) => scanned.add(1); true }
    val parsed = Ingest
      .parseSchemaless(mem.toDF.toDF("ts", "raw"), "raw")
      .filter(countingScan(col("ts")))
    val Seq(out) = StreamingMetrics.attach(parsed, defs, LogsToMetrics.Schemaless("msg"))

    StreamingMetricsSpec.fanout.clear()
    def target(tag: String) = MetricsSink.Target(s"$tag/", _ => new MetricsSink {
      def write(p: MetricPoint): Unit = StreamingMetricsSpec.fanout.add(p.metricName)
    })
    val q = out.writeStream
      .outputMode("append")
      .foreachBatch(MetricsSink.multiRouter(Seq(target("local"), target("gcm"))))
      .start()
    try {
      mem.addData(
        (at(65), msg("ERROR", 100).getBytes("UTF-8")),
        (at(110), msg("ERROR", 250).getBytes("UTF-8")))
      mem.addData((at(200), msg("ERROR", 7).getBytes("UTF-8")))
      q.processAllAvailable()
      // both targets received both metrics of the closed window
      assert(StreamingMetricsSpec.fanout.contains("local/error_count"))
      assert(StreamingMetricsSpec.fanout.contains("local/bytes_sum"))
      assert(StreamingMetricsSpec.fanout.contains("gcm/error_count"))
      assert(StreamingMetricsSpec.fanout.contains("gcm/bytes_sum"))
      // the cache means the upstream scan ran once per micro-batch per row,
      // NOT once per target: 3 input rows → exactly 3 scans
      assert(scanned.value == 3L,
        s"expected one source read for both targets, saw ${scanned.value} row scans")
    } finally q.stop()
  }

  test("malformed and non-UTF8-decodable messages are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Array[Byte])]
    val parsed = Ingest.parseSchemaless(mem.toDF.toDF("ts", "raw"), "raw")
    val Seq(out) =
      StreamingMetrics.attach(parsed, Seq(MetricDefinition("all", MetricType.Count, windowSizeSec = 60)),
        LogsToMetrics.Schemaless("msg"))
    val query = out.writeStream.format("memory").queryName("drop_parity").outputMode("append").start()
    try {
      mem.addData(
        (at(10), "not json at all".getBytes("UTF-8")),
        (at(20), Array[Byte](-1, -2, -3)), // undecodable in every charset
        (at(30), """{"ok": 1}""".getBytes("UTF-8")))
      mem.addData((at(500), """{"ok": 1}""".getBytes("UTF-8")))
      query.processAllAvailable()
      val rows = spark.table("drop_parity").select($"value").as[Double].collect().toList
      assert(rows == List(1.0)) // only the valid first-window record counted
    } finally query.stop()
  }

  /** The composed exactly-once story the reference cannot offer (its export
    * is at-least-once, pipeline.py:211-233): FileStreamSpec proves source
    * checkpoint recovery and MetricsSinkSpec proves the idempotent wrapper
    * in isolation; this drives the FULL pipeline — file source → decode →
    * windowed metric → foreachBatch(idempotent(multiRouter(sink))) — through the
    * exact at-least-once gap: a crash AFTER the export succeeded but BEFORE
    * Structured Streaming committed the epoch. The restart replays the
    * batch (same batchId, offsets from the WAL); without the commit marker
    * the sink would double-emit every point of the replayed window.
    */
  test("exactly-once e2e: crash between export and epoch commit, restart, no double-emit") {
    import java.nio.file.{Files, Paths}
    import graft.sinks.MetricsSink
    val errCount = Seq(MetricDefinition(
      "error_count", MetricType.Count,
      Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60))

    def pipeline(inDir: String): org.apache.spark.sql.DataFrame = {
      val raw = spark.readStream.format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
        .load(inDir).select(col("content").as("raw"))
      val parsed = Ingest.parseSchemaless(raw, "raw")
        .select(timestamp_seconds(field("ts_sec").try_cast("long")).as("ts"), field("severity").as("severity"))
      val Seq(out) = StreamingMetrics.attach(parsed, errCount, LogsToMetrics.Typed(parsed.schema))
      out
    }

    // crashAfterExport: arm once; the injected failure fires AFTER the
    // idempotent body returned (export done, marker written) and BEFORE
    // Spark can write the epoch commit — the worst-ordered crash.
    // sink writes happen in executor tasks — the sink closure is SERIALIZED
    // per task even in local mode, so points must land in a static buffer
    // keyed by run (the fan-out test's pattern), not an instance field
    def start(inDir: String, ckpt: String, commitDir: String,
        key: String, crashArm: java.util.concurrent.atomic.AtomicBoolean) = {
      val inner = MetricsSink.idempotent(commitDir)(MetricsSink.multiRouter(
        Seq(MetricsSink.Target("", _ => new StreamingMetricsSpec.StaticSink(key))), strict = true))
      pipeline(inDir).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val before = StreamingMetricsSpec.pointsFor(key).size
          inner(df.toDF(), id)
          val grew = StreamingMetricsSpec.pointsFor(key).size > before
          if (grew && crashArm.getAndSet(false))
            throw new RuntimeException("injected crash: export done, epoch uncommitted")
        }
        .start()
    }

    def write(dir: String, name: String, sev: String, tsSec: Long): Unit =
      Files.write(Paths.get(dir, name),
        s"""{"severity": "$sev", "ts_sec": $tsSec}""".getBytes("UTF-8"))

    def points(key: String): Seq[(Long, String, Double)] =
      StreamingMetricsSpec.pointsFor(key)
        .map(p => (p.timestamp.getTime / 1000L, p.metricName, p.value)).sorted

    def tmp(p: String) = Files.createTempDirectory(p).toString

    // --- crashed-and-restarted run ---
    val (in1, ck1, cm1) = (tmp("e2e-in"), tmp("e2e-ck"), tmp("e2e-cm"))
    val arm = new java.util.concurrent.atomic.AtomicBoolean(true)
    write(in1, "a.json", "ERROR", 30); write(in1, "b.json", "ERROR", 45)
    write(in1, "c.json", "INFO", 40); write(in1, "d.json", "ERROR", 70)
    val q1 = start(in1, ck1, cm1, "e2e-run1", arm)
    // watermark passes 60 → [0,60) exports (2 errors) → injected crash
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(crashed.getMessage.contains("injected crash"), crashed.getMessage)
    assert(points("e2e-run1") == Seq((60L, "error_count", 2.0)),
      s"the pre-crash export must have happened: ${points("e2e-run1")}")
    // restart over the same checkpoint + commit log: the uncommitted epoch
    // REPLAYS into the sink — the marker must swallow it — then new data
    // closes [60,120) exactly once
    val q2 = start(in1, ck1, cm1, "e2e-run1", new java.util.concurrent.atomic.AtomicBoolean(false))
    try {
      q2.processAllAvailable() // replay of the crashed epoch: must be a no-op
      write(in1, "e.json", "ERROR", 130)
      q2.processAllAvailable()
    } finally q2.stop()

    // --- uninterrupted control run, same inputs ---
    val (in2, ck2, cm2) = (tmp("e2e-in2"), tmp("e2e-ck2"), tmp("e2e-cm2"))
    write(in2, "a.json", "ERROR", 30); write(in2, "b.json", "ERROR", 45)
    write(in2, "c.json", "INFO", 40); write(in2, "d.json", "ERROR", 70)
    val q3 = start(in2, ck2, cm2, "e2e-run2", new java.util.concurrent.atomic.AtomicBoolean(false))
    try {
      q3.processAllAvailable()
      write(in2, "e.json", "ERROR", 130)
      q3.processAllAvailable()
    } finally q3.stop()

    assert(points("e2e-run2") == Seq((60L, "error_count", 2.0), (120L, "error_count", 1.0)),
      s"control run shape: ${points("e2e-run2")}")
    assert(points("e2e-run1") == points("e2e-run2"),
      s"crashed+restarted run must emit exactly the uninterrupted run's points:\n" +
        s"  crashed+restarted: ${points("e2e-run1")}\n  uninterrupted:     ${points("e2e-run2")}")
  }

  // Restarts from a checkpoint under an edited config. The first run sees
  // 2 ERROR and 1 INFO event in [0, 60) and stops with the window open;
  // the restart lands an event at 130 s that closes it.
  private val aErrors = MetricDefinition("a_errors", MetricType.Count,
    Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60)
  private val bInfos = MetricDefinition("b_infos", MetricType.Count,
    Seq(FilterCondition("severity", "INFO", "equals")), windowSizeSec = 60)
  private val closedWindow = Set(("a_errors", 0L, 2.0), ("b_infos", 0L, 1.0))

  /** The points the restart under `after` emits. */
  private def afterRestart(before: Seq[MetricDefinition], after: Seq[MetricDefinition]): Set[(String, Long, Double)] = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.{Dataset, Row}
    import scala.jdk.CollectionConverters._
    val in = Files.createTempDirectory("restart-in").toString
    val ckpt = Files.createTempDirectory("restart-ck").toString
    def write(name: String, sev: String, tsSec: Long): Unit =
      Files.write(Paths.get(in, name), s"""{"severity": "$sev", "user": "u1", "ts_sec": $tsSec}""".getBytes("UTF-8"))
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()
    def run(defs: Seq[MetricDefinition]): Unit = {
      val raw = spark.readStream.format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
        .load(in).select(col("content").as("raw"))
      val parsed = Ingest.parseSchemaless(raw, "raw")
        .select(timestamp_seconds(field("ts_sec").try_cast("long")).as("ts"), field("severity").as("severity"),
          field("user").as("user"), field("ts_sec").try_cast("long").as("ts_sec"))
      val Seq(out) = StreamingMetrics.attach(parsed, defs, LogsToMetrics.Typed(parsed.schema))
      val q = out.writeStream.option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          df.select($"metric", unix_timestamp($"window_start"), $"value").as[(String, Long, Double)]
            .collect().foreach(emitted.add)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    write("a.json", "ERROR", 10); write("b.json", "ERROR", 20); write("c.json", "INFO", 30)
    run(before)
    assert(emitted.isEmpty, s"[0, 60) must still be open before the restart: $emitted")
    write("d.json", "INFO", 130)
    run(after)
    emitted.asScala.toSet
  }

  test("restart with two definitions swapped keeps each metric's counts") {
    assert(afterRestart(Seq(aErrors, bInfos), Seq(bInfos, aErrors)) == closedWindow)
  }

  test("restart with a definition added keeps the in-flight counts on their metrics") {
    val cWarns = MetricDefinition("c_warns", MetricType.Count,
      Seq(FilterCondition("severity", "WARN", "equals")), windowSizeSec = 60)
    assert(afterRestart(Seq(aErrors, bInfos), Seq(cWarns, aErrors, bInfos)) == closedWindow)
  }

  test("restart with a definition removed drops its in-flight window, not another metric's") {
    assert(afterRestart(Seq(aErrors, bInfos), Seq(bInfos)) == Set(("b_infos", 0L, 1.0)))
  }

  test("restart with min, max and avg definitions added keeps the in-flight counts") {
    // the state value is the same four aggregates for every kind
    val added = Seq(
      MetricDefinition("d_min", MetricType.Min("ts_sec"), windowSizeSec = 60),
      MetricDefinition("d_max", MetricType.Max("ts_sec"), windowSizeSec = 60),
      MetricDefinition("d_avg", MetricType.Avg("ts_sec"), windowSizeSec = 60))
    assert(afterRestart(Seq(aErrors, bInfos), aErrors +: bInfos +: added) == closedWindow)
  }

  test("restart with a widened dynamic-label key fails on the state schema") {
    val widened = aErrors.copy(dynamicLabels = Map("user" -> "user"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      afterRestart(Seq(aErrors, bInfos), Seq(widened, bInfos))
    }
    assert(e.getMessage.contains("STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"), e.getMessage)
  }

  test("sliding windows stream ≡ batch across 3+ micro-batches (append emit-on-close)") {
    // the streaming twin of the batch q_sliding_window shape, one
    // aggregation for every size: 60, 250 and 300 s windows sliding by
    // 60 s; 250 s is not a multiple of the slide
    val sdefs = Seq(
      MetricDefinition("events", MetricType.Count, windowSizeSec = 300),
      // equal name, kind and labels, another size: separate points
      MetricDefinition("events", MetricType.Count, windowSizeSec = 250),
      MetricDefinition("v_by_user", MetricType.Sum("v"), dynamicLabels = Map("user" -> "user"), windowSizeSec = 60),
      MetricDefinition("u1_max", MetricType.Max("v"),
        Seq(FilterCondition("user", "u1", "equals")), windowSizeSec = 250))
    val tooShort = MetricDefinition("short", MetricType.Count, windowSizeSec = 30)
    val rejected = intercept[IllegalArgumentException](StreamingMetrics.attachSliding(
      Seq((at(0), 1.0)).toDF("ts", "v"), sdefs :+ tooShort, slideSec = 60, LogsToMetrics.Schemaless("msg")))
    assert(rejected.getMessage.contains("slide of 60 s is longer than the 30 s window of definition short"),
      rejected.getMessage)

    val rnd = new scala.util.Random(23)
    def ev(sec: Long): (java.sql.Timestamp, Double, String) =
      (at(sec), rnd.nextInt(100).toDouble, s"u${rnd.nextInt(3)}")
    // four micro-batches over [0, 800), each shuffled; each after the first
    // also carries rows just behind the previous one, inside the 20 s delay
    val onTime = (0 until 4).map { k =>
      val early = if (k == 0) Nil else Seq.fill(5)(ev(k * 200L - 1 - rnd.nextInt(15)))
      rnd.shuffle(Seq.fill(30)(ev(k * 200L + rnd.nextInt(200))) ++ early)
    }
    // every window holding one of these ends by 720 s, behind the watermark
    // the fourth batch left: dropped in every size
    val late = Seq(ev(5), ev(123), ev(299), ev(450))
    val flush = Seq(ev(10000)) // watermark 9980: closes every earlier window
    val closedBy = 9980L

    def points(df: org.apache.spark.sql.DataFrame) =
      df.select($"metric", unix_timestamp($"window_start"), unix_timestamp($"window_end"), $"labels", $"value")
        .as[(String, Long, Long, Map[String, String], Double)].collect().toSet
    // Spark's window(ts, size, slide) per definition, closed windows only
    def batch(rows: Seq[(java.sql.Timestamp, Double, String)]) = {
      val df = rows.toDF("ts", "v", "user")
      def agg(metric: String, size: Int, in: org.apache.spark.sql.DataFrame,
          value: org.apache.spark.sql.Column, byUser: Boolean = false) =
        in.groupBy(window($"ts", s"$size seconds", "60 seconds").as("w") +: (if (byUser) Seq($"user") else Nil): _*)
          .agg(value.cast("double").as("value"))
          .select(lit(metric).as("metric"), $"w.start".as("window_start"), $"w.end".as("window_end"),
            (if (byUser) map(lit("user"), $"user") else typedLit(Map.empty[String, String])).as("labels"),
            $"value")
      points(Seq(
        agg("events", 300, df, count(lit(1))),
        agg("events", 250, df, count(lit(1))),
        agg("v_by_user", 60, df, sum($"v"), byUser = true),
        agg("u1_max", 250, df.filter($"user" === "u1"), max($"v"))
      ).reduce(_ unionByName _).filter(unix_timestamp($"window_end") <= closedBy))
    }
    val expected = batch(onTime.flatten ++ flush)
    assert(batch(onTime.flatten ++ late ++ flush) != expected, "the late rows must matter to the batch")
    assert(Set(60L, 250L, 300L).forall(s => expected.exists(p => p._3 - p._2 == s)) &&
      expected.exists(p => p._3 - p._2 == 300 && p._2 % 300 != 0), s"every size, overlapping: $expected")

    def check(name: String, shape: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(java.sql.Timestamp, Double, String)]
      val stream = shape(mem.toDF.toDF("ts", "v", "user"))
      val mode = if (stream.columns.contains("msg")) LogsToMetrics.Schemaless("msg") else LogsToMetrics.Typed(stream.schema)
      val out = StreamingMetrics.attachSliding(stream, sdefs, slideSec = 60, mode, watermarkDelay = "20 seconds")
      val qn = s"sslide_$name"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      val streamed = try {
        (onTime :+ late :+ flush).foreach { b => mem.addData(b); q.processAllAvailable() }
        points(spark.table(qn))
      } finally q.stop()
      assert(streamed == expected, s"$name: missing=${expected -- streamed} extra=${streamed -- expected}")
    }

    check("typed", identity)
    check("schemaless", df => Ingest.parseSchemaless(
      df.select($"ts", encode(to_json(struct($"v", $"user")), "UTF-8").as("raw")), "raw"))
  }
}

object StreamingMetricsSpec {
  /** Static so executor-side sink writes are visible in local mode. */
  val fanout: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-run point buffers for the exactly-once e2e (same rationale). */
  val runPoints =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[graft.sinks.MetricPoint]]()

  def pointsFor(key: String): Seq[graft.sinks.MetricPoint] = {
    import scala.jdk.CollectionConverters._
    Option(runPoints.get(key)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  final class StaticSink(key: String) extends graft.sinks.MetricsSink {
    def write(p: graft.sinks.MetricPoint): Unit =
      runPoints
        .computeIfAbsent(key,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[graft.sinks.MetricPoint]())
        .add(p)
  }
}
