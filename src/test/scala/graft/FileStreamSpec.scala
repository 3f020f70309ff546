package graft

import graft.ingest.Ingest
import graft.model._
import graft.pipeline.LogsToMetrics
import graft.streaming.StreamingMetrics
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's unbounded-source path against a REAL directory-watching
  * file source (`binaryFile` stream): each file's raw bytes are one
  * message payload — the closest OSS analog to a message-queue body —
  * driven through the full pipeline: decode cascade (incl. a shift-jis
  * payload) → parse → filter → watermark → windowed count → append sink.
  * MemoryStream e2e (StreamingMetricsSpec) pins semantics; this pins that
  * the same plan runs on a production-shaped source with file discovery,
  * and that a restarted query recovers exactly-once from its checkpoint.
  */
class FileStreamSpec extends SparkSpec {

  /** binaryFile dir stream → decode/parse → (ts, severity, message).
    * Streaming file sources require an explicit schema; the literal one
    * here is binaryFile's fixed source schema.
    */
  private def parsedStream(dir: String): DataFrame = {
    val raw = spark.readStream
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dir)
      .select(col("content").as("raw"))
    def field(name: String) = try_element_at(col("msg"), lit(name))
    Ingest
      .parseSchemaless(raw, "raw") // malformed payloads drop here
      .select(timestamp_seconds(field("ts_sec").try_cast("long")).as("ts"),
        field("severity").as("severity"), field("message").as("message"))
  }

  private val ErrorCount = Seq(MetricDefinition(
    "error_count",
    MetricType.Count,
    Seq(FilterCondition("severity", "ERROR", "equals")),
    windowSizeSec = 60))

  private def attach(parsed: DataFrame): DataFrame = {
    val Seq(out) = StreamingMetrics.attach(parsed, ErrorCount, LogsToMetrics.Typed(parsed.schema))
    out
  }

  test("binaryFile stream: raw payload files → decode/parse → windowed metric") {
    val dir = Files.createTempDirectory("graft-filestream").toString
    def write(name: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(dir, name), bytes)

    // three payloads: plain UTF-8, shift-jis (decode cascade's 2nd hop),
    // malformed (must be dropped, not crash the stream)
    write("m1.json", """{"severity": "ERROR", "ts_sec": 30}""".getBytes("UTF-8"))
    write("m2.json", """{"severity": "ERROR", "message": "テスト", "ts_sec": 45}"""
      .getBytes("shift-jis"))
    write("m3.json", Array[Byte](-1, -2, -3))

    val q = attach(parsedStream(dir))
      .writeStream.format("memory").queryName("filestream").outputMode("append").start()
    try {
      q.processAllAvailable()
      // both decodable ERROR payloads land in window [0, 60); the window
      // is still OPEN (watermark hasn't passed) so append emits nothing yet
      write("m4.json", """{"severity": "INFO", "ts_sec": 130}""".getBytes("UTF-8"))
      q.processAllAvailable() // file discovery picks up the new payload
      write("m5.json", """{"severity": "ERROR", "ts_sec": 140}""".getBytes("UTF-8"))
      q.processAllAvailable() // watermark at 130 closes [0, 60)
      val rows = spark.table("filestream")
        .select(unix_timestamp(col("window_start")).as("w"), col("value"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
      assert(rows.toSeq == Seq(0L -> 2.0),
        s"closed window must hold utf-8 + shift-jis payloads, malformed dropped: ${rows.toSeq}")
    } finally q.stop()
  }

  test("restart from checkpoint: windows emit exactly once across query restarts") {
    val dir = Files.createTempDirectory("graft-restart-in").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val outDir = Files.createTempDirectory("graft-restart-out").toString
    def write(name: String, tsSec: Long): Unit =
      Files.write(Paths.get(dir, name),
        s"""{"severity": "ERROR", "ts_sec": $tsSec}""".getBytes("UTF-8"))

    // the full pipeline as a function: a restart constructs a NEW query
    // over the same source/checkpoint/sink — the production restart shape
    def startQuery() = attach(parsedStream(dir))
      .select(col("metric"), col("window_start"), col("value"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    write("a.json", 30); write("b.json", 45); write("c.json", 70)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // watermark 70 closed [0, 60)

    write("d.json", 130) // closes [60, 120) after restart
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(outDir)
      .select(unix_timestamp(col("window_start")).as("w"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    // exactly one emission per closed window — [0,60) from before the
    // restart must NOT re-emit, [60,120) must emit exactly once after
    assert(rows.toSeq == Seq(0L -> 2.0, 60L -> 1.0),
      s"exactly-once per window across restart, got ${rows.toSeq}")
  }
}
