package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming session + sliding windows (EXT, SURVEY.md §2.3): the stateful
  * window shapes beyond the reference's tumbling-only surface, driven
  * against a live streaming query.
  */
class StreamingSessionSpec extends SparkSpec {
  import spark.implicits._

  private def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("streaming session windows merge events within the gap and emit on close") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val out = mem.toDF.toDF("ts", "user_id")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 seconds").as("sw"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), unix_timestamp(col("sw.start")).as("start"),
        unix_timestamp(col("sw.end")).as("end"), col("cnt"))

    val q = out.writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      // user 1: events at 10, 25, 40 chain into ONE session [10, 70);
      // user 2: events at 10 and 100 are two sessions
      mem.addData((at(10), 1L), (at(25), 1L), (at(40), 1L), (at(10), 2L), (at(100), 2L))
      mem.addData((at(500), 9L)) // advance watermark, close everything open
      q.processAllAvailable()
      val got = spark.table("sess_stream")
        .select($"user_id", $"start", $"end", $"cnt").as[(Long, Long, Long, Long)]
        .collect().toSet
      assert(got == Set(
        (1L, 10L, 70L, 3L),  // merged chain: last event 40 + 30s gap
        (2L, 10L, 40L, 1L),
        (2L, 100L, 130L, 1L)))
    } finally q.stop()
  }

  test("streaming sliding windows emit one row per covering bucket") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val out = mem.toDF.toDF("ts", "v")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "60 seconds", "30 seconds").as("w"))
      .agg(sum(col("v")).as("sum_v"))
      .select(unix_timestamp(col("w.start")).as("start"), col("sum_v"))

    val q = out.writeStream.format("memory").queryName("slide_stream").outputMode("append").start()
    try {
      mem.addData((at(45), 10.0)) // covered by windows starting at 0 and 30
      mem.addData((at(500), 0.0))
      q.processAllAvailable()
      val got = spark.table("slide_stream").as[(Long, Double)].collect().toSet
      assert(got == Set((0L, 10.0), (30L, 10.0)))
    } finally q.stop()
  }

  test("session windows stream ≡ batch across 3+ micro-batches (gap close + merge)") {
    // the streaming twin of the batch q_session_window shape, as
    // q_stream_session_parity runs it: per-user activity bursts with a
    // 60 s silence gap over a watermarked stream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = mem.toDF.toDF("ts", "user")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "60 seconds").as("sw"), col("user"))
      .count()
    val q = out.writeStream.format("memory").queryName("ssess").outputMode("append").start()
    // u1: burst {10,40,90} then (gap > 60) burst {300}; u2: one burst
    // {50,100} — spread over 3 micro-batches so sessions MERGE across
    // batches (u1's 10–40 batch-1 state extends with 90 in batch 2)
    val batches = Seq(
      Seq((10L, "u1"), (40L, "u1"), (50L, "u2")),
      Seq((90L, "u1"), (100L, "u2")),
      Seq((300L, "u1")))
    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.select($"user", unix_timestamp($"sw.start"), unix_timestamp($"sw.end"),
        $"count".cast("double"))
        .as[(String, Long, Long, Double)].collect().toSet
    try {
      batches.foreach { b =>
        mem.addData(b.map { case (s, u) => (at(s), u) })
        q.processAllAvailable()
      }
      mem.addData((at(10000), "uz")) // watermark past every session's close
      q.processAllAvailable()
      val streamed = sessions(spark.table("ssess"))
      // batch reference: static session_window over the same events,
      // sessions closed by the final watermark
      val batch = sessions(batches.flatten.map { case (s, u) => (at(s), u) }.toDF("ts", "user")
        .groupBy(session_window($"ts", "60 seconds").as("sw"), $"user")
        .count()
        .filter(unix_timestamp($"sw.end") <= 10000L))
      assert(streamed == batch,
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
      // the cross-batch merge really happened: u1's first session spans
      // 10→150 (90+gap) with 3 events despite arriving in two batches
      assert(streamed.contains(("u1", 10L, 150L, 3.0)), s"got $streamed")
    } finally q.stop()
  }
}
