package graft

import graft.streaming.StreamingText
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming trending terms: per-window token counts emit once on window
  * close, match the batch tokenization, and respect the minCount prune.
  */
class StreamingTextSpec extends SparkSpec {
  import spark.implicits._

  private def at(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000L)

  test("windowed token counts emit on close and match batch counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingText.windowedTokenCounts(
      mem.toDF.toDF("ts", "text"), "text", "ts",
      windowDuration = "60 seconds", minCount = 2L)
    val q = out.writeStream.format("memory").queryName("stext").outputMode("append").start()
    try {
      mem.addData(
        (at(10), "spark spark engine"),
        (at(20), "spark  engine"), // ragged whitespace ⇒ same tokens
        (at(50), "tail"))
      q.processAllAvailable()
      // window [0,60) is still open — nothing may emit yet
      assert(spark.table("stext").count() == 0, "append mode must hold open windows")

      mem.addData((at(70), "spark next")) // watermark passes 60 ⇒ closes [0,60)
      q.processAllAvailable()
      val rows = spark.table("stext")
        .select($"w_start", $"token", $"cnt")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      // minCount=2 prunes 'tail' (1×); spark=3, engine=2 in the closed window
      assert(rows == Set((at(0), "spark", 3L), (at(0), "engine", 2L)), s"got $rows")
    } finally q.stop()
  }

  test("gopherGate composes with a stream: per-batch keep decisions match batch") {
    // the gate is an aggregation + join-back over a BATCH frame; at
    // ingest time the same decision runs per micro-batch via
    // foreachBatch — this pins that the composition yields the exact
    // batch decisions (stateless per doc, so batch boundaries are
    // irrelevant by construction)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the river flows past the village and the people watch boats"),
      (2L, "the and"),
      (3L, "quick brown foxes jumping over lazy dogs today")).toDF("doc_id", "text")
    val expected = graft.ext.TextOps.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"keep").as[(Long, Int)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[(Long, Int)]()
    val q = mem.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.ext.TextOps.gopherGate(batch, "doc_id", "text")
          .select(col("doc_id"), col("keep"))
          .collect().map(r => (r.getLong(0), r.getInt(1)))
        ()
      }
      .start()
    try {
      mem.addData((1L, "the river flows past the village and the people watch boats"))
      q.processAllAvailable()
      mem.addData((2L, "the and"), (3L, "quick brown foxes jumping over lazy dogs today"))
      q.processAllAvailable()
      assert(got.toSet == expected, s"streaming gate diverged: $got vs $expected")
    } finally q.stop()
  }

  test("c4Clean runs directly on an unbounded stream: per-row algebra, zero state") {
    // unlike the gate (aggregation → foreachBatch), C4 cleaning is pure
    // per-row HOF algebra — it composes INTO the streaming plan itself
    // (append mode, no watermark, no state store), the ingest-time shape:
    // readStream → c4Clean → writeStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, "the river flows past the village today.\ntoo short\n" +
        "the people watch many boats sail away.\n" +
        "the village sleeps while the night grows dark."),
      (2L, "a\nb"),
      (3L, "please enable javascript to view this page now\none two three four five six."))
    val expected = graft.ext.TextOps
      .c4Clean(rows.toDF("doc_id", "text"), "doc_id", "text",
        minLineToks = 5, badTokens = Seq("javascript"), minKeptLines = 2)
      .select($"doc_id", $"n_kept", $"keep", $"clean_text")
      .as[(Long, Int, Boolean, String)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = graft.ext.TextOps
      .c4Clean(mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        minLineToks = 5, badTokens = Seq("javascript"), minKeptLines = 2)
      .select(col("doc_id"), col("n_kept"), col("keep"), col("clean_text"))
      .writeStream.format("memory").queryName("c4stream").outputMode("append").start()
    try {
      mem.addData(rows(0))
      q.processAllAvailable()
      mem.addData(rows(1), rows(2))
      q.processAllAvailable()
      val got = spark.table("c4stream")
        .as[(Long, Int, Boolean, String)].collect()
      assert(got.length == 3, "each doc emits exactly once across micro-batches")
      assert(got.toSet == expected, s"streaming C4 diverged: ${got.toSet} vs $expected")
    } finally q.stop()
  }

  test("graft_topk works in streaming aggregation (SpaceSaving state survives the store)") {
    // the native TypedImperativeAggregate must serialize into (and merge
    // out of) streaming state across micro-batches
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = mem.toDF.toDF("ts", "term")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "60 seconds"))
      .agg(call_function("graft_topk", col("term"), lit(2)).as("top"))
      .select(col("window.start").as("w_start"), explode(col("top")).as("e"))
      .select(col("w_start"), col("e.item").as("item"), col("e.est").as("cnt"))
    val q = out.writeStream.format("memory").queryName("stopk").outputMode("append").start()
    try {
      // window [0,60) across TWO micro-batches → state serialize + merge
      mem.addData((at(10), "a"), (at(20), "a"), (at(30), "b"))
      q.processAllAvailable()
      mem.addData((at(40), "a"), (at(50), "c"))
      q.processAllAvailable()
      mem.addData((at(70), "x")) // closes [0,60)
      q.processAllAvailable()
      val rows = spark.table("stopk")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      // exact regime (3 distinct ≤ cap): a=3 and one of the 1-count terms
      assert(rows.exists(r => r._2 == "a" && r._3 == 3L), s"got $rows")
      assert(rows.size == 2, s"top-2 only: $rows")
    } finally q.stop()
  }

  test("trendingTermsSketch: sketch-vs-exact tolerance law under forced eviction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    // cap=8 ≪ the 23-term vocabulary → evictions MUST occur; the law under
    // test is SpaceSaving's, not the exact-regime freebie
    val out = StreamingText.trendingTermsSketch(
      mem.toDF.toDF("ts", "text"), "text", "ts",
      windowDuration = "60 seconds", k = 3, cap = 8)
    val q = out.writeStream.format("memory").queryName("strend").outputMode("append").start()
    try {
      // heavy terms across TWO micro-batches (state round-trip + merge),
      // plus a 20-term singleton tail that churns the counters
      mem.addData((at(5), ("h1 " * 15) + ("h2 " * 10)),
        (at(15), (1 to 10).map(i => s"t$i").mkString(" ")))
      q.processAllAvailable()
      mem.addData((at(25), ("h1 " * 15) + ("h2 " * 10) + ("h3 " * 10)),
        (at(35), (11 to 20).map(i => s"t$i").mkString(" ")))
      q.processAllAvailable()
      mem.addData((at(70), "x")) // closes [0, 60)
      q.processAllAvailable()
      val rows = spark.table("strend")
        .select($"rank", $"token", $"est", $"err")
        .as[(Int, String, Long, Long)].collect().sortBy(_._1)
      val exact = Map("h1" -> 30L, "h2" -> 20L, "h3" -> 10L) ++
        (1 to 20).map(i => s"t$i" -> 1L)
      val n = exact.values.sum // 80 tokens; N/cap = 10
      assert(rows.length == 3, s"k=3 rows expected: ${rows.toSeq}")
      // the SpaceSaving bound per emitted row: true ≤ est ≤ true + err
      rows.foreach { case (_, token, est, err) =>
        val t = exact(token)
        assert(t <= est && est <= t + err,
          s"overcount bound violated for $token: true=$t est=$est err=$err")
      }
      // guaranteed-presence: count > N/cap ⇒ in the summary; h1 (30) and
      // h2 (20) clear 80/8 = 10, and nothing evicted can out-rank them
      assert(rows(0)._2 == "h1" && rows(1)._2 == "h2",
        s"guaranteed heavy hitters must lead: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming CMS equals the batch sketch and keeps bounded state") {
    // the bounded-state answer to token frequencies over an unbounded
    // stream: counters live on ≤ d·w keys forever, where exact streaming
    // counts grow state with vocabulary. Complete mode re-emits the d·w
    // result table per batch; the FINAL table must equal the batch-built
    // sketch of the same corpus exactly (counter-for-counter).
    import graft.ext.TextOps
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val d = 4
    val w = 32
    val mem = MemoryStream[String]
    val sketch = TextOps.cmsSketchStreaming(mem.toDF.toDF("text"), "text", d, w)
    val q = sketch.writeStream.format("memory").queryName("scms")
      .outputMode("complete").start()
    try {
      val b1 = Seq("aa bb aa cc", "bb dd ee aa")
      val b2 = Seq("cc cc ff aa", "gg bb aa hh")
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("scms")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed.size <= d * w, "state is d*w-bounded")
      val batch = TextOps
        .cmsSketchStreaming((b1 ++ b2).toDF("text"), "text", d, w)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream/batch sketch parity: ${streamed.toSeq.sorted} vs ${batch.toSeq.sorted}")
      // and the streaming-built sketch serves the same estimator
      val est = TextOps.cmsEstimate(
        spark.table("scms"), Seq("aa").toDF("token"), "token", d, w)
        .collect().head.getLong(1)
      assert(est >= 5L, s"aa appears 5 times; CMS must not under-estimate ($est)")
    } finally q.stop()
  }
}
