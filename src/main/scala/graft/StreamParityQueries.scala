package graft

import graft.model._
import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The §2.3 STREAMING-PARITY surface (split out of SparkEntry in round 15
  * — pure code motion): every declared `q_stream_*` query replays the
  * events corpus through the REAL Structured Streaming engine
  * (file-stream source, memory/file sink, watermark + sentinel-driven
  * window close) and must hash-match a batch DuckDB oracle — the
  * streaming≡batch parity gate. The replay harness (watermark-advancing
  * sentinel + state-partition scoping) lives here with its queries.
  */
object StreamParityQueries {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** epoch-seconds of an (already second-aligned) window boundary. */
  private def secs(c: Column): Column = unix_timestamp(c)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily lowered —
    * for the stream-stream join replays, whose wall is dominated by state
    * store commits (4 join stores × partitions × micro-batches, each a
    * delta-file write): the slice's thousands of rows need single-digit
    * state partitions, not the session's 32. Streaming queries FIX their
    * state partition count at start, so the override must wrap .start();
    * restored in finally (Verify/Bench run queries sequentially).
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Replay `src` through the STREAMING engine to completion: write it as
    * a file-stream source (batch 0 = the whole corpus, so nothing is ever
    * late under the reference's watermark-0 drop-late default), run the
    * frame `attach` builds into an append-mode memory sink, then land one
    * `sentinel(maxTs + 2 days)` row — the watermark passes every REAL
    * window/session end, so append mode (emit-on-window-close) flushes
    * them all, while the sentinel's own window never closes and never
    * emits. Returns the sink table: the full closed-window set, which the
    * batch oracle must match row-for-row. Driver-side state here is two
    * timestamps; the replay itself is distributed.
    */
  private def replayToCompletion(
      s: SparkSession,
      src: DataFrame,
      sentinel: java.sql.Timestamp => DataFrame,
      attach: DataFrame => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_replay").toString
    // Round 16 (replay fixed cost): the sentinel lands in the source dir
    // BEFORE the stream starts, so batch 0 carries corpus + sentinel and
    // ONE no-data batch flushes every closed window — 2 micro-batches per
    // replay instead of 3 (and one fewer mid-stream parquet append +
    // processAllAvailable round). Emitted rows are IDENTICAL: every batch-0
    // row processes under watermark 0 (nothing is ever late), the watermark
    // then jumps past every real window end exactly as the two-step replay's
    // final watermark did, and emission in append mode depends only on that
    // final watermark. The oracle gate re-checks the full row set.
    val maxTs = src.agg(max(col("ts"))).head().getTimestamp(0)
    src.write.mode("overwrite").parquet(tmp)
    sentinel(new java.sql.Timestamp(maxTs.getTime + 2L * 86400000L))
      .coalesce(1).write.mode("append").parquet(tmp)
    val out = attach(s.readStream.schema(src.schema).parquet(tmp))
    val qn = s"stream_replay_${System.nanoTime}"
    // state partitions scoped down (the stream-stream join lesson): the
    // window/session state is tiny (thousands of windows) but every
    // micro-batch commits one delta file per store per partition — 8
    // partitions instead of the session's 32 cuts the commit fan-out
    // without touching the map-side corpus work (results are
    // partition-independent; the gate re-sorts before hashing)
    withShufflePartitions(s, 8) {
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        q.processAllAvailable() // batch 0 (corpus + sentinel) + the no-data flush batch
      } finally q.stop()
    }
    s.table(qn)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O7/O8 STREAMING parity, oracle-checked: the reference's actual
    // runtime mode is streaming (main.py:279 forces streaming=True), so
    // the windowed count/sum core is declared HERE through
    // StreamingMetrics.attach — the events table is replayed as a file
    // stream (watermark 0 = the reference's drop-late default), a
    // max-ts+1-day sentinel advances the watermark so every real window
    // CLOSES and emits (append mode = emit-on-window-close; the
    // sentinel's own window never closes, so it never pollutes the
    // output), and the memory-sink result must hash-match the BATCH
    // tumbling-window oracle. Until this round streaming≡batch parity
    // lived only in ScalaTest laws; this puts it in the driver's gate.
    "q_stream_window_parity" -> { (s, dir) =>
      import s.implicits._
      val ev0 = ev(s, dir).select(col("ts"), col("event_type"), col("value"))
      val defs = Seq(
        MetricDefinition("stream_count", MetricType.Count, windowSizeSec = 60),
        MetricDefinition("stream_sum", MetricType.Sum("value"), windowSizeSec = 60))
      replayToCompletion(s, ev0,
        ts => Seq((ts, "sentinel", 0.0)).toDF("ts", "event_type", "value"),
        st => graft.streaming.StreamingMetrics
          .attach(st, defs, LogsToMetrics.Typed(ev0.schema)).head)
        .select(col("metric"), secs(col("window_start")).as("w_start"),
          round(col("value"), 3).as("value"))
        .orderBy("metric", "w_start")
    },

    // §2.3 SLIDING windows through the streaming engine, oracle-checked:
    // 300 s windows sliding by 60 s (each event in exactly 5 buckets —
    // the q_sliding_window batch shape), replayed + sentinel-closed like
    // q_stream_window_parity. The sentinel's 5 windows all END after the
    // final watermark, so none of them emit.
    "q_stream_sliding_parity" -> { (s, dir) =>
      import s.implicits._
      val ev0 = ev(s, dir).select(col("ts"))
      val defs = Seq(MetricDefinition("slide_count", MetricType.Count, windowSizeSec = 300))
      replayToCompletion(s, ev0,
        ts => Seq(Tuple1(ts)).toDF("ts"),
        st => graft.streaming.StreamingMetrics
          .attachSliding(st, defs, slideSec = 60, LogsToMetrics.Typed(ev0.schema)))
        .select(secs(col("window_start")).as("w_start"),
          col("value").as("cnt_value"))
        .orderBy("w_start")
    },

    // §2.3 CUSTOM STATE (flatMapGroupsWithState) through the streaming
    // engine, oracle-checked: per-(event_type, minute) count points are
    // replayed into StatefulOps.thresholdAlerts — the consecutive-breach
    // fire/resolve state machine — and the emitted alert stream must
    // hash-match the batch gap-and-island recompute (breach runs per
    // metric: fire at the 1st breach of each run, resolve at the first
    // calm point after, carrying the run length). One replay batch ⇒ the
    // per-key iterator covers each metric's full time-ordered history,
    // so the state path is deterministic; alerts emit immediately in
    // append mode (no window close, no sentinel).
    "q_stream_alert_parity" -> { (s, dir) =>
      import s.implicits._
      val pts = ev(s, dir)
        .groupBy(col("event_type").as("metric"),
          (floor(unix_timestamp(col("ts")) / lit(60)) * 60).cast("long")
            .as("windowStartSec"))
        .agg(count(lit(1)).cast("double").as("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_alerts").toString
      pts.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(pts.schema).parquet(tmp)
        .as[graft.streaming.StatefulOps.Point]
      val alerts = graft.streaming.StatefulOps
        .thresholdAlerts(stream, threshold = 1.5, breaches = 1)
      val qn = s"stream_alerts_${System.nanoTime}"
      val q = alerts.toDF().writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(qn)
        .select(col("metric"), col("windowStartSec").as("ws"), col("value"),
          col("consecutive").cast("long").as("consecutive"), col("kind"))
        .orderBy("metric", "ws")
    },

    // §2.3 stateful streaming DEDUP, oracle-checked: events replayed as a
    // stream through StreamingDedup.firstSeen (dropDuplicatesWithinWatermark
    // on the normalized content fingerprint). WHICH representative row is
    // admitted per fingerprint depends on arrival order, but the admitted
    // fingerprint SET does not — the gate compares exactly that set
    // against batch DISTINCT (100k rows collapse to 100 fps at sf0.1, so
    // the state path is genuinely exercised). Dedup emits immediately in
    // append mode — no window close, no sentinel needed.
    "q_stream_dedup_parity" -> { (s, dir) =>
      val ev0 = ev(s, dir).select(col("ts"), col("props").as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
      ev0.write.mode("overwrite").parquet(tmp)
      val out = graft.streaming.StreamingDedup.firstSeen(
        s.readStream.schema(ev0.schema).parquet(tmp), "text")
      val qn = s"stream_dedup_${System.nanoTime}"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(qn).select(col("fp")).orderBy("fp")
    },

    // §2.3 SESSION windows through the streaming engine, oracle-checked:
    // per-user activity bursts with a 1-day silence gap (the
    // q_session_window batch shape) as a plain session_window count over
    // the watermarked replay, sentinel-closed. A session ends at
    // last_event + gap, so the sentinel sits 2 days past max-ts (> gap)
    // and every real session closes; the sentinel's own (user -1) session
    // never does. The oracle is the classic gap-and-island SQL — the
    // recursive-free sessionization a warehouse runs — which must agree
    // with Spark's session_window state machine merge-for-merge.
    "q_stream_session_parity" -> { (s, dir) =>
      import s.implicits._
      val ev0 = ev(s, dir).select(col("ts"), col("user_id"))
      replayToCompletion(s, ev0,
        ts => Seq((ts, -1L)).toDF("ts", "user_id"),
        _.withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "86400 seconds").as("sw"), col("user_id"))
          .count())
        .select(col("user_id"), secs(col("sw.start")).as("sess_start"),
          col("count").cast("double").as("cnt_value"))
        .orderBy("user_id", "sess_start")
    },

    // §2.3 CUSTOM STATE full-history parity (flatMapGroupsWithState):
    // the clamped per-user balance recurrence bᵢ = max(0, bᵢ₋₁ + Δᵢ) —
    // the token-bucket/inventory state machine NO window rewrite
    // expresses — replayed through StatefulOps.clampedBalances, emitting
    // the post-update (balance, clamps, rows) at EVERY event. The oracle
    // is the q_clamped_balance recursive CTE kept at every step instead
    // of only the final row, so the entire state trajectory is
    // hash-gated, not just the endpoint. One replay batch ⇒ each key's
    // iterator covers its full (ts, event_id)-ordered history; rows emit
    // immediately in append mode (no window close, no sentinel).
    "q_stream_balance_parity" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id").cast("string").as("key"),
          secs(col("ts")).as("seqA"), col("event_id").as("seqB"),
          when(col("event_type") === "purchase",
            floor(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
            .otherwise(lit(-500L)).as("delta"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_balance").toString
      e.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(e.schema).parquet(tmp)
        .as[graft.streaming.StatefulOps.BalanceInput]
      val out = graft.streaming.StatefulOps.clampedBalances(stream)
      val qn = s"stream_balance_${System.nanoTime}"
      val q = out.toDF().writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(qn)
        .select(col("key").cast("long").as("user_id"), col("seqA").as("ts_s"),
          col("seqB").as("event_id"), col("balance"),
          col("nClamps").as("n_clamps"), col("nRows").as("n_rows"))
        .orderBy("user_id", "n_rows")
    },

    // §2.3 EXPONENTIAL-FAMILY STATE parity — the Holt–Winters additive
    // seasonal recurrence (level + a period-7 seasonal RING held as
    // flatMapGroupsWithState per-key state) replayed through the real
    // streaming engine and hash-gated against the SAME recursive-CTE
    // oracle as the batch q_holt_winters. The daily (event_type, day,
    // cents) frame is pre-aggregated in batch (the q_stream_balance_parity
    // convention: the stateful recurrence is the operator under test, not
    // the upstream agg); batch 0 carries the whole frame and the state
    // fold advances in bucket order, so the emitted trajectory must be
    // bit-identical to the batch operator — closing the streaming/batch
    // gap for the exponential-smoothing family the way balance parity did
    // for the clamped recurrence.
    "q_stream_hw_parity" -> { (s, dir) =>
      import s.implicits._
      val daily = ev(s, dir)
        .groupBy(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        .select(col("event_type").as("key"), col("day").as("bucket"),
          col("cents").as("x"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_hw").toString
      daily.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(daily.schema).parquet(tmp)
        .as[graft.streaming.StatefulOps.HwInput]
      val out = graft.streaming.StatefulOps.holtWinters(stream,
        aNum = 30, aDen = 100, gNum = 20, gDen = 100, period = 7)
      val qn = s"stream_hw_${System.nanoTime}"
      // state = |event_type| keys × O(period) longs: the same n=8
      // state-partition scoping as every other replay (commit fan-out,
      // not data, sets the wall)
      withShufflePartitions(s, 8) {
        val q = out.toDF().writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(qn)
        .select(col("key").as("event_type"), col("bucket").as("day"),
          col("x").as("cents"), col("level"), col("seasonal"),
          col("forecastNext").as("forecast_next"))
        .orderBy("event_type", "day")
    },

    // §2.3 BOUNDED-STATE SKETCH parity (KMV): the streaming per-key
    // distinct-count monitor (StatefulOps.kmvDistinct — O(k) bottom-k
    // hash state per key FOREVER, where dropDuplicates state grows with
    // true cardinality) replayed and hash-gated against a DuckDB oracle
    // that recomputes the identical bottom-64 md5-60bit sketch and
    // (k−1)·M/h_k estimate from raw rows — the per-key twin of the batch
    // q_kmv_union mergeability gate. The whole corpus lands in batch 0
    // (default file source takes all files per trigger), so the single
    // per-key emission IS the final estimate.
    "q_stream_kmv_parity" -> { (s, dir) =>
      import s.implicits._
      // deterministic 10% user slice (the stream-stream join precedent):
      // flatMapGroupsWithState folds each key's batch iterator serially,
      // so the full corpus cost ~2M rows/key/thread at ×100 (measured
      // 63.9 s) buys no extra gate value — the sliced sketch still
      // saturates k=64 minima per key at every SF
      val e = ev(s, dir)
        .filter(col("user_id") % 10 === 0)
        .select(col("event_type").as("key"), col("user_id").cast("string").as("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_kmv").toString
      e.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(e.schema).parquet(tmp)
        .as[graft.streaming.StatefulOps.KmvInput]
      val out = graft.streaming.StatefulOps.kmvDistinct(stream, k = 64)
      val qn = s"stream_kmv_${System.nanoTime}"
      withShufflePartitions(s, 8) {
        val q = out.toDF().writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(qn)
        .select(col("key").as("event_type"), col("nKept").as("n_kept"),
          col("hK").as("h_k"), col("estDistinct").as("est_distinct"))
        .orderBy("event_type")
    },

    // §2.3 BOUNDED-STATE HEAVY-HITTERS parity (SpaceSaving), gated in the
    // EXACT regime: items are user_id mod 500 (≤ 500 distinct per key at
    // ANY scale factor) under cap 1024, so no counter ever evicts and the
    // SpaceSaving state degenerates to exact counting — which makes the
    // top-20 (count DESC, item ASC — the operator's deterministic tie
    // order) expressible as a plain GROUP BY oracle. What the gate then
    // proves is the STREAMING machinery: per-key counter state survives
    // the state store round-trip and re-emits the exact ranking. The
    // approximate (evicting) regime stays property-tested in
    // SpaceSavingSpec — its answer is order-dependent by design and has
    // no SQL mirror.
    "q_stream_topk_parity" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
        .select(col("event_type").as("key"),
          (col("user_id") % 500).cast("string").as("item"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_topk").toString
      e.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(e.schema).parquet(tmp)
        .as[graft.streaming.StatefulOps.TopKInput]
      val out = graft.streaming.StatefulOps.spaceSavingTopK(stream, k = 20, cap = 1024)
      val qn = s"stream_topk_${System.nanoTime}"
      withShufflePartitions(s, 8) {
        val q = out.toDF().writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(qn)
        .select(col("key").as("event_type"), col("rank"), col("item"),
          col("est"), col("err"))
        .orderBy("event_type", "rank")
    },

    // §2.3 ONLINE ROBUST-ANOMALY parity (median/MAD over histogram
    // state): StatefulOps.madAnomalies judges each point against its own
    // history PREFIX (integer lower-median over the exact value
    // histogram — a sequential detector, deliberately NOT the batch
    // q_anomaly_mad's retrospective whole-corpus median), so the oracle
    // replays the prefix recurrence as a quadratic self-join over the
    // |days|-sized daily frame: for every point, the lower median of all
    // values at rn' ≤ rn, then the lower median of |v − med| over the
    // same prefix, then the strict k·MAD flag behind the minN warm-up
    // gate. Daily buckets are unique per key, so the (bucket, value)
    // fold order is unambiguous in both engines.
    "q_stream_mad_parity" -> { (s, dir) =>
      import s.implicits._
      val daily = ev(s, dir)
        .groupBy(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long").as("bucket"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("vq"))
        .select(col("event_type").as("key"), col("bucket").as("bucketSec"),
          col("vq").as("valueQ"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_mad").toString
      daily.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(daily.schema).parquet(tmp)
        .as[graft.streaming.StatefulOps.MadInput]
      val out = graft.streaming.StatefulOps.madAnomalies(stream, k = 3L, minN = 5L)
      val qn = s"stream_mad_${System.nanoTime}"
      withShufflePartitions(s, 8) {
        val q = out.toDF().writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(qn)
        .select(col("key").as("event_type"), col("bucketSec").as("bucket_s"),
          col("valueQ").as("value_q"), col("medQ").as("med_q"),
          col("madQ").as("mad_q"), col("isAnomaly").as("is_anomaly"),
          col("nSeen").as("n_seen"))
        .orderBy("event_type", "bucket_s")
    },

    // §2.3 STREAM-STREAM INTERVAL JOIN parity — the attribution-join
    // shape (click ⋈ purchase within 1 h by the same user) through
    // Spark's watermark-bounded stream-stream join machinery, replayed
    // from two file streams and hash-gated against the plain batch
    // interval join. Both sides land in batch 0, so every pair matches
    // on arrival (inner-join matching is per-batch; the watermark only
    // bounds state eviction) — no sentinel needed. Completes the gated
    // §2.3 surface: window/sliding/session/dedup/alert/balance/restart
    // parity existed, the two-stream join lived only in ScalaTest.
    "q_stream_join_parity" -> { (s, dir) =>
      // deterministic 10% user slice: stream-stream join state holds
      // EVERY input row of both sides — the full corpus proved the same
      // semantics at 3x the wall of any other replay; the slice keeps
      // the machinery fully exercised (thousands of matches at sf0.1)
      val ev0 = ev(s, dir).filter(col("user_id") % 10 === 0)
      val clicks = ev0.filter(col("event_type") === "click")
        .select(col("ts").as("cts"), col("user_id").as("cuser"))
      val purchases = ev0.filter(col("event_type") === "purchase")
        .select(col("ts").as("pts"), col("user_id").as("puser"),
          floor(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_join")
      val cDir = base.resolve("clicks").toString
      val pDir = base.resolve("purchases").toString
      clicks.write.mode("overwrite").parquet(cDir)
      purchases.write.mode("overwrite").parquet(pDir)
      val cs = s.readStream.schema(clicks.schema).parquet(cDir)
        .withWatermark("cts", "0 seconds")
      val ps = s.readStream.schema(purchases.schema).parquet(pDir)
        .withWatermark("pts", "0 seconds")
      val joined = cs.join(ps,
        expr("cuser = puser AND pts >= cts AND pts <= cts + INTERVAL 1 HOUR"))
      val qn = s"stream_join_${System.nanoTime}"
      withShufflePartitions(s, 4) {
        val q = joined.writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(qn)
        .select(col("cuser").as("user_id"), secs(col("cts")).as("click_s"),
          secs(col("pts")).as("purchase_s"), col("cents"))
        .orderBy("user_id", "click_s", "purchase_s", "cents")
    },

    // §2.3 STREAM-STREAM LEFT OUTER interval join parity — the "clicks
    // WITHOUT conversions" attribution question: the outer null row may
    // only emit once the watermark PROVES no purchase can still arrive
    // (inner rows emit on match; a premature null would double-count, a
    // dropped one under-count). Sentinel rows on BOTH sides at +2 d and
    // +4 d drive the watermark past every real click's 1 h window so all
    // outer rows flush exactly once; the +2 d sentinel click's own outer
    // row (user −1, closed by the +4 d nudge) is filtered out. Must
    // hash-match the batch LEFT JOIN — emit-once and completeness
    // together.
    "q_stream_outer_join_parity" -> { (s, dir) =>
      import s.implicits._
      // same deterministic 10% user slice as q_stream_join_parity
      val ev0 = ev(s, dir).filter(col("user_id") % 10 === 0)
      val clicks = ev0.filter(col("event_type") === "click")
        .select(col("ts").as("cts"), col("user_id").as("cuser"))
      val purchases = ev0.filter(col("event_type") === "purchase")
        .select(col("ts").as("pts"), col("user_id").as("puser"),
          floor(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_ojoin")
      val cDir = base.resolve("clicks").toString
      val pDir = base.resolve("purchases").toString
      // round 16 (replay fixed cost): BOTH sentinel rounds pre-landed —
      // batch 0 carries corpus + sentinels under watermark 0 (nothing late,
      // every inner match is per-batch), the watermark then jumps straight
      // to +4 d, and ONE no-data batch flushes every outer row whose 1 h
      // window closed: all real clicks' nulls plus the +2 d sentinel click's
      // (filtered by cuser ≥ 0), exactly the two-step replay's final set —
      // the intermediate +2 d watermark step only changed WHEN rows
      // emitted, never which. 2 micro-batches instead of 3 rounds × (data +
      // flush) batches, and 4 fewer mid-stream appends.
      val maxTs = ev0.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinels = Seq(2L, 4L).map(d => new java.sql.Timestamp(maxTs.getTime + d * 86400000L))
      clicks.unionByName(sentinels.map(t => (t, -1L)).toDF("cts", "cuser"))
        .write.mode("overwrite").parquet(cDir)
      purchases.unionByName(sentinels.map(t => (t, -1L, 0L)).toDF("pts", "puser", "cents"))
        .write.mode("overwrite").parquet(pDir)
      val cs = s.readStream.schema(clicks.schema).parquet(cDir)
        .withWatermark("cts", "0 seconds")
      val ps = s.readStream.schema(purchases.schema).parquet(pDir)
        .withWatermark("pts", "0 seconds")
      val joined = cs.join(ps,
        expr("cuser = puser AND pts >= cts AND pts <= cts + INTERVAL 1 HOUR"),
        "leftOuter")
      val qn = s"stream_ojoin_${System.nanoTime}"
      withShufflePartitions(s, 4) {
        val q = joined.writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // batch 0 (corpus + sentinels) + the outer-flush no-data batch
        } finally q.stop()
      }
      s.table(qn)
        .filter(col("cuser") >= 0L)
        .select(col("cuser").as("user_id"), secs(col("cts")).as("click_s"),
          secs(col("pts")).as("purchase_s"), col("cents"))
        .orderBy("user_id", "click_s", "purchase_s", "cents")
    },

    // §2.3 CUSTOM-STATE RESTART parity — the flatMapGroupsWithState
    // checkpoint codepath (per-key user state in the state store, a
    // different recovery surface than window aggregation state): the
    // clamped-balance recurrence processes the FIRST (time-split) half
    // of the feed, is STOPPED, and a fresh query restarts from the same
    // checkpoint to fold the second half on top of the RECOVERED per-key
    // balances. The committed file sink must carry the identical full
    // trajectory as the single-pass replay — balances/clamp counts
    // crossing the seam prove the BalanceState rows were restored, not
    // re-initialized (a zeroed state would reset every mid-stream
    // balance and hash-diverge immediately). Per-key event order is
    // preserved across the split because the split is on seqA (ts) and
    // each batch folds (seqA, seqB)-sorted.
    "q_stream_balance_restart" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id").cast("string").as("key"),
          secs(col("ts")).as("seqA"), col("event_id").as("seqB"),
          when(col("event_type") === "purchase",
            floor(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
            .otherwise(lit(-500L)).as("delta"))
      val base = java.nio.file.Files.createTempDirectory("graft_balance_restart")
      val srcDir = base.resolve("src").toString
      val outDir = base.resolve("out").toString
      val ckptDir = base.resolve("ckpt").toString
      val b = e.agg(min(col("seqA")).as("lo"), max(col("seqA")).as("hi")).head()
      val splitTs = (b.getLong(0) + b.getLong(1)) / 2
      // same n=8 state-partition scoping as the window restart (the
      // checkpoint fixes the count, both runs present the same value)
      def runToCompletion(): Unit = withShufflePartitions(s, 8) {
        val st = s.readStream.schema(e.schema).parquet(srcDir)
          .as[graft.streaming.StatefulOps.BalanceInput]
        val q = graft.streaming.StatefulOps.clampedBalances(st).toDF()
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckptDir).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      e.filter(col("seqA") <= splitTs).write.mode("overwrite").parquet(srcDir)
      runToCompletion() // first half, then the query is killed
      e.filter(col("seqA") > splitTs).write.mode("append").parquet(srcDir)
      runToCompletion() // restart: per-key state recovered from the checkpoint
      s.read.parquet(outDir)
        .select(col("key").cast("long").as("user_id"), col("seqA").as("ts_s"),
          col("seqB").as("event_id"), col("balance"),
          col("nClamps").as("n_clamps"), col("nRows").as("n_rows"))
        .orderBy("user_id", "n_rows")
    },

    // §2.3 RESTART/RECOVERY parity — the last untested production
    // streaming behavior: the windowed count+sum pipeline checkpoints to
    // a REAL directory and an exactly-once FILE sink, processes the
    // first half of the corpus (time-split mid-window, so at least one
    // window's partial state must SURVIVE the restart), is STOPPED, and
    // a fresh query restarts from the same checkpoint to absorb the
    // second half + the watermark sentinel. The committed sink contents
    // must hash-match the batch tumbling oracle — proving (a) watermark
    // + window state recover from the checkpoint, (b) nothing replays
    // twice into the sink (the file sink's metadata log), (c) no
    // boundary event is dropped as late across the stop/start seam
    // (part 2 is strictly later than the recovered watermark by
    // construction of the time split).
    "q_stream_restart_parity" -> { (s, dir) =>
      import s.implicits._
      val ev0 = ev(s, dir).select(col("ts"), col("value"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_restart")
      val srcDir = base.resolve("src").toString
      val outDir = base.resolve("out").toString
      val ckptDir = base.resolve("ckpt").toString
      val b = ev0.agg(min(secs(col("ts"))).as("lo"), max(secs(col("ts"))).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val splitTs = (lo + hi) / 2
      val defs = Seq(
        MetricDefinition("restart_count", MetricType.Count, windowSizeSec = 60),
        MetricDefinition("restart_sum", MetricType.Sum("value"), windowSizeSec = 60))
      // both runs share n=8 state partitions (the replay scoping rule) —
      // the checkpoint FIXES the state partition count at first start, so
      // the restart must present the same value
      def runToCompletion(): Unit = withShufflePartitions(s, 8) {
        val st = s.readStream.schema(ev0.schema).parquet(srcDir)
        val out = graft.streaming.StreamingMetrics
          .attach(st, defs, LogsToMetrics.Typed(ev0.schema)).head
        val q = out.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckptDir).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      ev0.filter(secs(col("ts")) <= splitTs).write.mode("overwrite").parquet(srcDir)
      runToCompletion() // first half, then the query is killed
      // the second half + sentinel land while the engine is DOWN
      ev0.filter(secs(col("ts")) > splitTs).write.mode("append").parquet(srcDir)
      Seq((new java.sql.Timestamp((hi + 2L * 86400) * 1000L), 0.0)).toDF("ts", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
      runToCompletion() // restart from the checkpoint
      s.read.parquet(outDir)
        .select(col("metric"), secs(col("window_start")).as("w_start"),
          round(col("value"), 3).as("value"))
        .orderBy("metric", "w_start")
    },

    // §2.3 ORDERED-FUNNEL STATE MACHINE parity (flatMapGroupsWithState):
    // StatefulOps.funnelStages — per user, advance view → click →
    // purchase only on an event of the next expected type STRICTLY AFTER
    // the current stage's timestamp (millisecond precision, the engine's
    // Timestamp.getTime), emitting one StageAdvance per advancement. The
    // whole corpus lands in batch 0, so each user's iterator covers their
    // full ts-sorted history — the greedy first-advance fold is exactly
    // the batch q_funnel min-chain, so the oracle is that same join chain
    // kept PER USER (one row per achieved stage) instead of collapsed to
    // per-step counts. Equal-millisecond ties are order-free: a
    // same-type tie advances to the identical (stage, ms) state and a
    // next-type event at the same ms fails strict-after either way.
    // Advances emit immediately in append mode — no window close, no
    // sentinel.
    "q_stream_funnel_parity" -> { (s, dir) =>
      val e = ev(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").cast("string").as("user"),
          col("event_type").as("eventType"), col("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_funnel").toString
      e.write.mode("overwrite").parquet(tmp)
      // EventTimeTimeout requires an upstream watermark (the operator's
      // documented prerequisite); 0 s delay = the replay convention
      val stream = s.readStream.schema(e.schema).parquet(tmp)
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.StatefulOps.UserEvent](
          org.apache.spark.sql.Encoders.product[graft.streaming.StatefulOps.UserEvent])
      // idle eviction sits past the corpus span so no in-flight funnel is
      // evicted mid-replay (eviction-correctness is StatefulOpsSpec's job)
      val out = graft.streaming.StatefulOps.funnelStages(stream,
        Seq("view", "click", "purchase"), idleEvictSec = 90L * 86400)
      val qn = s"stream_funnel_${System.nanoTime}"
      withShufflePartitions(s, 8) {
        val q = out.toDF().writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(qn)
        .select(col("user").cast("long").as("user_id"), col("stage"),
          col("step"), col("tsSec").as("ts_s"))
        .orderBy("user_id", "stage")
    },

    // §2.3 TIMEOUT-FIRED ABSENCE parity — the alert NO data-driven
    // operator can express (a silent key produces no rows, so the alert
    // must come from state + watermark-driven timeout): each event_type's
    // heartbeat state stores its last-seen second; the 1.5-day silence
    // horizon fires when the WATERMARK passes it. Batch 0 carries every
    // real heartbeat (per-type last-seen gaps to corpus end are hours —
    // far under the horizon, so nothing fires early); the +2-day sentinel
    // then advances the watermark past EVERY key's horizon, so each key
    // fires exactly one alert with silent_for = sentinel-watermark −
    // last-seen — a closed-form oracle. The sentinel's own key re-arms
    // 1.5 d past its heartbeat and never fires.
    "q_stream_absence_parity" -> { (s, dir) =>
      import s.implicits._
      val beats = ev(s, dir).select(col("event_type").as("key"), col("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_absence").toString
      // round 16 (replay fixed cost): sentinel pre-landed — batch 0 sets
      // every key's last-seen (the sentinel key's too), the watermark then
      // jumps past every real key's 1.5 d horizon, and the timeouts fire in
      // ONE no-data batch: 2 micro-batches instead of 3. silent_for =
      // final-watermark − last-seen on both shapes — identical rows.
      val maxTs = beats.agg(max(col("ts"))).head().getTimestamp(0)
      beats.write.mode("overwrite").parquet(tmp)
      Seq((("sentinel"), new java.sql.Timestamp(maxTs.getTime + 2L * 86400000L)))
        .toDF("key", "ts").coalesce(1).write.mode("append").parquet(tmp)
      val stream = s.readStream.schema(beats.schema).parquet(tmp)
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.StatefulOps.Heartbeat](
          org.apache.spark.sql.Encoders.product[graft.streaming.StatefulOps.Heartbeat])
      val out = graft.streaming.StatefulOps.absenceAlerts(stream, silenceSec = 129600L)
      val qn = s"stream_absence_${System.nanoTime}"
      withShufflePartitions(s, 8) {
        val q = out.toDF().writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // batch 0 (beats + sentinel) + the timeout-firing no-data batch
        } finally q.stop()
      }
      s.table(qn)
        .filter(col("key") =!= "sentinel")
        .select(col("key"), col("lastSeenSec").as("last_seen_s"),
          col("silentForSec").as("silent_for_s"))
        .orderBy("key")
    },
  )

  // ---- DuckDB oracles ------------------------------------------------------

  private def bucket(size: Int): String =
    s"CAST(floor(epoch(CAST(ts AS TIMESTAMP))/$size)*$size AS BIGINT)"

  /** The clamped-balance full-trajectory oracle: the q_clamped_balance
    * recursive CTE kept at EVERY step (rn = the engine's per-key row
    * counter). Shared verbatim by the single-pass replay
    * (q_stream_balance_parity) and the checkpoint-restart variant
    * (q_stream_balance_restart) — recovered state ≡ one pass is exactly
    * the property under test.
    */
  private val BalanceTrajectorySql: String =
    "WITH RECURSIVE e AS (SELECT user_id, " +
      "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s, event_id, " +
      "CASE WHEN event_type = 'purchase' " +
      "THEN CAST(floor(coalesce(value, 0) * 100) AS BIGINT) ELSE -500 END AS delta " +
      "FROM events WHERE event_type IN ('purchase', 'error')), " +
      "r AS (SELECT user_id, ts_s, event_id, row_number() OVER " +
      "(PARTITION BY user_id ORDER BY ts_s, event_id) AS rn, delta FROM e), " +
      "rec(user_id, rn, bal, clamps) AS (" +
      "SELECT user_id, rn, greatest(0, delta), " +
      "CASE WHEN delta < 0 THEN 1 ELSE 0 END FROM r WHERE rn = 1 " +
      "UNION ALL SELECT r.user_id, r.rn, greatest(0, rec.bal + r.delta), " +
      "rec.clamps + CASE WHEN rec.bal + r.delta < 0 THEN 1 ELSE 0 END " +
      "FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn + 1) " +
      "SELECT r.user_id, r.ts_s, r.event_id, CAST(rec.bal AS BIGINT) AS balance, " +
      "CAST(rec.clamps AS BIGINT) AS n_clamps, CAST(rec.rn AS BIGINT) AS n_rows " +
      "FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn " +
      "ORDER BY 1, 6"

  def oracleSql: Map[String, String] = Map(
    // the STREAMING engine result must equal the batch tumbling rollup:
    // every real window closes under the sentinel watermark, so the
    // streamed emit set is exactly the full batch window set
    "q_stream_window_parity" -> (s"WITH w AS (SELECT ${bucket(60)} AS w_start, value " +
      "FROM events) " +
      "SELECT 'stream_count' AS metric, w_start, round(CAST(count(*) AS DOUBLE), 3) AS value " +
      "FROM w GROUP BY 2 " +
      "UNION ALL SELECT 'stream_sum' AS metric, w_start, round(sum(value), 3) AS value " +
      "FROM w GROUP BY 2 ORDER BY 1, 2"),
    // each event in exactly 5 sliding buckets (the q_sliding_window
    // expansion); the streamed emit set = the full batch sliding rollup
    "q_stream_sliding_parity" -> ("SELECT w_start, CAST(count(*) AS DOUBLE) AS cnt_value " +
      "FROM (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/60)*60 AS BIGINT) " +
      "- 60 * r.range AS w_start FROM events CROSS JOIN range(5) r) " +
      "GROUP BY 1 ORDER BY 1"),
    // gap-and-island breach runs per metric: fire = first breach of a
    // run, resolve = first calm point after a run, carrying run length
    "q_stream_alert_parity" -> ("WITH p AS (SELECT event_type AS m, " +
      "CAST(floor(epoch(CAST(ts AS TIMESTAMP))/60)*60 AS BIGINT) AS ws, " +
      "count(*)::DOUBLE AS v FROM events GROUP BY 1, 2), " +
      "x AS (SELECT m, ws, v, v > 1.5 AS br FROM p), " +
      "y AS (SELECT m, ws, v, br, " +
      "sum(CASE WHEN br THEN 0 ELSE 1 END) OVER " +
      "(PARTITION BY m ORDER BY ws ROWS UNBOUNDED PRECEDING) AS g, " +
      "sum(CASE WHEN br THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY m ORDER BY ws ROWS UNBOUNDED PRECEDING) AS cb FROM x), " +
      "fires AS (SELECT m, ws, v, CAST(1 AS BIGINT) AS consecutive, 'fire' AS kind " +
      "FROM (SELECT m, ws, v, br, row_number() OVER " +
      "(PARTITION BY m, g, br ORDER BY ws) AS rn FROM y) WHERE br AND rn = 1), " +
      "resolves AS (SELECT m, ws, v, CAST(runlen AS BIGINT) AS consecutive, " +
      "'resolve' AS kind FROM (SELECT m, ws, v, " +
      "cb - lag(cb, 1, 0) OVER (PARTITION BY m ORDER BY ws) AS runlen " +
      "FROM y WHERE NOT br) WHERE runlen >= 1) " +
      "SELECT m AS metric, ws, v AS value, consecutive, kind FROM fires " +
      "UNION ALL SELECT m AS metric, ws, v, consecutive, kind FROM resolves " +
      "ORDER BY 1, 2"),
    // the streamed admit set = batch DISTINCT of the same fingerprint
    "q_stream_dedup_parity" -> ("SELECT DISTINCT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) " +
      "AS fp FROM (SELECT props AS text FROM events) ORDER BY 1"),
    // the q_clamped_balance recursive CTE kept at EVERY step (rn = the
    // engine's per-key row counter), so the streamed state trajectory —
    // not just the final balance — must match row-for-row; the RESTART
    // variant shares the oracle verbatim (recovered state ≡ one pass)
    "q_stream_balance_restart" -> BalanceTrajectorySql,
    "q_stream_balance_parity" -> BalanceTrajectorySql,
    // the streaming Holt–Winters replay is gated by the IDENTICAL
    // recursive-CTE oracle as its batch twin — one SQL, two engines
    "q_stream_hw_parity" -> graft.ext.RelationalForecastQueries.oracleSql("q_holt_winters"),
    // per-key bottom-64 md5-60bit sketch recomputed from raw rows; the
    // estimator is the identical double division + floor (63·2⁶⁰ is
    // exactly representable, so the literal equals (k−1).toDouble·m)
    "q_stream_kmv_parity" -> ("WITH d AS (SELECT DISTINCT event_type, " +
      "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h " +
      "FROM events WHERE user_id % 10 = 0), " +
      "r AS (SELECT event_type, h, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM d), " +
      "g AS (SELECT event_type, count(*) AS n_kept, max(h) AS h_k " +
      "FROM r WHERE rn <= 64 GROUP BY 1) " +
      "SELECT event_type, CAST(n_kept AS INT) AS n_kept, h_k, " +
      "CASE WHEN n_kept < 64 THEN n_kept " +
      s"ELSE CAST(floor(${63.0 * math.pow(2, 60)} / h_k) AS BIGINT) END AS est_distinct " +
      "FROM g ORDER BY event_type"),
    // exact-regime SpaceSaving = plain counting; rank order is the
    // operator's deterministic (est DESC, item ASC — VARCHAR) tie order
    "q_stream_topk_parity" -> ("WITH c AS (SELECT event_type, " +
      "CAST(user_id % 500 AS VARCHAR) AS item, count(*) AS est FROM events GROUP BY 1, 2), " +
      "r AS (SELECT event_type, item, est, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY est DESC, item ASC) AS rank FROM c) " +
      "SELECT event_type, CAST(rank AS INT) AS rank, item, est, " +
      "CAST(0 AS BIGINT) AS err FROM r WHERE rank <= 20 ORDER BY event_type, rank"),
    // the prefix recurrence replayed as a quadratic self-join over the
    // |days|-sized daily frame: lower median = element at position
    // (n+1)//2 of the sorted prefix (ties among equal values pick an
    // arbitrary row of the SAME value — the median is value-determined)
    "q_stream_mad_parity" -> ("WITH daily AS (SELECT event_type AS key, " +
      "CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400)*86400 AS BIGINT) AS bucket, " +
      "CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS vq " +
      "FROM events GROUP BY 1, 2), " +
      "pts AS (SELECT key, bucket, vq, " +
      "row_number() OVER (PARTITION BY key ORDER BY bucket, vq) AS rn FROM daily), " +
      "pre AS (SELECT a.key, a.rn, b.vq AS w FROM pts a " +
      "JOIN pts b ON a.key = b.key AND b.rn <= a.rn), " +
      "med AS (SELECT key, rn, w AS med FROM (SELECT key, rn, w, " +
      "row_number() OVER (PARTITION BY key, rn ORDER BY w) AS pos, " +
      "count(*) OVER (PARTITION BY key, rn) AS n FROM pre) WHERE pos = (n + 1) // 2), " +
      "dev AS (SELECT p.key, p.rn, abs(p.w - m.med) AS d FROM pre p " +
      "JOIN med m ON p.key = m.key AND p.rn = m.rn), " +
      "mad AS (SELECT key, rn, d AS mad FROM (SELECT key, rn, d, " +
      "row_number() OVER (PARTITION BY key, rn ORDER BY d) AS pos, " +
      "count(*) OVER (PARTITION BY key, rn) AS n FROM dev) WHERE pos = (n + 1) // 2) " +
      "SELECT p.key AS event_type, p.bucket AS bucket_s, p.vq AS value_q, " +
      "m.med AS med_q, x.mad AS mad_q, " +
      "(p.rn >= 5 AND abs(p.vq - m.med) > 3 * x.mad) AS is_anomaly, p.rn AS n_seen " +
      "FROM pts p JOIN med m ON p.key = m.key AND p.rn = m.rn " +
      "JOIN mad x ON p.key = x.key AND p.rn = x.rn " +
      "ORDER BY event_type, bucket_s"),
    // the streamed inner interval join = the plain batch interval join
    // (inclusive bounds both sides, same 1 h attribution window)
    "q_stream_join_parity" -> ("WITH c AS (SELECT user_id AS cuser, " +
      "CAST(ts AS TIMESTAMP) AS cts FROM events WHERE event_type = 'click' AND user_id % 10 = 0), " +
      "p AS (SELECT user_id AS puser, CAST(ts AS TIMESTAMP) AS pts, " +
      "CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS cents " +
      "FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0) " +
      "SELECT cuser AS user_id, CAST(floor(epoch(cts)) AS BIGINT) AS click_s, " +
      "CAST(floor(epoch(pts)) AS BIGINT) AS purchase_s, cents " +
      "FROM c JOIN p ON cuser = puser AND pts >= cts " +
      "AND pts <= cts + INTERVAL 1 HOUR ORDER BY 1, 2, 3, 4"),
    // the streamed left-outer set (matches + watermark-closed null rows)
    // = the plain batch LEFT JOIN
    "q_stream_outer_join_parity" -> ("WITH c AS (SELECT user_id AS cuser, " +
      "CAST(ts AS TIMESTAMP) AS cts FROM events WHERE event_type = 'click' AND user_id % 10 = 0), " +
      "p AS (SELECT user_id AS puser, CAST(ts AS TIMESTAMP) AS pts, " +
      "CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS cents " +
      "FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0) " +
      "SELECT cuser AS user_id, CAST(floor(epoch(cts)) AS BIGINT) AS click_s, " +
      "CAST(floor(epoch(pts)) AS BIGINT) AS purchase_s, cents " +
      "FROM c LEFT JOIN p ON cuser = puser AND pts >= cts " +
      "AND pts <= cts + INTERVAL 1 HOUR ORDER BY 1, 2, 3, 4"),
    // the restart-spanning committed sink = the batch tumbling rollup
    // (same shape as q_stream_window_parity, distinct metric names)
    "q_stream_restart_parity" -> (s"WITH w AS (SELECT ${bucket(60)} AS w_start, value " +
      "FROM events) " +
      "SELECT 'restart_count' AS metric, w_start, round(CAST(count(*) AS DOUBLE), 3) AS value " +
      "FROM w GROUP BY 2 " +
      "UNION ALL SELECT 'restart_sum' AS metric, w_start, round(sum(value), 3) AS value " +
      "FROM w GROUP BY 2 ORDER BY 1, 2"),
    // gap-and-island sessionization (the q_session_window oracle) — must
    // agree with Spark's session_window merge state machine per user
    "q_stream_session_parity" -> ("WITH flagged AS (" +
      "SELECT user_id, ts, CASE WHEN epoch(CAST(ts AS TIMESTAMP)) - " +
      "epoch(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS TIMESTAMP)) >= 86400 " +
      "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_sess " +
      "FROM events), sess AS (" +
      "SELECT user_id, ts, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts " +
      "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) " +
      "SELECT user_id, CAST(floor(epoch(CAST(min(ts) AS TIMESTAMP))) AS BIGINT) AS sess_start, " +
      "CAST(count(*) AS DOUBLE) AS cnt_value FROM sess GROUP BY user_id, sid " +
      "ORDER BY user_id, sess_start"),
    // the greedy first-advance fold = the q_funnel min-chain kept PER
    // USER: step i+1 is the user's earliest event of that type strictly
    // after step i's time, compared at the engine's MILLISECOND
    // truncation (epoch_ms — the q_funnel_window precedent; the state
    // machine compares Timestamp.getTime)
    "q_stream_funnel_parity" -> ("WITH e AS (SELECT user_id, event_type, " +
      "epoch_ms(CAST(ts AS TIMESTAMP)) AS tms FROM events " +
      "WHERE event_type IN ('view', 'click', 'purchase')), " +
      "v AS (SELECT user_id, min(tms) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1), " +
      "c AS (SELECT e.user_id, min(e.tms) AS t2 FROM e " +
      "JOIN v ON e.user_id = v.user_id " +
      "WHERE e.event_type = 'click' AND e.tms > v.t1 GROUP BY 1), " +
      "p AS (SELECT e.user_id, min(e.tms) AS t3 FROM e " +
      "JOIN c ON e.user_id = c.user_id " +
      "WHERE e.event_type = 'purchase' AND e.tms > c.t2 GROUP BY 1) " +
      "SELECT user_id, CAST(1 AS INT) AS stage, 'view' AS step, t1 // 1000 AS ts_s FROM v " +
      "UNION ALL SELECT user_id, 2, 'click', t2 // 1000 FROM c " +
      "UNION ALL SELECT user_id, 3, 'purchase', t3 // 1000 FROM p " +
      "ORDER BY 1, 2"),
    // closed-form timeout oracle: every key fires once at the sentinel
    // watermark (maxTs + 2 d — past every 1.5 d horizon), so silent_for
    // = that watermark second minus the key's last-seen second (adding
    // 2 d of whole seconds commutes with the floor)
    "q_stream_absence_parity" -> ("WITH b AS (SELECT " +
      "CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT) + 172800 AS wm FROM events), " +
      "ls AS (SELECT event_type AS key, " +
      "CAST(max(floor(epoch(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_seen_s " +
      "FROM events GROUP BY 1) " +
      "SELECT key, last_seen_s, wm - last_seen_s AS silent_for_s " +
      "FROM ls, b ORDER BY key"),
  )
}
