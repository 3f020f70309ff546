package graft

import graft.model._
import graft.pipeline.LogsToMetrics
import graft.sinks.{MetricPoint, MetricsSink}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Core transform semantics mirrored from the reference pipeline tests
  * (/root/reference/tests/test_pipeline.py:119-178 count/sum e2e,
  * :210-333 window edges) plus the documented SUM divergence.
  */
class LogsToMetricsSpec extends SparkSpec {
  import spark.implicits._
  import LogsToMetricsSpec._

  private def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("count and sum per window (test_pipeline.py:119-178)") {
    val df = Seq(
      Row1(at(10), "ERROR", 100.0),
      Row1(at(20), "ERROR", 250.0),
      Row1(at(30), "WARNING", 999.0),
      Row1(at(70), "ERROR", 7.0)
    ).toDF
    val defs = Seq(
      MetricDefinition("cnt", MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60),
      MetricDefinition("sum", MetricType.Sum("bytes"),
        Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"metric", unix_timestamp($"window_start").as("ws"), $"value")
      .as[(String, Long, Double)].collect().toSet
    assert(out == Set(
      ("cnt", 0L, 2.0), ("cnt", 60L, 1.0),
      ("sum", 0L, 350.0), ("sum", 60L, 7.0)))
  }

  test("epoch-floor window bucketing is exact at boundaries (pipeline.py:67-70)") {
    val df = Seq(
      Row1(at(59), "E", 1.0), Row1(at(60), "E", 1.0), Row1(at(61), "E", 1.0)
    ).toDF
    val defs = Seq(MetricDefinition("c", MetricType.Count, windowSizeSec = 60))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select(unix_timestamp($"window_start").as("ws"), $"value")
      .as[(Long, Double)].collect().toSet
    assert(out == Set((0L, 1.0), (60L, 2.0))) // 60 belongs to [60,120)
  }

  test("window_end = window_start + size") {
    val df = Seq(Row1(at(100), "E", 1.0)).toDF
    val defs = Seq(MetricDefinition("c", MetricType.Count, windowSizeSec = 45))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select(unix_timestamp($"window_start"), unix_timestamp($"window_end"))
      .as[(Long, Long)].head()
    assert(out == ((90L, 135L))) // floor(100/45)*45 = 90
  }

  test("a row without an event time makes no point, so a strict JSON-line export succeeds") {
    val df = Seq(Row1(at(10), "ERROR", 1.0), Row1(null, "ERROR", 1.0)).toDF
    val defs = Seq(MetricDefinition("errors", MetricType.Count,
      Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60))
    val pts = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
    assert(pts.select($"metric", $"window_start".isNull, $"value")
      .as[(String, Boolean, Double)].collect().toSeq == Seq(("errors", false, 1.0)))
    val lines = spark.sparkContext.collectionAccumulator[String]
    MetricsSink.writeBatch(MetricsSink.formatted(pts),
      _ => new MetricsSink { def write(p: MetricPoint): Unit = lines.add(p.toJsonLine) },
      strict = true)
    assert(lines.value.asScala.toSeq == Seq(
      """{"timestamp": "1970-01-01T00:01:00Z", "metric_name": "errors", "value": 1.0, "labels": {}}"""))
  }

  test("SUM of missing field contributes 0 (pipeline.py:200-208)") {
    val df = Seq(Row1(at(1), "E", 5.0)).toDF
    val defs = Seq(MetricDefinition("s", MetricType.Sum("no_such"), windowSizeSec = 60))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"value").as[Double].collect().toList
    assert(out == List(0.0))
  }

  test("SUM of unparsable string is 0, not a crash (documented divergence, SURVEY.md §2.2)") {
    val df = Seq(("a", at(1), "not_a_number"), ("b", at(2), "2.5")).toDF("id", "ts", "v")
    val defs = Seq(MetricDefinition("s", MetricType.Sum("v"), windowSizeSec = 60))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"value").as[Double].collect().toList
    assert(out == List(2.5))
  }

  test("label canonicalization groups equal label sets (pipeline.py:172)") {
    val df = Seq(
      Row1(at(1), "E", 1.0), Row1(at(2), "E", 2.0), Row1(at(3), "W", 3.0)
    ).toDF
    val defs = Seq(
      MetricDefinition("c", MetricType.Count,
        staticLabels = Map("app" -> "x", "env" -> "prod"),
        dynamicLabels = Map("sev" -> "severity"),
        windowSizeSec = 3600))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"labels", $"value").collect()
    assert(out.length == 2) // one group per distinct (severity) label value
    val m = out.map(r => r.getMap[String, String](0).toMap -> r.getDouble(1)).toMap
    assert(m(Map("app" -> "x", "env" -> "prod", "sev" -> "E")) == 2.0)
    assert(m(Map("app" -> "x", "env" -> "prod", "sev" -> "W")) == 1.0)
  }

  test("missing dynamic-label field resolves to empty string (pipeline.py:195-196)") {
    val df = Seq(Row1(at(1), "E", 1.0)).toDF
    val defs = Seq(
      MetricDefinition("c", MetricType.Count,
        dynamicLabels = Map("gone" -> "no_such_field"), windowSizeSec = 60))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"labels").collect().head.getMap[String, String](0).toMap
    assert(out == Map("gone" -> ""))
  }

  test("min/max/avg metric types; missing values excluded, not zeroed") {
    val df = Seq(
      ("a", at(10), "5"), ("b", at(20), "15"), ("c", at(30), "not_num"), ("d", at(40), null)
    ).toDF("id", "ts", "v")
    val defs = Seq(
      MetricDefinition("mn", MetricType.Min("v"), windowSizeSec = 3600),
      MetricDefinition("mx", MetricType.Max("v"), windowSizeSec = 3600),
      MetricDefinition("av", MetricType.Avg("v"), windowSizeSec = 3600),
      MetricDefinition("sm", MetricType.Sum("v"), windowSizeSec = 3600))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"metric", $"value").as[(String, Double)].collect().toMap
    assert(out("mn") == 5.0)
    assert(out("mx") == 15.0)
    assert(out("av") == 10.0) // (5+15)/2 — nulls excluded from the mean
    assert(out("sm") == 20.0) // sum: unparsable/missing contribute 0
  }

  test("p50 metric: exact median in the shared pass, buffering only when declared") {
    val df = Seq(
      ("a", at(10), "1"), ("b", at(20), "9"), ("c", at(30), "5"),
      ("d", at(40), "7"), ("e", at(50), null)
    ).toDF("id", "ts", "v")
    val defs = Seq(
      MetricDefinition("p", MetricType.P50("v"), windowSizeSec = 3600),
      MetricDefinition("c", MetricType.Count, windowSizeSec = 3600))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"metric", $"value").as[(String, Double)].collect().toMap
    assert(out("p") == 6.0) // sorted {1,5,7,9}, even count → (5+7)/2; null excluded
    assert(out("c") == 5.0)

    // a p50-free fan-out must keep the codegen HashAggregate: percentile's
    // mere presence would downgrade the whole agg to ObjectHashAggregate
    val noP50 = LogsToMetrics(
      Seq(MetricDefinition("c2", MetricType.Count, windowSizeSec = 60)),
      LogsToMetrics.Typed(df.schema))(df)
    val plan = noP50.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"), s"count-only agg must stay codegen:\n$plan")
    val withP50 = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
    assert(withP50.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"))
  }

  test("p50_approx metric: bounded-state median tracks exact, gated like p50") {
    // 101 values 0..100 → exact median 50; percentile_approx at default
    // accuracy is exact on inputs far smaller than the summary bound
    val rows = (0 to 100).map(i => (s"r$i", at(10 + i), i.toString))
    val df = rows.toDF("id", "ts", "v")
    val defs = Seq(
      MetricDefinition("pa", MetricType.P50Approx("v"), windowSizeSec = 3600),
      MetricDefinition("p", MetricType.P50("v"), windowSizeSec = 3600),
      MetricDefinition("c", MetricType.Count, windowSizeSec = 3600))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"metric", $"value").as[(String, Double)].collect().toMap
    assert(out("p") == 50.0)
    assert(math.abs(out("pa") - out("p")) <= 1.0,
      s"approx median ${out("pa")} must track exact ${out("p")}")
    assert(out("c") == 101.0)
    // approx-only fan-outs also gate: count-only stays codegen (covered by
    // the p50 test); an approx-only fan-out pays ObjectHashAggregate
    val approxOnly = LogsToMetrics(
      Seq(MetricDefinition("pa2", MetricType.P50Approx("v"), windowSizeSec = 60)),
      LogsToMetrics.Typed(df.schema))(df)
    assert(approxOnly.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"))
  }

  test("per-config window sizes coexist in one pass") {
    val df = Seq(Row1(at(65), "E", 1.0)).toDF
    val defs = Seq(
      MetricDefinition("w60", MetricType.Count, windowSizeSec = 60),
      MetricDefinition("w300", MetricType.Count, windowSizeSec = 300))
    val out = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
      .select($"metric", unix_timestamp($"window_start").as("ws"))
      .as[(String, Long)].collect().toSet
    assert(out == Set(("w60", 60L), ("w300", 0L)))
  }

  test("TIMESTAMP_NTZ event-time columns window identically (DuckDB/pandas parquet interop)") {
    val ltz = Seq(Row1(at(10), "E", 1.0), Row1(at(70), "E", 2.0)).toDF
    val ntz = ltz.withColumn("ts", to_timestamp_ntz(date_format($"ts", "yyyy-MM-dd HH:mm:ss")))
    assert(ntz.schema("ts").dataType.typeName == "timestamp_ntz")
    val defs = Seq(MetricDefinition("cnt", MetricType.Count, windowSizeSec = 60))
    def run(df: org.apache.spark.sql.DataFrame) =
      LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
        .select(unix_timestamp($"window_start").as("ws"), $"value")
        .as[(Long, Double)].collect().toSet
    assert(run(ntz) == run(ltz), "NTZ must window to the identical instants under UTC")
    // Tables.load normalizes an NTZ ts column the same way
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    ntz.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType.typeName == "timestamp")
    assert(run(loaded) == run(ltz))
  }

  test("fan-out ≡ union of N filtered single-definition aggregations (typed, NTZ, schemaless)") {
    val severities = Seq("INFO", "WARN", "ERROR")
    val services = Seq("api", "x", "db")
    val users = Seq("u1", "u2", "u3", null)
    val rts = Seq("12.5", "7", "bad", null, "30")
    val rows = (0 until 400).map { i =>
      (at(i * 37 % 200), severities(i % 3), services(i / 3 % 3), users(i % 4),
        if (i % 11 == 0) None else Some((i * 13 % 90).toDouble), rts(i % 5))
    }
    val typed = rows.map { case (ts, sev, svc, user, bytes, rt) => Ev(ts, sev, svc, user, bytes, rt) }.toDF
    val ntz = typed.withColumn("ts", to_timestamp_ntz(date_format($"ts", "yyyy-MM-dd HH:mm:ss")))
    val schemaless = rows.map { case (ts, sev, svc, user, bytes, rt) =>
      (ts, Seq("severity" -> sev, "service" -> svc, "user" -> user,
        "bytes" -> bytes.map(b => f"$b%.0f").orNull, "rt" -> rt).filter(_._2 != null).toMap)
    }.toDF("ts", "msg")

    val kinds = Seq(MetricType.Count, MetricType.Sum("bytes"), MetricType.Min("rt"),
      MetricType.Max("rt"), MetricType.Avg("bytes"), MetricType.P50("rt"),
      MetricType.P50Approx("bytes"))
    val shapes: Seq[(Map[String, String], Map[String, String])] = Seq(
      (Map.empty, Map.empty),                                  // no labels
      (Map("env" -> "t"), Map.empty),                          // static only
      (Map("env" -> "t"), Map("user" -> "user")),              // shared shape …
      (Map("env" -> "t"), Map("user" -> "user")),              // … twice
      (Map("env" -> "prod", "team" -> "a"), Map("env" -> "service")), // dynamic overrides static
      (Map.empty, Map("sev" -> "severity", "svc" -> "service")))
    val filters = Seq(
      Nil,
      Seq(FilterCondition("severity", "ERROR", "equals")),
      Seq(FilterCondition("bytes", "40", "greater_than"), FilterCondition("service", "x", "contains")),
      Seq(FilterCondition("rt", "20", "less_than")),
      Seq(FilterCondition("severity", "WARN", "equals")))
    val defs = (0 until 70).map { i =>
      val (static, dynamic) = shapes(i % shapes.size)
      MetricDefinition(f"m$i%02d", kinds(i % kinds.size), filters(i % filters.size),
        static, dynamic, if (i % 5 < 3) 10 else 60)
    } ++ Seq(
      // same name, window and labels: one merged point per window
      MetricDefinition("dup", MetricType.Count, filters(1), Map("env" -> "t"), windowSizeSec = 60),
      MetricDefinition("dup", MetricType.Count, Seq(FilterCondition("service", "api", "equals")),
        Map("env" -> "t"), windowSizeSec = 60),
      // same name, other kind: its own point
      MetricDefinition("dup", MetricType.Sum("bytes"), Nil, Map("env" -> "t"), windowSizeSec = 60),
      // one key, static in one definition and dynamic in the other
      MetricDefinition("zone", MetricType.Count, Nil, Map("z" -> "x"), windowSizeSec = 60),
      MetricDefinition("zone", MetricType.Count, Nil, dynamicLabels = Map("z" -> "service"),
        windowSizeSec = 60),
      MetricDefinition("zone", MetricType.Count, filters(1), Map("z" -> "other"), windowSizeSec = 60)) ++
      // 70 more distinct conditions: the condition bits span two 63-bit words
      (0 until 70).map(i => MetricDefinition(s"over$i", MetricType.Sum("bytes"),
        Seq(FilterCondition("bytes", i.toString, "greater_than")), windowSizeSec = 60))

    def points(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select($"metric", $"window_start", $"window_end", $"labels", $"value").collect().toSeq
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getMap[String, String](3).toSeq.sorted, r.get(4)).toString)
        .sorted

    for ((input, mode) <- Seq(
        typed -> LogsToMetrics.Typed(typed.schema),
        ntz -> LogsToMetrics.Typed(ntz.schema),
        schemaless -> LogsToMetrics.Schemaless("msg"))) {
      val got = points(LogsToMetrics(defs, mode)(input))
      val want = points(reference(defs, mode, input))
      assert(got.size > 1000, s"too few points to compare: ${got.size}")
      assert(got == want, s"$mode: only fan-out ${got.diff(want).take(5)}, " +
        s"only reference ${want.diff(got).take(5)}")
      assert(got.exists(_.startsWith("(dup,")) && got.exists(p => p.startsWith("(zone,") &&
        p.contains("List((z,x))")))
    }
  }

  /** The obvious per-definition plan: each definition filtered and projected
    * on its own, the results unioned, one aggregation over (name, kind,
    * window, label set).
    */
  private def reference(defs: Seq[MetricDefinition], mode: LogsToMetrics.Mode,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val micros = unix_micros(col("ts").cast("timestamp"))
    defs.map { d =>
      val size = d.effectiveWindowSizeSec * 1000000L
      val entries = (d.staticLabels.map { case (k, v) => k -> lit(v) } ++
        d.dynamicLabels.map { case (k, f) => k -> mode.labelValue(f) }).toSeq.sortBy(_._1)
      val labels =
        if (entries.isEmpty) array().cast("array<struct<key:string,value:string>>")
        else array(entries.map { case (k, v) => struct(lit(k).as("key"), v.as("value")) }: _*)
      val (kind, value) = d.metricType match {
        case MetricType.Count                  => ("sum", lit(1.0))
        case MetricType.Sum(f)                 => ("sum", mode.sumValue(f))
        case MetricType.Min(f)                 => ("min", mode.numValue(f))
        case MetricType.Max(f)                 => ("max", mode.numValue(f))
        case MetricType.Avg(f)                 => ("avg", mode.numValue(f))
        case MetricType.P50(f)                 => ("p50", mode.numValue(f))
        case MetricType.P50Approx(f, _)        => ("p50a", mode.numValue(f))
      }
      df.filter(mode.pred(d.filters)).select(lit(d.name).as("metric"), lit(kind).as("kind"),
        lit(size).as("size"), (micros - pmod(micros, lit(size))).as("ws"), labels.as("labels"),
        value.as("v"))
    }.reduce(_ unionByName _)
      .groupBy("metric", "kind", "size", "ws", "labels")
      .agg(sum("v").as("sum"), min("v").as("min"), max("v").as("max"), avg("v").as("avg"),
        percentile($"v", lit(0.5)).as("p50"), percentile_approx($"v", lit(0.5), lit(10000)).as("p50a"))
      .select($"metric", timestamp_micros($"ws").as("window_start"),
        timestamp_micros($"ws" + $"size").as("window_end"),
        map_from_entries($"labels").as("labels"),
        when($"kind" === "sum", $"sum").when($"kind" === "min", $"min")
          .when($"kind" === "max", $"max").when($"kind" === "avg", $"avg")
          .when($"kind" === "p50", $"p50").otherwise($"p50a").as("value"))
  }
}

object LogsToMetricsSpec {
  final case class Row1(ts: java.sql.Timestamp, severity: String, bytes: Double)
  final case class Ev(ts: java.sql.Timestamp, severity: String, service: String, user: String,
      bytes: Option[Double], rt: String)
}
