package graft

import graft.model._
import graft.pipeline.LogsToMetrics
import graft.sinks._
import org.apache.spark.sql.functions._

/** Sink layer: reference local-exporter JSON shape
  * (/root/reference/tests/test_metrics_exporter.py:161-178) and the
  * log-and-continue export policy (:104-127).
  */
class MetricsSinkSpec extends SparkSpec {
  import spark.implicits._
  import MetricsSinkSpec.FailingSink

  private def points(): org.apache.spark.sql.DataFrame = {
    val df = Seq(
      (new java.sql.Timestamp(60000L), "ERROR", 10.0),
      (new java.sql.Timestamp(65000L), "ERROR", 5.0),
      (new java.sql.Timestamp(70000L), "INFO", 1.0)
    ).toDF("ts", "severity", "value")
    val defs = Seq(
      MetricDefinition("errors", MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")), windowSizeSec = 60),
      MetricDefinition("values", MetricType.Sum("value"), windowSizeSec = 60))
    LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
  }

  test("JSON line matches the reference local exporter shape (ISO-8601 UTC)") {
    val p = MetricPoint(new java.sql.Timestamp(120000L), "errors", 2.0, Map("sev" -> "ERROR"))
    assert(p.toJsonLine ==
      """{"timestamp": "1970-01-01T00:02:00Z", """ +
        """"metric_name": "errors", "value": 2.0, "labels": {"sev": "ERROR"}}""")
  }

  test("formatted() exposes window_end as the point timestamp with prefix") {
    val f = MetricsSink.formatted(points(), "custom.googleapis.com/")
    assert(f.columns.toSeq == Seq("timestamp", "metric_name", "value", "labels"))
    val names = f.select("metric_name").as[String].collect().toSet
    assert(names == Set("custom.googleapis.com/errors", "custom.googleapis.com/values"))
  }

  test("GCM request rows carry the minute-aligned gauge interval (metrics_exporter.py:76-78)") {
    val shaped = MetricsSink.gcmRequestShaped(
      MetricsSink.formatted(points(), "custom.googleapis.com/"))
    assert(shaped.columns.toSeq == Seq("metric_type", "resource_type", "labels",
      "double_value", "interval_end_seconds", "interval_start_seconds"))
    val rows = shaped
      .select($"interval_start_seconds", $"interval_end_seconds", $"resource_type")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, e) = (r.getLong(0), r.getLong(1))
      assert(s == e, "reference uses the SAME aligned second for start and end")
      assert(s % 60 == 0, "interval must be floored to the minute")
      assert(r.getString(2) == "global")
    }
    // windows close at :01/:02 minutes over 60-65-70s inputs → aligned
    // timestamps floor to exactly those minute marks
    val ends = shaped.select($"interval_end_seconds").as[Long].collect().toSet
    assert(ends == Set(120L))
  }

  test("failing sink: default mode logs and continues, strict mode fails") {
    val collectedOk = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // sinks run on executors; in local mode a static set is visible
    MetricsSinkSpec.seen.clear()
    MetricsSink.writeBatch(
      MetricsSink.formatted(points()),
      name => new FailingSink("errors", new MetricsSink {
        def write(p: MetricPoint): Unit = MetricsSinkSpec.seen.add(p.metricName)
      }),
      strict = false)
    assert(MetricsSinkSpec.seen.contains("values") && !MetricsSinkSpec.seen.contains("errors"))

    intercept[org.apache.spark.SparkException] {
      MetricsSink.writeBatch(
        MetricsSink.formatted(points()),
        _ => new FailingSink("errors", new ConsoleSink),
        strict = true)
    }
    collectedOk.size() // silence unused warning
  }

  /** The points `writeBatch` hands its sinks, collected. */
  private def exported(f: org.apache.spark.sql.DataFrame): Set[MetricPoint] = {
    MetricsSinkSpec.exported.clear()
    MetricsSink.writeBatch(f, _ => new MetricsSink {
      def write(p: MetricPoint): Unit = MetricsSinkSpec.exported.add(p)
    }, strict = true)
    MetricsSinkSpec.exported.toArray(Array.empty[MetricPoint]).toSet
  }

  /** The points of `f` as `Row`s read them. */
  private def rowPoints(f: org.apache.spark.sql.DataFrame): Set[MetricPoint] =
    f.collect().map { r =>
      MetricPoint(
        r.getTimestamp(r.fieldIndex("timestamp")),
        r.getString(r.fieldIndex("metric_name")),
        r.getDouble(r.fieldIndex("value")),
        r.getMap[String, String](r.fieldIndex("labels")).toMap)
    }.toSet

  test("writeBatch exports the points the Row path reads, whatever the column order") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val f = Seq(
      (ts("2026-01-01 00:01:00.123456"), "a", 1.5, Map("k" -> "v", "z" -> "")),
      (ts("2026-01-01 00:02:00"), "b", -0.0, Map.empty[String, String]),
      (ts("1500-03-01 12:00:00.000001"), "a", Double.MaxValue, Map("k" -> "w")))
      .toDF("timestamp", "metric_name", "value", "labels")
    val want = rowPoints(f)
    assert(want.size == 3 && want.exists(_.timestamp.getNanos == 123456000))
    assert(exported(f) == want)
    assert(exported(f.select($"labels", lit(7).as("extra"), $"value", $"metric_name", $"timestamp")) == want)
    val pipeline = MetricsSink.formatted(points(), "p/")
    assert(exported(pipeline) == rowPoints(pipeline))
  }

  test("writeBatch runs the frame as one SQL execution: Dataset.observe delivers its metrics") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val obs = org.apache.spark.sql.Observation("written")
    val f = MetricsSink.formatted(points())
    val written = exported(f.observe(obs, count(lit(1)).as("n")))
    assert(Await.result(obs.future, 60.seconds).getAs[Long]("n") == written.size)
    assert(written.size == 2)
  }

  test("non-strict failures print one line per partition and sink; strict rethrows the first") {
    val f = (0 until 30)
      .map(i => (new java.sql.Timestamp(i * 1000L), "down", i.toDouble, Map("k" -> "v")))
      .toDF("timestamp", "metric_name", "value", "labels")
      .repartition(3)
    val sizes = f.rdd.mapPartitions(it => Iterator(it.size)).collect().filter(_ > 0).sorted.toSeq
    assert(sizes.size > 1)
    val boom: String => MetricsSink = _ => new MetricsSink {
      def write(p: MetricPoint): Unit = throw new RuntimeException(s"target down at ${p.value}")
    }
    /** The `[graft-sink]` lines `run` prints, and what it throws. */
    def logged(run: => Unit): (Seq[String], Option[Throwable]) = {
      val buf = new java.io.ByteArrayOutputStream
      val saved = System.err
      System.setErr(new java.io.PrintStream(buf, true))
      val thrown = try { run; None } catch { case e: Exception => Some(e) } finally System.setErr(saved)
      (buf.toString("UTF-8").linesIterator.filter(_.startsWith("[graft-sink]")).toSeq, thrown)
    }
    def causes(e: Option[Throwable]) =
      e.toSeq.flatMap(Iterator.iterate(_)(_.getCause).takeWhile(_ != null)).map(_.getMessage)
    val failedCount = "failed for (\\d+) points of down, first: target down at ".r

    val (lines, thrown) = logged(MetricsSink.writeBatch(f, boom))
    assert(thrown.isEmpty, thrown)
    assert(lines.size == sizes.size, lines.mkString("\n"))
    val counts = lines.map(failedCount.findFirstMatchIn(_))
    assert(counts.forall(_.isDefined), lines.mkString("\n"))
    assert(counts.map(_.get.group(1).toInt).sorted == sizes)

    // a sink whose close throws fails the job, after its partition's summary is printed
    val (closing, closeErr) = logged(MetricsSink.writeBatch(f.coalesce(1), _ => new MetricsSink {
      def write(p: MetricPoint): Unit = throw new RuntimeException(s"target down at ${p.value}")
      override def close(): Unit = throw new RuntimeException("flush failed")
    }))
    assert(causes(closeErr).exists(m => m != null && m.startsWith("flush failed")), closeErr)
    assert(closing.flatMap(failedCount.findFirstMatchIn(_)).map(_.group(1).toInt) == Seq(30), closing.mkString("\n"))

    val (_, strictErr) = logged(MetricsSink.writeBatch(f, boom, strict = true))
    assert(strictErr.exists(_.isInstanceOf[org.apache.spark.SparkException]), strictErr)
    assert(causes(strictErr).exists(m => m != null && m.startsWith("target down")), strictErr)
  }

  test("a point without a value (no row carries the field) is skipped, strict or not") {
    val df = Seq((new java.sql.Timestamp(60000L), "ERROR")).toDF("ts", "severity")
    val defs = Seq(MetricDefinition("rt_max", MetricType.Max("rt"), windowSizeSec = 60))
    val pts = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
    assert(pts.collect().map(r => Option(r.getAs[java.lang.Double]("value"))).toSeq == Seq(None))
    for (strict <- Seq(false, true)) {
      MetricsSinkSpec.seen.clear()
      MetricsSink.writeBatch(MetricsSink.formatted(pts),
        _ => new MetricsSink {
          def write(p: MetricPoint): Unit = MetricsSinkSpec.seen.add(p.metricName)
        },
        strict)
      assert(MetricsSinkSpec.seen.isEmpty, s"strict=$strict")
    }
    assert(MetricsSink.gcmRequestShaped(MetricsSink.formatted(pts)).count() == 0)
  }

  test("multiRouter: a failing target does not starve later targets") {
    MetricsSinkSpec.seen.clear()
    val ok = MetricsSink.Target("ok/",
      _ => new MetricsSink {
        def write(p: MetricPoint): Unit = MetricsSinkSpec.seen.add(p.metricName)
      })
    def boom(prefix: String) = MetricsSink.Target(prefix,
      _ => new MetricsSink {
        def write(p: MetricPoint): Unit = throw new RuntimeException(s"down: $prefix")
      })
    // strict mode: first target fails, the later target must STILL export,
    // and the batch as a whole must surface the failure
    val e = intercept[Exception] {
      MetricsSink.multiRouter(Seq(boom("a/"), ok, boom("b/")), strict = true)(points(), 0L)
    }
    assert(MetricsSinkSpec.seen.contains("ok/errors") &&
      MetricsSinkSpec.seen.contains("ok/values"),
      s"healthy target must export despite earlier failure, saw ${MetricsSinkSpec.seen}")
    assert(e.getSuppressed.length == 1, "second failure attached as suppressed")

    // non-strict: failures logged, call succeeds
    MetricsSinkSpec.seen.clear()
    MetricsSink.multiRouter(Seq(boom("a/"), ok), strict = false)(points(), 1L)
    assert(MetricsSinkSpec.seen.contains("ok/errors"))
  }

  test("JSON-files sink: formatted points round-trip through a json write") {
    // the at-scale file sink is the plain DataFrame json writer over the
    // formatted frame (one file per partition, no driver bottleneck) —
    // assert the round trip preserves every point
    val tmp = java.nio.file.Files.createTempDirectory("graft-json-sink").toString + "/points"
    // label-bearing defs: an empty labels map would be omitted per JSON
    // line and inference would drop the column entirely
    val df = Seq(
      (new java.sql.Timestamp(60000L), "ERROR", 10.0),
      (new java.sql.Timestamp(70000L), "INFO", 1.0)
    ).toDF("ts", "severity", "value")
    val defs = Seq(
      MetricDefinition("errors", MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")),
        dynamicLabels = Map("sev" -> "severity"), windowSizeSec = 60),
      MetricDefinition("values", MetricType.Sum("value"),
        dynamicLabels = Map("sev" -> "severity"), windowSizeSec = 60))
    val f = MetricsSink.formatted(
      LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df), "p/")
    f.write.json(tmp)
    val back = spark.read.json(tmp)
    assert(back.count() == f.count())
    val names = back.select("metric_name").as[String].collect().toSet
    assert(names == Set("p/errors", "p/values"))
    // values survive as doubles, labels as a struct/map per line
    assert(back.schema.fieldNames.toSet ==
      Set("timestamp", "metric_name", "value", "labels"))
  }

  test("prefixFor matches reference --export-type naming") {
    assert(MetricsSink.prefixFor(ExportTarget.Local) == "")
    assert(MetricsSink.prefixFor(ExportTarget.parse("monitoring", Some("p"))) ==
      "custom.googleapis.com/")
  }

  test("idempotent: replayed batchIds skip, failed attempts leave no marker") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("commitlog").toString
    val batch = Seq(1).toDF("x")
    var delivered = 0
    var failFirst = true
    val body: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => {
      if (failFirst) { failFirst = false; throw new RuntimeException("transient export error") }
      delivered += 1
    }
    val wrapped = MetricsSink.idempotent(dir)(body)
    // attempt 1 fails → no marker → streaming retries the SAME batchId
    intercept[RuntimeException](wrapped(batch, 7L))
    wrapped(batch, 7L) // retry delivers
    wrapped(batch, 7L) // replay after restart: marker present → skipped
    assert(delivered == 1, s"batch 7 must export exactly once, got $delivered")
    wrapped(batch, 8L) // a new batchId still flows
    assert(delivered == 2)
  }

  test("idempotent: markers behind the replay frontier are retired") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("commitlog2").toString
    val batch = Seq(1).toDF("x")
    val wrapped = MetricsSink.idempotent(dir, retainBatches = 3)((_, _) => ())
    (0L to 10L).foreach(wrapped(batch, _))
    val markers = new java.io.File(dir).list().filter(_.startsWith("batch-")).sorted
    // after batch 10 with retain=3, only ids >= 7 survive
    assert(markers.toSeq == Seq("batch-10", "batch-7", "batch-8", "batch-9"), markers.mkString(","))
  }
}

object MetricsSinkSpec {
  val seen: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val exported = new java.util.concurrent.ConcurrentLinkedQueue[MetricPoint]()

  /** Throws on a configurable metric name — exercises the error policy. */
  final class FailingSink(failOn: String, underlying: MetricsSink) extends MetricsSink {
    def write(p: MetricPoint): Unit = {
      if (p.metricName == failOn) throw new RuntimeException(s"export failed for ${p.metricName}")
      underlying.write(p)
    }
  }
}
