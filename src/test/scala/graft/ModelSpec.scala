package graft

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Config ADT validation parity with the reference
  * (/root/reference/tests/test_metrics.py, tests/test_main.py) and the
  * YAML loader (/root/reference/README.md:73-96 schema).
  */
class ModelSpec extends AnyFunSuite {

  test("sum requires a field (test_metrics.py:28-38)") {
    intercept[IllegalArgumentException](MetricType.parse("sum", None))
    intercept[IllegalArgumentException](MetricType.parse("sum", Some("")))
    assert(MetricType.parse("sum", Some("bytes")) == MetricType.Sum("bytes"))
    assert(MetricType.parse("count", None) == MetricType.Count)
    assert(MetricType.parse("COUNT", None) == MetricType.Count)
  }

  test("unsupported metric type rejected (test_main.py:176-194)") {
    intercept[IllegalArgumentException](MetricType.parse("median", Some("x")))
    // EXT types beyond the reference's count|sum parse with a field
    assert(MetricType.parse("min", Some("v")) == MetricType.Min("v"))
    assert(MetricType.parse("max", Some("v")) == MetricType.Max("v"))
    assert(MetricType.parse("avg", Some("v")) == MetricType.Avg("v"))
    intercept[IllegalArgumentException](MetricType.parse("avg", None))
  }

  test("a condition's numeric comparand parses like Python float(), decimal literals only") {
    def n(v: String) = FilterCondition("f", v, FilterOps.GreaterThan).number
    assert(n(" 1.5 ").contains(1.5))
    assert(n("-3e2").contains(-300.0))
    assert(n(".5").contains(0.5))
    // Java suffix forms parse with toDouble, not with float()
    assert(n("100d").isEmpty && n("1.5f").isEmpty && n("abc").isEmpty && n("").isEmpty)
  }

  test("unsupported export type rejected (test_main.py:112-131)") {
    intercept[IllegalArgumentException](ExportTarget.parse("stdout"))
    assert(ExportTarget.parse("local") == ExportTarget.Local)
    assert(ExportTarget.parse("google-cloud-monitoring", Some("p")) ==
      ExportTarget.Monitoring("p"))
    // monitoring without project rejected
    intercept[IllegalArgumentException](ExportTarget.parse("monitoring", None))
  }

  test("window size <= 0 falls back to 60 (pipeline.py:50-65)") {
    assert(MetricDefinition("m", MetricType.Count, windowSizeSec = 0).effectiveWindowSizeSec == 60)
    assert(MetricDefinition("m", MetricType.Count, windowSizeSec = -5).effectiveWindowSizeSec == 60)
    assert(MetricDefinition("m", MetricType.Count, windowSizeSec = 30).effectiveWindowSizeSec == 30)
  }

  test("dynamic labels shadow static on key conflict (pipeline.py:198)") {
    val d = MetricDefinition(
      "m",
      MetricType.Count,
      staticLabels = Map("a" -> "s", "b" -> "s"),
      dynamicLabels = Map("a" -> "field_x"))
    assert(d.effectiveStaticLabels == Map("b" -> "s"))
  }

  test("YAML loader parses the reference README schema") {
    val yaml =
      """metrics:
        |  - name: beametrics-test-1
        |    labels:
        |      LABEL: HOGE1
        |    dynamic_labels:
        |      label_key: label_value
        |    filter-conditions:
        |      - field: user_agent
        |        value: dummy_data
        |        operator: equals
        |    type: count
        |    export_type: local
        |  - name: bytes-sum
        |    labels: {}
        |    filter-conditions: []
        |    type: sum
        |    field: bytes
        |    window-size: 300
        |""".stripMargin
    val routes = ConfigLoader.fromYaml(yaml, defaultWindowSizeSec = 120, project = Some("proj"))
    assert(routes.size == 2)
    val r1 = routes.head
    assert(r1.definition.name == "beametrics-test-1")
    assert(r1.definition.metricType == MetricType.Count)
    assert(r1.definition.staticLabels == Map("LABEL" -> "HOGE1"))
    assert(r1.definition.dynamicLabels == Map("label_key" -> "label_value"))
    assert(r1.definition.filters == Seq(FilterCondition("user_agent", "dummy_data", "equals")))
    assert(r1.definition.windowSizeSec == 120) // CLI default, not per-metric
    assert(r1.export == ExportTarget.Local)
    val r2 = routes(1)
    assert(r2.definition.metricType == MetricType.Sum("bytes"))
    assert(r2.definition.filters.isEmpty) // empty list ⇒ match-all
    assert(r2.definition.windowSizeSec == 300)
  }

  test("YAML loader: missing required keys fail like the reference KeyError") {
    intercept[IllegalArgumentException](
      ConfigLoader.fromYaml("metrics:\n  - name: x\n    type: count\n    filter-conditions: []\n"))
    intercept[IllegalArgumentException](
      ConfigLoader.fromYaml("metrics:\n  - name: x\n    type: count\n    labels: {}\n"))
    // default export_type is google-cloud-monitoring, which needs a project
    intercept[IllegalArgumentException](
      ConfigLoader.fromYaml(
        "metrics:\n  - name: x\n    type: count\n    labels: {}\n    filter-conditions: []\n"))
  }

  // ---- --metrics inline JSON precedence (main.py:288-308, test_main.py:314-352)

  private val MetricsJson =
    """[{"name": "m-json", "type": "count", "labels": {"L": "1"},
      |  "filter-conditions": [{"field": "f", "value": "v", "operator": "equals"}],
      |  "export_type": "local"}]""".stripMargin
  private val FlagOpts = Map(
    "--metric-name" -> "m-flag",
    "--metric-type" -> "count",
    "--export-type" -> "local")

  test("--metrics inline JSON array builds configs with YAML-list semantics") {
    val routes = Main.resolveRoutes(Map("--metrics" -> MetricsJson) ++ FlagOpts)
    assert(routes.map(_.definition.name) == Seq("m-json")) // JSON wins over flags
    assert(routes.head.definition.filters ==
      Seq(FilterCondition("f", "v", "equals")))
    assert(routes.head.export == ExportTarget.Local)
  }

  test("--config file wins over --metrics (reference precedence)") {
    val yaml = "metrics:\n  - name: m-yaml\n    type: count\n    labels: {}\n" +
      "    filter-conditions: []\n    export_type: local\n"
    val f = java.nio.file.Files.createTempFile("graft-metrics", ".yaml")
    java.nio.file.Files.write(f, yaml.getBytes("UTF-8"))
    try {
      val routes = Main.resolveRoutes(
        Map("--config" -> f.toString, "--metrics" -> MetricsJson) ++ FlagOpts)
      assert(routes.map(_.definition.name) == Seq("m-yaml"))
    } finally java.nio.file.Files.delete(f)
  }

  test("malformed --metrics JSON falls back to single-metric flags (main.py:302-306)") {
    val routes = Main.resolveRoutes(Map("--metrics" -> "{not json") ++ FlagOpts)
    assert(routes.map(_.definition.name) == Seq("m-flag"))
  }

  test("well-formed --metrics with missing required keys fails loudly, no fallback") {
    // reference catches json.JSONDecodeError ONLY; KeyError propagates
    intercept[IllegalArgumentException](Main.resolveRoutes(
      Map("--metrics" -> """[{"name": "x", "type": "count", "labels": {}}]""") ++ FlagOpts))
  }
}
