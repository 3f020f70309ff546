package graft.model

/** Config ADTs for the log→metrics engine.
  *
  * Re-expresses the reference's config surface (see
  * /root/reference/beametrics/metrics.py:1-49,
  * /root/reference/beametrics/filter.py:6-10,
  * /root/reference/beametrics/main.py:104-189) as plain Scala case
  * classes validated at construction. The reference's deferred
  * `ValueProvider` layer collapses into constructor arguments: Spark
  * resolves all configuration on the driver at submit time (SURVEY.md §3 E2).
  */

/** One field predicate: AND-ed conjunctively with its siblings.
  * Mirrors /root/reference/beametrics/filter.py:6-10. `operator` is kept
  * stringly-typed like the reference (unknown operator ⇒ never matches,
  * /root/reference/beametrics/filter.py:42) so configs round-trip 1:1.
  */
final case class FilterCondition(field: String, value: String, operator: String) {
  require(field != null && field.nonEmpty, "filter condition requires a field")

  /** `value` as the comparand of greater_than/less_than: Python's
    * `float(value)`, whose failure means the condition never matches.
    */
  def number: Option[Double] =
    Some(value.trim).filter(FilterCondition.DoubleLit.matches).flatMap(_.toDoubleOption)
}

object FilterCondition {
  /** Decimal-literal grammar only: Scala's `toDouble` accepts Java suffix
    * forms ("100d", "1.5f") that Python's float() rejects. (Remaining
    * micro-divergences documented: Python also accepts underscore
    * separators and inf/nan, which no sane config uses.)
    */
  private val DoubleLit = """[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?""".r
}

object FilterOps {
  val Equals = "equals"
  val Contains = "contains"
  val GreaterThan = "greater_than"
  val LessThan = "less_than"
  val known: Set[String] = Set(Equals, Contains, GreaterThan, LessThan)
}

/** count | sum, as in /root/reference/beametrics/metrics.py:8-12. Sum
  * carries the field it aggregates; SUM-requires-field is enforced at
  * construction (reference: /root/reference/beametrics/metrics.py:24-32).
  */
sealed trait MetricType
object MetricType {
  case object Count extends MetricType
  final case class Sum(field: String) extends MetricType {
    require(field != null && field.nonEmpty, "field is required when metric_type is sum")
  }
  // EXT beyond the reference's count|sum (SURVEY.md §2.3 aggregations):
  // same field semantics as Sum (missing/unparsable ⇒ null, excluded).
  final case class Min(field: String) extends MetricType {
    require(field != null && field.nonEmpty, "field is required when metric_type is min")
  }
  final case class Max(field: String) extends MetricType {
    require(field != null && field.nonEmpty, "field is required when metric_type is max")
  }
  final case class Avg(field: String) extends MetricType {
    require(field != null && field.nonEmpty, "field is required when metric_type is avg")
  }

  /** Exact median (latency-style metric). Unlike the algebraic aggregates
    * above, the median buffers the window's values per group — the engine
    * only pays that cost (ObjectHashAggregate instead of codegen
    * HashAggregate) for fan-outs that actually declare a p50 metric.
    */
  final case class P50(field: String) extends MetricType {
    require(field != null && field.nonEmpty, "field is required when metric_type is p50")
  }

  /** Approximate median — the 100 TB percentile: `percentile_approx`'s
    * quantile summary keeps BOUNDED per-group state (vs the exact
    * median's full value buffer) and merges across partials, at a
    * documented rank-error `accuracy` (1/accuracy relative rank error).
    */
  final case class P50Approx(field: String, accuracy: Int = 10000) extends MetricType {
    require(field != null && field.nonEmpty, "field is required when metric_type is p50_approx")
    require(accuracy > 0, "accuracy must be positive")
  }
  def parse(metricType: String, field: Option[String]): MetricType = {
    val t = metricType.toLowerCase
    def f = {
      require(field.exists(_.nonEmpty), s"field is required when metric_type is $t")
      field.get
    }
    t match {
      case "count" => Count
      case "sum" => Sum(f)
      case "min" => Min(f)
      case "max" => Max(f)
      case "avg" => Avg(f)
      case "p50" => P50(f)
      case "p50_approx" => P50Approx(f)
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported metric type: $other (must be count, sum, min, max, avg, p50 or p50_approx)")
    }
  }
}

/** One metric definition (reference MetricDefinition,
  * /root/reference/beametrics/metrics.py:15-48):
  *  - `filters`: conjunctive conditions; empty ⇒ match-all
  *    (/root/reference/beametrics/filter.py:18-19)
  *  - `staticLabels`: constant label KVs attached to every point
  *  - `dynamicLabels`: labelName → messageField; value read per record,
  *    missing field ⇒ "" ; dynamic wins over static on key conflict
  *    (/root/reference/beametrics/pipeline.py:188-198)
  *  - `windowSizeSec`: tumbling event-time window, epoch-floor bucketing
  *    (/root/reference/beametrics/pipeline.py:67-70); ⇐0 falls back to 60
  *    (/root/reference/beametrics/pipeline.py:29,50-65)
  */
final case class MetricDefinition(
    name: String,
    metricType: MetricType,
    filters: Seq[FilterCondition] = Nil,
    staticLabels: Map[String, String] = Map.empty,
    dynamicLabels: Map[String, String] = Map.empty,
    windowSizeSec: Long = MetricDefinition.DefaultWindowSizeSec) {
  require(name != null && name.nonEmpty, "metric name is required")

  /** Reference semantics: window size ⇐ 0 (or unparsable) ⇒ default 60 s
    * (/root/reference/beametrics/pipeline.py:50-65).
    */
  def effectiveWindowSizeSec: Long =
    if (windowSizeSec > 0) windowSizeSec else MetricDefinition.DefaultWindowSizeSec

  /** Static labels minus keys shadowed by dynamic labels (dynamic wins —
    * /root/reference/beametrics/pipeline.py:198 merge order). Resolved at
    * plan time: both key sets are config constants.
    */
  def effectiveStaticLabels: Map[String, String] = staticLabels -- dynamicLabels.keys
}

object MetricDefinition {
  /** /root/reference/beametrics/pipeline.py:29 */
  val DefaultWindowSizeSec: Long = 60L
}

/** Export destination, mirroring --export-type validation
  * (/root/reference/beametrics/main.py:112-131). The GCM variant is an
  * out-of-engine sink adapter; `Local` is the oracle-friendly default.
  */
sealed trait ExportTarget
object ExportTarget {
  case object Local extends ExportTarget
  final case class Monitoring(project: String, metricNamePrefix: String = "custom.googleapis.com")
      extends ExportTarget
  def parse(s: String, project: Option[String] = None): ExportTarget = s match {
    case "local" => Local
    case "monitoring" | "google-cloud-monitoring" =>
      require(project.exists(_.nonEmpty), "project is required for monitoring export")
      Monitoring(project.get)
    case other => throw new IllegalArgumentException(s"Unsupported export type: $other")
  }
}
