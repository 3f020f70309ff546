package graft.model

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** YAML/JSON metric-config loader — reference O13
  * (/root/reference/beametrics/config.py:9-39 for loading,
  * /root/reference/beametrics/main.py:161-189 for assembly semantics,
  * schema example /root/reference/README.md:73-96).
  *
  * Schema (one entry per metric under `metrics:`):
  * {{{
  * metrics:
  *   - name: my-metric            # required
  *     type: count | sum | min | max | avg   # required; all but count
  *                                # require `field` (min/max/avg are EXT
  *                                # beyond the reference's two)
  *     field: bytes               # sum/min/max/avg source field
  *     labels: {k: v}             # static labels (required, as in reference)
  *     dynamic_labels: {k: fld}   # optional
  *     filter-conditions:         # required list (may be empty ⇒ match-all)
  *       - {field: f, value: v, operator: equals}
  *     export_type: local | google-cloud-monitoring   # optional, default GCM
  *     window-size: 60            # optional extension (reference takes this
  *                                # from the CLI, not per metric)
  * }}}
  *
  * The GCS (`gs://`) branch of the reference loader is out of scope (no
  * cloud clients here); local files and inline strings are supported.
  */
object ConfigLoader {

  /** One metric with its export routing (reference MetricConfig). */
  final case class MetricRoute(definition: MetricDefinition, export: ExportTarget)

  private val yamlMapper = new ObjectMapper(new YAMLFactory())
  private val jsonMapper = new ObjectMapper()

  /** Parse the reference's `--filter-conditions` JSON array
    * (`[{"field": …, "value": …, "operator": …}, …]` —
    * /root/reference/beametrics/main.py:142-158 semantics).
    */
  def parseFilterConditions(json: String): Seq[FilterCondition] =
    jsonMapper
      .readValue(json, classOf[java.util.List[Object]])
      .asScala
      .toSeq
      .map(c0 => conditionFromMap(c0.asInstanceOf[java.util.Map[String, Object]]))

  /** Single shared map→FilterCondition mapping for the YAML and JSON paths. */
  private def conditionFromMap(c: java.util.Map[String, Object]): FilterCondition =
    FilterCondition(
      String.valueOf(c.get("field")),
      String.valueOf(c.get("value")),
      String.valueOf(c.get("operator")))

  /** Parse a JSON object of string→string (labels flags). */
  def parseStringMap(json: String): Map[String, String] =
    jsonMapper
      .readValue(json, classOf[java.util.Map[String, Object]])
      .asScala
      .toMap
      .map { case (k, v) => k -> String.valueOf(v) }

  /** Single-metric config from CLI-shaped flags — the reference's
    * create_single_metric_config (/root/reference/beametrics/main.py:235-273).
    */
  def singleMetric(
      name: String,
      metricType: String,
      field: Option[String],
      filterConditionsJson: Option[String],
      metricLabelsJson: Option[String],
      dynamicLabelsJson: Option[String],
      windowSizeSec: Long,
      exportType: String,
      project: Option[String]): MetricRoute =
    MetricRoute(
      MetricDefinition(
        name = name,
        metricType = MetricType.parse(metricType, field),
        filters = filterConditionsJson.map(parseFilterConditions).getOrElse(Nil),
        staticLabels = metricLabelsJson.map(parseStringMap).getOrElse(Map.empty),
        dynamicLabels = dynamicLabelsJson.map(parseStringMap).getOrElse(Map.empty),
        windowSizeSec = windowSizeSec),
      ExportTarget.parse(exportType, project))

  def fromFile(path: String, defaultWindowSizeSec: Long = 60, project: Option[String] = None)
      : Seq[MetricRoute] =
    fromYaml(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"), defaultWindowSizeSec, project)

  /** `--metrics` inline JSON: an ARRAY of metric entries with the same
    * schema as the YAML `metrics:` list, wrapped reference-style as
    * `{"metrics": <parsed>}` (/root/reference/beametrics/main.py:297-301).
    *
    * Returns None only when the string is not parseable JSON — mirroring the
    * reference, which falls back to single-metric flags on json.JSONDecodeError
    * alone (main.py:302-306); a well-formed document of the wrong shape or
    * with missing keys fails loudly downstream, exactly as
    * create_metrics_configs would.
    */
  def fromMetricsJson(
      json: String,
      defaultWindowSizeSec: Long = 60,
      project: Option[String] = None): Option[Seq[MetricRoute]] = {
    val parsed =
      try Some(jsonMapper.readValue(json, classOf[Object]))
      catch { case _: com.fasterxml.jackson.core.JacksonException => None }
    parsed.map { list =>
      val root = new java.util.HashMap[String, Object]()
      root.put("metrics", list)
      asMetrics(root, defaultWindowSizeSec, project)
    }
  }

  def fromYaml(yaml: String, defaultWindowSizeSec: Long = 60, project: Option[String] = None)
      : Seq[MetricRoute] = {
    val root = yamlMapper.readValue(yaml, classOf[java.util.Map[String, Object]])
    asMetrics(root, defaultWindowSizeSec, project)
  }

  private def asMetrics(
      root: java.util.Map[String, Object],
      defaultWindow: Long,
      project: Option[String]): Seq[MetricRoute] = {
    val metrics = Option(root.get("metrics"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq)
      .getOrElse(Seq.empty)
    metrics.map { m0 =>
      val m = m0.asInstanceOf[java.util.Map[String, Object]]
      def str(k: String): Option[String] = Option(m.get(k)).map(_.toString)
      def strMap(k: String): Map[String, String] =
        Option(m.get(k))
          .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap.map {
            case (kk, vv) => kk -> String.valueOf(vv)
          })
          .getOrElse(Map.empty)

      val name = str("name").getOrElse(throw new IllegalArgumentException("metric requires a name"))
      // reference: metric_config["labels"] — required key (main.py:167,176)
      require(m.containsKey("labels"), s"metric $name requires labels")
      // reference: metric_config["filter-conditions"] — required key (main.py:183)
      require(m.containsKey("filter-conditions"), s"metric $name requires filter-conditions")
      val conds = Option(m.get("filter-conditions"))
        .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq)
        .getOrElse(Seq.empty)
        .map(c0 => conditionFromMap(c0.asInstanceOf[java.util.Map[String, Object]]))
      val defn = MetricDefinition(
        name = name,
        metricType = MetricType.parse(
          str("type").getOrElse(throw new IllegalArgumentException(s"metric $name requires a type")),
          str("field")),
        filters = conds,
        staticLabels = strMap("labels"),
        dynamicLabels = strMap("dynamic_labels"),
        windowSizeSec = str("window-size").map(_.toLong).getOrElse(defaultWindow))
      // reference default export_type = google-cloud-monitoring (main.py:169)
      val export = ExportTarget.parse(str("export_type").getOrElse("google-cloud-monitoring"), project)
      MetricRoute(defn, export)
    }
  }
}
