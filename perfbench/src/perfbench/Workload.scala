package perfbench

/** One filter condition as the benchmark declares it (rendered to the
  * program's YAML, and evaluated by the oracle on its own).
  */
final case class Cond(field: String, op: String, value: String)

/** One metric definition. `kind` is count, sum or max; `field` is the
  * summed / maxed field (empty for count).
  */
final case class Def(
    name: String,
    kind: String,
    field: String,
    conds: Seq[Cond],
    static: Seq[(String, String)],
    dynamic: Seq[(String, String)],
    window: Long)

object Def {

  /** The metric YAML the program parses with `ConfigLoader.fromYaml`. */
  def yaml(defs: Seq[Def]): String = {
    def q(s: String) = "\"" + s + "\""
    def kv(m: Seq[(String, String)]) = m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val sb = new StringBuilder("metrics:\n")
    defs.foreach { d =>
      sb ++= s"  - name: ${q(d.name)}\n    type: ${d.kind}\n"
      if (d.field.nonEmpty) sb ++= s"    field: ${q(d.field)}\n"
      sb ++= s"    labels: ${kv(d.static)}\n    dynamic_labels: ${kv(d.dynamic)}\n"
      sb ++= "    filter-conditions:\n"
      d.conds.foreach(c =>
        sb ++= s"      - {field: ${q(c.field)}, value: ${q(c.value)}, operator: ${c.op}}\n")
      sb ++= s"    export_type: local\n    window-size: ${d.window}\n"
    }
    sb.toString
  }
}

/** Value pools of the reference-shaped log messages. */
object Vocab {
  val Severities = Array("DEBUG", "INFO", "WARN", "ERROR")
  val SeverityCdf = cdf(Array(0.15, 0.60, 0.17, 0.08))
  val Services = Array("api", "auth", "billing", "checkout", "search", "catalog",
    "cart", "payments", "users", "notify", "gateway", "media")
  val Paths: Array[String] = for {
    r <- Array("users", "orders", "items", "checkout", "search", "cart", "payments", "media",
      "sessions", "reviews")
    a <- Array("get", "list", "create", "update", "delete")
  } yield s"/api/v1/$r/$a"
  val Regions = Array("us-east1", "us-west1", "eu-west1", "eu-north1", "asia-east1",
    "asia-northeast1", "sa-east1", "au-southeast1")
  val Statuses = Array(200, 201, 204, 301, 304, 400, 401, 403, 404, 429, 500, 502, 503)
  val StatusCdf = cdf(Array(0.62, 0.06, 0.04, 0.02, 0.03, 0.04, 0.03, 0.02, 0.06, 0.02, 0.03,
    0.02, 0.01))
  val Messages = Array("request served", "cache miss", "upstream timeout", "retrying call",
    "user logged in", "payment declined", "slow query detected", "connection reset")
  /** Japanese messages sent Shift_JIS- or EUC-JP-encoded; none of their
    * bytes is a newline, a quote or a backslash in either charset.
    */
  val Japanese = Array("決済処理でタイムアウトが発生しました", "ユーザーがログインしました",
    "在庫の確認に失敗しました")

  def cdf(w: Array[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Zipf(s) CDF over `n` ranks. */
  def zipf(n: Int, s: Double): Array[Double] = cdf(Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s)))
}

/** One generated event, typed. `bytes < 0` and `region == null` mean the
  * field is absent from the message.
  */
final case class Ev(
    tsMs: Long,
    severity: String,
    service: String,
    path: String,
    status: Int,
    rtText: String,
    bytes: Long,
    region: String,
    message: String,
    user: String) {
  def rt: Double = rtText.toDouble

  /** Schemaless view: what the program's `map<string,string>` holds — JSON
    * strings unquoted, JSON numbers as their literal text.
    */
  def text(field: String): String = field match {
    case "severity" => severity
    case "service" => service
    case "path" => path
    case "status" => status.toString
    case "response_time" => rtText
    case "bytes" => if (bytes < 0) null else bytes.toString
    case "region" => region
    case "message" => message
    case "user" => user
    case _ => null
  }

  /** Typed view: Long/Double for numeric columns, String otherwise. */
  def typed(field: String): Any = field match {
    case "status" => status.toLong
    case "response_time" => rt
    case "bytes" => if (bytes < 0) null else bytes
    case f => text(f)
  }

  def json: String = {
    val sb = new StringBuilder(256)
    sb ++= "{\"ts\": " ++= tsMs.toString
    sb ++= ", \"severity\": \"" ++= severity ++= "\", \"service\": \"" ++= service
    sb ++= "\", \"path\": \"" ++= path ++= "\", \"status\": " ++= status.toString
    sb ++= ", \"response_time\": " ++= rtText
    if (bytes >= 0) sb ++= ", \"bytes\": " ++= bytes.toString
    if (region != null) sb ++= ", \"region\": \"" ++= region += '"'
    sb ++= ", \"message\": \"" ++= message ++= "\"}"
    sb.toString
  }
}

/** Seeded event source. Every draw comes from one `SplittableRandom`, so a
  * seed fixes the whole input.
  */
final class EventGen(seed: Long, users: Int = 0) {
  private val rng = new java.util.SplittableRandom(seed)
  private val userCdf = if (users > 0) Vocab.zipf(users, 1.1) else null
  private val userNames = Array.tabulate(users)(i => f"u$i%05d")

  def nextDouble(): Double = rng.nextDouble()
  def nextInt(n: Int): Int = rng.nextInt(n)

  def event(tsMs: Long, japanese: Boolean = false): Ev = {
    val rtMicros = (math.pow(rng.nextDouble(), 3) * 3000000).toLong + 1000
    val frac = (rtMicros % 1000).toString
    Ev(
      tsMs = tsMs,
      severity = Vocab.Severities(Vocab.pick(Vocab.SeverityCdf, rng.nextDouble())),
      service = Vocab.Services(rng.nextInt(Vocab.Services.length)),
      path = Vocab.Paths(rng.nextInt(Vocab.Paths.length)),
      status = Vocab.Statuses(Vocab.pick(Vocab.StatusCdf, rng.nextDouble())),
      rtText = s"${rtMicros / 1000}.${"0" * (3 - frac.length)}$frac",
      bytes = if (rng.nextDouble() < 0.05) -1L else 200L + rng.nextInt(50000),
      region = if (rng.nextDouble() < 0.03) null else Vocab.Regions(rng.nextInt(Vocab.Regions.length)),
      message =
        if (japanese) Vocab.Japanese(rng.nextInt(Vocab.Japanese.length))
        else Vocab.Messages(rng.nextInt(Vocab.Messages.length)),
      user = if (userCdf == null) null else userNames(Vocab.pick(userCdf, rng.nextDouble())))
  }

  /** One raw message as the wire carries it. ~2% are Shift_JIS/EUC-JP
    * encoded, ~1% are malformed (`None` for the event: the program must
    * drop them).
    */
  def message(tsMs: Long): (Array[Byte], Option[Ev]) = {
    val u = rng.nextDouble()
    if (u < 0.01) {
      val e = event(tsMs).json
      val bad =
        if (rng.nextDouble() < 0.5) e.substring(0, 1 + rng.nextInt(e.length - 2))
        else s"GET ${Vocab.Paths(rng.nextInt(Vocab.Paths.length))} ${e.length}"
      (bad.getBytes("UTF-8"), None)
    } else if (u < 0.03) {
      val e = event(tsMs, japanese = true)
      (e.json.getBytes(if (u < 0.02) "Shift_JIS" else "EUC-JP"), Some(e))
    } else {
      val e = event(tsMs)
      (e.json.getBytes("UTF-8"), Some(e))
    }
  }
}

/** The metric definitions of each workload. */
object Defs {
  private val env = Seq("env" -> "bench")

  /** Reference-style mix for the JSON backfill: equals, contains and
    * greater_than filters, count and sum, static and dynamic labels,
    * 60 and 300 s windows.
    */
  val backfill: Seq[Def] = Seq(
    Def("errors_by_service", "count", "", Seq(Cond("severity", "equals", "ERROR")),
      env, Seq("service" -> "service"), 60),
    Def("error_bytes_by_region", "sum", "bytes", Seq(Cond("status", "greater_than", "399")),
      env, Seq("region" -> "region"), 300),
    Def("checkout_latency_ms", "sum", "response_time", Seq(Cond("path", "contains", "/checkout/")),
      Nil, Seq("service" -> "service"), 60),
    Def("slow_requests", "count", "", Seq(Cond("response_time", "greater_than", "1000")),
      env, Seq("region" -> "region", "service" -> "service"), 60),
    Def("server_errors", "count", "", Seq(Cond("status", "equals", "500")),
      env ++ Seq("tier" -> "web"), Nil, 300),
    Def("api_warn_bytes", "sum", "bytes",
      Seq(Cond("severity", "equals", "WARN"), Cond("service", "equals", "api")),
      Seq("env" -> "bench", "path" -> "static"), Seq("path" -> "path"), 60))

  /** 64 typed definitions: count/sum/max, two conditions each, 10 and
    * 60 s windows; every fourth one labels by the Zipf-skewed user.
    */
  val fanout: Seq[Def] = (0 until 64).map { i =>
    val (kind, field) = Seq(("count", ""), ("sum", "bytes"), ("max", "response_time"))(i % 3)
    val conds = Seq(
      Cond("severity", "equals", Vocab.Severities(Seq(1, 2, 3, 0)(i % 4))),
      if (i % 8 < 4) Cond("status", "greater_than", Seq("199", "299", "399", "499")(i / 8 % 4))
      else Cond("service", "equals", Vocab.Services(i / 8 % Vocab.Services.length)))
    val dynamic = (i / 2 % 4) match {
      case 0 => Seq("user" -> "user")
      case 1 => Seq("service" -> "service")
      case 2 => Seq("region" -> "region")
      case _ => Seq("path" -> "path", "service" -> "service")
    }
    Def(f"typed_$i%02d", kind, field, conds, env :+ ("def" -> i.toString), dynamic,
      if (i % 2 == 0) 10 else 60)
  }

  /** Stream mix: two definitions per window size (10, 60, 300 s). */
  val stream: Seq[Def] = Seq(
    Def("requests_10s", "count", "", Seq(Cond("status", "greater_than", "0")),
      Nil, Seq("service" -> "service", "path" -> "path", "region" -> "region"), 10),
    Def("errors_10s", "count", "", Seq(Cond("severity", "equals", "ERROR")),
      env, Seq("service" -> "service"), 10),
    Def("api_latency_60s", "sum", "response_time", Seq(Cond("path", "contains", "/api/")),
      Nil, Seq("region" -> "region", "service" -> "service"), 60),
    Def("client_error_bytes_60s", "sum", "bytes", Seq(Cond("status", "greater_than", "399")),
      env, Seq("region" -> "region"), 60),
    Def("slow_300s", "count", "", Seq(Cond("response_time", "greater_than", "1000")),
      env, Seq("service" -> "service"), 300),
    Def("checkout_warn_bytes_300s", "sum", "bytes",
      Seq(Cond("severity", "equals", "WARN"), Cond("service", "equals", "checkout")),
      Nil, Seq("path" -> "path"), 300))
}
