package graft

import graft.ingest.Ingest
import graft.model.{FilterCondition, MetricDefinition, MetricType}
import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParseMessage
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Ingest edge: multi-charset decode cascade + malformed drop
  * (/root/reference/tests/test_pipeline.py:44-62,336-350).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._
  import IngestSpec._

  /** Flatten a parsed struct payload to top-level columns, keeping extras. */
  private def flattened(df: org.apache.spark.sql.DataFrame, msgCol: String = "msg") = {
    val others = df.columns.filterNot(_ == msgCol).map(col)
    df.select(others :+ col(s"$msgCol.*"): _*)
  }

  test("charset cascade decodes shift-jis after utf-8 fails (pipeline.py:86-96)") {
    val jp = """{"msg": "テスト"}"""
    val sjis = jp.getBytes("Shift_JIS")
    // the shift-jis bytes are NOT valid utf-8
    assert(Ingest.decodeMultiCharset(sjis) == jp)
    assert(Ingest.decodeMultiCharset(jp.getBytes("UTF-8")) == jp)
    // cascade-order fidelity: EUC-JP bytes of this string happen to be
    // VALID Shift_JIS (half-width katakana), so the earlier charset wins —
    // exactly what the reference's try-in-order decode does too
    assert(Ingest.decodeMultiCharset(jp.getBytes("EUC-JP")) ==
      new String(jp.getBytes("EUC-JP"), "Shift_JIS"))
  }

  test("undecodable bytes yield null (dropped)") {
    assert(Ingest.decodeMultiCharset(Array[Byte](-1, -2, -3)) == null)
    assert(Ingest.decodeMultiCharset(null) == null)
  }

  test("hybrid decodeCascade column equals the UDF cascade on every payload class") {
    val jp = """{"msg": "テスト"}"""
    val payloads: Seq[Array[Byte]] = Seq(
      """{"a": 1}""".getBytes("UTF-8"), // hot path: valid utf-8
      jp.getBytes("UTF-8"),
      jp.getBytes("Shift_JIS"), // fallback: cascade picks shift-jis
      jp.getBytes("EUC-JP"), // fallback: earlier charset (shift-jis) wins
      Array[Byte](-1, -2, -3), // undecodable in every charset → null
      Array.empty[Byte])
    val df = payloads.toDF("raw")
    val both = df
      .select(Ingest.decodeCascade(col("raw")).as("hybrid"),
        Ingest.decodeMulti(col("raw")).as("udf"))
      .collect()
    both.foreach(r => assert(r.get(0) == r.get(1), s"hybrid=${r.get(0)} udf=${r.get(1)}"))
    // and the guard really is in the plan (hot path stays in codegen)
    val plan = df.select(Ingest.decodeCascade(col("raw"))).queryExecution.executedPlan.toString
    assert(plan.contains("is_valid_utf8"), s"codegen guard missing:\n$plan")
  }

  test("parseSchemaless drops malformed rows, stringifies values") {
    val df = Seq(
      """{"a": 1, "b": "x"}""".getBytes("UTF-8"),
      "not json".getBytes("UTF-8"),
      Array[Byte](-1, -2)
    ).toDF("raw")
    val out = Ingest.parseSchemaless(df, "raw")
    assert(out.count() == 1)
    val m = out.select("msg").collect().head.getMap[String, String](0).toMap
    assert(m == Map("a" -> "1", "b" -> "x"))
  }

  test("parseTyped declares fields; missing fields are null, malformed dropped") {
    val schema = StructType(Seq(
      StructField("severity", StringType), StructField("bytes", DoubleType)))
    val df = Seq(
      """{"severity": "ERROR", "bytes": 10}""".getBytes("UTF-8"),
      """{"severity": "WARN"}""".getBytes("UTF-8"),
      "garbage".getBytes("UTF-8")
    ).toDF("raw")
    val out = Ingest.parseTyped(df, "raw", schema)
    assert(out.count() == 2)
    val rows = flattened(out)
      .select($"severity", $"bytes")
      .collect()
      .map(r => (r.getString(0), Option(r.get(1))))
      .toSet
    assert(rows == Set(("ERROR", Some(10.0)), ("WARN", None)))
  }

  test("parseSchemaless ≡ from_json(decodeCascade(raw), map<string,string>) on edge cases and generated documents") {
    val docs: Seq[Option[Array[Byte]]] =
      EdgeCases.map(Some(_)) ++ Seq(None) ++ samples(docGen, 1500, 1212L).map(Some(_))
    val df = docs.zipWithIndex.map { case (d, i) => (i, d.orNull) }.toDF("id", "raw")
    val ref = df.select(col("id"), lit("from_json").as("side"),
      to_json(from_json(Ingest.decodeCascade(col("raw")), MapType(StringType, StringType))).as("json"))
    val got = Ingest.parseSchemaless(df, "raw")
      .select(col("id"), lit("parseSchemaless").as("side"), to_json(col("msg")).as("json"))
    val rows = ref.unionByName(got).collect()
    def side(name: String) =
      rows.filter(_.getString(1) == name).map(r => r.getInt(0) -> r.getString(2)).toMap
    val (want, have) = (side("from_json").filter(_._2 != null), side("parseSchemaless"))
    val text = docs.map(_.map(b => new String(b, "UTF-8")).orNull)
    val wrong = docs.indices.filter(id => want.get(id) != have.get(id)).map { id =>
      def shown(m: Map[Int, String]) = m.getOrElse(id, "(dropped)")
      s"doc $id ${text(id)}: from_json ${shown(want)}, parseSchemaless ${shown(have)}"
    }
    assert(wrong.isEmpty, s"${wrong.size} documents differ:\n${wrong.take(5).mkString("\n")}")
    // the generator must reach both sides of the accept/reject line
    assert(want.size > docs.size / 3 && want.size < docs.size * 9 / 10, s"${want.size} of ${docs.size} parse")
  }

  test("one parse per row: the backfill plan holds parse_message once, and no from_json, decode or charset UDF") {
    // a range, not a local Seq: the optimizer evaluates projections over local data while planning
    val raw = spark.range(1).select(
      lit("""{"ts": 1000, "severity": "ERROR", "service": "api"}""".getBytes("UTF-8")).as("raw"))
    val msgs = Ingest.parseSchemaless(raw, "raw")
      .withColumn("ts", timestamp_millis(try_element_at(col("msg"), lit("ts")).cast("long")))
    val env = Map("env" -> "bench")
    val defs = Seq(
      MetricDefinition("errors_by_service", MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")), env, Map("service" -> "service"), 60),
      MetricDefinition("error_bytes_by_region", MetricType.Sum("bytes"),
        Seq(FilterCondition("status", "399", "greater_than")), env, Map("region" -> "region"), 300),
      MetricDefinition("checkout_latency_ms", MetricType.Sum("response_time"),
        Seq(FilterCondition("path", "/checkout/", "contains")), Map.empty, Map("service" -> "service"), 60),
      MetricDefinition("slow_requests", MetricType.Count,
        Seq(FilterCondition("response_time", "1000", "greater_than")), env,
        Map("region" -> "region", "service" -> "service"), 60),
      MetricDefinition("server_errors", MetricType.Count,
        Seq(FilterCondition("status", "500", "equals")), env + ("tier" -> "web"), Map.empty, 300),
      MetricDefinition("api_warn_bytes", MetricType.Sum("bytes"),
        Seq(FilterCondition("severity", "WARN", "equals"), FilterCondition("service", "api", "equals")),
        env + ("path" -> "static"), Map("path" -> "path"), 60))
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false") // walk the physical plan itself, not the adaptive wrapper
    val p =
      try LogsToMetrics(defs, LogsToMetrics.Schemaless("msg"))(msgs).queryExecution.executedPlan
      finally spark.conf.set(key, saved)
    val exprs = p.collect { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten
    assert(exprs.count(_.isInstanceOf[ParseMessage]) == 1, s"one parse per row:\n$p")
    val others = exprs.map(_.getClass.getSimpleName).toSet
      .intersect(Set("JsonToStructs", "StringDecode", "Decode", "ScalaUDF"))
    assert(others.isEmpty, s"a second parse or decode in the plan: $others\n$p")
  }
}

object IngestSpec {

  /** `%u` stands for the backslash-u of a JSON unicode escape, which a
    * Scala literal would read as its own escape.
    */
  private def u(json: String): String = json.replace("%u", "\\u")

  private def obj(value: String): Array[Byte] = s"""{"v":$value}""".getBytes("UTF-8")

  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes("UTF-8").toSeq
    case b: Int    => Seq(b.toByte)
  }.toArray

  /** Fixed documents, each at a rendering rule or a reject rule of `from_json`. */
  val EdgeCases: Seq[Array[Byte]] = Seq(
    bytes(0xEF, 0xBB, 0xBF, """{"a":1}"""), // leading UTF-8 BOM: rejected
    bytes(0, "{", 0, "}"), // NUL first: not read as UTF-16
    bytes(" ", 0, """{"a":1}"""),
    obj("-0"), obj("-0.0"), obj("12.300"), obj("1e3"), obj("1E400"), obj("-1E400"), obj("5e-324"),
    obj("1e-400"), obj("1.5E+2"), obj("0.1"), obj("1970.810"),
    obj("9223372036854775807"), obj("9223372036854775808"), obj("-9223372036854775809"),
    obj("123456789012345678901234567890"),
    obj("NaN"), obj("Infinity"), obj("-Infinity"), obj("+Infinity"), obj("+1"), obj("01"), obj(".5"),
    obj("true"), obj("false"), obj("null"), obj("\"null\""),
    """{'a':'x', "b":'y'}""".getBytes("UTF-8"),
    """{"a":1} ]""".getBytes("UTF-8"), """{"a":1} {"b":2}""".getBytes("UTF-8"),
    """{"a":1,"a":2,"b":3,"a":null}""".getBytes("UTF-8"),
    """{"a":{},"b":[],"c":{"d":[1,{"e":null}],"f":"x\ty"},"g":[[],{}],"h":[1.50,-0,"é"]}""".getBytes("UTF-8"),
    u("""{"a":"%u0000","b":"%ud83d%ude00","c":"\"\\\/\b\f\n\r\t","d":"%u00e9","e":"%ud800"}""").getBytes("UTF-8"),
    u("""{"a":["%u0000","%ud83d%ude00","é","%u001f"]}""").getBytes("UTF-8"),
    """{"テスト":"😀","é":1}""".getBytes("UTF-8"),
    bytes("""{"a":"x""", 9, """y"}"""), // raw tab inside a string
    bytes("""{"a":"""", 0xC0, 0xAF, """"}"""), // overlong '/'
    bytes("""{"a":"""", 0xED, 0xA0, 0x80, """"}"""), // encoded surrogate
    """{"msg": "テスト", "n": 1}""".getBytes("Shift_JIS"),
    """{"msg": "テスト", "n": 1}""".getBytes("EUC-JP"),
    """{"msg": "日本語のログ", "n": 1}""".getBytes("EUC-JP"),
    Array.empty[Byte], "   ".getBytes("UTF-8"), "null".getBytes("UTF-8"), "[1]".getBytes("UTF-8"),
    "1".getBytes("UTF-8"), "\"s\"".getBytes("UTF-8"), "[{\"a\":1}]".getBytes("UTF-8"),
    """{"a":1""".getBytes("UTF-8"), """{"a":""".getBytes("UTF-8"), "{".getBytes("UTF-8"),
    """{"a":1,}""".getBytes("UTF-8"), """{a:1}""".getBytes("UTF-8"), """{"a":1 /* c */}""".getBytes("UTF-8"),
    """{"a":tru}""".getBytes("UTF-8"), """ {} """.getBytes("UTF-8"))

  private val ws = Gen.oneOf("", "", " ", "\n  ", "\t")
  private val key = Gen.oneOf(""""a"""", """"b"""", """"ts"""", """"テスト"""", """"k\"q"""", """""""",
    "'s'", u(""""%u0041""""), """"a"""")
  private val number = Gen.oneOf(
    Gen.long.map(_.toString), Gen.choose(-1000, 1000).map(_.toString), Gen.double.map(_.toString),
    Gen.zip(Gen.choose(-99999, 99999), Gen.choose(0, 3), Gen.choose(0, 999)).map { case (i, z, f) =>
      s"$i.$f${"0" * z}" },
    Gen.oneOf("-0", "-0.0", "12.300", "1e3", "1E400", "5e-324", "1.5E+2", "9223372036854775808",
      "123456789012345678901234567890", "NaN", "-Infinity", "01", "1."))
  private val string = Gen.oneOf(
    Gen.alphaStr.map(s => "\"" + s.take(6) + "\""),
    Gen.oneOf(""""テスト"""", """"é"""", u(""""%u00e9""""), """"a\"b"""", """"\\"""", """"\/"""",
      """"\n\t\r\b\f"""", u(""""%u0000""""), u(""""%ud83d%ude00""""), """"😀"""", "'single'", """"""""))
  private val scalar = Gen.frequency(4 -> string, 4 -> number, 1 -> Gen.oneOf("true", "false", "null"))

  private def value(depth: Int): Gen[String] =
    if (depth >= 2) scalar
    else Gen.frequency(8 -> scalar, 1 -> objectOf(depth + 1), 1 -> arrayOf(depth + 1))

  private def objectOf(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 5)
    kvs <- Gen.listOfN(n, for { k <- key; a <- ws; b <- ws; v <- value(depth) } yield s"$k$a:$b$v")
    w <- ws
  } yield kvs.mkString("{" + w, "," + w, w + "}")

  private def arrayOf(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3)
    vs <- Gen.listOfN(n, value(depth))
    w <- ws
  } yield vs.mkString("[" + w, "," + w, w + "]")

  /** Mostly objects; some other roots, trailing content, truncation, and
    * legacy charsets.
    */
  val docGen: Gen[Array[Byte]] = for {
    root <- Gen.frequency(10 -> objectOf(0), 1 -> arrayOf(0), 1 -> scalar)
    lead <- ws
    trail <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf(" ", " ]", """ {"b":2}""", "x", "\n"))
    cut <- Gen.frequency(9 -> Gen.const(1.0), 1 -> Gen.choose(0.0, 1.0))
    charset <- Gen.frequency(16 -> "UTF-8", 1 -> "Shift_JIS", 1 -> "EUC-JP")
  } yield {
    val text = lead + root + trail
    text.take((text.length * cut).toInt).getBytes(charset)
  }

  /** Deterministic sampling: a fixed seed chain and an explicit count. */
  def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).map { _ =>
      val a = g.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      a
    }
  }
}
