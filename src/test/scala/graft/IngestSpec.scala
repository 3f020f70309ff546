package graft

import graft.ingest.Ingest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest edge: multi-charset decode cascade + malformed drop
  * (/root/reference/tests/test_pipeline.py:44-62,336-350).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

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
}
