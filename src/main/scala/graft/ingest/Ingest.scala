package graft.ingest

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, Charset, CodingErrorAction}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, ParseMessage}

/** Ingest edge: raw message bytes → parsed records.
  *
  * Reproduces the reference's decode-then-parse flatMap
  * (/root/reference/beametrics/pipeline.py:82-108):
  *  - decoding tries utf-8 → shift-jis → euc-jp → iso-2022-jp in order,
  *    strictly (an invalid byte sequence moves to the next charset);
  *  - undecodable or non-JSON messages are DROPPED (logged upstream,
  *    never fail the pipeline — asserted by
  *    /root/reference/tests/test_pipeline.py:336-350).
  *
  * [[parseSchemaless]] parses each message's bytes once, in one expression
  * ([[parseMessage]]): valid UTF-8 goes to Jackson's byte parser as it is,
  * and only the other bytes run the charset cascade
  * ([[decodeMultiCharset]], called directly), at this ingest edge, so the
  * rest of the plan stays inside WholeStageCodegen. The cascade as a
  * column ([[decodeCascade]] over the scalar UDF [[decodeMulti]], because
  * Spark's `decode(col, charset)` takes one fixed charset — SURVEY.md §4.2)
  * is for callers that want the decoded string itself, such as a
  * `from_json` with a schema of their own.
  */
object Ingest {

  /** Charset cascade, in reference order (/root/reference/beametrics/pipeline.py:86). */
  val Charsets: Seq[String] = Seq("UTF-8", "Shift_JIS", "EUC-JP", "ISO-2022-JP")

  private def decodeStrict(bytes: Array[Byte], charsetName: String): Option[String] = {
    val dec = Charset
      .forName(charsetName)
      .newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try Some(dec.decode(ByteBuffer.wrap(bytes)).toString)
    catch { case _: CharacterCodingException => None }
  }

  /** First charset in the cascade that decodes cleanly; null if none. */
  def decodeMultiCharset(bytes: Array[Byte]): String =
    if (bytes == null) null
    else Charsets.iterator.flatMap(decodeStrict(bytes, _)).nextOption().orNull

  /** Scalar UDF wrapper — the only UDF in the core engine, used by
    * [[decodeCascade]].
    *
    * Deliberately marked nondeterministic (it is NOT — same bytes, same
    * string) as an optimizer barrier: otherwise CollapseProject inlines
    * `from_json(decodeMulti(raw))` into every downstream reference of the
    * parsed column — filter, per-config predicates, labels, value — and the
    * decode+parse runs per REFERENCE instead of per row (measured 3×
    * from_json, 6 invokes in q_ingest_roundtrip's plan).
    */
  val decodeMulti: UserDefinedFunction = udf(decodeMultiCharset _).asNondeterministic()

  /** Hybrid decode: valid-UTF-8 payloads (the hot path — the cascade's
    * FIRST charset) are validated and decoded entirely inside
    * WholeStageCodegen (`is_valid_utf8` guard + built-in `decode`); only
    * rows failing strict UTF-8 validation fall to the scalar-UDF cascade
    * for the legacy charsets. CaseWhen evaluates branches per row, so the
    * UDF's boxing cost (`Array[Byte] → Option[String]` per row) leaves the
    * hot path entirely — at 100 TB the cascade prices as an exception
    * handler, not a per-row tax. Semantics are IDENTICAL to
    * [[decodeMultiCharset]]: strict-UTF-8-first, then the cascade (whose
    * UTF-8 retry fails the same way its validator did). The UDF child keeps
    * the whole expression nondeterministic — the optimizer barrier above
    * still holds.
    */
  def decodeCascade(raw: Column): Column =
    when(call_function("is_valid_utf8", raw), decode(raw, "UTF-8"))
      .otherwise(decodeMulti(raw))

  /** Raw message bytes → `map<string,string>`, parsed once per row: the
    * map `from_json(decodeCascade(raw), map<string,string>)` gives, null
    * for the documents it rejects (see
    * `org.apache.spark.sql.graftbridge.ParseMessage`).
    */
  def parseMessage(raw: Column): Column =
    ColumnBridge.column(ParseMessage(ColumnBridge.expression(raw)))

  /** Schemaless parity mode: every JSON value stringified into
    * `MapType(String, String)` — mirrors the reference's untyped
    * `msg.get(field)` access (SURVEY.md §1.3). Malformed/undecodable rows
    * are dropped ([[parseMessage]] ⇒ null for broken documents).
    */
  def parseSchemaless(df: DataFrame, rawCol: String, msgCol: String = "msg"): DataFrame =
    df.withColumn(msgCol, parseMessage(col(rawCol)))
      .filter(col(msgCol).isNotNull)
}
