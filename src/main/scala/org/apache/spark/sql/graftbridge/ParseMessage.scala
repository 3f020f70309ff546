package org.apache.spark.sql.graftbridge

import java.io.{ByteArrayOutputStream, IOException}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType

import graft.ingest.Ingest
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Raw message bytes → `map<string,string>`, in one pass over the bytes:
  * the map that `from_json(Ingest.decodeCascade(raw), map<string,string>)`
  * gives, without the decoded string, the `Reader` Spark wraps around it,
  * or Spark's generic converters.
  *
  * Input: bytes that pass `is_valid_utf8`'s check go to Jackson's byte
  * parser as they are; other bytes go through [[Ingest.decodeMultiCharset]]
  * and the decoded string is parsed. The factory is built from Spark's
  * default `JSONOptions` (hence this package: `JSONOptions` is
  * `private[sql]`), so the parser accepts what `from_json`'s parser accepts.
  *
  * Values are rendered as `from_json` renders them: strings unescaped,
  * JSON `null` as a null value, integers as their long or BigInteger value,
  * other numbers by `Double.toString` (a non-finite one quoted, as Jackson
  * writes it: `1E400` → `"Infinity"`), objects and arrays as compact JSON
  * written by the same factory's generator. Keys keep document order and
  * duplicates. A document that `from_json` rejects gives null: a root that
  * is not an object, a truncated document, empty input. Content after the
  * first object is not read.
  *
  * Nondeterministic, like `Ingest.decodeMulti` and for the same reason: it
  * is an optimizer barrier, so that Catalyst neither inlines the parse into
  * every reference of its column nor pushes filters beneath it, and the
  * bytes are parsed once per row.
  */
case class ParseMessage(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)

  override def dataType: DataType = MapType(StringType, StringType)

  override def nullable: Boolean = true

  override lazy val deterministic: Boolean = false

  override def foldable: Boolean = false // a literal's parse stays a per-row parse, as ever

  override def prettyName: String = "parse_message"

  @transient private lazy val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "_corrupt_record").buildJsonFactory()

  /** The parse itself; `eval` and the generated code both call it. */
  def parse(raw: Array[Byte]): MapData =
    if (UTF8String.fromBytes(raw).isValid) {
      if (byteParserReadsAsFromJson(raw)) read(factory.createParser(raw)) else null
    } else {
      val text = Ingest.decodeMultiCharset(raw)
      if (text == null) null else read(factory.createParser(text))
    }

  /** Jackson's byte-source bootstrapper skips a leading UTF-8 BOM, and reads
    * input as UTF-16 or UTF-32 when one of its first two bytes is NUL.
    * `from_json` parses characters: it rejects a BOM, and every document
    * with a NUL among its first two characters. Such bytes are rejected here
    * before the bootstrapper sees them.
    */
  private def byteParserReadsAsFromJson(raw: Array[Byte]): Boolean = {
    val bom = raw.length >= 3 && raw(0) == 0xEF.toByte && raw(1) == 0xBB.toByte && raw(2) == 0xBF.toByte
    val nul = raw.length >= 1 && raw(0) == 0 || raw.length >= 2 && raw(1) == 0
    !bom && !nul
  }

  private def read(p: JsonParser): MapData =
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) null
      else {
        val keys, values = ArrayBuffer.empty[Any]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          keys += UTF8String.fromString(p.currentName)
          values += value(p, p.nextToken())
        }
        ArrayBasedMapData(keys.toArray, values.toArray)
      }
    } catch {
      case _: IOException | _: RuntimeException => null
    } finally p.close()

  private def value(p: JsonParser, token: JsonToken): UTF8String = token match {
    case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
    case JsonToken.VALUE_NULL   => null
    case JsonToken.VALUE_NUMBER_INT =>
      UTF8String.fromString(
        if (p.getNumberType == NumberType.BIG_INTEGER) p.getBigIntegerValue.toString
        else java.lang.Long.toString(p.getLongValue))
    case JsonToken.VALUE_NUMBER_FLOAT =>
      val d = p.getDoubleValue
      UTF8String.fromString(if (d.isInfinite || d.isNaN) s"\"$d\"" else java.lang.Double.toString(d))
    case JsonToken.VALUE_TRUE  => ParseMessage.True
    case JsonToken.VALUE_FALSE => ParseMessage.False
    case _ => // START_OBJECT or START_ARRAY
      val out = new ByteArrayOutputStream()
      val g = factory.createGenerator(out, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      UTF8String.fromBytes(out.toByteArray)
  }

  override protected def nullSafeEval(input: Any): Any = parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("parseMessage", this)
    nullSafeCodeGen(ctx, ev, raw =>
      s"""
         |${ev.value} = $self.parse($raw);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseMessage =
    copy(child = newChild)
}

object ParseMessage {
  private val True = UTF8String.fromString("true")
  private val False = UTF8String.fromString("false")
}
