package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.util.control.{NoStackTrace, NonFatal}

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import com.fasterxml.jackson.core.JsonToken._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Schemas

/** The stream's tick parse: `tick_feeds(j)` ≡
  * `from_json(j, Schemas.tickCandle).feeds` for every input string `j`.
  * Both fan-out legs read it: the candle leg
  * (`CandlePipeline.parseAndClassify`) and the tick archive
  * (`ArchivalPipeline.tickArchival`), and so do their batch twins.
  *
  * `from_json` decodes each record through a new `InputStreamReader` and
  * pays `JacksonParser`'s fixed set-up on every nested object; on the
  * candle leg that is most of the executor time. This expression reads
  * the `UTF8String` bytes in place with a Jackson byte parser from
  * `from_json`'s own factory (`JSONOptions.buildJsonFactory`: the same
  * read features and `StreamReadConstraints`) and builds only the
  * `tickCandle` fields, skipping every other one.
  *
  * The fast path takes a record only when its result cannot differ from
  * `from_json`'s:
  *  - every byte is ASCII and not NUL, so the byte and the Reader
  *    decodings agree (the Reader replaces malformed UTF-8, Jackson's byte
  *    decoder rejects some and accepts overlong forms), and the first
  *    byte is `{` (Jackson's byte bootstrapper would otherwise sniff
  *    UTF-16/32 and BOMs, which the Reader path does not);
  *  - each declared field holds its own token kind (a number for DOUBLE,
  *    a string for STRING, an object or array for a container) or null;
  *    unknown fields are skipped and a repeated key's last value wins, as
  *    in `JacksonParser`;
  *  - nothing but whitespace follows the root object.
  * Any other record (a type mismatch, a Jackson error, trailing tokens)
  * is handed, whole, to Spark's own `JsonToStructsEvaluator` over the
  * same schema, so every result is `from_json`'s by construction. The
  * choice is made per record from the input; there is no knob.
  */
case class TickFeeds(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TickFeeds.FeedsType
  override def nullable: Boolean = true

  // the schema holds no datetime field, so the zone never reaches a value
  @transient private lazy val factory: JsonFactory = new JSONOptions(
    Map.empty[String, String], SQLConf.get.sessionLocalTimeZone,
    SQLConf.get.columnNameOfCorruptRecord).buildJsonFactory()
  @transient private lazy val fromJson = JsonToStructsEvaluator(
    Map.empty, Schemas.tickCandle, SQLConf.get.columnNameOfCorruptRecord,
    Some(SQLConf.get.sessionLocalTimeZone), false)

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    try TickFeeds.parse(factory, s)
    catch {
      case NonFatal(_) => fromJson.evaluate(s) match {
        case row: InternalRow if !row.isNullAt(0) => row.getMap(0)
        case _ => null
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "tick_feeds"
}

object TickFeeds {
  /** Column-API entry point (needs [[GraftExtensions]] on the session). */
  def apply(json: Column): Column = call_function("tick_feeds", json)

  val FeedsType: DataType = Schemas.tickCandle("feeds").dataType

  /** The record leaves the fast path; the caller falls back. */
  private object Fallback extends RuntimeException with NoStackTrace

  /** The fast path: the `feeds` value of `s`, or a throw (this module's
    * [[Fallback]] or a Jackson error) for a record it does not take. */
  def parse(factory: JsonFactory, s: UTF8String): Any = {
    if (!plainAscii(s)) throw Fallback
    val p = s.getBaseObject match {
      case bytes: Array[Byte] =>
        factory.createParser(bytes,
          (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => factory.createParser(s.getBytes)
    }
    try {
      p.nextToken() // START_OBJECT: plainAscii checked the first byte
      val root = struct(p, Schemas.tickCandle)
      if (p.nextToken() != null) throw Fallback
      root.get(0, FeedsType)
    } finally p.close()
  }

  /** Non-empty, starts with `{`, every byte in 1..127. */
  private def plainAscii(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    if (n == 0 || Platform.getByte(base, off) != '{') return false
    // 8 bytes at a time: a set high bit, or a zero byte (the borrow of
    // w - 0x01..01 reaches its high bit; may also flag bytes above a
    // zero byte, which only sends such a record to the fallback)
    var i = 0
    while (i + 8 <= n) {
      val w = Platform.getLong(base, off + i)
      if (((w | (w - 0x0101010101010101L)) & 0x8080808080808080L) != 0) return false
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) <= 0) return false
      i += 1
    }
    true
  }

  private def value(p: JsonParser, t: DataType): Any = {
    val tok = p.currentToken
    if (tok == VALUE_NULL) null
    else t match {
      case DoubleType if tok == VALUE_NUMBER_FLOAT || tok == VALUE_NUMBER_INT =>
        p.getDoubleValue
      case _: StringType if tok == VALUE_STRING => UTF8String.fromString(p.getText)
      case st: StructType if tok == START_OBJECT => struct(p, st)
      case mt: MapType if tok == START_OBJECT => map(p, mt.valueType)
      case at: ArrayType if tok == START_ARRAY => array(p, at.elementType)
      case _ => throw Fallback
    }
  }

  private def struct(p: JsonParser, st: StructType): InternalRow = {
    val row = new GenericInternalRow(st.length)
    var tok = p.nextToken()
    while (tok == FIELD_NAME) {
      val name = p.currentName
      val i = st.fields.indexWhere(_.name == name)
      p.nextToken()
      if (i >= 0) row.update(i, value(p, st.fields(i).dataType))
      else p.skipChildren()
      tok = p.nextToken()
    }
    if (tok != END_OBJECT) throw Fallback
    row
  }

  // a JSON object with a repeated key keeps every entry, as JacksonParser does
  private def map(p: JsonParser, vt: DataType): MapData = {
    val keys = ArrayBuffer.empty[Any]
    val values = ArrayBuffer.empty[Any]
    var tok = p.nextToken()
    while (tok == FIELD_NAME) {
      keys += UTF8String.fromString(p.currentName)
      p.nextToken()
      values += value(p, vt)
      tok = p.nextToken()
    }
    if (tok != END_OBJECT) throw Fallback
    ArrayBasedMapData(keys.toArray, values.toArray)
  }

  private def array(p: JsonParser, et: DataType): ArrayData = {
    val values = ArrayBuffer.empty[Any]
    var tok = p.nextToken()
    while (tok != END_ARRAY) {
      if (tok == null) throw Fallback
      values += value(p, et)
      tok = p.nextToken()
    }
    new GenericArrayData(values.toArray)
  }
}
