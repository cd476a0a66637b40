package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.core.util.JsonRecyclerPools
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JsonToStructs,
  TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge, GraftExpectsTypes}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

object JsonExpressions {

  /** `from_json(raw, schema)`'s result, decoded by [[JsonDecode]]. */
  def decodeJson(raw: Column, schema: StructType): Column =
    GraftBridge.column(JsonDecode(schema, GraftBridge.expression(raw)))
}

/** `from_json(child, schema)` with a byte-level fast path for plain
  * lines.
  *
  * Spark's `JsonToStructs` decodes each line through an
  * `InputStreamReader` (a fresh 8 KB buffer per line), a thread-local
  * buffer-recycler lookup and a generic per-struct converter. This
  * expression reads the line's UTF-8 bytes with one Jackson byte
  * parser, built from the same `JSONOptions.buildJsonFactory()` (same
  * token features and read constraints) but with a shared
  * non-thread-local recycler pool, and fills the schema's rows
  * directly, skipping unread subtrees.
  *
  * A line is plain when it is valid UTF-8 without NUL bytes or a BOM,
  * its root is an object, nothing follows that object, no read key
  * repeats in one object, and every read value is `null` or a token
  * the field's type takes without conversion: an INT-sized integer
  * for an int, an INT- or LONG-sized integer for a long, any number
  * for a double, a string for a string, `true`/`false` for a boolean,
  * an object for a struct, an array of plain elements for an array.
  * Every other line (a mistyped or repeated key, an exotic token,
  * trailing content, a parse error, invalid UTF-8) goes to
  * [[fallback]], the very `JsonToStructs` that `from_json(child,
  * schema)` resolves to — default options, same time zone and
  * corrupt-record name — so the result is `from_json`'s on every
  * line, and the choice is made per line from the input alone.
  */
case class JsonDecode(
    schema: StructType,
    child: Expression,
    timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression with GraftExpectsTypes {

  override def nullable: Boolean = true
  override def dataType: DataType = fallback.dataType
  override def expectedTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_json_decode"

  override def withTimeZone(tz: String): JsonDecode = copy(timeZoneId = Option(tz))

  /** The expression `from_json(child, schema)` resolves to. */
  @transient lazy val fallback: JsonToStructs = JsonToStructs(schema, Map.empty, child, timeZoneId)

  @transient private lazy val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], timeZoneId.get, SQLConf.get.columnNameOfCorruptRecord)
      .buildJsonFactory()
      .setRecyclerPool(JsonRecyclerPools.newConcurrentDequePool())

  @transient private lazy val root: StructReader =
    new StructReader(dataType.asInstanceOf[StructType])

  override protected def nullSafeEval(input: Any): Any = decode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jsonDecode", this)
    nullSafeCodeGen(ctx, ev, s => s"""
      |${ev.value} = $self.decode($s);
      |${ev.isNull} = ${ev.value} == null;
    """.stripMargin)
  }

  /** The decoded row of one line: the fast path's when the line is
    * plain, `from_json`'s otherwise.
    */
  def decode(line: UTF8String): InternalRow = {
    val fast = if (plainBytes(line)) readPlain(line) else null
    if (fast != null) fast else fallback.nullSafeEval(line).asInstanceOf[InternalRow]
  }

  /** Whether `line` takes the fast path. */
  private[graft] def isPlain(line: UTF8String): Boolean = plainBytes(line) && readPlain(line) != null

  /** Bytes both parsers decode alike: valid UTF-8 (Jackson's byte
    * parser accepts some sequences the JDK decoder replaces), no NUL
    * (the byte bootstrapper reads one as a UTF-16/32 hint) and no
    * leading BOM (which the byte bootstrapper skips).
    */
  private def plainBytes(line: UTF8String): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes
    var ascii = true
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == 0) return false
      if (b < 0) ascii = false
      i += 1
    }
    ascii || (line.isValid && !(n >= 3 && line.getByte(0) == 0xEF.toByte &&
      line.getByte(1) == 0xBB.toByte && line.getByte(2) == 0xBF.toByte))
  }

  private def readPlain(line: UTF8String): InternalRow = {
    val bb = line.getByteBuffer
    val p = factory.createParser(bb.array, bb.arrayOffset + bb.position, bb.remaining)
    try {
      if (p.nextToken() != START_OBJECT) null
      else root.readObject(p) match {
        case row: InternalRow if p.nextToken() == null => row
        case _ => null
      }
    } catch {
      case _: java.io.IOException => null
    } finally p.close()
  }

  override protected def withNewChildInternal(c: Expression): JsonDecode = copy(child = c)
}

/** Returned by a [[ValueReader]] for a token it does not take plainly. */
private object NotPlain

/** Reads the current token as a value of one Spark type, the way
  * Spark's `JacksonParser` converts it, or returns [[NotPlain]].
  */
private sealed abstract class ValueReader extends Serializable {
  def read(p: JsonParser, t: JsonToken): Any
}

private object ValueReader {
  def apply(t: DataType): ValueReader = t match {
    case LongType => LongReader
    case IntegerType => IntReader
    case DoubleType => DoubleReader
    case StringType => StringReader
    case BooleanType => BooleanReader
    case s: StructType => new StructReader(s)
    case a: ArrayType => new ArrayReader(ValueReader(a.elementType))
    case _ => NullOnlyReader
  }
}

private object LongReader extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t != VALUE_NUMBER_INT) NotPlain
    else p.getNumberType match {
      case JsonParser.NumberType.INT | JsonParser.NumberType.LONG => p.getLongValue
      case _ => NotPlain
    }
}

private object IntReader extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t == VALUE_NUMBER_INT && p.getNumberType == JsonParser.NumberType.INT) p.getIntValue
    else NotPlain
}

private object DoubleReader extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t == VALUE_NUMBER_FLOAT || t == VALUE_NUMBER_INT) p.getDoubleValue
    else NotPlain
}

private object StringReader extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t == VALUE_STRING) UTF8String.fromString(p.getText)
    else NotPlain
}

private object BooleanReader extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t == VALUE_TRUE) true
    else if (t == VALUE_FALSE) false
    else NotPlain
}

/** A type the fast path does not convert: only `null` is plain. */
private object NullOnlyReader extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any = if (t == VALUE_NULL) null else NotPlain
}

private final class ArrayReader(element: ValueReader) extends ValueReader {
  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t != START_ARRAY) NotPlain
    else {
      val values = scala.collection.mutable.ArrayBuffer.empty[Any]
      var e = p.nextToken()
      while (e != END_ARRAY) {
        if (e == null) return NotPlain
        val v = element.read(p, e)
        if (v.asInstanceOf[AnyRef] eq NotPlain) return NotPlain
        values += v
        e = p.nextToken()
      }
      new GenericArrayData(values.toArray)
    }
}

private final class StructReader(schema: StructType) extends ValueReader {
  private val fields: Array[ValueReader] = schema.fields.map(f => ValueReader(f.dataType))
  private val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.putIfAbsent(n, i) }
    m
  }

  def read(p: JsonParser, t: JsonToken): Any =
    if (t == VALUE_NULL) null
    else if (t == START_OBJECT) readObject(p)
    else NotPlain

  /** The object whose START_OBJECT is the current token, read up to
    * its END_OBJECT. A slot still holding [[NotPlain]] at the end was
    * never read; a read key that finds its slot filled is a repeat.
    */
  def readObject(p: JsonParser): Any = {
    val values = Array.fill[Any](fields.length)(NotPlain)
    var t = p.nextToken()
    while (t != END_OBJECT) {
      if (t != FIELD_NAME) return NotPlain
      val i = index.get(p.currentName)
      val vt = p.nextToken()
      if (i == null) p.skipChildren()
      else {
        if (values(i).asInstanceOf[AnyRef] ne NotPlain) return NotPlain
        val v = fields(i).read(p, vt)
        if (v.asInstanceOf[AnyRef] eq NotPlain) return NotPlain
        values(i) = v
      }
      t = p.nextToken()
    }
    var i = 0
    while (i < values.length) {
      if (values(i).asInstanceOf[AnyRef] eq NotPlain) values(i) = null
      i += 1
    }
    new GenericInternalRow(values)
  }
}
