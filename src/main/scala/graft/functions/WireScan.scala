package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The read side of the JSON/CSV wires: one single-pass scanner per
  * format, all in the [[CanalScan]] shape. A scanner walks the message
  * once, keeps the fields it needs by key (key-order independent),
  * skips the rest, converts the typed arms straight to their canonical
  * forms and accepts a message only if it consumes every byte; any
  * malformed message decodes to NULL. The DuckDB oracles extract the
  * same fields with their own JSON and regex functions, so the oracle
  * equality also checks the scanners. */
object WireScan {
  def utf(x: String): UTF8String = UTF8String.fromString(x)

  private def bad(): Nothing = throw new IllegalArgumentException("malformed message")

  // canonical forms of the typed arms: exact integer arithmetic in UTC
  // (proleptic Gregorian via LocalDate)
  def dateDays(d: String): Long = java.time.LocalDate.parse(d).toEpochDay
  def timeSec(t: String): Long = {
    if (t.length != 8 || t.charAt(2) != ':' || t.charAt(5) != ':') bad()
    (Integer.parseInt(t.substring(0, 2)) * 3600 +
      Integer.parseInt(t.substring(3, 5)) * 60 +
      Integer.parseInt(t.substring(6, 8))).toLong
  }
  def dtSec(x: String): Long = {
    if (x.length != 19 || x.charAt(10) != ' ') bad()
    dateDays(x.substring(0, 10)) * 86400L + timeSec(x.substring(11))
  }
  /** 'i.ffff' without its point, as a long */
  def decE4(x: String): Long = {
    val i = x.indexOf('.')
    if (i < 0) bad()
    java.lang.Long.parseLong(x.substring(0, i) + x.substring(i + 1))
  }
  /** A JSON number token (or NaN / ±Infinity, which `%.4f` can write)
    * as a double. */
  def double(t: String): Double = {
    if (t != "NaN" && t != "Infinity" && t != "-Infinity" &&
        !t.forall(c => c >= '0' && c <= '9' || "+-.eE".indexOf(c) >= 0)) bad()
    java.lang.Double.parseDouble(t)
  }
  def base64(x: String): Array[Byte] = java.util.Base64.getMimeDecoder.decode(x)
  /** big-endian bytes as an unsigned integer; NULL when empty or above
    * Long.MaxValue */
  def unsigned(bytes: Array[Byte]): Any = {
    val v = new java.math.BigInteger(1, bytes)
    if (bytes.isEmpty || v.bitLength > 63) null else v.longValue
  }
}

/** The JSON walking primitives every wire scanner shares: one cursor
  * over one message. Errors throw; the scanner's entry point turns
  * them into a NULL row. */
private[functions] abstract class JsonCursor(s: String) {
  protected var pos = 0
  protected val n: Int = s.length

  protected def err(): Nothing = throw new IllegalArgumentException("malformed message")
  protected def ch: Char = { if (pos >= n) err(); s.charAt(pos) }
  protected def eat(c: Char): Unit = { if (ch != c) err(); pos += 1 }

  /** Read a JSON string at an opening quote. Fast path is a zero-copy
    * substring; any backslash falls to the unescape pass. */
  protected def readString(): String = {
    eat('"')
    val start = pos
    var hasEsc = false
    while (ch != '"') {
      if (s.charAt(pos) == '\\') { hasEsc = true; pos += 2 }
      else pos += 1
    }
    val raw = s.substring(start, pos)
    pos += 1
    if (hasEsc) unescape(raw) else raw
  }

  private def unescape(raw: String): String = {
    val b = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\') {
        i += 1
        raw.charAt(i) match {
          case '"'  => b.append('"')
          case '\\' => b.append('\\')
          case '/'  => b.append('/')
          case 'b'  => b.append('\b')
          case 'f'  => b.append('\f')
          case 'n'  => b.append('\n')
          case 'r'  => b.append('\r')
          case 't'  => b.append('\t')
          case 'u' =>
            b.append(Integer.parseInt(raw.substring(i + 1, i + 5), 16).toChar)
            i += 4
          case _ => err()
        }
        i += 1
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Raw token of a number / true / false / null. */
  protected def scalarToken(): String = {
    val start = pos
    while (pos < n && { val c = s.charAt(pos)
      c != ',' && c != '}' && c != ']' }) pos += 1
    if (pos == start) err()
    s.substring(start, pos)
  }

  protected def longToken(): Long = java.lang.Long.parseLong(scalarToken())

  /** Consume a JSON null if one is next. */
  protected def nullToken(): Boolean =
    if (ch == 'n') { if (scalarToken() != "null") err(); true } else false

  /** Skip any JSON value: depth-counted for objects/arrays (with
    * escape-aware string skipping), token scan for scalars. */
  protected def skipValue(): Unit = ch match {
    case '"' =>
      pos += 1
      while (ch != '"') {
        if (s.charAt(pos) == '\\') pos += 2 else pos += 1
      }
      pos += 1
    case '{' | '[' =>
      var depth = 0
      var first = true
      while (first || depth > 0) {
        first = false
        ch match {
          case '"' =>
            pos += 1
            while (ch != '"') {
              if (s.charAt(pos) == '\\') pos += 2 else pos += 1
            }
            pos += 1
          case c =>
            if (c == '{' || c == '[') depth += 1
            else if (c == '}' || c == ']') depth -= 1
            pos += 1
        }
      }
    case _ => scalarToken(); ()
  }

  /** Walk an object, dispatching each key's value to `handle` (which
    * must consume it). */
  protected def obj(handle: String => Unit): Unit = {
    eat('{')
    if (ch == '}') { pos += 1; return }
    var more = true
    while (more) {
      val key = readString()
      eat(':')
      handle(key)
      if (ch == ',') pos += 1
      else { eat('}'); more = false }
    }
  }

  /** The whole-message invariant: the scan consumed every byte. */
  protected def end(): Unit = if (pos != n) err()
}

/** Scanner for the debezium wire (consumer side of A21 and A70;
  * reference: pkg/sink/codec/debezium/codec.go): the flat envelope
  * decodes to the changelog image with its typed arms, the full
  * envelope to its payload's event identity and values. A row's
  * typed arms come from `after`, field by field falling back to
  * `before` (a DELETE carries only `before`). */
object DebeziumScan {
  private def fields(f: (String, DataType)*): StructType =
    StructType(f.map { case (name, t) => StructField(name, t) })

  val Struct: StructType = fields("commit_ts" -> LongType, "schema_name" -> StringType,
    "table_name" -> StringType, "op" -> StringType, "pk" -> LongType,
    "before_value" -> DoubleType, "after_value" -> DoubleType,
    // the typed arms, decoded to what each writeDebeziumFieldValue
    // conversion carries: numbers as they are, base64 wires back to
    // their integer or string truth
    "c_date_days" -> LongType, "c_dt_ms" -> LongType, "c_dec_e4" -> LongType,
    "c_enum_name" -> StringType, "c_bit_val" -> LongType, "c_set_name" -> StringType,
    "c_bin_str" -> StringType, "c_time_us" -> LongType, "c_year_val" -> LongType,
    "c_ubig_wrapped" -> LongType, "c_dec_prec_e4" -> LongType)

  /** The full envelope's decoded fields: the first seven of [[Struct]]. */
  val EnvelopeStruct: StructType = StructType(Struct.fields.take(7))

  // image slots: pk, value, then the eleven typed arms in Struct order
  private final val ImageSlots = 13

  private final class Scanner(s: String, typed: Boolean) extends JsonCursor(s) {
    import WireScan.{base64, double, unsigned, utf}
    val out = new Array[Any](if (typed) Struct.length else 7)
    private val before = new Array[Any](ImageSlots)
    private val after = new Array[Any](ImageSlots)

    /** DECIMAL(20,4) number token -> unscaled e4 */
    private def decimalE4(t: String): Long = {
      val d = new java.math.BigDecimal(t).setScale(4, java.math.RoundingMode.HALF_UP)
      if (d.precision > 20) err()
      d.unscaledValue.longValueExact
    }

    private def image(img: Array[Any]): Unit = if (!nullToken()) obj { key =>
      if (nullToken()) () // a JSON null leaves the slot NULL
      else key match {
        case "pk"    => img(0) = longToken()
        case "value" => img(1) = double(scalarToken())
        case _ if !typed => skipValue()
        case "c_date"     => img(2) = longToken()
        case "c_dt"       => img(3) = longToken()
        case "c_dec"      => img(4) = decimalE4(scalarToken())
        case "c_enum"     => img(5) = utf(readString())
        case "c_bit"      => img(6) = unsigned(base64(readString()))
        case "c_set"      => img(7) = utf(readString())
        case "c_bin"      => img(8) = UTF8String.fromBytes(base64(readString()))
        case "c_time"     => img(9) = longToken()
        case "c_year"     => img(10) = longToken()
        case "c_ubig"     => img(11) = longToken()
        case "c_dec_prec" => img(12) = unsigned(base64(readString()))
        case _            => skipValue()
      }
    }

    private def source(key: String): Unit = key match {
      case "db"        => if (!nullToken()) out(1) = utf(readString())
      case "table"     => if (!nullToken()) out(2) = utf(readString())
      case "commit_ts" if !typed => if (!nullToken()) out(0) = longToken()
      case _           => skipValue()
    }

    /** The event fields: the flat envelope's top level, or the full
      * envelope's payload. */
    private def event(key: String): Unit = key match {
      case "before" => image(before)
      case "after"  => image(after)
      case "source" => if (!nullToken()) obj(source)
      case "op"     => if (!nullToken()) out(3) = utf(readString())
      case "ts_ms" if typed => if (!nullToken()) out(0) = longToken()
      case _        => skipValue()
    }

    def run(): InternalRow = {
      if (typed) obj(event)
      else obj { case "payload" => obj(event); case _ => skipValue() }
      end()
      out(4) = if (after(0) != null) after(0) else before(0)
      out(5) = before(1)
      out(6) = after(1)
      if (typed) for (i <- 2 until ImageSlots)
        out(5 + i) = if (after(i) != null) after(i) else before(i)
      new GenericInternalRow(out)
    }
  }

  /** The flat envelope (A21); NULL on malformed input. */
  def decode(u: UTF8String): InternalRow =
    try new Scanner(u.toString, typed = true).run()
    catch { case _: Exception => null }

  /** The full envelope (A70); NULL on malformed input. */
  def decodeEnvelope(u: UTF8String): InternalRow =
    try new Scanner(u.toString, typed = false).run()
    catch { case _: Exception => null }
}

/** Scanner for the open-protocol pair (consumer side of A20;
  * reference: pkg/sink/codec/open/open_protocol_message.go): the key's
  * ts/schema/table routing and the value's `u` (upsert) or `d`
  * (delete) image. */
object OpenScan {
  val KeyStruct: StructType = StructType(Seq(StructField("ts", LongType),
    StructField("scm", StringType), StructField("tbl", StringType)))
  val ValueStruct: StructType = StructType(Seq(StructField("is_delete", BooleanType),
    StructField("pk", LongType), StructField("value", DoubleType)))

  private final class Scanner(s: String) extends JsonCursor(s) {
    import WireScan.{double, utf}
    def key(): InternalRow = {
      val out = new Array[Any](3)
      obj {
        case "ts"  => if (!nullToken()) out(0) = longToken()
        case "scm" => if (!nullToken()) out(1) = utf(readString())
        case "tbl" => if (!nullToken()) out(2) = utf(readString())
        case _     => skipValue()
      }
      end()
      new GenericInternalRow(out)
    }
    def value(): InternalRow = {
      val u = new Array[Any](2)
      val d = new Array[Any](2)
      var isDelete = false
      def image(img: Array[Any]): Boolean = !nullToken() && {
        obj { key =>
          if (nullToken()) ()
          else key match {
            case "pk"    => img(0) = longToken()
            case "value" => img(1) = double(scalarToken())
            case _       => skipValue()
          }
        }
        true
      }
      obj {
        case "u" => image(u)
        case "d" => isDelete = image(d)
        case _   => skipValue()
      }
      end()
      new GenericInternalRow(Array[Any](isDelete,
        if (u(0) != null) u(0) else d(0), if (u(1) != null) u(1) else d(1)))
    }
  }

  /** NULL on malformed input. */
  def decodeKey(u: UTF8String): InternalRow =
    try new Scanner(u.toString).key() catch { case _: Exception => null }

  /** NULL on malformed input. */
  def decodeValue(u: UTF8String): InternalRow =
    try new Scanner(u.toString).value() catch { case _: Exception => null }
}

/** Scanner for the csv line (consumer side of A22; reference:
  * pkg/sink/codec/csv/csv_decoder.go): eleven comma-separated fields,
  * a quoted field unescaping `""` to `"`, the value's bare `\N` back to
  * NULL and the typed arms to their canonical integers. */
object CsvScan {
  val Struct: StructType = StructType(Seq(
    "commit_ts" -> LongType, "schema_name" -> StringType, "table_name" -> StringType,
    "op" -> StringType, "pk" -> LongType, "after_value" -> DoubleType,
    "props" -> StringType, "c_date_days" -> LongType, "c_dt_sec" -> LongType,
    "c_dec_e4" -> LongType, "c_enum_name" -> StringType)
    .map { case (name, t) => StructField(name, t) })

  private final val NumFields = 11

  /** The fields of one line: a quoted field's content, or an unquoted
    * field's raw text (NULL when empty). */
  private def split(s: String): Array[String] = {
    val f = new Array[String](NumFields)
    var pos = 0
    var k = 0
    val n = s.length
    while (k < NumFields) {
      if (pos < n && s.charAt(pos) == '"') {
        val b = new java.lang.StringBuilder()
        pos += 1
        var open = true
        while (open) {
          if (pos >= n) throw new IllegalArgumentException("unterminated field")
          val c = s.charAt(pos)
          if (c != '"') { b.append(c); pos += 1 }
          else if (pos + 1 < n && s.charAt(pos + 1) == '"') { b.append('"'); pos += 2 }
          else { pos += 1; open = false }
        }
        f(k) = b.toString
      } else {
        val start = pos
        while (pos < n && s.charAt(pos) != ',') pos += 1
        f(k) = if (pos == start) null else s.substring(start, pos)
      }
      k += 1
      if (k < NumFields) {
        if (pos >= n || s.charAt(pos) != ',') throw new IllegalArgumentException("short line")
        pos += 1
      }
    }
    if (pos != n) throw new IllegalArgumentException("trailing bytes")
    f
  }

  /** NULL on malformed input. */
  def decode(u: UTF8String): InternalRow =
    try {
      import WireScan._
      val f = split(u.toString)
      def opt[T](x: String)(g: String => T): Any = if (x == null) null else g(x)
      new GenericInternalRow(Array[Any](
        opt(f(3))(x => java.lang.Long.parseLong(x)), opt(f(1))(utf), opt(f(2))(utf),
        opt(f(0))(utf), opt(f(4))(x => java.lang.Long.parseLong(x)),
        opt(f(5))(v => if (v == "\\N") null else double(v)),
        opt(f(6))(utf), opt(f(7))(dateDays), opt(f(8))(dtSec), opt(f(9))(decE4),
        opt(f(10))(utf)))
    } catch { case _: Exception => null }
}

/** A scanner over one message column: NULL in, NULL out, and NULL for
  * a malformed message (the generated code null-checks the result, the
  * [[CanalDecode]] convention). */
case class WireScanDecode(format: String, child: Expression) extends UnaryExpression {
  private def scanner: WireScanExprs.Scanner = WireScanExprs.Scanners(format)
  override def dataType: DataType = scanner.struct
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_${format}_decode"
  override def nullSafeEval(a: Any): Any = scanner.decode(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.${scanner.call}($v);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): WireScanDecode =
    copy(child = newChild)
}

object WireScanExprs {
  /** A scanner's row type, its entry point and that entry point's name
    * for generated code. */
  final case class Scanner(struct: StructType, decode: UTF8String => InternalRow, call: String)

  val Scanners: Map[String, Scanner] = Map(
    "debezium" -> Scanner(DebeziumScan.Struct, DebeziumScan.decode, "DebeziumScan.decode"),
    "debezium_envelope" -> Scanner(DebeziumScan.EnvelopeStruct, DebeziumScan.decodeEnvelope,
      "DebeziumScan.decodeEnvelope"),
    "csv" -> Scanner(CsvScan.Struct, CsvScan.decode, "CsvScan.decode"),
    "open_key" -> Scanner(OpenScan.KeyStruct, OpenScan.decodeKey, "OpenScan.decodeKey"),
    "open_value" -> Scanner(OpenScan.ValueStruct, OpenScan.decodeValue, "OpenScan.decodeValue"))

  def register(ext: SparkSessionExtensions): Unit =
    for (f <- Scanners.keys)
      ext.injectFunction((FunctionIdentifier(s"graft_${f}_decode"),
        new ExpressionInfo(classOf[WireScanDecode].getName, s"graft_${f}_decode"),
        (children: Seq[Expression]) => WireScanDecode(f, children.head)))

  def debeziumDecode(msg: Column): Column = call_function("graft_debezium_decode", msg)
  def debeziumEnvelopeDecode(msg: Column): Column =
    call_function("graft_debezium_envelope_decode", msg)
  def csvDecode(line: Column): Column = call_function("graft_csv_decode", line)
  def openKeyDecode(key: Column): Column = call_function("graft_open_key_decode", key)
  def openValueDecode(value: Column): Column =
    call_function("graft_open_value_decode", value)
}
