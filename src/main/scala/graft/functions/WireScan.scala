package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The read side of the wires: one single-pass scanner per format, each
  * registered as `graft_<format>_decode` through [[WireScanExprs]].
  *
  * A JSON scanner walks the message once on the shared [[JsonCursor]]:
  * it keeps the fields it needs by key (key-order independent), skips
  * the rest (nested metadata objects by a depth counter), converts the
  * typed arms straight to their canonical forms and accepts a message
  * only if it consumes every byte. Malformed input decodes to NULL.
  * This is the `from_json` contract, including whitespace: the cursor
  * skips inter-token whitespace at every structural position, so a
  * pretty-printed rendering decodes exactly like the compact wire, at
  * one failed char compare per skip site on the compact wire. Numbers
  * parse with `Double.parseDouble`, the correctly rounded IEEE result
  * Jackson gives for the same token. One documented leniency: bare
  * `NaN`/`Infinity` tokens parse, because the `%.4f` renderer writes
  * them for non-finite doubles and a consumer accepts its own wire.
  *
  * Jackson `from_json` is not used because tokenizing the whole message
  * was the entire decode cost above the encode: the canal payload's
  * fixed `sqlType`/`mysqlType` objects are ~40 % of its bytes (sf0.1:
  * parse ~1.8 s of a 2.6 s query; a typed Jackson schema was slower,
  * 3.7 s), and the simple-protocol decode wall at the sf10 tier was
  * Jackson's tokenization of 10M messages.
  *
  * The DuckDB oracles extract the same fields with their own JSON and
  * regex functions, so the oracle equality also checks the scanners. */
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

/** The one JSON walker: a cursor over one message. The structural
  * walkers ([[message]], [[obj]], [[arr]]) skip whitespace around every
  * token they consume, so the value readers always start on a value's
  * first char. Errors throw; the scanner's entry point turns them into
  * a NULL row. */
private[functions] abstract class JsonCursor(s: String) {
  protected var pos = 0
  protected val n: Int = s.length

  protected def err(): Nothing = throw new IllegalArgumentException("malformed message")
  protected def ch: Char = { if (pos >= n) err(); s.charAt(pos) }
  protected def eat(c: Char): Unit = { if (ch != c) err(); pos += 1 }

  /** Skip JSON whitespace; one compare for any char above the space. */
  private def ws(): Unit =
    while (pos < n && { val c = s.charAt(pos)
      c <= ' ' && (c == ' ' || c == '\n' || c == '\r' || c == '\t') }) pos += 1

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
      c > ' ' && c != ',' && c != '}' && c != ']' }) pos += 1
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
    eat('{'); ws()
    if (ch == '}') { pos += 1; return }
    var more = true
    while (more) {
      val key = readString()
      ws(); eat(':'); ws()
      handle(key)
      ws()
      if (ch == ',') { pos += 1; ws() }
      else { eat('}'); more = false }
    }
  }

  /** Walk an array, handing each element's index to `elem` (which must
    * consume it); the element count. */
  protected def arr(elem: Int => Unit): Int = {
    eat('['); ws()
    if (ch == ']') { pos += 1; return 0 }
    var k = 0
    var more = true
    while (more) {
      elem(k); k += 1
      ws()
      if (ch == ',') { pos += 1; ws() }
      else { eat(']'); more = false }
    }
    k
  }

  /** The whole message: one value, optionally surrounded by whitespace,
    * that consumes every byte. */
  protected def message[T](value: => T): T = {
    ws()
    val r = value
    ws()
    if (pos != n) err()
    r
  }
}

/** Scanner for the canal-json wire (consumer side of A19/A57/A65;
  * reference: pkg/sink/codec/canal/canal_json_message.go, the
  * JSONMessage field set and the decoder's isDdl/TIDB_WATERMARK
  * routing at :126-140). The event image rides `data[0]`; further
  * elements are skipped. */
object CanalScan {
  val Struct: StructType = StructType(Seq(
    StructField("es", LongType),
    StructField("ts", LongType),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("is_ddl", BooleanType),
    StructField("sql", StringType),
    StructField("pk", LongType),
    StructField("value", StringType),      // raw number token; null image -> null
    StructField("old_value", StringType),  // old[0].value token
    // the typed arms decode straight to their canonical integer forms
    // here (the consumer-side inverse of each helper.go rendering):
    // leaving them as strings for Catalyst datediff/to_timestamp/
    // regexp_replace arms pushed the fused render+scan+arms WSCG
    // method over HotSpot's 8000-bytecode JIT ceiling and the whole
    // stage ran interpreted (measured: sf10 117 s vs ~5 s for the
    // same scan without the arms)
    StructField("c_date_days", LongType),
    StructField("c_dt_sec", LongType),
    StructField("c_dec_e4", LongType),
    StructField("c_enum_idx", LongType),
    StructField("c_bit_val", LongType),
    StructField("c_set_mask", LongType),
    StructField("c_bin", StringType),
    StructField("c_time_sec", LongType),
    StructField("c_year_val", LongType),
    StructField("c_ubig", StringType),
    // GEOMETRY + NULL arms (r12): always JSON null on the wire
    // (java.go:136-138 — geometry unsupported; TypeNull by definition)
    // — decoded as null-preserving raw tokens so a non-null value in a
    // foreign wire still surfaces instead of being silently dropped
    StructField("c_geo", StringType),
    StructField("c_null", StringType),
    StructField("commit_ts_ext", LongType),   // _tidb.commitTs
    StructField("watermark_ts", LongType)))   // _tidb.watermarkTs

  // struct slot indices (must match Struct above)
  private final val ES = 0
  private final val TS = 1
  private final val DB = 2
  private final val TBL = 3
  private final val TYP = 4
  private final val DDL = 5
  private final val SQL = 6
  private final val PK = 7
  private final val VAL = 8
  private final val OLD = 9
  private final val CDATE = 10 // c_date..c_null occupy 10..21 in wire order
  private final val CTS_EXT = 22
  private final val WMARK = 23
  private final val NumSlots = 24

  private final class Scanner(s: String) extends JsonCursor(s) {
    import WireScan.{dateDays, decE4, dtSec, timeSec, utf}
    private val out = new Array[Any](NumSlots)

    /** A raw token or string that is usually JSON null. */
    private def rawOrNull(slot: Int): Unit =
      if (ch == '"') out(slot) = utf(readString())
      else { val t = scalarToken(); if (t != "null") out(slot) = utf(t) }

    // the ten typed-image arms ride data[0] in fixed slots 10..19
    private def dataKey(key: String): Unit = key match {
      case "pk"     => out(PK) = longToken()
      case "value"  =>
        val t = scalarToken(); if (t != "null") out(VAL) = utf(t)
      case "c_date" => out(CDATE) = dateDays(readString())
      case "c_dt"   => out(CDATE + 1) = dtSec(readString())
      case "c_dec"  => out(CDATE + 2) = decE4(readString())
      case "c_enum" => out(CDATE + 3) = java.lang.Long.parseLong(readString())
      case "c_bit"  => out(CDATE + 4) = java.lang.Long.parseLong(readString())
      case "c_set"  => out(CDATE + 5) = java.lang.Long.parseLong(readString())
      case "c_bin"  => out(CDATE + 6) = utf(readString())
      case "c_time" => out(CDATE + 7) = timeSec(readString())
      case "c_year" => out(CDATE + 8) = java.lang.Long.parseLong(readString())
      case "c_ubig" => out(CDATE + 9) = utf(readString())
      case "c_geo"  => rawOrNull(CDATE + 10)
      case "c_null" => rawOrNull(CDATE + 11)
      case _        => skipValue() // props, unknown
    }

    /** `data` or `old`: null, or a non-empty array whose first element
      * is the image. */
    private def image(first: String => Unit): Unit =
      if (!nullToken() && arr(i => if (i == 0) obj(first) else skipValue()) == 0) err()

    private def topKey(key: String): Unit = key match {
      case "database" => out(DB) = utf(readString())
      case "table"    => out(TBL) = utf(readString())
      case "type"     => out(TYP) = utf(readString())
      case "isDdl"    => out(DDL) = (scalarToken() == "true")
      case "sql"      => out(SQL) = utf(readString())
      case "es"       => out(ES) = longToken()
      case "ts"       => out(TS) = longToken()
      case "data"     => image(dataKey)
      case "old"      => image {
        case "value" => val t = scalarToken(); if (t != "null") out(OLD) = utf(t)
        case _       => skipValue()
      }
      case "_tidb" => obj {
        case "commitTs"    => out(CTS_EXT) = longToken()
        case "watermarkTs" => out(WMARK) = longToken()
        case _             => skipValue()
      }
      case _ => skipValue() // id, pkNames, sqlType, mysqlType, unknown
    }

    def run(): InternalRow = { message(obj(topKey)); new GenericInternalRow(out) }
  }

  /** NULL on malformed input. */
  def decode(u: UTF8String): InternalRow =
    try new Scanner(u.toString).run() catch { case _: Exception => null }
}

/** Scanner for the simple-protocol JSON wire (consumer side of
  * A34/A45; reference: pkg/sink/codec/simple/message.go, the field set
  * the decoder.go:309-356 consumer reads). Props payloads, pkNames and
  * the tableSchema column list (except its count) are skipped. */
object SimpleScan {
  val Struct: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("typ", StringType),
    StructField("commit_ts", LongType),
    StructField("schema_version", LongType),
    StructField("sql", StringType),
    StructField("has_data", LongType),      // 1 when a data image exists
    StructField("data_pk", LongType),
    StructField("data_value", DoubleType),
    StructField("has_old", LongType),
    StructField("old_pk", LongType),
    StructField("old_value", DoubleType),
    StructField("ts_schema", StringType),
    StructField("ts_table", StringType),
    StructField("ts_version", LongType),
    StructField("ts_cols", LongType)))

  private final val DB = 0
  private final val TBL = 1
  private final val TYP = 2
  private final val CTS = 3
  private final val SVER = 4
  private final val SQL = 5
  private final val HASD = 6
  private final val DPK = 7
  private final val DVAL = 8
  private final val HASO = 9
  private final val OPK = 10
  private final val OVAL = 11
  private final val TSS = 12
  private final val TST = 13
  private final val TSV = 14
  private final val TSC = 15
  private final val NumSlots = 16

  private final class Scanner(s: String) extends JsonCursor(s) {
    import WireScan.utf
    private val out = new Array[Any](NumSlots)

    /** `data` or `old`: null, or the image object. */
    private def image(hasSlot: Int, pkSlot: Int, valSlot: Int): Unit = if (!nullToken()) {
      out(hasSlot) = 1L
      obj {
        case "pk" => out(pkSlot) = longToken()
        case "value" =>
          val t = scalarToken()
          if (t != "null") out(valSlot) = java.lang.Double.parseDouble(t)
        case _ => skipValue() // props
      }
    }

    private def tableSchema(): Unit = if (!nullToken()) obj {
      case "schema"  => out(TSS) = utf(readString())
      case "table"   => out(TST) = utf(readString())
      case "version" => out(TSV) = longToken()
      case "columns" => out(TSC) = arr(_ => skipValue()).toLong
      case _         => skipValue()
    }

    private def topKey(key: String): Unit = key match {
      case "database"      => out(DB) = utf(readString())
      case "table"         => out(TBL) = utf(readString())
      case "type"          => out(TYP) = utf(readString())
      case "commitTs"      => out(CTS) = longToken()
      case "schemaVersion" => out(SVER) = longToken()
      case "sql"           => out(SQL) = utf(readString())
      case "data"          => image(HASD, DPK, DVAL)
      case "old"           => image(HASO, OPK, OVAL)
      case "tableSchema"   => tableSchema()
      case _ => skipValue() // version, tableID, buildTs, watermarkTs, …
    }

    def run(): InternalRow = { message(obj(topKey)); new GenericInternalRow(out) }
  }

  /** NULL on malformed input. */
  def decode(u: UTF8String): InternalRow =
    try new Scanner(u.toString).run() catch { case _: Exception => null }
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
      message {
        if (typed) obj(event)
        else obj { case "payload" => obj(event); case _ => skipValue() }
      }
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
      message(obj {
        case "ts"  => if (!nullToken()) out(0) = longToken()
        case "scm" => if (!nullToken()) out(1) = utf(readString())
        case "tbl" => if (!nullToken()) out(2) = utf(readString())
        case _     => skipValue()
      })
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
      message(obj {
        case "u" => image(u)
        case "d" => isDelete = image(d)
        case _   => skipValue()
      })
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

/** A registered decoder over one message column. NULL in gives NULL
  * out, and the generated code null-checks the entry point's result,
  * since a malformed JSON or csv message decodes to NULL. */
case class WireScanDecode(format: String, child: Expression) extends UnaryExpression {
  @transient private lazy val scanner: WireScanExprs.Scanner = WireScanExprs.Scanners(format)
  override def dataType: DataType = scanner.struct
  override def nullable: Boolean = true
  override def prettyName: String = scanner.name
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
  /** A decoder's SQL name, row type, entry point and that entry point's
    * name for generated code. */
  final case class Scanner(name: String, struct: StructType,
                           decode: UTF8String => InternalRow, call: String)

  private def scanner(format: String, struct: StructType, decode: UTF8String => InternalRow,
                      call: String): (String, Scanner) =
    format -> Scanner(s"graft_${format}_decode", struct, decode, call)

  /** Every message decoder by format. The avro pair keeps its SQL
    * names, and its malformed frames decode to a `valid` = 0 row
    * rather than NULL. */
  val Scanners: Map[String, Scanner] = Map(
    scanner("canal", CanalScan.Struct, CanalScan.decode, "CanalScan.decode"),
    scanner("simple", SimpleScan.Struct, SimpleScan.decode, "SimpleScan.decode"),
    scanner("debezium", DebeziumScan.Struct, DebeziumScan.decode, "DebeziumScan.decode"),
    scanner("debezium_envelope", DebeziumScan.EnvelopeStruct, DebeziumScan.decodeEnvelope,
      "DebeziumScan.decodeEnvelope"),
    scanner("csv", CsvScan.Struct, CsvScan.decode, "CsvScan.decode"),
    scanner("open_key", OpenScan.KeyStruct, OpenScan.decodeKey, "OpenScan.decodeKey"),
    scanner("open_value", OpenScan.ValueStruct, OpenScan.decodeValue, "OpenScan.decodeValue"),
    "avro_key" -> Scanner("graft_avro_decode_key", WireHex.KeyStruct, WireHex.avroDecodeKey,
      "WireHex.avroDecodeKey"),
    "avro_value" -> Scanner("graft_avro_decode_value", WireHex.ValueStruct,
      WireHex.avroDecodeValue, "WireHex.avroDecodeValue"))

  def register(ext: SparkSessionExtensions): Unit =
    for ((format, sc) <- Scanners)
      ext.injectFunction((FunctionIdentifier(sc.name),
        new ExpressionInfo(classOf[WireScanDecode].getName, sc.name),
        (children: Seq[Expression]) => WireScanDecode(format, children.head)))

  /** The decoded struct of each message of a [[Scanners]] format. */
  def decode(format: String, msg: Column): Column = call_function(Scanners(format).name, msg)
}
