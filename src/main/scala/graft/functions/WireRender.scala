package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The native write side of the codecs: one fixed-point renderer, the
  * [[graft.cdc.TypedImage]] arms and one kernel per JSON/CSV wire
  * format (canal-json, debezium, the full debezium envelope, csv).
  *
  * A kernel writes a whole message in one JVM pass into a reused
  * per-thread buffer, and its generated code is one static call with
  * plain column references as arguments. The composed Catalyst form
  * (a ~60-node concat/format_string tree per codec) compiled into a
  * separate 5–6 KB method in every stage that used it, and C2 compiled
  * each of them again; the kernels are ordinary methods, compiled once.
  * The DuckDB `*Sql` renderings in `graft.cdc.Codecs` are the oracle
  * for every byte written here. */

/** A growable byte buffer that messages are written into. */
final class WireBuf(capacity: Int) {
  private var buf = new Array[Byte](capacity)
  private var n = 0

  def reset(): WireBuf = { n = 0; this }

  private def room(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + k))

  def byte(c: Char): WireBuf = { room(1); buf(n) = c.toByte; n += 1; this }

  def bytes(b: Array[Byte]): WireBuf = {
    room(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length; this
  }

  /** An ASCII string, one byte a char. */
  def ascii(s: String): WireBuf = {
    room(s.length)
    var i = 0
    while (i < s.length) { buf(n) = s.charAt(i).toByte; n += 1; i += 1 }
    this
  }

  def utf8(u: UTF8String): WireBuf = {
    val k = u.numBytes
    room(k); u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + n); n += k; this
  }

  /** `u` between double quotes, each `"` doubled (the csv quoting; a
    * `"` byte never occurs inside a multi-byte UTF-8 sequence). */
  def csvQuoted(u: UTF8String): WireBuf = {
    byte('"')
    var i = 0
    while (i < u.numBytes) {
      val c = u.getByte(i)
      room(2); buf(n) = c; n += 1
      if (c == '"') { buf(n) = c; n += 1 }
      i += 1
    }
    byte('"')
  }

  /** `Long.toString(v)`. */
  def long(v: Long): WireBuf = {
    if (v == Long.MinValue) return ascii("-9223372036854775808")
    var x = v
    if (x < 0) { byte('-'); x = -x }
    var digits = 1
    var t = x
    while (t >= 10) { t /= 10; digits += 1 }
    padded(x, digits)
  }

  /** A non-negative `v` in exactly `width` digits, zero-padded (the
    * high digits are dropped if it has more). */
  def padded(v: Long, width: Int): WireBuf = {
    room(width)
    var x = v
    var i = n + width - 1
    while (i >= n) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    n += width
    this
  }

  /** `%.<scale>f` of `d` ([[FixedPoint]]). */
  def fixed(d: Double, scale: Int): WireBuf = { FixedPoint.append(this, d, scale); this }

  def length: Int = n

  /** Standard base64 (with `=` padding) of `len` bytes of `src`. */
  def base64(src: Array[Byte], len: Int): WireBuf = {
    room((len + 2) / 3 * 4)
    var i = 0
    while (i < len) {
      val b0 = src(i) & 0xff
      val b1 = if (i + 1 < len) src(i + 1) & 0xff else 0
      val b2 = if (i + 2 < len) src(i + 2) & 0xff else 0
      buf(n) = WireBuf.B64(b0 >>> 2)
      buf(n + 1) = WireBuf.B64(((b0 & 3) << 4) | (b1 >>> 4))
      buf(n + 2) = if (i + 1 < len) WireBuf.B64(((b1 & 15) << 2) | (b2 >>> 6)) else '='.toByte
      buf(n + 3) = if (i + 2 < len) WireBuf.B64(b2 & 63) else '='.toByte
      n += 4
      i += 3
    }
    this
  }

  def result(): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, n))
}

object WireBuf {
  private val B64: Array[Byte] =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/".getBytes(UTF_8)
}

/** The engine's one fixed-point number renderer, `%.<scale>f` for a
  * scale of 2 or 4: byte-identical to Spark's `format_string`, which
  * formats through `java.util.Formatter` with `Locale.US` (so `-0.0000`
  * for a negative value that rounds to zero, `NaN`, `Infinity`). Below
  * 1e11 the decimals come from one scaled multiply unless the scaled
  * value lies within four ulps of a rounding midpoint; those values,
  * the large ones and the non-finite ones take the Formatter itself. */
object FixedPoint {
  private val local = ThreadLocal.withInitial[WireBuf](() => new WireBuf(32))
  private val Scales = Array(1L, 10L, 100L, 1000L, 10000L)
  private val Formats = Array.tabulate(5)(k => s"%.${k}f")

  def append(b: WireBuf, d: Double, scale: Int): Unit = {
    val a = Math.abs(d)
    if (a < 1e11) {
      val p = Scales(scale)
      val y = a * p
      val whole = Math.floor(y)
      val frac = y - whole
      if (Math.abs(frac - 0.5) > 4 * Math.ulp(y)) {
        val r = whole.toLong + (if (frac > 0.5) 1L else 0L)
        if (java.lang.Double.doubleToRawLongBits(d) < 0) b.byte('-')
        b.long(r / p).byte('.').padded(r % p, scale)
        return
      }
    }
    b.ascii(String.format(java.util.Locale.US, Formats(scale), Double.box(d)))
  }

  def render(d: Double, scale: Int): UTF8String = local.get().reset().fixed(d, scale).result()

  def string(d: Double, scale: Int): String = render(d, scale).toString

  /** The rendering's length in bytes, without building it. */
  def length(d: Double, scale: Int): Int = local.get().reset().fixed(d, scale).length
}

/** The [[graft.cdc.TypedImage]] arms: each is derived from the row's
  * `commit_ts` and `pk` by exact integer arithmetic (inputs reduced
  * before they are multiplied, so nothing wraps) and rendered in UTC.
  * The codec kernels call these; Column-built codecs reach them
  * through [[ImageArm]]. */
object ImageArms {
  // numeric arms (LongType)
  final val DateDays = 0
  final val DtSec = 1
  final val DecE4 = 2
  final val BitVal = 3
  final val SetMask = 4
  final val TimeSec = 5
  final val TimeMicros = 6
  final val YearVal = 7
  final val UbigOff = 8
  final val UbigWrapped = 9
  // string arms (StringType)
  final val FirstString = 10
  final val DateStr = 10
  final val DtStr = 11
  final val DecStr = 12
  final val BitB64 = 13
  final val SetName = 14
  final val BinStr = 15
  final val BinB64 = 16
  final val TimeStr = 17
  final val UbigStr = 18
  final val DecPreciseB64 = 19
  final val DecPreciseHex = 20
  /** [[beHex]] of the first input, any long */
  final val BeHex = 21

  /** ENUM elements (canal/debezium `allowed` order): the event types */
  val EnumElems: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  /** SET elements (4 elements: masks 1..15) */
  val SetElems: Seq[String] = Seq("alpha", "beta", "gamma", "delta")

  private val local = ThreadLocal.withInitial[WireBuf](() => new WireBuf(64))
  private val setNames: Array[Array[Byte]] = SetElems.map(_.getBytes(UTF_8)).toArray
  private val enumNames: Array[UTF8String] = EnumElems.map(UTF8String.fromString).toArray

  private def pmod(a: Long, m: Long): Long = { val r = a % m; if (r < 0) (r + m) % m else r }

  def dateDays(ts: Long): Long = pmod(ts, 40000L)
  def dtSec(ts: Long): Long = 800000000L + pmod(pmod(ts, 1200000000L) * 37L, 1200000000L)
  def decE4(pk: Long, ts: Long): Long = pmod(pk, 1000000000000L) * 137L + pmod(ts, 10000L)
  def bitVal(pk: Long): Long = pmod(pmod(pk, 256L) * 7L + 3L, 256L)
  def setMask(pk: Long, ts: Long): Long = 1L + pmod(pmod(pk, 15L) + pmod(ts, 15L), 15L)
  def timeSec(ts: Long): Long = pmod(pmod(ts, 86400L) * 11L, 86400L)
  def yearVal(ts: Long): Long = 1970L + pmod(ts, 155L)
  def ubigOff(pk: Long, ts: Long): Long =
    pmod(pmod(pk, 1048576L) * 31L + pmod(ts, 1048576L), 1048576L)
  private def binNum(pk: Long): Long = pmod(pk, 10000L) * 13L % 10000L

  /** 1-based index of the event type in the ENUM element list, 0 when
    * absent. */
  def enumIdx(et: UTF8String): Long = {
    var i = 0
    while (i < enumNames.length) {
      if (enumNames(i) == et) return i + 1L
      i += 1
    }
    0L
  }

  /** 'yyyy-MM-dd' of an epoch day (proleptic Gregorian, years 0..9999). */
  private def isoDate(b: WireBuf, days: Long): Unit = {
    val z = days + 719468L
    val era = (if (z >= 0) z else z - 146096L) / 146097L
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460L + doe / 36524L - doe / 146096L) / 365L
    val doy = doe - (365L * yoe + yoe / 4L - yoe / 100L)
    val mp = (5L * doy + 2L) / 153L
    val d = doy - (153L * mp + 2L) / 5L + 1L
    val m = if (mp < 10) mp + 3L else mp - 9L
    val y = yoe + era * 400L + (if (m <= 2) 1L else 0L)
    b.padded(y, 4).byte('-').padded(m, 2).byte('-').padded(d, 2)
  }

  private def isoTime(b: WireBuf, sod: Long): Unit =
    b.padded(sod / 3600, 2).byte(':').padded(sod / 60 % 60, 2).byte(':').padded(sod % 60, 2)

  def dateStr(b: WireBuf, ts: Long): Unit = isoDate(b, dateDays(ts))
  def dtStr(b: WireBuf, ts: Long): Unit = {
    val s = dtSec(ts)
    isoDate(b, Math.floorDiv(s, 86400L))
    isoTime(b.byte(' '), Math.floorMod(s, 86400L))
  }
  def decStr(b: WireBuf, pk: Long, ts: Long): Unit = {
    val e4 = decE4(pk, ts)
    b.long(e4 / 10000L).byte('.').padded(e4 % 10000L, 4)
  }
  /** base64 of the single byte of BIT(8) */
  def bitB64(b: WireBuf, pk: Long): Unit = b.base64(Array(bitVal(pk).toByte), 1)
  def setName(b: WireBuf, pk: Long, ts: Long): Unit = {
    val m = setMask(pk, ts)
    var first = true
    var i = 0
    while (i < setNames.length) {
      if ((m & (1L << i)) != 0) {
        if (!first) b.byte(',')
        b.bytes(setNames(i)); first = false
      }
      i += 1
    }
  }
  def binStr(b: WireBuf, pk: Long): Unit = b.padded(binNum(pk), 4)
  def binB64(b: WireBuf, pk: Long): Unit = {
    val v = binNum(pk)
    val digits = Array(v / 1000, v / 100 % 10, v / 10 % 10, v % 10).map(x => ('0' + x).toByte)
    b.base64(digits, 4)
  }
  def timeStr(b: WireBuf, ts: Long): Unit = isoTime(b, timeSec(ts))
  /** unsigned decimal of 2^63 + the offset: only the last 7 digits move */
  def ubigStr(b: WireBuf, pk: Long, ts: Long): Unit =
    b.ascii("922337203685").long(4775808L + ubigOff(pk, ts))
  def ubigWrapped(pk: Long, ts: Long): Long = Long.MinValue + ubigOff(pk, ts)

  /** Big-endian bytes of `v`: its upper-case hex digits padded to an
    * even count, with a 0x00 byte in front when the top bit is set —
    * `BigInteger.toByteArray` for a non-negative `v`. */
  def beBytes(v: Long): Array[Byte] = {
    val hex = java.lang.Long.toHexString(v)
    val nBytes = (hex.length + 1) / 2
    val top = (v >>> ((nBytes - 1) * 8)) & 0xff
    val sign = if (top >= 0x80) 1 else 0
    val out = new Array[Byte](nBytes + sign)
    var i = 0
    while (i < nBytes) { out(sign + i) = (v >>> ((nBytes - 1 - i) * 8)).toByte; i += 1 }
    out
  }
  private val HexDigits = "0123456789ABCDEF"
  def beHex(b: WireBuf, v: Long): Unit =
    beBytes(v).foreach(x => b.byte(HexDigits.charAt((x >> 4) & 15)).byte(HexDigits.charAt(x & 15)))
  def decPreciseB64(b: WireBuf, pk: Long, ts: Long): Unit = {
    val bytes = beBytes(decE4(pk, ts))
    b.base64(bytes, bytes.length)
  }

  /** A numeric arm by id. */
  def num(arm: Int, ts: Long, pk: Long): Long = arm match {
    case DateDays    => dateDays(ts)
    case DtSec       => dtSec(ts)
    case DecE4       => decE4(pk, ts)
    case BitVal      => bitVal(pk)
    case SetMask     => setMask(pk, ts)
    case TimeSec     => timeSec(ts)
    case TimeMicros  => timeSec(ts) * 1000000L
    case YearVal     => yearVal(ts)
    case UbigOff     => ubigOff(pk, ts)
    case UbigWrapped => ubigWrapped(pk, ts)
  }

  /** A string arm by id. */
  def str(arm: Int, ts: Long, pk: Long): UTF8String = {
    val b = local.get().reset()
    arm match {
      case DateStr       => dateStr(b, ts)
      case DtStr         => dtStr(b, ts)
      case DecStr        => decStr(b, pk, ts)
      case BitB64        => bitB64(b, pk)
      case SetName       => setName(b, pk, ts)
      case BinStr        => binStr(b, pk)
      case BinB64        => binB64(b, pk)
      case TimeStr       => timeStr(b, ts)
      case UbigStr       => ubigStr(b, pk, ts)
      case DecPreciseB64 => decPreciseB64(b, pk, ts)
      case DecPreciseHex => beHex(b, decE4(pk, ts))
      case BeHex         => beHex(b, ts)
    }
    b.result()
  }
}

/** One kernel per wire format over the change-event image columns, in
  * [[WireKernels.Inputs]] order. NULL semantics follow the composed
  * renderings they replaced: a message is NULL when a column its
  * `concat` needed is NULL (csv skips NULL fields, as `concat_ws`
  * does). */
object WireKernels {
  final val Canal = 0
  final val CanalTidb = 1
  final val Debezium = 2
  final val DebeziumEnvelope = 3
  final val Csv = 4
  val Names: Seq[String] = Seq("graft_canal_json", "graft_canal_json_tidb",
    "graft_debezium_json", "graft_debezium_envelope", "graft_csv_line")

  /** (column, type) of every kernel input. */
  val Inputs: Seq[(String, DataType)] = Seq(
    "commit_ts" -> LongType, "start_ts" -> LongType, "schema_name" -> StringType,
    "table_name" -> StringType, "op" -> StringType, "pk" -> LongType,
    "before_value" -> DoubleType, "after_value" -> DoubleType,
    "props" -> StringType, "event_type" -> StringType)

  /** canal-json `sqlType` (java.sql.Types codes of the reference
    * dispatch, internal/java.go) and `mysqlType` (encoder.go:260
    * utils.GetMySQLType) per column. */
  val CanalSqlTypeJson: String =
    "{\"pk\":-5,\"value\":8,\"props\":12,\"c_date\":91,\"c_dt\":93," +
      "\"c_dec\":3,\"c_enum\":4,\"c_bit\":-7,\"c_set\":-7," +
      // binary-charset blob -> JavaSQLTypeBLOB (helper.go:51-64); TIME 92;
      // YEAR is a VARCHAR 12 (helper.go:274-281); the unsigned bigint
      // value EXCEEDS MaxInt64, so its java type widens to DECIMAL 3
      // (helper.go:241-255)
      "\"c_bin\":2004,\"c_time\":92,\"c_year\":12,\"c_ubig\":3," +
      // the last two dispatch cells (r12): TypeGeometry ->
      // JavaSQLTypeBINARY -2 (java.go:136-138 — "not supported, should
      // not hit", but the sqlType mapping is total); TypeNull ->
      // JavaSQLTypeNULL 0 (java.go:85-86). Both VALUES are always JSON
      // null: the encoders carry nothing for either type.
      "\"c_geo\":-2,\"c_null\":0}"
  val CanalMysqlTypeJson: String =
    "{\"pk\":\"bigint\",\"value\":\"double\",\"props\":\"json\"," +
      "\"c_date\":\"date\",\"c_dt\":\"datetime\",\"c_dec\":\"decimal\"," +
      "\"c_enum\":\"enum\",\"c_bit\":\"bit\",\"c_set\":\"set\"," +
      "\"c_bin\":\"varbinary\",\"c_time\":\"time\",\"c_year\":\"year\"," +
      "\"c_ubig\":\"bigint unsigned\"," +
      "\"c_geo\":\"geometry\",\"c_null\":\"null\"}"

  // the full debezium envelope (codec.go:518-772): cluster name and the
  // schema blocks
  val DbzCluster = "graft-cluster"
  // per-column field schemas in writeDebeziumFieldSchema order/shape
  // (codec.go:62-253): int64, double, then the TypedImage matrix —
  // io.debezium.time.Date int32 (:128-135), io.debezium.time.Timestamp
  // int64 (:137-148), decimal as double (:121-126), io.debezium.data
  // .Enum string with the allowed parameter (:97-107)
  val DbzColFields =
    """{"type":"int64","optional":false,"field":"pk"},{"type":"double","optional":true,"field":"value"},""" +
      """{"type":"int32","optional":false,"name":"io.debezium.time.Date","version":1,"field":"c_date"},""" +
      """{"type":"int64","optional":false,"name":"io.debezium.time.Timestamp","version":1,"field":"c_dt"},""" +
      """{"type":"double","optional":false,"field":"c_dec"},""" +
      s"""{"type":"string","optional":false,"name":"io.debezium.data.Enum","version":1,"parameters":{"allowed":"${ImageArms.EnumElems.mkString(",")}"},"field":"c_enum"},""" +
      // r11 arms: io.debezium.data.Bits with the bit length (:76-87),
      // EnumSet with allowed (:109-120), binary blob schema stays
      // "string" (the :89-94 arm does not branch on IsBinary — only
      // the VALUE base64s; transcribed faithfully), MicroTime int64
      // (:159-166), io.debezium.time.Year int32 (:234-241), unsigned
      // bigint int64 (:213), and the upstream Connect Decimal bytes
      // schema with the scale parameter for the precise wire
      """{"type":"bytes","optional":false,"name":"io.debezium.data.Bits","version":1,"parameters":{"length":"8"},"field":"c_bit"},""" +
      s"""{"type":"string","optional":false,"name":"io.debezium.data.EnumSet","version":1,"parameters":{"allowed":"${ImageArms.SetElems.mkString(",")}"},"field":"c_set"},""" +
      """{"type":"string","optional":false,"field":"c_bin"},""" +
      """{"type":"int64","optional":false,"name":"io.debezium.time.MicroTime","version":1,"field":"c_time"},""" +
      """{"type":"int32","optional":false,"name":"io.debezium.time.Year","version":1,"field":"c_year"},""" +
      """{"type":"int64","optional":false,"field":"c_ubig"},""" +
      """{"type":"bytes","optional":false,"name":"org.apache.kafka.connect.data.Decimal","version":1,"parameters":{"scale":"4"},"field":"c_dec_prec"}"""
  val DbzSourceSchema =
    """{"type":"struct","fields":[{"type":"string","optional":false,"field":"version"},{"type":"string","optional":false,"field":"connector"},{"type":"string","optional":false,"field":"name"},{"type":"int64","optional":false,"field":"ts_ms"},{"type":"string","optional":true,"name":"io.debezium.data.Enum","version":1,"parameters":{"allowed":"true,last,false,incremental"},"default":"false","field":"snapshot"},{"type":"string","optional":false,"field":"db"},{"type":"string","optional":true,"field":"sequence"},{"type":"string","optional":true,"field":"table"},{"type":"int64","optional":false,"field":"server_id"},{"type":"string","optional":true,"field":"gtid"},{"type":"string","optional":false,"field":"file"},{"type":"int64","optional":false,"field":"pos"},{"type":"int32","optional":false,"field":"row"},{"type":"int64","optional":true,"field":"thread"},{"type":"string","optional":true,"field":"query"}],"optional":false,"name":"io.debezium.connector.mysql.Source","field":"source"}"""
  val DbzTailSchema =
    """{"type":"string","optional":false,"field":"op"},{"type":"int64","optional":true,"field":"ts_ms"},{"type":"struct","fields":[{"type":"string","optional":false,"field":"id"},{"type":"int64","optional":false,"field":"total_order"},{"type":"int64","optional":false,"field":"data_collection_order"}],"optional":true,"name":"event.block","version":1,"field":"transaction"}"""

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** The fields of one change event. */
  private final class Image {
    val out = new WireBuf(2048)
    var cts, sts, pk = 0L
    var ctsNull, stsNull, pkNull = false
    var schema, table, op, props, et: UTF8String = _
    var before, after = 0.0
    var beforeNull, afterNull = false
    def isOp(c: Char): Boolean = op != null && op.numBytes == 1 && op.getByte(0) == c
  }
  private val local = ThreadLocal.withInitial[Image](() => new Image)

  def render(format: Int, ctsNull: Boolean, cts: Long, stsNull: Boolean, sts: Long,
             schema: UTF8String, table: UTF8String, op: UTF8String,
             pkNull: Boolean, pk: Long, beforeNull: Boolean, before: Double,
             afterNull: Boolean, after: Double, props: UTF8String,
             et: UTF8String): UTF8String = {
    val r = local.get()
    r.ctsNull = ctsNull; r.cts = cts; r.stsNull = stsNull; r.sts = sts
    r.schema = schema; r.table = table; r.op = op; r.pkNull = pkNull; r.pk = pk
    r.beforeNull = beforeNull; r.before = before; r.afterNull = afterNull
    r.after = after; r.props = props; r.et = et
    r.out.reset()
    val ok = format match {
      case Canal            => canal(r, tidb = false)
      case CanalTidb        => canal(r, tidb = true)
      case Debezium         => debezium(r)
      case DebeziumEnvelope => debeziumEnvelope(r)
      case Csv              => csv(r); true
    }
    if (ok) r.out.result() else null
  }

  // ------------------------------------------------------- canal-json
  private val canalId = b("{\"id\":")
  private val canalDb = b(",\"database\":\"")
  private val canalTable = b("\",\"table\":\"")
  private val canalType = b("\",\"pkNames\":[\"pk\"],\"isDdl\":false,\"type\":\"")
  private val canalEs = b("\",\"es\":")
  private val canalTs = b(",\"ts\":")
  private val canalMeta = b(",\"sqlType\":" + CanalSqlTypeJson +
    ",\"mysqlType\":" + CanalMysqlTypeJson + ",\"data\":[{\"pk\":")
  private val canalArms = Seq(",\"value\":", ",\"props\":", ",\"c_date\":\"",
    "\",\"c_dt\":\"", "\",\"c_dec\":\"", "\",\"c_enum\":\"", "\",\"c_bit\":\"",
    "\",\"c_set\":\"", "\",\"c_bin\":\"", "\",\"c_time\":\"", "\",\"c_year\":\"",
    "\",\"c_ubig\":\"", "\",\"c_geo\":null,\"c_null\":null}],\"old\":").map(b).toArray
  private val canalOld = b("[{\"value\":")
  private val canalTidb = b(",\"_tidb\":{\"commitTs\":")
  private val insertWord = b("INSERT")
  private val deleteWord = b("DELETE")
  private val updateWord = b("UPDATE")
  private val nullWord = b("null")

  /** `fmt`: `%.4f`, or the JSON literal null. */
  private def fmt(o: WireBuf, isNull: Boolean, d: Double): Unit =
    if (isNull) o.bytes(nullWord) else o.fixed(d, 4)

  private def canal(r: Image, tidb: Boolean): Boolean = {
    if (r.ctsNull || r.stsNull || r.pkNull || r.schema == null || r.table == null ||
        r.props == null) return false
    val o = r.out
    val a = canalArms
    o.bytes(canalId).long(r.cts).bytes(canalDb).utf8(r.schema).bytes(canalTable)
      .utf8(r.table).bytes(canalType)
      .bytes(if (r.isOp('I')) insertWord else if (r.isOp('D')) deleteWord else updateWord)
      .bytes(canalEs).long(r.cts).bytes(canalTs).long(r.sts).bytes(canalMeta).long(r.pk)
    o.bytes(a(0))
    if (r.isOp('D')) fmt(o, r.beforeNull, r.before) else fmt(o, r.afterNull, r.after)
    o.bytes(a(1)).utf8(r.props).bytes(a(2))
    // the TypedImage arms per helper.go:39-260, all JSON strings (the
    // canal data map is map[string]string): date/datetime formatted,
    // decimal plain, enum/bit/set/year as integers, binary as its
    // ISO-8859-1 (here ASCII) decode, time as Duration.String(),
    // unsigned bigint as FormatUint; geometry and NULL carry no value
    ImageArms.dateStr(o, r.cts)
    o.bytes(a(3)); ImageArms.dtStr(o, r.cts)
    o.bytes(a(4)); ImageArms.decStr(o, r.pk, r.cts)
    o.bytes(a(5)).long(ImageArms.enumIdx(r.et))
    o.bytes(a(6)).long(ImageArms.bitVal(r.pk))
    o.bytes(a(7)).long(ImageArms.setMask(r.pk, r.cts))
    o.bytes(a(8)); ImageArms.binStr(o, r.pk)
    o.bytes(a(9)); ImageArms.timeStr(o, r.cts)
    o.bytes(a(10)).long(ImageArms.yearVal(r.cts))
    o.bytes(a(11)); ImageArms.ubigStr(o, r.pk, r.cts)
    o.bytes(a(12))
    if (r.isOp('U')) { o.bytes(canalOld); fmt(o, r.beforeNull, r.before); o.byte('}').byte(']') }
    else o.bytes(nullWord)
    if (tidb) o.bytes(canalTidb).long(r.cts).byte('}')
    o.byte('}')
    true
  }

  // --------------------------------------------------------- debezium
  private val dbzImage = Seq("{\"pk\":", ",\"value\":", ",\"c_date\":", ",\"c_dt\":",
    ",\"c_dec\":", ",\"c_enum\":\"", "\",\"c_bit\":\"", "\",\"c_set\":\"",
    "\",\"c_bin\":\"", "\",\"c_time\":", ",\"c_year\":", ",\"c_ubig\":",
    ",\"c_dec_prec\":\"", "\"}").map(b).toArray

  /** One row image with the typed arms (writeDebeziumFieldValue):
    * DATE epoch days, DATETIME epoch millis, DECIMAL a fixed-scale
    * number, ENUM its name, BIT(8) base64 of its byte, SET the name
    * CSV, binary base64, TIME micros, YEAR, unsigned BIGINT
    * reinterpreted as int64 (it wraps), and the Connect Decimal wire:
    * base64 of the big-endian unscaled bytes. */
  private def dbzImage(r: Image, isNull: Boolean, v: Double): Unit = {
    val o = r.out
    val a = dbzImage
    o.bytes(a(0)).long(r.pk).bytes(a(1))
    fmt(o, isNull, v)
    o.bytes(a(2)).long(ImageArms.dateDays(r.cts))
    o.bytes(a(3)).long(ImageArms.dtSec(r.cts) * 1000L)
    o.bytes(a(4)); ImageArms.decStr(o, r.pk, r.cts)
    o.bytes(a(5)).utf8(r.et)
    o.bytes(a(6)); ImageArms.bitB64(o, r.pk)
    o.bytes(a(7)); ImageArms.setName(o, r.pk, r.cts)
    o.bytes(a(8)); ImageArms.binB64(o, r.pk)
    o.bytes(a(9)).long(ImageArms.timeSec(r.cts) * 1000000L)
    o.bytes(a(10)).long(ImageArms.yearVal(r.cts))
    o.bytes(a(11)).long(ImageArms.ubigWrapped(r.pk, r.cts))
    o.bytes(a(12)); ImageArms.decPreciseB64(o, r.pk, r.cts)
    o.bytes(a(13))
  }

  private val dbzBefore = b("{\"before\":")
  private val dbzAfter = b(",\"after\":")
  private val dbzSource = b(",\"source\":{\"db\":\"")
  private val dbzTable = b("\",\"table\":\"")
  private val dbzOp = b("\"},\"op\":\"")
  private val dbzTsMs = b("\",\"ts_ms\":")

  private def debezium(r: Image): Boolean = {
    if (r.ctsNull || r.schema == null || r.table == null) return false
    if ((!r.beforeNull || !r.afterNull) && (r.pkNull || r.et == null)) return false
    val o = r.out
    o.bytes(dbzBefore)
    if (r.beforeNull) o.bytes(nullWord) else dbzImage(r, isNull = false, r.before)
    o.bytes(dbzAfter)
    if (r.afterNull) o.bytes(nullWord) else dbzImage(r, isNull = false, r.after)
    o.bytes(dbzSource).utf8(r.schema).bytes(dbzTable).utf8(r.table).bytes(dbzOp)
      .byte(if (r.isOp('I')) 'c' else if (r.isOp('D')) 'd' else 'u')
      .bytes(dbzTsMs).long(r.cts).byte('}')
    true
  }

  // ------------------------------------------ debezium, full envelope
  private val cluster = DbzCluster
  private val envSource = b("{\"payload\":{\"source\":{\"version\":\"2.4.0.Final\"," +
    "\"connector\":\"TiCDC\",\"name\":\"" + cluster + "\",\"ts_ms\":")
  private val envDb = b(",\"snapshot\":\"false\",\"db\":\"")
  private val envTable = b("\",\"table\":\"")
  private val envCommitTs = b("\",\"server_id\":0,\"gtid\":null,\"file\":\"\",\"pos\":0," +
    "\"row\":0,\"thread\":0,\"query\":null,\"commit_ts\":")
  private val envTsMs = b(",\"cluster_id\":\"" + cluster + "\"},\"ts_ms\":")
  private val envTxn = b(",\"transaction\":null,")
  private val envInsert = b("\"op\":\"c\",\"before\":null,\"after\":")
  private val envDelete = b("\"op\":\"d\",\"after\":null,\"before\":")
  private val envUpdate = b("\"op\":\"u\",\"before\":")
  private val envSchema = b("},\"schema\":{\"type\":\"struct\",\"optional\":false,\"name\":\"" +
    cluster + ".")
  private val envFields = b(".Envelope\",\"version\":1,\"fields\":[")
  private val envValue = b("{\"type\":\"struct\",\"optional\":true,\"name\":\"" + cluster + ".")
  private def envValueTail(field: String) =
    b(".Value\",\"field\":\"" + field + "\",\"fields\":[" + DbzColFields + "]}")
  private val envBeforeTail = envValueTail("before")
  private val envAfterTail = envValueTail("after")
  private val envTail = b("," + DbzSourceSchema + "," + DbzTailSchema + "]}}")

  private def debeziumEnvelope(r: Image): Boolean = {
    if (r.ctsNull || r.pkNull || r.schema == null || r.table == null || r.et == null)
      return false
    val o = r.out
    o.bytes(envSource).long(r.cts).bytes(envDb).utf8(r.schema).bytes(envTable)
      .utf8(r.table).bytes(envCommitTs).long(r.cts).bytes(envTsMs).long(r.cts)
      .bytes(envTxn)
    if (r.isOp('I')) { o.bytes(envInsert); dbzImage(r, r.afterNull, r.after) }
    else if (r.isOp('D')) { o.bytes(envDelete); dbzImage(r, r.beforeNull, r.before) }
    else {
      o.bytes(envUpdate); dbzImage(r, r.beforeNull, r.before)
      o.bytes(dbzAfter); dbzImage(r, r.afterNull, r.after)
    }
    def names(): Unit = o.utf8(r.schema).byte('.').utf8(r.table)
    o.bytes(envSchema); names(); o.bytes(envFields)
    o.bytes(envValue); names(); o.bytes(envBeforeTail).byte(',')
    o.bytes(envValue); names(); o.bytes(envAfterTail)
    o.bytes(envTail)
    true
  }

  // -------------------------------------------------------------- csv
  private val csvNull = b("\\N")

  /** opType,schema,table,commitTs,pk,value,props,date,datetime,decimal,
    * enum — strings quoted; a NULL field is left out with its comma. */
  private def csv(r: Image): Unit = {
    val o = r.out
    var first = true
    def sep(): WireBuf = { if (!first) o.byte(','); first = false; o }
    if (r.op != null) sep().csvQuoted(r.op)
    if (r.schema != null) sep().csvQuoted(r.schema)
    if (r.table != null) sep().csvQuoted(r.table)
    if (!r.ctsNull) sep().long(r.cts)
    if (!r.pkNull) sep().long(r.pk)
    if (r.afterNull) sep().bytes(csvNull) else sep().fixed(r.after, 4)
    if (r.props != null) sep().csvQuoted(r.props)
    if (!r.ctsNull) { sep().byte('"'); ImageArms.dateStr(o, r.cts); o.byte('"') }
    if (!r.ctsNull) { sep().byte('"'); ImageArms.dtStr(o, r.cts); o.byte('"') }
    if (!r.ctsNull && !r.pkNull) { sep(); ImageArms.decStr(o, r.pk, r.cts) }
    if (r.et != null) sep().csvQuoted(r.et)
  }
}

/** `%.4f` of a double column ([[FixedPoint]]); NULL stays NULL. */
case class Fixed4(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_fixed4"
  override def nullSafeEval(d: Any): Any = FixedPoint.render(d.asInstanceOf[Double], 4)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d => s"graft.functions.FixedPoint.render($d, 4)")
  override protected def withNewChildInternal(newChild: Expression): Fixed4 =
    copy(child = newChild)
}

/** One [[ImageArms]] arm over (commit_ts, pk); an arm that reads one
  * input gets a literal for the other. */
case class ImageArm(arm: Int, ts: Expression, pk: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression = ts
  override def right: Expression = pk
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType =
    if (arm >= ImageArms.FirstString) StringType else LongType
  override def prettyName: String = "graft_image_arm"
  override def nullSafeEval(t: Any, p: Any): Any = {
    val (tv, pv) = (t.asInstanceOf[Long], p.asInstanceOf[Long])
    if (arm >= ImageArms.FirstString) ImageArms.str(arm, tv, pv) else ImageArms.num(arm, tv, pv)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = if (arm >= ImageArms.FirstString) "str" else "num"
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.ImageArms.$f($arm, $t, $p)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ImageArm = copy(ts = newLeft, pk = newRight)
}

/** One wire-format kernel ([[WireKernels]]) over the change-event
  * columns: the generated code is a single static call. */
case class WireKernel(format: Int, children: Seq[Expression])
  extends Expression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = WireKernels.Inputs.map(_._2)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = WireKernels.Names(format)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    def l(i: Int): Long = if (v(i) == null) 0L else v(i).asInstanceOf[Long]
    def d(i: Int): Double = if (v(i) == null) 0.0 else v(i).asInstanceOf[Double]
    def s(i: Int): UTF8String = v(i).asInstanceOf[UTF8String]
    WireKernels.render(format, v(0) == null, l(0), v(1) == null, l(1), s(2), s(3), s(4),
      v(5) == null, l(5), v(6) == null, d(6), v(7) == null, d(7), s(8), s(9))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val args = children.zip(evs).map { case (c, e) =>
      if (c.dataType == StringType) s"${e.isNull} ? null : ${e.value}"
      else s"${e.isNull}, ${e.value}"
    }
    ev.copy(code = code"""
      |${evs.map(_.code).mkString("\n")}
      |UTF8String ${ev.value} = graft.functions.WireKernels.render($format, ${args.mkString(", ")});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WireKernel = copy(children = newChildren)
}

object WireRender {
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_fixed4"),
      new ExpressionInfo(classOf[Fixed4].getName, "graft_fixed4"),
      (children: Seq[Expression]) => Fixed4(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_image_arm"),
      new ExpressionInfo(classOf[ImageArm].getName, "graft_image_arm"),
      (children: Seq[Expression]) => children match {
        case Seq(Literal(arm: Int, IntegerType), ts, pk) => ImageArm(arm, ts, pk)
        case _ => throw new IllegalArgumentException(
          "graft_image_arm(<arm id literal>, commit_ts, pk)")
      }))
    for ((name, format) <- WireKernels.Names.zipWithIndex)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[WireKernel].getName, name),
        (children: Seq[Expression]) => WireKernel(format, children)))
  }

  /** `%.4f` of a double column; NULL stays NULL. */
  def fixed4(c: Column): Column = call_function("graft_fixed4", c)

  /** A [[graft.cdc.TypedImage]] arm of the row's commit_ts and pk. */
  def arm(id: Int, ts: Column = lit(0L), pk: Column = lit(0L)): Column =
    call_function("graft_image_arm", lit(id), ts, pk)

  /** The message of a [[WireKernels]] format for each change event. */
  def kernel(format: Int): Column =
    call_function(WireKernels.Names(format), WireKernels.Inputs.map(i => col(i._1)): _*)
}
