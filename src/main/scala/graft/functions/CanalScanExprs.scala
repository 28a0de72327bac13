package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass field scanner for the canal-json wire
  * (consumer side of A19/A57; reference: pkg/sink/codec/canal/
  * canal_json_message.go — the JSONMessage field set — and the
  * decoder's isDdl/TIDB_WATERMARK routing in
  * canal_json_message.go:126-140).
  *
  * Why not `from_json`: the A42/A65 decode profile showed the entire
  * decode cost above the encode is Jackson tokenization — the canal
  * payload carries the fixed per-table `sqlType`/`mysqlType` metadata
  * objects (~40% of the bytes) that the general parser must still
  * tokenize, and the arm transforms downstream of the parse are
  * codegen-free by comparison (measured sf0.1: parse ~1.8 s of a
  * 2.6 s query; a typed Jackson schema was SLOWER, 3.7 s). This
  * scanner walks the message once, char-at-a-time, extracting the
  * JSONMessage fields by key and skipping nested metadata objects
  * with a depth counter ([[JsonCursor]], shared with the debezium
  * and open-protocol scanners of [[WireScan]]). Key order
  * independent; standard JSON string escapes handled on a slow path
  * (the fast path is a zero-copy substring). Malformed input decodes to NULL, the
  * `from_json` contract, and a message is only accepted if the scan
  * consumes every byte — the whole-message bounds invariant shared
  * by the avro/craft decoders.
  */
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
  private[functions] final val NumSlots = 24

  private final class Scanner(s: String, out: Array[Any]) extends JsonCursor(s) {
    import WireScan.{dateDays, decE4, dtSec, timeSec, utf}

    // the ten typed-image arms ride data[0] in fixed slots 10..19
    private def dataKey(key: String): Unit = key match {
      case "pk"     => out(PK) = longToken()
      case "value"  =>
        val t = scalarToken(); if (t != "null") out(VAL) = utf(t)
      case "props"  => skipValue()
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
      case "c_geo" =>
        if (ch == '"') out(CDATE + 10) = utf(readString())
        else { val t = scalarToken(); if (t != "null") out(CDATE + 10) = utf(t) }
      case "c_null" =>
        if (ch == '"') out(CDATE + 11) = utf(readString())
        else { val t = scalarToken(); if (t != "null") out(CDATE + 11) = utf(t) }
      case _        => skipValue()
    }

    private def topKey(key: String): Unit = key match {
      case "database" => out(DB) = utf(readString())
      case "table"    => out(TBL) = utf(readString())
      case "type"     => out(TYP) = utf(readString())
      case "isDdl"    => out(DDL) = (scalarToken() == "true")
      case "sql"      => out(SQL) = utf(readString())
      case "es"       => out(ES) = longToken()
      case "ts"       => out(TS) = longToken()
      case "data" =>
        if (ch != '[') { if (scalarToken() != "null") err() }
        else {
          eat('[')
          obj(dataKey)
          // the canal contract carries the event image in data[0];
          // any further elements are skipped (our wire emits one)
          while (ch == ',') { pos += 1; skipValue() }
          eat(']')
        }
      case "old" =>
        if (ch != '[') { if (scalarToken() != "null") err() }
        else {
          eat('[')
          obj {
            case "value" =>
              val t = scalarToken(); if (t != "null") out(OLD) = utf(t)
            case _ => skipValue()
          }
          while (ch == ',') { pos += 1; skipValue() }
          eat(']')
        }
      case "_tidb" =>
        obj {
          case "commitTs"    => out(CTS_EXT) = longToken()
          case "watermarkTs" => out(WMARK) = longToken()
          case _             => skipValue()
        }
      case _ => skipValue() // id, pkNames, sqlType, mysqlType, unknown
    }

    def run(): Unit = { obj(topKey); end() }
  }

  /** NULL on malformed input — the from_json contract. */
  def decode(u: UTF8String): InternalRow =
    try {
      val out = new Array[Any](NumSlots)
      new Scanner(u.toString, out).run()
      new GenericInternalRow(out)
    } catch { case _: Exception => null }
}

case class CanalDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = CanalScan.Struct
  override def nullable: Boolean = true
  override def prettyName: String = "graft_canal_decode"
  override def nullSafeEval(a: Any): Any =
    CanalScan.decode(a.asInstanceOf[UTF8String])
  // malformed wire decodes to NULL, so the generated code null-checks
  // the helper's result (the OpenWireDecode convention)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.CanalScan.decode($v);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): CanalDecode =
    copy(child = newChild)
}

object CanalScanExprs {
  def canalDecode(msg: Column): Column =
    call_function("graft_canal_decode", msg)
}
