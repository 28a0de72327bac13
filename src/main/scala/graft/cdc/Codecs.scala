package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{WireKernels, WireRender, WireScanExprs}

/** Change-event encoders — the engine's equivalent of TiCDC's sink
  * codecs (reference: pkg/sink/codec/{canal,open,debezium,csv,avro}).
  *
  * Every codec is a row-local string expression: no shuffle. The
  * canal-json, debezium and csv messages are each written by one
  * native kernel ([[graft.functions.WireKernels]]) and read back by
  * one single-pass scanner ([[graft.functions.CanalScan]],
  * [[graft.functions.DebeziumScan]], [[graft.functions.CsvScan]]); the
  * other codecs are `concat` trees whose numbers and TypedImage arms
  * come from the same native functions. Doubles render as `%.4f`
  * ([[graft.functions.FixedPoint]], identical to Spark's
  * `format_string` and to C printf for non-midpoint doubles), NULL
  * images render as the JSON literal `null`, and the `props` payload
  * column (already JSON) embeds raw. Each codec has a
  * character-identical DuckDB SQL rendering for the oracle.
  */
object Codecs {

  /** The topic expression of [[kafkaMessages]]. */
  val TopicTemplate = "{schema}_{table}"

  /** %.4f or the JSON literal null. */
  private[cdc] def fmt(c: Column): Column =
    coalesce(WireRender.fixed4(c), lit("null"))

  private[cdc] def fmtSql(e: String): String =
    s"CASE WHEN $e IS NULL THEN 'null' ELSE printf('%.4f', $e) END"

  private[cdc] val opWordSql =
    "CASE op WHEN 'I' THEN 'INSERT' WHEN 'D' THEN 'DELETE' ELSE 'UPDATE' END"

  /** A19 — canal-json envelope (reference: pkg/sink/codec/canal/
    * canal_json_message.go JSONMessage): database/table/pkNames/isDdl/
    * type/es/ts/sqlType/mysqlType/data/old. DELETE carries the before
    * image in `data`; INSERT has `old: null`. The row image carries
    * the [[TypedImage]] matrix: sqlType holds the java.sql.Types codes
    * of the reference dispatch (internal/java.go: BIGINT=-5, DOUBLE=8,
    * VARCHAR=12, DATE=91, TIMESTAMP=93, DECIMAL=3, INTEGER=4 for enum),
    * mysqlType the lowercase MySQL names (encoder.go:260
    * utils.GetMySQLType), and data renders each arm per
    * helper.go:39-260 — date/datetime as formatted strings, decimal as
    * a plain string, enum as its integer value (all JSON strings: the
    * canal data map is map[string]string). */
  def canalJson(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"), canalJsonValue.as("value"))

  /** The canal-json DML message (A19), written by its native kernel. */
  private[cdc] def canalJsonValue: Column = WireRender.kernel(WireKernels.Canal)

  private[cdc] val canalJsonCoreSql: String =
    s"""CONCAT('{"id":', commit_ts,
       |  ',"database":"', schema_name,
       |  '","table":"', table_name,
       |  '","pkNames":["pk"],"isDdl":false,"type":"', $opWordSql,
       |  '","es":', commit_ts,
       |  ',"ts":', start_ts,
       |  ',"sqlType":${WireKernels.CanalSqlTypeJson}',
       |  ',"mysqlType":${WireKernels.CanalMysqlTypeJson}',
       |  ',"data":[{"pk":', pk,
       |  ',"value":', ${fmtSql("CASE WHEN op = 'D' THEN before_value ELSE after_value END")},
       |  ',"props":', props,
       |  ',"c_date":"', ${TypedImage.dateStrSql},
       |  '","c_dt":"', ${TypedImage.dtStrSql},
       |  '","c_dec":"', ${TypedImage.decStrSql},
       |  '","c_enum":"', ${TypedImage.enumIdxSql},
       |  '","c_bit":"', ${TypedImage.bitValSql},
       |  '","c_set":"', ${TypedImage.setMaskSql},
       |  '","c_bin":"', ${TypedImage.binStrSql},
       |  '","c_time":"', ${TypedImage.timeStrSql},
       |  '","c_year":"', ${TypedImage.yearValSql},
       |  '","c_ubig":"', ${TypedImage.ubigStrSql},
       |  '","c_geo":null,"c_null":null}],"old":',
       |  CASE WHEN op = 'U'
       |    THEN CONCAT('[{"value":', ${fmtSql("before_value")}, '}]')
       |    ELSE 'null' END)""".stripMargin

  private[cdc] val canalJsonValueSql: String =
    s"CONCAT($canalJsonCoreSql, '}')"

  val canalJsonSql: String =
    s"SELECT commit_ts, $canalJsonValueSql AS value FROM changelog"

  /** A57 — canal-json TiDB-extension envelope stream (reference:
    * pkg/sink/codec/canal/encoder.go:397-433 `newJSONMessageForDDL` /
    * `newJSONMessage4CheckpointEvent` + :435-457 EncodeCheckpointEvent
    * + :585-608 EncodeDDLEvent, canal_json_message.go:126-140
    * `tidbExtension`): with EnableTiDBExtension every DML message gains
    * `"_tidb":{"commitTs":…}`, DDL events become isDdl=true messages
    * carrying the query and the canal event type
    * (helper.go:305-337 convertDdlEventType: CREATE TABLE→CREATE,
    * ADD COLUMN→ALTER), and the resolved ts rides a TIDB_WATERMARK
    * message with `"_tidb":{"watermarkTs":…}` — the two non-DML
    * message types every canal consumer must handle.
    *
    * Deterministic divergences (documented, same family as A19/A34):
    * `es` stays commit_ts (the reference's convertToCanalTs shifts a
    * TSO's physical-millis bits — our clock is not a TSO), `ts`
    * (BuildTime, wall clock in the reference) = commit_ts, watermark
    * `ts` = the resolved ts. The legs are the [[MessageStream]]
    * skeleton's, without BOOTSTRAP; the DML label is ROW. */
  def canalEnvelope(cl: DataFrame): DataFrame =
    MessageStream.frame(cl, "ROW", boot = None, resendEvery = 0,
      ddl = (ts, _) => concat(
        lit("{\"id\":0,\"database\":\""), col("schema_name"),
        lit("\",\"table\":\""), col("table_name"),
        lit("\",\"pkNames\":null,\"isDdl\":true,\"type\":\""),
        when(col("ddl_type") === "CREATE", lit("CREATE")).otherwise(lit("ALTER")),
        lit("\",\"es\":"), ts,
        lit(",\"ts\":"), ts,
        lit(",\"sql\":\""), col("query"),
        lit("\",\"data\":null,\"old\":null,\"_tidb\":{\"commitTs\":"),
        ts, lit("}}")),
      dml = WireRender.kernel(WireKernels.CanalTidb),
      watermark = rts => concat(
        lit("{\"id\":0,\"database\":\"\",\"table\":\"\",\"pkNames\":null," +
          "\"isDdl\":false,\"type\":\"TIDB_WATERMARK\",\"es\":"), rts,
        lit(",\"ts\":"), rts,
        lit(",\"data\":null,\"old\":null,\"_tidb\":{\"watermarkTs\":"),
        rts, lit("}}")))

  val canalEnvelopeSql: String =
    MessageStream.sql("ROW", boot = None,
      ddl = (ts, _) =>
        s"""CONCAT('{"id":0,"database":"', schema_name,
           |    '","table":"', table_name,
           |    '","pkNames":null,"isDdl":true,"type":"',
           |    CASE WHEN ddl_type = 'CREATE' THEN 'CREATE' ELSE 'ALTER' END,
           |    '","es":', $ts,
           |    ',"ts":', $ts,
           |    ',"sql":"', query,
           |    '","data":null,"old":null,"_tidb":{"commitTs":', $ts, '}}')""".stripMargin,
      dml = s"""CONCAT($canalJsonCoreSql, ',"_tidb":{"commitTs":', commit_ts, '}}')""",
      watermark = rts =>
        s"""CONCAT('{"id":0,"database":"","table":"","pkNames":null,',
           |    '"isDdl":false,"type":"TIDB_WATERMARK","es":', $rts,
           |    ',"ts":', $rts,
           |    ',"data":null,"old":null,"_tidb":{"watermarkTs":', $rts, '}}')""".stripMargin)

  /** A42 — consumer-side canal-json DECODE (reference:
    * pkg/sink/codec/decoder + canal decoding — the path every
    * downstream consumer of a TiCDC topic runs). The operator decodes
    * the encoded stream back into the row-event frame:
    * `decode(encode(changelog))`, a self-contained round trip whose
    * DuckDB oracle performs the identical JSON-path extraction.
    * Row-local (`get_json_object` is codegen'd); DELETE carries its
    * image in `data` per the canal contract, UPDATE's old image comes
    * from `old[0]`. The `props` payload is a raw JSON passthrough and
    * is not re-extracted (engines disagree on object re-serialization
    * whitespace, and consumers treat it as opaque).
    *
    * Parse is ONE pass of the native [[graft.functions.CanalScan]]
    * scanner per message ([[graft.functions.WireScan]] says why not
    * `from_json`). */
  def canalJsonDecode(cl: DataFrame): DataFrame = {
    val v = canalJsonValue.as("value")
    def m(p: String): Column = col("m").getField(p)
    cl.select(v)
      .select(WireScanExprs.decode("canal", col("value")).as("m"))
      .select(
        m("es").as("commit_ts"),
        m("ts").as("start_ts"),
        m("database").as("schema_name"),
        m("table").as("table_name"),
        when(m("type") === "INSERT", "I")
          .when(m("type") === "DELETE", "D").otherwise(lit("U")).as("op"),
        m("pk").as("pk"),
        when(m("type") === "DELETE", lit(null).cast("double"))
          .otherwise(m("value").cast("double")).as("after_value"),
        when(m("type") === "DELETE", m("value").cast("double"))
          .when(m("type") === "UPDATE", m("old_value").cast("double"))
          .otherwise(lit(null).cast("double")).as("before_value"),
        // the typed arms decode to their canonical integer forms INSIDE
        // the scanner (consumer-side inverse of each helper.go
        // rendering): Catalyst datediff/to_timestamp/regexp_replace arms
        // here pushed the fused render+scan+arms method over the JIT
        // ceiling — these are pure field refs by design
        m("c_date_days").as("c_date_days"),
        m("c_dt_sec").as("c_dt_sec"),
        m("c_dec_e4").as("c_dec_e4"),
        m("c_enum_idx").as("c_enum_idx"),
        m("c_bit_val").as("c_bit_val"),
        m("c_set_mask").as("c_set_mask"),
        m("c_bin").as("c_bin_str"),
        m("c_time_sec").as("c_time_sec"),
        m("c_year_val").as("c_year_val"),
        m("c_ubig").as("c_ubig_str"),
        // GEOMETRY + NULL decode to null (nothing rides either wire —
        // java.go:136-138 / the TypeNull contract); surfaced as columns
        // so the consumer-side dispatch is total
        m("c_geo").as("c_geo"),
        m("c_null").as("c_null"))
  }

  val canalJsonDecodeSql: String = {
    def js(path: String) = s"json_extract_string(value, '$path')"
    s"""SELECT
       |  CAST(${js("$.es")} AS BIGINT) AS commit_ts,
       |  CAST(${js("$.ts")} AS BIGINT) AS start_ts,
       |  ${js("$.database")} AS schema_name,
       |  ${js("$.table")} AS table_name,
       |  CASE ${js("$.type")} WHEN 'INSERT' THEN 'I'
       |    WHEN 'DELETE' THEN 'D' ELSE 'U' END AS op,
       |  CAST(${js("$.data[0].pk")} AS BIGINT) AS pk,
       |  CASE WHEN ${js("$.type")} = 'DELETE' THEN NULL
       |    ELSE CAST(${js("$.data[0].value")} AS DOUBLE) END AS after_value,
       |  CASE WHEN ${js("$.type")} = 'DELETE'
       |      THEN CAST(${js("$.data[0].value")} AS DOUBLE)
       |    WHEN ${js("$.type")} = 'UPDATE'
       |      THEN CAST(${js("$.old[0].value")} AS DOUBLE)
       |    ELSE NULL END AS before_value,
       |  CAST(CAST(${js("$.data[0].c_date")} AS DATE) - DATE '1970-01-01'
       |    AS BIGINT) AS c_date_days,
       |  CAST(epoch(CAST(${js("$.data[0].c_dt")} AS TIMESTAMP)) AS BIGINT)
       |    AS c_dt_sec,
       |  CAST(REPLACE(${js("$.data[0].c_dec")}, '.', '') AS BIGINT)
       |    AS c_dec_e4,
       |  CAST(${js("$.data[0].c_enum")} AS BIGINT) AS c_enum_idx,
       |  CAST(${js("$.data[0].c_bit")} AS BIGINT) AS c_bit_val,
       |  CAST(${js("$.data[0].c_set")} AS BIGINT) AS c_set_mask,
       |  ${js("$.data[0].c_bin")} AS c_bin_str,
       |  CAST(epoch(CAST(CONCAT('1970-01-01 ', ${js("$.data[0].c_time")})
       |    AS TIMESTAMP)) AS BIGINT) AS c_time_sec,
       |  CAST(${js("$.data[0].c_year")} AS BIGINT) AS c_year_val,
       |  ${js("$.data[0].c_ubig")} AS c_ubig_str,
       |  ${js("$.data[0].c_geo")} AS c_geo,
       |  ${js("$.data[0].c_null")} AS c_null
       |FROM (SELECT $canalJsonValueSql AS value FROM changelog)""".stripMargin
  }

  /** A65 — consumer side of the canal TiDB-extension envelope (A57):
    * the classification every canal consumer runs
    * (canal_json_message.go:126-140 tidbExtension + the decoder's
    * isDdl/TIDB_WATERMARK routing). One CanalScan pass per message;
    * WATERMARK messages resolve their ts from `_tidb.watermarkTs`,
    * DDL messages surface the action word + query, ROW messages decode
    * exactly as A42 (DELETE's image rides `data`, UPDATE's old image
    * in `old[0]`); the envelope's empty-string db/table on watermarks
    * decode to NULL. Oracle = the identical JSON-path extraction over
    * the same envelope (the A42 convention). Row-local. */
  def canalEnvelopeDecode(cl: DataFrame): DataFrame = {
    // one native CanalScan pass per message (the A42 r12 rationale);
    // the scanner surfaces the _tidb extension pair and the DDL
    // sql/isDdl fields alongside the DML image
    def m(p: String): Column = col("m").getField(p)
    val isRow = !m("is_ddl") && m("type") =!= "TIDB_WATERMARK"
    canalEnvelope(cl)
      .select(WireScanExprs.decode("canal", col("value")).as("m"))
      .select(
        when(m("type") === "TIDB_WATERMARK", "RESOLVED")
          .when(m("is_ddl"), "DDL").otherwise(lit("ROW")).as("msg_kind"),
        coalesce(m("commit_ts_ext"), m("watermark_ts")).as("commit_ts"),
        call_function("nullif", m("database"), lit("")).as("schema_name"),
        call_function("nullif", m("table"), lit("")).as("table_name"),
        when(isRow, when(m("type") === "INSERT", "I")
          .when(m("type") === "DELETE", "D").otherwise(lit("U"))).as("op"),
        when(isRow, m("pk")).as("pk"),
        when(isRow && m("type") =!= "DELETE", m("value").cast("double"))
          .as("after_value"),
        when(isRow, when(m("type") === "DELETE", m("value").cast("double"))
          .when(m("type") === "UPDATE", m("old_value").cast("double")))
          .as("before_value"),
        when(m("is_ddl"), m("type")).as("ddl_type"),
        when(m("is_ddl"), m("sql")).as("ddl_sql"))
  }

  val canalEnvelopeDecodeSql: String = {
    def js(path: String) = s"json_extract_string(value, '$path')"
    val isRow = s"(${js("$.isDdl")} = 'false' AND ${js("$.type")} <> 'TIDB_WATERMARK')"
    s"""SELECT
       |  CASE WHEN ${js("$.type")} = 'TIDB_WATERMARK' THEN 'RESOLVED'
       |    WHEN ${js("$.isDdl")} = 'true' THEN 'DDL' ELSE 'ROW' END AS msg_kind,
       |  CAST(COALESCE(${js("$._tidb.commitTs")}, ${js("$._tidb.watermarkTs")})
       |    AS BIGINT) AS commit_ts,
       |  NULLIF(${js("$.database")}, '') AS schema_name,
       |  NULLIF(${js("$.table")}, '') AS table_name,
       |  CASE WHEN $isRow THEN CASE ${js("$.type")} WHEN 'INSERT' THEN 'I'
       |    WHEN 'DELETE' THEN 'D' ELSE 'U' END END AS op,
       |  CASE WHEN $isRow THEN CAST(${js("$.data[0].pk")} AS BIGINT) END AS pk,
       |  CASE WHEN $isRow AND ${js("$.type")} <> 'DELETE'
       |    THEN CAST(${js("$.data[0].value")} AS DOUBLE) END AS after_value,
       |  CASE WHEN $isRow THEN
       |    CASE WHEN ${js("$.type")} = 'DELETE'
       |        THEN CAST(${js("$.data[0].value")} AS DOUBLE)
       |      WHEN ${js("$.type")} = 'UPDATE'
       |        THEN CAST(${js("$.old[0].value")} AS DOUBLE) END
       |  END AS before_value,
       |  CASE WHEN ${js("$.isDdl")} = 'true' THEN ${js("$.type")} END AS ddl_type,
       |  CASE WHEN ${js("$.isDdl")} = 'true' THEN ${js("$.sql")} END AS ddl_sql
       |FROM ($canalEnvelopeSql)""".stripMargin
  }

  /** A20 — open-protocol key/value pair (reference: pkg/sink/codec/open/
    * open_protocol_message.go): key carries ts+table routing, value is
    * `{"u":{...}}` for upsert / `{"d":{...}}` for delete. */
  private[graft] def openProtocolKey: Column = concat(
    lit("{\"ts\":"), col("commit_ts"),
    lit(",\"scm\":\""), col("schema_name"),
    lit("\",\"tbl\":\""), col("table_name"), lit("\",\"t\":1}"))

  private[cdc] val openProtocolKeySql: String =
    """CONCAT('{"ts":', commit_ts, ',"scm":"', schema_name,
      |       '","tbl":"', table_name, '","t":1}')""".stripMargin

  private[graft] def openProtocolValue: Column = {
    val image = concat(
      lit("{\"pk\":"), col("pk"),
      lit(",\"value\":"), fmt(col("after_value")),
      lit(",\"props\":"), col("props"), lit("}"))
    val old = concat(lit("{\"pk\":"), col("pk"),
      lit(",\"value\":"), fmt(col("before_value")), lit("}"))
    when(col("op") === "D", concat(lit("{\"d\":"), old, lit("}")))
      .otherwise(concat(lit("{\"u\":"), image, lit("}")))
  }

  def openProtocol(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"), openProtocolKey.as("key"), openProtocolValue.as("value"))

  private[graft] val openProtocolValueSql: String =
    s"""CASE WHEN op = 'D'
       |    THEN CONCAT('{"d":{"pk":', pk, ',"value":', ${fmtSql("before_value")}, '}}')
       |    ELSE CONCAT('{"u":{"pk":', pk, ',"value":', ${fmtSql("after_value")},
       |                ',"props":', props, '}}')
       |  END""".stripMargin

  val openProtocolSql: String =
    s"""SELECT commit_ts,
       |  CONCAT('{"ts":', commit_ts, ',"scm":"', schema_name,
       |         '","tbl":"', table_name, '","t":1}') AS key,
       |  $openProtocolValueSql AS value
       |FROM changelog""".stripMargin

  /** A43 — open-protocol DECODE (reference: pkg/sink/codec/decoder +
    * open decoding): (key, value) pairs back to the event frame. The
    * protocol encodes inserts and updates both as `u` messages, so the
    * decoded type is upsert|delete — exactly what a consumer applies;
    * the original I/U distinction is not on the wire. */
  def openProtocolDecode(cl: DataFrame): DataFrame = {
    def k(p: String): Column = col("k").getField(p)
    def v(p: String): Column = col("v").getField(p)
    openProtocol(cl)
      .select(WireScanExprs.decode("open_key", col("key")).as("k"),
        WireScanExprs.decode("open_value", col("value")).as("v"))
      .select(
        k("ts").as("commit_ts"),
        k("scm").as("schema_name"),
        k("tbl").as("table_name"),
        when(v("is_delete"), "delete").otherwise(lit("upsert")).as("msg_type"),
        v("pk").as("pk"),
        v("value").as("value"))
  }

  val openProtocolDecodeSql: String = {
    def k(p: String) = s"json_extract_string(key, '$p')"
    def v(p: String) = s"json_extract_string(value, '$p')"
    s"""SELECT
       |  CAST(${k("$.ts")} AS BIGINT) AS commit_ts,
       |  ${k("$.scm")} AS schema_name,
       |  ${k("$.tbl")} AS table_name,
       |  CASE WHEN ${v("$.d.pk")} IS NOT NULL THEN 'delete' ELSE 'upsert' END AS msg_type,
       |  CAST(COALESCE(${v("$.u.pk")}, ${v("$.d.pk")}) AS BIGINT) AS pk,
       |  CAST(COALESCE(${v("$.u.value")}, ${v("$.d.value")}) AS DOUBLE) AS value
       |FROM ($openProtocolSql)""".stripMargin
  }

  /** A21 — debezium-json envelope (reference: pkg/sink/codec/debezium/
    * codec.go): before/after/op(c|u|d)/ts_ms/source. Row images carry
    * the [[TypedImage]] matrix with the reference's per-type value
    * conversions (writeDebeziumFieldValue): DATE → int32 epoch days
    * (:368-391, t.Unix()/86400), DATETIME → int64 epoch millis
    * (:393-421, precision ≤3), DECIMAL → a JSON number (:349-366;
    * fixed-scale rendering — the documented %.4f-family divergence),
    * ENUM → the element NAME (:311-328, ParseEnumValue). Written by
    * its native kernel; each arm renders once per image. */
  private[cdc] def debeziumValue: Column = WireRender.kernel(WireKernels.Debezium)

  def debezium(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"), debeziumValue.as("value"))

  private[cdc] val debeziumValueSql: String = {
    def imageSql(v: String) =
      s"""CASE WHEN $v IS NULL THEN 'null'
         |  ELSE CONCAT('{"pk":', pk, ',"value":', ${fmtSql(v)},
         |    ',"c_date":', ${TypedImage.dateDaysSql},
         |    ',"c_dt":', ${TypedImage.dtSecSql} * 1000,
         |    ',"c_dec":', ${TypedImage.decStrSql},
         |    ',"c_enum":"', ${TypedImage.enumNameSql},
         |    '","c_bit":"', ${TypedImage.bitB64Sql},
         |    '","c_set":"', ${TypedImage.setNameSql},
         |    '","c_bin":"', ${TypedImage.binB64Sql},
         |    '","c_time":', ${TypedImage.timeMicrosSql},
         |    ',"c_year":', ${TypedImage.yearValSql},
         |    ',"c_ubig":', ${TypedImage.ubigWrappedSql},
         |    ',"c_dec_prec":"', ${TypedImage.decPreciseB64Sql}, '"}') END""".stripMargin
    s"""CONCAT('{"before":', ${imageSql("before_value")},
       |    ',"after":', ${imageSql("after_value")},
       |    ',"source":{"db":"', schema_name, '","table":"', table_name,
       |    '"},"op":"',
       |    CASE op WHEN 'I' THEN 'c' WHEN 'D' THEN 'd' ELSE 'u' END,
       |    '","ts_ms":', commit_ts, '}')""".stripMargin
  }

  val debeziumSql: String =
    s"SELECT commit_ts, $debeziumValueSql AS value\nFROM changelog"

  /** A44 — debezium DECODE: the envelope is fully invertible
    * (op c|u|d ↔ I|U|D, both images on the wire), so the decoded frame
    * reproduces the changelog at codec precision — spec-asserted. One
    * native [[graft.functions.DebeziumScan]] pass per message decodes
    * the typed arms back to canonical integers and names (the
    * consumer-side inverse of each writeDebeziumFieldValue conversion:
    * base64 wires back to their integer or byte truth, the wrapped
    * unsigned bigint stays the int64 the wire carries). */
  def debeziumDecode(cl: DataFrame): DataFrame = {
    def m(p: String): Column = col("m").getField(p)
    debezium(cl).select(WireScanExprs.decode("debezium", col("value")).as("m")).select(
      graft.functions.DebeziumScan.Struct.fieldNames.toSeq.map {
        case "op" => when(m("op") === "c", "I").when(m("op") === "d", "D")
          .otherwise(lit("U")).as("op")
        case f => m(f).as(f)
      }: _*)
  }

  val debeziumDecodeSql: String = {
    def v(p: String) = s"json_extract_string(value, '$p')"
    def img(f: String) =
      s"COALESCE(${v(s"$$.after.$f")}, ${v(s"$$.before.$f")})"
    // Big-endian base64 bytes -> unsigned integer, parsed ON THE
    // ORACLE SIDE from the extracted wire string (not recomputed from
    // changelog columns), so DuckDB exercises the same Connect-Decimal
    // / Bits decode path the Spark side does. The fold is exact: both
    // wires carry minimal two's-complement of NON-NEGATIVE values (the
    // encoder zero-pads a set top bit) below 2^53.
    def b64Uint(h: String) =
      s"""CAST(list_sum(list_transform(range(1, len($h) + 1),
         |    i -> (strpos('0123456789ABCDEF', substr($h, i, 1)) - 1)
         |         * 16 ** (len($h) - i))) AS BIGINT)""".stripMargin
    s"""SELECT commit_ts, schema_name, table_name, op, pk, before_value,
       |  after_value, c_date_days, c_dt_ms, c_dec_e4, c_enum_name,
       |  ${b64Uint("hex(from_base64(bit_b64))")} AS c_bit_val,
       |  c_set_name,
       |  decode(from_base64(bin_b64)) AS c_bin_str,
       |  c_time_us, c_year_val, c_ubig_wrapped,
       |  ${b64Uint("hex(from_base64(decp_b64))")} AS c_dec_prec_e4
       |FROM (SELECT
       |  CAST(${v("$.ts_ms")} AS BIGINT) AS commit_ts,
       |  ${v("$.source.db")} AS schema_name,
       |  ${v("$.source.table")} AS table_name,
       |  CASE ${v("$.op")} WHEN 'c' THEN 'I' WHEN 'd' THEN 'D' ELSE 'U' END AS op,
       |  CAST(COALESCE(${v("$.after.pk")}, ${v("$.before.pk")}) AS BIGINT) AS pk,
       |  CAST(${v("$.before.value")} AS DOUBLE) AS before_value,
       |  CAST(${v("$.after.value")} AS DOUBLE) AS after_value,
       |  CAST(${img("c_date")} AS BIGINT) AS c_date_days,
       |  CAST(${img("c_dt")} AS BIGINT) AS c_dt_ms,
       |  CAST(CAST(${img("c_dec")} AS DECIMAL(20,4)) * 10000 AS BIGINT) AS c_dec_e4,
       |  ${img("c_enum")} AS c_enum_name,
       |  ${img("c_bit")} AS bit_b64,
       |  ${img("c_set")} AS c_set_name,
       |  ${img("c_bin")} AS bin_b64,
       |  CAST(${img("c_time")} AS BIGINT) AS c_time_us,
       |  CAST(${img("c_year")} AS BIGINT) AS c_year_val,
       |  CAST(${img("c_ubig")} AS BIGINT) AS c_ubig_wrapped,
       |  ${img("c_dec_prec")} AS decp_b64
       |FROM (SELECT commit_ts, pk, $debeziumValueSql AS value FROM changelog))""".stripMargin
  }

  // ---------------------------------------------------------------- A70
  // Full-fidelity debezium envelope (reference: pkg/sink/codec/debezium/
  // codec.go:518-772 EncodeRowChangedEvent): the complete payload.source
  // block in writer order (version/connector/name/ts_ms/snapshot/db/
  // table/server_id/gtid/file/pos/row/thread/query + the TiDB
  // commit_ts/cluster_id extensions), processing ts_ms, null
  // transaction, the op-first image rules (insert: before null; delete:
  // after null; update: both — DebeziumOutputOldValue default), and the
  // optional trailing `schema` descriptor — Envelope struct with
  // before/after Value structs (per-column field schemas), the
  // io.debezium.connector.mysql.Source struct (snapshot as the
  // io.debezium.data.Enum), op, ts_ms, and the event.block transaction
  // struct. Deterministic stand-ins: cluster id literal, both ts_ms
  // fields = commit_ts (the TSO physical-ms and nowFunc clocks).
  // Written by its native kernel, row-local — zero shuffle at any scale.


  private[cdc] def debeziumEnvelopeValue: Column =
    WireRender.kernel(WireKernels.DebeziumEnvelope)

  def debeziumEnvelope(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"), debeziumEnvelopeValue.as("value"))

  val debeziumEnvelopeSql: String = {
    def imageSql(v: String) =
      s"""CONCAT('{"pk":', pk, ',"value":',
         |  CASE WHEN $v IS NULL THEN 'null' ELSE ${fmtSql(v)} END,
         |  ',"c_date":', ${TypedImage.dateDaysSql},
         |  ',"c_dt":', ${TypedImage.dtSecSql} * 1000,
         |  ',"c_dec":', ${TypedImage.decStrSql},
         |  ',"c_enum":"', ${TypedImage.enumNameSql},
         |  '","c_bit":"', ${TypedImage.bitB64Sql},
         |  '","c_set":"', ${TypedImage.setNameSql},
         |  '","c_bin":"', ${TypedImage.binB64Sql},
         |  '","c_time":', ${TypedImage.timeMicrosSql},
         |  ',"c_year":', ${TypedImage.yearValSql},
         |  ',"c_ubig":', ${TypedImage.ubigWrappedSql},
         |  ',"c_dec_prec":"', ${TypedImage.decPreciseB64Sql}, '"}')""".stripMargin
    def valueStructSql(f: String) =
      s"""CONCAT('{"type":"struct","optional":true,"name":"${WireKernels.DbzCluster}.', schema_name, '.', table_name, '.Value","field":"$f","fields":[${WireKernels.DbzColFields}]}')"""
    s"""SELECT commit_ts, CONCAT(
       |  '{"payload":{"source":{"version":"2.4.0.Final","connector":"TiCDC","name":"${WireKernels.DbzCluster}","ts_ms":',
       |  commit_ts,
       |  ',"snapshot":"false","db":"', schema_name,
       |  '","table":"', table_name,
       |  '","server_id":0,"gtid":null,"file":"","pos":0,"row":0,"thread":0,"query":null,"commit_ts":',
       |  commit_ts, ',"cluster_id":"${WireKernels.DbzCluster}"},"ts_ms":', commit_ts,
       |  ',"transaction":null,',
       |  CASE op
       |    WHEN 'I' THEN CONCAT('"op":"c","before":null,"after":', ${imageSql("after_value")})
       |    WHEN 'D' THEN CONCAT('"op":"d","after":null,"before":', ${imageSql("before_value")})
       |    ELSE CONCAT('"op":"u","before":', ${imageSql("before_value")},
       |      ',"after":', ${imageSql("after_value")})
       |  END,
       |  '},"schema":{"type":"struct","optional":false,"name":"${WireKernels.DbzCluster}.',
       |  schema_name, '.', table_name, '.Envelope","version":1,"fields":[',
       |  ${valueStructSql("before")}, ',', ${valueStructSql("after")}, ',',
       |  '${WireKernels.DbzSourceSchema}', ',', '${WireKernels.DbzTailSchema}', ']}}'
       |) AS value
       |FROM changelog""".stripMargin
  }

  /** A71 — consumer side of the full envelope: one native scan back to
    * the row-event frame, event identity from payload.source (the
    * TiDB commit_ts extension — the consumer's only exact clock),
    * images from the op-gated before/after. decode∘encode = id over
    * the changelog projection (the oracle checks it; A44 covers the
    * simplified form). */
  def debeziumEnvelopeDecode(cl: DataFrame): DataFrame = {
    def m(p: String): Column = col("m").getField(p)
    debeziumEnvelope(cl)
      .select(WireScanExprs.decode("debezium_envelope", col("value")).as("m")).select(
        m("commit_ts").as("commit_ts"), m("schema_name").as("schema_name"),
        m("table_name").as("table_name"),
        when(m("op") === "c", "I").when(m("op") === "d", "D").otherwise(lit("U")).as("op"),
        m("pk").as("pk"), m("before_value").as("before_value"),
        m("after_value").as("after_value"))
  }

  val debeziumEnvelopeDecodeSql: String = {
    def v(p: String) = s"json_extract_string(value, '$p')"
    s"""SELECT
       |  CAST(${v("$.payload.source.commit_ts")} AS BIGINT) AS commit_ts,
       |  ${v("$.payload.source.db")} AS schema_name,
       |  ${v("$.payload.source.table")} AS table_name,
       |  CASE ${v("$.payload.op")} WHEN 'c' THEN 'I' WHEN 'd' THEN 'D' ELSE 'U' END AS op,
       |  CAST(COALESCE(${v("$.payload.after.pk")}, ${v("$.payload.before.pk")}) AS BIGINT) AS pk,
       |  CAST(${v("$.payload.before.value")} AS DOUBLE) AS before_value,
       |  CAST(${v("$.payload.after.value")} AS DOUBLE) AS after_value
       |FROM ($debeziumEnvelopeSql)""".stripMargin
  }

  /** A22 — csv line (reference: pkg/sink/codec/csv/csv_message.go —
    * opType,schema,table,commitTs,cols...). Strings double-quote with
    * `""` escaping; NULL image renders `\N` (MySQL convention). */
  private[cdc] def csvLine: Column = WireRender.kernel(WireKernels.Csv)

  def csv(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"), csvLine.as("line"))

  val csvSql: String =
    """SELECT commit_ts,
      |  CONCAT(
      |    '"', REPLACE(op, '"', '""'), '",',
      |    '"', REPLACE(schema_name, '"', '""'), '",',
      |    '"', REPLACE(table_name, '"', '""'), '",',
      |    CAST(commit_ts AS VARCHAR), ',', CAST(pk AS VARCHAR), ',',
      |    CASE WHEN after_value IS NULL THEN '\N' ELSE printf('%.4f', after_value) END, ',',
      |    '"', REPLACE(props, '"', '""'), '",',""".stripMargin + "\n" +
    s"""    '"', ${TypedImage.dateStrSql}, '",',
      |    '"', ${TypedImage.dtStrSql}, '",',
      |    ${TypedImage.decStrSql}, ',',
      |    '"', ${TypedImage.enumNameSql}, '"') AS line
      |FROM changelog""".stripMargin

  /** Anchored CSV-line pattern, identical under Java regex and RE2:
    * a quoted field is `(?:[^"]|"")*` — a doubled quote can only match
    * the `""` alternative (lone `"` is excluded from the class), so the
    * parse is deterministic in both engines. Groups: op, schema, table,
    * commit_ts, pk, value (`\N` = NULL image), props. */
  private val csvPat =
    "^\"((?:[^\"]|\"\")*)\",\"((?:[^\"]|\"\")*)\",\"((?:[^\"]|\"\")*)\"," +
      "([0-9]+),([0-9]+),(\\\\N|[-0-9.]+),\"((?:[^\"]|\"\")*)\"," +
      "\"(?:[^\"]|\"\")*\",\"(?:[^\"]|\"\")*\",[0-9.]+,\"(?:[^\"]|\"\")*\"$"

  /** Tail companion of [[csvPat]] — DuckDB's regexp_extract only
    * addresses groups 0-9, so the four TypedImage fields get their own
    * fully-anchored pattern with the leading seven fields
    * non-capturing. Groups: c_date, c_dt, c_dec, c_enum. */
  private val csvPatTail =
    "^\"(?:[^\"]|\"\")*\",\"(?:[^\"]|\"\")*\",\"(?:[^\"]|\"\")*\"," +
      "[0-9]+,[0-9]+,(?:\\\\N|[-0-9.]+),\"(?:[^\"]|\"\")*\"," +
      "\"((?:[^\"]|\"\")*)\",\"((?:[^\"]|\"\")*)\",([0-9.]+),\"((?:[^\"]|\"\")*)\"$"

  /** A51 — csv DECODE (consumer side of A22, reference:
    * pkg/sink/codec/csv/csv_decoder.go): parse the line back to the
    * after-image event frame — quoted fields unescaped (`""` → `"`),
    * `\N` back to NULL, value at codec (%.4f) precision, typed arms to
    * their canonical integers. ONE native [[graft.functions.CsvScan]]
    * pass per line; the DuckDB oracle parses with the anchored
    * [[csvPat]] regex instead, so the oracle equality ALSO proves the
    * two parsers agree. */
  def csvDecode(frame: DataFrame): DataFrame =
    frame.select(WireScanExprs.decode("csv", col("line")).as("m")).select(col("m.*"))

  private val csvLineSqlForDecode: String =
    """CONCAT(
      |    '"', REPLACE(op, '"', '""'), '",',
      |    '"', REPLACE(schema_name, '"', '""'), '",',
      |    '"', REPLACE(table_name, '"', '""'), '",',
      |    CAST(commit_ts AS VARCHAR), ',', CAST(pk AS VARCHAR), ',',
      |    CASE WHEN after_value IS NULL THEN '\N' ELSE printf('%.4f', after_value) END, ',',
      |    '"', REPLACE(props, '"', '""'), '",',""".stripMargin + "\n" +
    s"""    '"', ${TypedImage.dateStrSql}, '",',
      |    '"', ${TypedImage.dtStrSql}, '",',
      |    ${TypedImage.decStrSql}, ',',
      |    '"', ${TypedImage.enumNameSql}, '"')""".stripMargin

  val csvDecodeSql: String = {
    def g(i: Int) = s"regexp_extract(line, '$csvPat', $i)"
    def t(i: Int) = s"regexp_extract(line, '$csvPatTail', $i)"
    def unq(e: String) = s"""REPLACE($e, '""', '"')"""
    s"""SELECT
       |  CAST(${g(4)} AS BIGINT) AS commit_ts,
       |  ${unq(g(2))} AS schema_name,
       |  ${unq(g(3))} AS table_name,
       |  ${unq(g(1))} AS op,
       |  CAST(${g(5)} AS BIGINT) AS pk,
       |  CASE WHEN ${g(6)} = '\\N' THEN NULL
       |       ELSE CAST(${g(6)} AS DOUBLE) END AS after_value,
       |  ${unq(g(7))} AS props,
       |  CAST(CAST(${t(1)} AS DATE) - DATE '1970-01-01' AS BIGINT)
       |    AS c_date_days,
       |  CAST(epoch(CAST(${t(2)} AS TIMESTAMP)) AS BIGINT) AS c_dt_sec,
       |  CAST(REPLACE(${t(3)}, '.', '') AS BIGINT) AS c_dec_e4,
       |  ${t(4)} AS c_enum_name
       |FROM (SELECT $csvLineSqlForDecode AS line FROM changelog)""".stripMargin
  }

  /** A23 — avro-style record rendering (reference: pkg/sink/codec/avro/
    * avro.go): schema'd record with explicit field types; nullable
    * fields render as avro JSON unions `{"double": x}` / null. */
  private[cdc] def avroValue: Column = {
    def union(v: Column): Column =
      when(v.isNull, lit("null")).otherwise(concat(lit("{\"double\":"), fmt(v), lit("}")))
    concat(
      lit("{\"schema\":\"graft.ChangeEvent\",\"record\":{"),
      lit("\"schema_name\":{\"string\":\""), col("schema_name"),
      lit("\"},\"table_name\":{\"string\":\""), col("table_name"),
      lit("\"},\"op\":{\"string\":\""), col("op"),
      lit("\"},\"pk\":{\"long\":"), col("pk"),
      lit("},\"commit_ts\":{\"long\":"), col("commit_ts"),
      lit("},\"before_value\":"), union(col("before_value")),
      lit(",\"after_value\":"), union(col("after_value")),
      // the TypedImage matrix as avro string unions — the reference's
      // string-mode renderings (arvo.go:807-812 date/datetime, :767-771
      // decimalHandlingMode=string, :789-801 enum name; the schema-side
      // tidbType names come from the :363-389 type2TiDBType map)
      lit(",\"c_date\":{\"string\":\""), TypedImage.dateStr,
      lit("\"},\"c_dt\":{\"string\":\""), TypedImage.dtStr,
      lit("\"},\"c_dec\":{\"string\":\""), TypedImage.decStr,
      lit("\"},\"c_enum\":{\"string\":\""), TypedImage.enumName,
      // r11 arms per columnToAvroData: BIT → bytes (:903-907, minimal
      // unsigned byte), SET → name CSV (:949-963), binary → bytes
      // (:927-931), TIME → string (:807-812), YEAR → int (:966-974),
      // BIGINT UNSIGNED → string mode (:881-883), DECIMAL precise →
      // bytes.decimal (:918-921; logical decimal scale 4, the minimal
      // big-endian unscaled bytes). Avro bytes in this JSON-text
      // rendering are modeled as base64 — the binary truth is A41.
      lit("\"},\"c_bit\":{\"bytes\":\""), TypedImage.bitB64,
      lit("\"},\"c_set\":{\"string\":\""), TypedImage.setName,
      lit("\"},\"c_bin\":{\"bytes\":\""), TypedImage.binB64,
      lit("\"},\"c_time\":{\"string\":\""), TypedImage.timeStr,
      lit("\"},\"c_year\":{\"int\":"), TypedImage.yearVal,
      lit("},\"c_ubig\":{\"string\":\""), TypedImage.ubigStr,
      lit("\"},\"c_dec_prec\":{\"bytes\":\""), TypedImage.decPreciseB64,
      lit("\"}}}"))
  }

  def avroRecord(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"), avroValue.as("value"))

  val avroRecordSql: String = {
    def unionSql(v: String) =
      s"""CASE WHEN $v IS NULL THEN 'null'
         |  ELSE CONCAT('{"double":', ${fmtSql(v)}, '}') END""".stripMargin
    s"""SELECT commit_ts,
       |  CONCAT('{"schema":"graft.ChangeEvent","record":{',
       |    '"schema_name":{"string":"', schema_name,
       |    '"},"table_name":{"string":"', table_name,
       |    '"},"op":{"string":"', op,
       |    '"},"pk":{"long":', pk,
       |    '},"commit_ts":{"long":', commit_ts,
       |    '},"before_value":', ${unionSql("before_value")},
       |    ',"after_value":', ${unionSql("after_value")},
       |    ',"c_date":{"string":"', ${TypedImage.dateStrSql},
       |    '"},"c_dt":{"string":"', ${TypedImage.dtStrSql},
       |    '"},"c_dec":{"string":"', ${TypedImage.decStrSql},
       |    '"},"c_enum":{"string":"', ${TypedImage.enumNameSql},
       |    '"},"c_bit":{"bytes":"', ${TypedImage.bitB64Sql},
       |    '"},"c_set":{"string":"', ${TypedImage.setNameSql},
       |    '"},"c_bin":{"bytes":"', ${TypedImage.binB64Sql},
       |    '"},"c_time":{"string":"', ${TypedImage.timeStrSql},
       |    '"},"c_year":{"int":', ${TypedImage.yearValSql},
       |    '},"c_ubig":{"string":"', ${TypedImage.ubigStrSql},
       |    '"},"c_dec_prec":{"bytes":"', ${TypedImage.decPreciseB64Sql},
       |    '"}}}') AS value
       |FROM changelog""".stripMargin
  }

  /** A24 — storage-sink file layout (reference: downstreamadapter/sink/
    * cloudstorage + pkg/sink/cloudstorage/path.go): files partition by
    * schema/table/date. Emits the partition manifest: path, row count,
    * ts range. The real write is `df.write.partitionBy(...)` — this
    * frame is the oracle-checkable layout derivation. */
  def storageLayout(cl: DataFrame): DataFrame =
    cl.withColumn("path", concat_ws("/",
        col("schema_name"), col("table_name"),
        date_format(col("event_time"), "yyyy-MM-dd")))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("commit_ts")).as("min_ts"), max(col("commit_ts")).as("max_ts"))

  val storageLayoutSql: String =
    """SELECT CONCAT(schema_name, '/', table_name, '/', strftime(event_time, '%Y-%m-%d')) AS path,
      |  COUNT(*) AS n_rows, MIN(commit_ts) AS min_ts, MAX(commit_ts) AS max_ts
      |FROM changelog
      |GROUP BY 1""".stripMargin

  /** A25 — kafka message frame (reference: downstreamadapter/sink/
    * kafka_sink.go): (topic, partition, key, value) per event — topic
    * routing ([[Routing.topicExpr]]) + index-value partition routing +
    * open-protocol key + canal-json value. */
  def kafkaMessages(cl: DataFrame, n: Int): DataFrame =
    cl.select(col("commit_ts"), Routing.topicExpr(TopicTemplate).as("topic"),
      Dispatchers.indexValueBucket(n).as("partition"),
      openProtocolKey.as("key"), canalJsonValue.as("value"))

  def kafkaMessagesSql(n: Int): String =
    s"""SELECT commit_ts,
       |  ${Routing.topicExprSql(TopicTemplate)} AS topic,
       |  ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |  $openProtocolKeySql AS key,
       |  $canalJsonValueSql AS value
       |FROM changelog""".stripMargin
}
