package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The "simple" protocol — the engine's equivalent of TiCDC's
  * new-architecture codec (reference: pkg/sink/codec/simple/message.go
  * `message` struct + encoder.go): a single self-describing message
  * stream carrying BOOTSTRAP (table schema priming), DDL (with table
  * schema before/after), DML (INSERT/UPDATE/DELETE with data/old
  * images and the as-of schemaVersion), and WATERMARK (resolved ts)
  * messages.
  *
  * Divergence from the reference, for determinism: `buildTs` is the
  * message's own commitTs instead of wall-clock time, `tableID` derives
  * from the schema/table ordinals ([[ClDims.tableId]]), and bootstrap
  * messages carry commitTs 0. The legs are the [[MessageStream]]
  * skeleton; this object supplies its JSON text. Every value is a
  * row-local codegen'd string expression; the DDL leg embeds the
  * schema-version grid's tiny broadcast and the watermark the 1-row
  * max.
  */
object SimpleProtocol {

  private val version = 1

  private val tableId = ClDims.tableId(col("schema_name"), col("table_name"))
  private val tableIdSql = ClDims.tableIdSql("schema_name", "table_name")

  /** tableSchema JSON for schema version `v` (reference: TableSchema). */
  private def tableSchema(verCol: Column): Column = concat(
    lit("{\"schema\":\""), col("schema_name"),
    lit("\",\"table\":\""), col("table_name"),
    lit("\",\"version\":"), verCol,
    lit(",\"columns\":[{\"name\":\"pk\",\"dataType\":\"BIGINT\",\"nullable\":false}," +
      "{\"name\":\"value\",\"dataType\":\"DOUBLE\",\"nullable\":true}," +
      "{\"name\":\"props\",\"dataType\":\"JSON\",\"nullable\":true}]}"))

  private def tableSchemaSql(verExpr: String): String =
    s"""CONCAT('{"schema":"', schema_name,
       |  '","table":"', table_name,
       |  '","version":', $verExpr,
       |  ',"columns":[{"name":"pk","dataType":"BIGINT","nullable":false},',
       |  '{"name":"value","dataType":"DOUBLE","nullable":true},',
       |  '{"name":"props","dataType":"JSON","nullable":true}]}')""".stripMargin

  /** The DML message value (reference: simple/message.go
    * `newDMLMessage`), row-local over the changelog. */
  private def dmlValue: Column = {
    val dmlType = when(col("op") === "I", lit("INSERT"))
      .when(col("op") === "D", lit("DELETE")).otherwise(lit("UPDATE"))
    val image = concat(lit("{\"pk\":"), col("pk"),
      lit(",\"value\":"), Codecs.fmt(col("after_value")),
      lit(",\"props\":"), col("props"), lit("}"))
    val old = concat(lit("{\"pk\":"), col("pk"),
      lit(",\"value\":"), Codecs.fmt(col("before_value")), lit("}"))
    concat(
      lit(s"""{"version":$version,"database":""""), col("schema_name"),
      lit("\",\"table\":\""), col("table_name"),
      lit("\",\"tableID\":"), tableId,
      lit(",\"type\":\""), dmlType,
      lit("\",\"commitTs\":"), col("commit_ts"),
      lit(",\"buildTs\":"), col("commit_ts"),
      lit(",\"schemaVersion\":"), expr(s"commit_ts div ${SchemaStore.step}"),
      when(col("op") =!= "D", concat(lit(",\"data\":"), image)).otherwise(lit("")),
      when(col("op") =!= "I", concat(lit(",\"old\":"), old)).otherwise(lit("")),
      lit("}"))
  }

  /** A34 — the full simple-protocol message stream over a changelog:
    * the [[MessageStream]] legs with JSON values. BOOTSTRAP and its
    * re-send carry the AS-OF tableSchema version (the reference re-sends
    * the table's CURRENT tableInfo, bootstraper.go:141), message
    * commitTs 0 (the bootstrap DDL's FinishedTs, :156-163) and buildTs
    * = the triggering commit_ts (0 for the priming bootstrap; the
    * deterministic stand-in for the reference's wall-clock build time).
    * `resendEvery` ≤ 0 disables the re-send. */
  def messages(cl: DataFrame, resendEvery: Int = MessageStream.ResendEvery): DataFrame =
    MessageStream.frame(cl, "DML",
      boot = Some((buildTs, ver) => concat(
        lit(s"""{"version":$version,"type":"BOOTSTRAP","commitTs":0,"buildTs":"""),
        buildTs, lit(",\"tableSchema\":"), tableSchema(ver), lit("}"))),
      resendEvery = resendEvery,
      ddl = (ts, ver) => concat(
        lit(s"""{"version":$version,"database":""""), col("schema_name"),
        lit("\",\"table\":\""), col("table_name"),
        lit("\",\"tableID\":"), tableId,
        lit(",\"type\":\""), col("ddl_type"),
        lit("\",\"sql\":\""), col("query"),
        lit("\",\"commitTs\":"), ts,
        lit(",\"buildTs\":"), ts,
        lit(",\"tableSchema\":"), tableSchema(ver),
        lit("}")),
      dml = dmlValue,
      watermark = rts => concat(
        lit(s"""{"version":$version,"type":"WATERMARK","commitTs":"""), rts,
        lit(",\"buildTs\":"), rts, lit("}")))

  def messagesSql: String = {
    val imageSql =
      s"""CONCAT('{"pk":', pk, ',"value":', ${Codecs.fmtSql("after_value")}, ',"props":', props, '}')"""
    val oldSql =
      s"""CONCAT('{"pk":', pk, ',"value":', ${Codecs.fmtSql("before_value")}, '}')"""
    MessageStream.sql("DML",
      boot = Some((buildTs, ver) =>
        s"""CONCAT('{"version":$version,"type":"BOOTSTRAP","commitTs":0,"buildTs":', $buildTs,
           |    ',"tableSchema":', ${tableSchemaSql(ver)}, '}')""".stripMargin),
      ddl = (ts, ver) =>
        s"""CONCAT('{"version":$version,"database":"', schema_name,
           |    '","table":"', table_name,
           |    '","tableID":', $tableIdSql,
           |    ',"type":"', ddl_type,
           |    '","sql":"', query,
           |    '","commitTs":', $ts,
           |    ',"buildTs":', $ts,
           |    ',"tableSchema":', ${tableSchemaSql(ver)},
           |    '}')""".stripMargin,
      dml =
        s"""CONCAT('{"version":$version,"database":"', schema_name,
           |    '","table":"', table_name,
           |    '","tableID":', $tableIdSql,
           |    ',"type":"', ${Codecs.opWordSql},
           |    '","commitTs":', commit_ts,
           |    ',"buildTs":', commit_ts,
           |    ',"schemaVersion":', commit_ts // ${SchemaStore.step},
           |    CASE WHEN op <> 'D' THEN CONCAT(',"data":', $imageSql) ELSE '' END,
           |    CASE WHEN op <> 'I' THEN CONCAT(',"old":', $oldSql) ELSE '' END,
           |    '}')""".stripMargin,
      watermark = rts =>
        s"""CONCAT('{"version":$version,"type":"WATERMARK","commitTs":', $rts,
           |    ',"buildTs":', $rts, '}')""".stripMargin)
  }

  /** A45 — simple-protocol DECODE, the consumer side of [[messages]]
    * (reference: pkg/sink/codec/simple/decoder.go:87-307). Every
    * message classifies exactly as the reference's `HasNext` does —
    * ROW when a data/old image is present, RESOLVED for watermarks,
    * DDL otherwise (bootstrap rides the DDL path) — and each ROW
    * resolves its schema by exact (schema, table, schemaVersion)
    * lookup against the cache the BOOTSTRAP/DDL messages populate
    * (decoder.go:309-356 `memoryTableInfoProvider.Read`, here
    * [[MessageStream.resolveSchemas]]). `schema_cols` carries the
    * resolved column count, -1 on a miss; absent numerics take -1
    * sentinels, never NULL (oracle pandas-bridge contract). */
  def decode(cl: DataFrame): DataFrame = decodeFrom(messages(cl))

  /** Decode an already-encoded message stream — the entry point a
    * mid-stream consumer uses (the cadence spec feeds a suffix of the
    * stream through this). */
  def decodeFrom(msgs: DataFrame): DataFrame = {
    // ONE native single-pass scan per row (graft_simple_decode, the
    // CanalScan discipline): from_json paid full Jackson tokenization
    // of every message — the dominant term of the decode wall at the
    // sf10 tier. NO materialization of the parsed stream either: the
    // r11 lazy localCheckpoint shared one parse between the decoded
    // leg and the schema-cache leg but materialized the FULL parsed
    // frame — corpus-scale block-manager traffic that bought ~0.3 s at
    // sf0.1 and lost 190 s at sf10 (17.6 s two-pass vs 209 s
    // checkpointed — the blowup the r13 multi-tier ladder caught). The
    // schema-cache leg instead filters to the schema-BEARING messages
    // (msg_type, a plain column) BEFORE scanning, so its second pass
    // over the encode subtree decodes only tables x versions
    // bootstrap/DDL rows — two row-local passes, zero bulk
    // materialization, at any scale.
    def m(p: String): Column = col("m").getField(p)
    val parsed = msgs.select(col("msg_type"),
      graft.functions.WireScanExprs.decode("simple", col("value")).as("m"))
    val decoded = parsed.select(
      when(m("has_data") === 1L || m("has_old") === 1L, "ROW")
        .when(m("typ") === "WATERMARK", "RESOLVED")
        .otherwise(lit("DDL")).as("msg_kind"),
      m("commit_ts").as("commit_ts"),
      coalesce(m("database"), m("ts_schema")).as("schema_name"),
      coalesce(m("table"), m("ts_table")).as("table_name"),
      when(m("typ") === "INSERT", "I").when(m("typ") === "DELETE", "D")
        .when(m("typ") === "UPDATE", "U").as("op"),
      when(m("typ").isin("CREATE", "ALTER", "BOOTSTRAP"), m("typ"))
        .as("ddl_type"),
      m("sql").as("ddl_sql"),
      coalesce(m("data_pk"), m("old_pk"), lit(-1L)).as("pk"),
      m("data_value").as("after_value"),
      m("old_value").as("before_value"),
      coalesce(m("schema_version"), m("ts_version"), lit(-1L))
        .as("schema_version"))
    val schemas = msgs
      .filter(col("msg_type").isin("BOOTSTRAP", "DDL"))
      .select(graft.functions.WireScanExprs.decode("simple", col("value")).as("m"))
      .select(
        m("ts_schema").as("schema_name"),
        m("ts_table").as("table_name"),
        m("ts_version").as("schema_version"),
        m("ts_cols").as("schema_cols"))
      .distinct() // bootstrap v0 and the CREATE DDL write the same entry
    MessageStream.resolveSchemas(decoded, schemas)
  }

  def decodeSql: String = {
    def js(p: String) = s"json_extract_string(value, '$p')"
    s"""WITH msgs AS ($messagesSql),
       |decoded AS (
       |  SELECT
       |    CASE WHEN ${js("$.data.pk")} IS NOT NULL
       |           OR ${js("$.old.pk")} IS NOT NULL THEN 'ROW'
       |         WHEN ${js("$.type")} = 'WATERMARK' THEN 'RESOLVED'
       |         ELSE 'DDL' END AS msg_kind,
       |    CAST(${js("$.commitTs")} AS BIGINT) AS commit_ts,
       |    COALESCE(${js("$.database")}, ${js("$.tableSchema.schema")}) AS schema_name,
       |    COALESCE(${js("$.table")}, ${js("$.tableSchema.table")}) AS table_name,
       |    CASE ${js("$.type")} WHEN 'INSERT' THEN 'I' WHEN 'DELETE' THEN 'D'
       |      WHEN 'UPDATE' THEN 'U' END AS op,
       |    CASE WHEN ${js("$.type")} IN ('CREATE', 'ALTER', 'BOOTSTRAP')
       |      THEN ${js("$.type")} END AS ddl_type,
       |    ${js("$.sql")} AS ddl_sql,
       |    CAST(COALESCE(${js("$.data.pk")}, ${js("$.old.pk")}, '-1') AS BIGINT) AS pk,
       |    CAST(${js("$.data.value")} AS DOUBLE) AS after_value,
       |    CAST(${js("$.old.value")} AS DOUBLE) AS before_value,
       |    CAST(COALESCE(${js("$.schemaVersion")}, ${js("$.tableSchema.version")}, '-1') AS BIGINT) AS schema_version
       |  FROM msgs
       |),
       |schemas AS (
       |  SELECT DISTINCT
       |    ${js("$.tableSchema.schema")} AS schema_name,
       |    ${js("$.tableSchema.table")} AS table_name,
       |    CAST(${js("$.tableSchema.version")} AS BIGINT) AS schema_version,
       |    CAST(json_array_length(value, '$$.tableSchema.columns') AS BIGINT) AS schema_cols
       |  FROM msgs WHERE msg_type IN ('BOOTSTRAP', 'DDL')
       |)
       |SELECT d.msg_kind, d.commit_ts, d.schema_name, d.table_name, d.op,
       |  d.ddl_type, d.ddl_sql, d.pk, d.after_value, d.before_value,
       |  d.schema_version, COALESCE(s.schema_cols, -1) AS schema_cols
       |FROM decoded d
       |LEFT JOIN schemas s
       |  ON d.schema_name = s.schema_name AND d.table_name = s.table_name
       | AND d.schema_version = s.schema_version""".stripMargin
  }
}
