package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The simple protocol's SECOND wire format: Avro binary (reference:
  * pkg/sink/codec/simple/marshaller.go:30-57 — `newMarshaller` selects
  * the JSON or the Avro marshaller by `EncodingFormat`; the Avro arm is
  * the schema-registry-recommended production form — with the record
  * shapes of message.json and the native maps of avro.go:27-134
  * `newTableSchemaMap` / :136-155 `newResolvedMessageMap` / :157-177
  * `newBootstrapMessageMap` / :179-210 `newDDLMessageMap` / :305-428
  * `newDMLMessageMap`).
  *
  * Every message is the Avro-binary encoding of the top-level `Message`
  * record — enum(MessageType) + union branch + payload record — over
  * the SAME [[MessageStream]] legs as the JSON arm: BOOTSTRAP priming
  * + re-send cadence, DDL with as-of tableSchema, DML with data/old
  * maps, WATERMARK. Emitted as uppercase
  * hex (the A41 convention) so the frame stays byte-exact-checkable in
  * SQL. Wire rules (all mirrored 1:1 in the DuckDB oracle):
  *  - int/long → zigzag varint; enum/union index → zigzag varint
  *  - string → zigzag-varint byte length + UTF-8 bytes
  *  - boolean → one byte 00/01
  *  - array/map → one zigzag block count + items + 00 terminator
  *  - nullable union [null, T] → 00 | 02 + T
  *  - DML data/old map values → union branch: long for pk, string for
  *    value (%.4f, the codec precision) and props (raw JSON passthrough)
  *    — the reference encodes DECIMAL/JSON as strings too
  *    (avro.go encodeValue4Avro: driver values marshal to string forms)
  * Deterministic divergences, same as the JSON arm: buildTs = the
  * message's own commitTs (wall clock in the reference), tableID from
  * the schema/table ordinals, bootstrap commitTs/buildTs 0.
  *
  * The 3-column table schema (pk BIGINT PK, value DOUBLE, props JSON)
  * is constant apart from (database, table, tableID, version), so its
  * hex renders as four dynamic fields + one precomputed literal tail —
  * every value is a row-local projection over the skeleton's legs.
  */
object SimpleAvro {

  import AvroBinary.{strHex, strHexSql, zvarHex, zvarHexSql, strHexConst, zvarHexConst}

  private val version = 1
  private val verHex = zvarHexConst(version.toLong) // int 1

  private val tableId = ClDims.tableId(col("schema_name"), col("table_name"))
  private val tableIdSql = ClDims.tableIdSql("schema_name", "table_name")

  // enum MessageType ordinals (message.json): WATERMARK BOOTSTRAP DDL DML
  // — the payload union lists the records in the same order, so the
  // wrapper prefix is the ordinal's zigzag varint twice
  private def wrapper(ordinal: Int): String =
    zvarHexConst(ordinal.toLong) * 2

  // enum DDLType ordinals: CREATE ALTER ERASE RENAME TRUNCATE CINDEX DINDEX QUERY
  private val ddlTypeHex: Column =
    when(col("ddl_type") === "CREATE", lit(zvarHexConst(0)))
      .otherwise(lit(zvarHexConst(1))) // the A18 stream emits CREATE/ALTER only
  private val ddlTypeHexSql: String =
    s"CASE WHEN ddl_type = 'CREATE' THEN '${zvarHexConst(0)}' ELSE '${zvarHexConst(1)}' END"

  // enum DMLType ordinals: INSERT UPDATE DELETE
  private val dmlTypeHex: Column =
    when(col("op") === "I", lit(zvarHexConst(0)))
      .when(col("op") === "D", lit(zvarHexConst(2)))
      .otherwise(lit(zvarHexConst(1)))
  private val dmlTypeHexSql: String =
    s"""CASE op WHEN 'I' THEN '${zvarHexConst(0)}'
       |  WHEN 'D' THEN '${zvarHexConst(2)}' ELSE '${zvarHexConst(1)}' END""".stripMargin

  /** ColumnSchema hex: name + DataType record + nullable + default-null.
    * DataType fields: mysqlType, charset, collate, length, then the four
    * optional unions — decimal/elements null; unsigned/zerofill set
    * (false) for numeric types only, exactly as newTableSchemaMap does. */
  private def colSchemaHexConst(name: String, mysqlType: String,
                                charset: String, collate: String,
                                length: Long, numeric: Boolean,
                                nullable: Boolean): String = {
    val flags = if (numeric) "0200" + "0200" else "00" + "00"
    strHexConst(name) +
      strHexConst(mysqlType) + strHexConst(charset) + strHexConst(collate) +
      zvarHexConst(length) + "00" /* decimal: null */ +
      "00" /* elements: null */ + flags +
      (if (nullable) "01" else "00") + "00" /* default: null */
  }

  /** The constant tail of every TableSchema record: the 3-column array
    * + the primary-key IndexSchema (columns sorted by ID, the index
    * synthesized from the PK exactly as avro.go:54-66 does). */
  private val schemaTailHex: String =
    zvarHexConst(3) + // columns block count
      colSchemaHexConst("pk", "bigint", "binary", "binary", 20L,
        numeric = true, nullable = false) +
      colSchemaHexConst("value", "double", "binary", "binary", 22L,
        numeric = true, nullable = true) +
      colSchemaHexConst("props", "json", "utf8mb4", "utf8mb4_bin", 4194304L,
        numeric = false, nullable = true) +
      "00" + // columns terminator
      zvarHexConst(1) + // indexes block count
      strHexConst("primary") + "01" /* unique */ + "01" /* primary */ +
      "00" /* nullable */ +
      zvarHexConst(1) + strHexConst("pk") + "00" /* index columns */ +
      "00" // indexes terminator

  /** TableSchema record hex: database, table, tableID, version, then
    * the constant columns/indexes tail. */
  private def tableSchemaHex(verCol: Column): Column = concat(
    strHex(col("schema_name")), strHex(col("table_name")),
    zvarHex(tableId), zvarHex(verCol), lit(schemaTailHex))

  private def tableSchemaHexSql(verExpr: String): String =
    s"""CONCAT(${strHexSql("schema_name")}, ${strHexSql("table_name")},
       |  ${zvarHexSql(tableIdSql)}, ${zvarHexSql(verExpr)},
       |  '$schemaTailHex')""".stripMargin

  /** DML data/old map entry for the nullable money column: union null |
    * string(%.4f) — branch index 4 in the map's value union. */
  private def valueEntry(v: Column): Column =
    concat(lit(strHexConst("value")),
      when(v.isNull, lit("00"))
        .otherwise(concat(lit(zvarHexConst(4)), strHex(graft.functions.WireRender.fixed4(v)))))

  private def valueEntrySql(e: String): String =
    s"""CONCAT('${strHexConst("value")}',
       |  CASE WHEN $e IS NULL THEN '00'
       |    ELSE CONCAT('${zvarHexConst(4)}', ${strHexSql(s"printf('%.4f', $e)")}) END)""".stripMargin

  private def pkEntry: Column =
    concat(lit(strHexConst("pk") + zvarHexConst(1)), zvarHex(col("pk")))
  private val pkEntrySql: String =
    s"CONCAT('${strHexConst("pk") + zvarHexConst(1)}', ${zvarHexSql("pk")})"

  /** The DML payload hex (record fields in message.json order). */
  private def dmlHex: Column = {
    val dataMap = concat(lit("02" + zvarHexConst(3)), // union branch 1, 3 entries
      pkEntry, valueEntry(col("after_value")),
      lit(strHexConst("props") + zvarHexConst(4)), strHex(col("props")),
      lit("00"))
    val oldMap = concat(lit("02" + zvarHexConst(2)), // union branch 1, 2 entries
      pkEntry, valueEntry(col("before_value")), lit("00"))
    concat(
      lit(wrapper(3) + verHex),
      strHex(col("schema_name")), strHex(col("table_name")),
      zvarHex(tableId), dmlTypeHex,
      zvarHex(col("commit_ts")), zvarHex(col("commit_ts")),
      zvarHex(expr(s"commit_ts div ${SchemaStore.step}")),
      lit("00" + "00" + "00"), // claimCheckLocation, handleKeyOnly, checksum: null
      when(col("op") === "D", lit("00")).otherwise(dataMap),
      when(col("op") === "I", lit("00")).otherwise(oldMap))
  }

  private def dmlHexSql: String = {
    val dataMap =
      s"""CONCAT('02${zvarHexConst(3)}', $pkEntrySql, ${valueEntrySql("after_value")},
         |  '${strHexConst("props") + zvarHexConst(4)}', ${strHexSql("props")}, '00')""".stripMargin
    val oldMap =
      s"""CONCAT('02${zvarHexConst(2)}', $pkEntrySql, ${valueEntrySql("before_value")}, '00')""".stripMargin
    s"""CONCAT('${wrapper(3) + verHex}',
       |  ${strHexSql("schema_name")}, ${strHexSql("table_name")},
       |  ${zvarHexSql(tableIdSql)}, $dmlTypeHexSql,
       |  ${zvarHexSql("commit_ts")}, ${zvarHexSql("commit_ts")},
       |  ${zvarHexSql(s"commit_ts // ${SchemaStore.step}")},
       |  '000000',
       |  CASE WHEN op = 'D' THEN '00' ELSE $dataMap END,
       |  CASE WHEN op = 'I' THEN '00' ELSE $oldMap END)""".stripMargin
  }

  /** The full simple-protocol Avro-binary message stream — the
    * [[MessageStream]] legs and msg_type labels of [[SimpleProtocol
    * .messages]], with `value` carrying the wire hex instead of JSON. */
  def messages(cl: DataFrame): DataFrame =
    MessageStream.frame(cl, "DML",
      // Bootstrap payload: version, buildTs, tableSchema (a required
      // field — no union branch before it)
      boot = Some((buildTs, ver) =>
        concat(lit(wrapper(1) + verHex), zvarHex(buildTs), tableSchemaHex(ver))),
      resendEvery = MessageStream.ResendEvery,
      // DDL payload: version, type, sql, commitTs, buildTs,
      // tableSchema union (present), preTableSchema union (null)
      ddl = (ts, ver) => concat(lit(wrapper(2) + verHex), ddlTypeHex,
        strHex(col("query")), zvarHex(ts), zvarHex(ts),
        lit("02"), tableSchemaHex(ver), lit("00")),
      dml = dmlHex,
      watermark = rts => concat(lit(wrapper(0) + verHex), zvarHex(rts), zvarHex(rts)))

  def messagesSql: String =
    MessageStream.sql("DML",
      boot = Some((buildTs, ver) =>
        s"""CONCAT('${wrapper(1) + verHex}', ${zvarHexSql(buildTs)},
           |    ${tableSchemaHexSql(ver)})""".stripMargin),
      ddl = (ts, ver) =>
        s"""CONCAT('${wrapper(2) + verHex}', $ddlTypeHexSql, ${strHexSql("query")},
           |    ${zvarHexSql(ts)}, ${zvarHexSql(ts)},
           |    '02', ${tableSchemaHexSql(ver)}, '00')""".stripMargin,
      dml = dmlHexSql,
      watermark = rts =>
        s"CONCAT('${wrapper(0) + verHex}', ${zvarHexSql(rts)}, ${zvarHexSql(rts)})")

  /** Avro-arm DECODE — the consumer side of [[messages]], running a
    * real sequential Avro-binary parser per message (native loop-
    * codegen expression [[graft.functions.SimpleAvroDecode]]: enum +
    * union dispatch, varint-length strings, block-counted arrays/maps,
    * the full TableSchema walk) and then resolving every DML's schema
    * by exact (schema, table, schemaVersion) lookup against the cache
    * the stream's own BOOTSTRAP/DDL messages build — the one schema
    * cache join of both arms, [[MessageStream.resolveSchemas]]. Output
    * frame is
    * column-identical to the JSON decode, so the DuckDB oracle IS
    * [[SimpleProtocol.decodeSql]] — the oracle equality proves the two
    * wire formats of marshaller.go carry identical information. */
  def decode(cl: DataFrame): DataFrame = decodeFrom(messages(cl))

  def decodeFrom(msgs: DataFrame): DataFrame = {
    import graft.functions.WireExprs
    // No bulk materialization (same fix as the JSON arm): the lazy
    // checkpoint of the full decoded-struct frame was corpus-scale
    // block-manager traffic (39 s at sf10 vs ~7 s two-pass); the
    // schema-cache leg filters to the schema-bearing BOOTSTRAP/DDL
    // messages BEFORE running the wire decode, so the second pass
    // decodes only tables x versions rows.
    val parsed = msgs
      .select(WireExprs.simpleAvroDecode(col("value")).as("m"))
    def m(f: String): Column = col("m").getField(f)
    val decoded = parsed.select(
      m("msg_kind").as("msg_kind"), m("commit_ts").as("commit_ts"),
      m("schema_name").as("schema_name"), m("table_name").as("table_name"),
      m("op").as("op"), m("ddl_type").as("ddl_type"), m("ddl_sql").as("ddl_sql"),
      m("pk").as("pk"), m("after_value").as("after_value"),
      m("before_value").as("before_value"),
      m("schema_version").as("schema_version"))
    val schemas = msgs
      .filter(col("msg_type").isin("BOOTSTRAP", "DDL"))
      .select(WireExprs.simpleAvroDecode(col("value")).as("m"))
      .filter(m("ts_cols") >= 0L)
      .select(m("schema_name").as("schema_name"),
        m("table_name").as("table_name"),
        m("schema_version").as("schema_version"),
        m("ts_cols").as("schema_cols"))
      .distinct()
    MessageStream.resolveSchemas(decoded, schemas)
  }

  /** The decode oracle: the JSON arm's decode SQL — both wire formats
    * must decode to the identical frame. */
  def decodeSql: String = SimpleProtocol.decodeSql
}
