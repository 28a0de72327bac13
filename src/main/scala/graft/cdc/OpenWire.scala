package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Open-protocol BATCHED WIRE layout + non-DML envelopes (reference:
  * pkg/sink/codec/open/encoder.go:102-186 `Build`/`pushMessage` and
  * codec.go:99-185 `encodeDDLEvent`/`encodeResolvedTs`): the actual
  * bytes a Kafka consumer of an open-protocol topic reads.
  *
  * Wire rules (pushMessage):
  *  - message KEY   = 8-byte big-endian BatchVersion1 (=1), then per
  *    event: 8-byte big-endian key length + key JSON bytes
  *  - message VALUE = per event: 8-byte big-endian value length +
  *    value JSON bytes (no version head on the value side)
  *  - a message holds at most `maxBatch` events (MaxBatchSize) and,
  *    in [[messagesByteCapped]], at most `maxBytes` wire bytes
  *    (MaxMessageBytes), events appended in commit_ts order per (table,
  *    sink partition) — the same stream keying as A49
  *  - DDL events and resolved-ts checkpoints are messages TOO
  *    (encoder.go:205-231): single-event frames with the same
  *    version+length framing; the resolved-ts value is the bare
  *    zero length prefix (codec.go:149-185)
  * Key/value JSONs are the A20 encodings; the DDL value is
  * `{"q":<query>,"t":<action type>}` with the TiDB action numbers
  * (ActionCreateTable=3, ActionAddColumn=5) and the key `t` field
  * carries the message type (row 1, DDL 2, resolved 3 —
  * tiflow model.MessageType). Emitted as uppercase hex, byte-exact
  * against the DuckDB oracle.
  *
  * Scale shape: the ROW leg is the [[Sinks.batches]] fold — ONE
  * shuffle keyed exactly like the kafka writer, a sort and one
  * streaming pass that emits each message as it closes; DDL/RESOLVED
  * legs are tiny. */
object OpenWire {

  private val BatchVersion1 = 1L
  private val versionHex = f"$BatchVersion1%016X"

  /** 8-byte big-endian length prefix of a string's UTF-8 bytes, hex. */
  private def lenHex(c: Column): Column =
    lpad(hex(octet_length(c).cast("long")), 16, "0")
  private def lenHexSql(e: String): String =
    s"printf('%016X', octet_length(encode($e)))"

  private def segHex(c: Column): Column = concat(lenHex(c), hex(c.cast("binary")))
  private def segHexSql(e: String): String =
    s"CONCAT(${lenHexSql(e)}, hex(encode($e)))"

  /** The ROW messages: the [[Sinks.batches]] fold over the per-event
    * key/value segments. An event's bytes are its two segments' bytes
    * (key + value + the 16 prefix bytes; each segment is hex, 2 chars a
    * byte) and every message carries the 8-byte version head, so the
    * byte term is the reference's message Length(). */
  def rows(cl: DataFrame, n: Int, maxBatch: Int, maxBytes: Long): DataFrame = {
    val segs = cl.select(col("schema_name"), col("table_name"),
      Dispatchers.indexValueBucket(n).as("partition"), col("commit_ts"),
      segHex(Codecs.openProtocolKey).as("k_seg"),
      segHex(Codecs.openProtocolValue).as("v_seg"))
    Sinks.batches(segs, expr("(length(k_seg) + length(v_seg)) div 2"),
        col("k_seg"), col("v_seg"), maxBatch, maxBytes, 8L, Long.MaxValue)
      .select(lit("ROW").as("msg_type"), col("schema_name"), col("table_name"),
        col("partition"), col("batch_id"), col("n_rows"),
        concat(lit(versionHex), col("key_wire")).as("key_wire"),
        col("value_wire"))
  }

  /** The non-row messages: one DDL message per DDL event + the
    * resolved-ts checkpoint. */
  private def envelopes(cl: DataFrame): DataFrame = {
    // DDL envelope (codec.go:99-147): single-event message, the key's
    // t=2, the value {"q":…,"t":<TiDB action type>}
    val ddlKey = concat(lit("{\"ts\":"), col("valid_from"),
      lit(",\"scm\":\""), col("schema_name"),
      lit("\",\"tbl\":\""), col("table_name"), lit("\",\"t\":2}"))
    val actionType = when(col("ddl_type") === "CREATE", lit(3L)).otherwise(lit(5L))
    val ddlValue = concat(lit("{\"q\":\""), col("query"), lit("\",\"t\":"),
      actionType, lit("}"))
    val ddl = SchemaStore.ddlEvents(cl, Nil)
      .select(lit("DDL").as("msg_type"), col("schema_name"), col("table_name"),
        lit(-1L).as("partition"), lit(-1L).as("batch_id"), lit(1L).as("n_rows"),
        concat(lit(versionHex), segHex(ddlKey)).as("key_wire"),
        segHex(ddlValue).as("value_wire"))

    // resolved-ts checkpoint (codec.go:149-185): key-only frame, the
    // value is the bare zero length prefix
    val resolvedKey = concat(lit("{\"ts\":"), col("rts"), lit(",\"t\":3}"))
    val resolved = ClDims.maxTs(cl).select(col("m").as("rts"))
      .select(lit("RESOLVED").as("msg_type"),
        lit(null).cast("string").as("schema_name"),
        lit(null).cast("string").as("table_name"),
        lit(-1L).as("partition"), lit(-1L).as("batch_id"), lit(1L).as("n_rows"),
        concat(lit(versionHex), segHex(resolvedKey)).as("key_wire"),
        lit(f"${0L}%016X").as("value_wire"))

    ddl.unionAll(resolved)
  }

  /** The full open-protocol message stream: batched ROW messages of at
    * most `maxBatch` events + the DDL and resolved-ts messages. */
  def messages(cl: DataFrame, n: Int, maxBatch: Int): DataFrame =
    messagesByteCapped(cl, n, maxBatch, Long.MaxValue)

  /** The PRODUCTION batch-close rule of `pushMessage` (encoder.go:122:
    * a new message opens when the current one would exceed
    * `MaxMessageBytes` OR holds `MaxBatchSize` events) applied to the
    * actual ROW wire; DDL / RESOLVED legs as in [[messages]]. */
  def messagesByteCapped(cl: DataFrame, n: Int, maxBatch: Int,
                         maxBytes: Long): DataFrame =
    rows(cl, n, maxBatch, maxBytes).unionAll(envelopes(cl))

  /** Per event: stream key, commit_ts and the key/value segments. */
  private def segsSql(n: Int): String =
    s"""SELECT schema_name, table_name, commit_ts,
       |      ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |      ${segHexSql(Codecs.openProtocolKeySql)} AS k_seg,
       |      ${segHexSql(Codecs.openProtocolValueSql)} AS v_seg
       |    FROM changelog""".stripMargin

  /** The DDL key and value JSONs and the resolved-ts key, over a
    * [[SchemaStore.ddlEventsSql]] row and the changelog. */
  private val ddlKeySql =
    """CONCAT('{"ts":', valid_from, ',"scm":"', schema_name,
      |       '","tbl":"', table_name, '","t":2}')""".stripMargin
  private val ddlValueSql =
    """CONCAT('{"q":"', query, '","t":',
      |       CASE WHEN ddl_type = 'CREATE' THEN 3 ELSE 5 END, '}')""".stripMargin
  private val resolvedKeySql = """CONCAT('{"ts":', MAX(commit_ts), ',"t":3}')"""

  /** The message stream over `batched`, a relation holding every
    * event's segments with its batch_id: the ROW leg concatenates each
    * batch's segments in commit_ts order, then the DDL and RESOLVED
    * legs. */
  private def wireSql(batched: String): String =
    s"""SELECT 'ROW' AS msg_type, schema_name, table_name, partition, batch_id,
       |  COUNT(*) AS n_rows,
       |  CONCAT('$versionHex', string_agg(k_seg, '' ORDER BY commit_ts)) AS key_wire,
       |  string_agg(v_seg, '' ORDER BY commit_ts) AS value_wire
       |FROM $batched
       |GROUP BY 1, 2, 3, 4, 5
       |UNION ALL
       |SELECT 'DDL' AS msg_type, schema_name, table_name,
       |  CAST(-1 AS BIGINT) AS partition, CAST(-1 AS BIGINT) AS batch_id,
       |  CAST(1 AS BIGINT) AS n_rows,
       |  CONCAT('$versionHex', ${segHexSql(ddlKeySql)}) AS key_wire,
       |  ${segHexSql(ddlValueSql)} AS value_wire
       |FROM (${SchemaStore.ddlEventsSql(Nil)}) ddl_frame
       |UNION ALL
       |SELECT 'RESOLVED' AS msg_type, NULL AS schema_name, NULL AS table_name,
       |  CAST(-1 AS BIGINT) AS partition, CAST(-1 AS BIGINT) AS batch_id,
       |  CAST(1 AS BIGINT) AS n_rows,
       |  CONCAT('$versionHex',
       |    ${segHexSql(resolvedKeySql)}) AS key_wire,
       |  '${f"${0L}%016X"}' AS value_wire
       |FROM changelog""".stripMargin

  /** The oracle of [[messages]]: its batches by formula
    * (row_number div maxBatch), independent of the fold. */
  def messagesSql(n: Int, maxBatch: Int): String =
    wireSql(
      s"""(
         |  SELECT *, CAST((ROW_NUMBER() OVER (
         |      PARTITION BY schema_name, table_name, partition
         |      ORDER BY commit_ts) - 1) // $maxBatch AS BIGINT) AS batch_id
         |  FROM (
         |    ${segsSql(n)}
         |  )
         |)""".stripMargin)

  def messagesByteCappedSql(n: Int, maxBatch: Int, maxBytes: Long): String =
    s"""WITH RECURSIVE msgs AS (
       |    ${segsSql(n)}
       |), ${Sinks.batchesSql("msgs", "CAST((length(k_seg) + length(v_seg)) // 2 AS BIGINT)",
             maxBatch, maxBytes, 8L, Long.MaxValue)}
       |${wireSql("fold")}""".stripMargin

  /** Decode — split every message back into its (key, value) event
    * pairs, the exact inverse of `pushMessage` (native parser
    * [[graft.functions.OpenWireDecode]]: version head check, 8-byte BE
    * length prefixes, byte-count bounds). One row per event with its
    * index inside the message; a RESOLVED message decodes to its key
    * with an empty value. The DuckDB oracle derives the identical
    * frame from the changelog without touching the wire (the batch
    * assignment + the A20 JSONs), so the oracle equality proves
    * decode ∘ encode = id over the whole stream. */
  def decode(msgs: DataFrame): DataFrame = {
    import graft.functions.WireExprs
    msgs.select(col("msg_type"), col("schema_name"), col("table_name"),
        col("partition"), col("batch_id"),
        posexplode(WireExprs.openWireDecode(col("key_wire"), col("value_wire"))))
      .select(col("msg_type"), col("schema_name"), col("table_name"),
        col("partition"), col("batch_id"), col("pos").cast("long").as("idx"),
        col("col.key").as("key"), col("col.value").as("value"))
  }

  def decodeSql(n: Int, maxBatch: Int): String =
    s"""SELECT 'ROW' AS msg_type, schema_name, table_name, partition, batch_id,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY schema_name, table_name, partition, batch_id
       |    ORDER BY commit_ts) - 1 AS BIGINT) AS idx,
       |  key, value
       |FROM (
       |  SELECT *, CAST((ROW_NUMBER() OVER (
       |      PARTITION BY schema_name, table_name, partition
       |      ORDER BY commit_ts) - 1) // $maxBatch AS BIGINT) AS batch_id
       |  FROM (
       |    SELECT schema_name, table_name, commit_ts,
       |      ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |      ${Codecs.openProtocolKeySql} AS key,
       |      ${Codecs.openProtocolValueSql} AS value
       |    FROM changelog
       |  )
       |)
       |UNION ALL
       |SELECT 'DDL' AS msg_type, schema_name, table_name,
       |  CAST(-1 AS BIGINT) AS partition, CAST(-1 AS BIGINT) AS batch_id,
       |  CAST(0 AS BIGINT) AS idx,
       |  $ddlKeySql AS key,
       |  $ddlValueSql AS value
       |FROM (${SchemaStore.ddlEventsSql(Nil)}) ddl_frame
       |UNION ALL
       |SELECT 'RESOLVED' AS msg_type, NULL AS schema_name, NULL AS table_name,
       |  CAST(-1 AS BIGINT) AS partition, CAST(-1 AS BIGINT) AS batch_id,
       |  CAST(0 AS BIGINT) AS idx,
       |  $resolvedKeySql AS key,
       |  '' AS value
       |FROM changelog""".stripMargin
}
