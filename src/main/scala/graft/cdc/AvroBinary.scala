package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-exact Avro binary encoding with Confluent schema-registry
  * framing (reference: pkg/sink/codec/avro/arvo.go:87-110 key/value
  * encode + confluent_schema_registry.go:42 `magicByte` + :400
  * `getMsgHeader` — each message is magic 0x00, a 4-byte big-endian
  * schema id, then the Avro-binary record body).
  *
  * A23 renders the JSON image of the record; this operator emits the
  * actual wire bytes (as an uppercase hex string, so the frame stays
  * oracle-checkable in SQL):
  *  - string  → zigzag-varint byte length + UTF-8 bytes
  *  - long    → zigzag varint
  *  - nullable money → Avro union [null, bytes.decimal(18,2)]: varint
  *    union index, then byte length + minimal big-endian unscaled
  *    cents — the reference maps MySQL DECIMAL to the Avro decimal
  *    logical type (arvo.go:372), and money columns are DECIMAL
  *    upstream, so the binary image encodes exact cents, not an IEEE
  *    double (which SQL could not bit-cast portably anyway).
  * Schema ids are registry-assigned at runtime; they are modeled as
  * deterministic config literals (key=1, value=2) so the frame is
  * reproducible.
  *
  * All arithmetic is integer-exact on both sides; values are
  * non-negative by construction (zigzag of n ≥ 0 is 2n; cents of the
  * 2-decimal money columns are exact longs). Built as layered
  * projections — one column per field — so the varint CASE chains stay
  * inside JIT-able codegen methods (see Craft.frame).
  */
object AvroBinary {

  /** Schema-registry ids the key and value records carry. */
  val KeySchemaId = 1
  val ValueSchemaId = 2

  /** 512-char lookup "000102...FF": hex of byte b = 2 chars at b*2+1.
    * A table probe beats java.lang.String.format by ~10× per byte, and
    * `substr` renders identically in DuckDB. */
  private val HexTable: String =
    (0 until 256).map(b => f"$b%02X").mkString

  private def byteHexSql(e: String): String =
    s"substr('$HexTable', ($e) * 2 + 1, 2)"

  /** Zigzag-varint hex of a NON-NEGATIVE long expression (zigzag = 2n,
    * so n must be < 2^62). Native loop-codegen expression
    * ([[graft.functions.ZigzagVarintHex]]): the equivalent 9-arm CASE
    * of per-byte substr terms — seven fields of it in one projection —
    * blew the whole-stage-codegen method past the JIT limit and this
    * codec ran interpreted (see WireExprs). Byte-identical output.
    * (private[cdc]: shared with [[SimpleAvro]], the second Avro wire
    * format.) */
  private[cdc] def zvarHex(n: Column): Column =
    graft.functions.WireExprs.zvarintHex(n.cast("long"))

  private[cdc] def zvarHexSql(e: String): String = {
    val z = s"(($e) * 2)"
    def b(shift: Int, more: Boolean): String = {
      val part = s"(($z >> ${7 * shift}) % 128)"
      byteHexSql(if (more) s"$part + 128" else part)
    }
    def enc(k: Int): String =
      (0 until k).map(i => b(i, i < k - 1)).mkString("CONCAT(", ", ", ")")
    val mids = (2 to 8)
      .map(k => s"WHEN $z < ${1L << (7 * k)} THEN ${enc(k)}").mkString("\n  ")
    s"""CASE WHEN $z < 128 THEN ${enc(1)}
       |  $mids
       |  ELSE ${enc(9)} END""".stripMargin
  }

  /** Avro string: zigzag-varint byte length + UTF-8 bytes, hex. */
  private[cdc] def strHex(c: Column): Column =
    concat(zvarHex(octet_length(c).cast("long")), hex(c.cast("binary")))
  private[cdc] def strHexSql(e: String): String =
    s"CONCAT(${zvarHexSql(s"octet_length(encode($e))")}, hex(encode($e)))"

  /** Constant-foldable hex of an Avro string literal (used for the
    * constant schema sections of [[SimpleAvro]]). */
  private[cdc] def strHexConst(s: String): String = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    zvarHexConst(b.length.toLong) + b.map(x => f"${x & 0xff}%02X").mkString
  }

  /** Hex of the zigzag varint of a non-negative long, computed at plan
    * build time (mirrors [[graft.functions.WireHex.zvarintHex]]). */
  private[cdc] def zvarHexConst(n: Long): String = {
    require(n >= 0)
    var z = n * 2
    val sb = new StringBuilder
    var done = false
    while (!done) {
      val low = (z & 0x7fL).toInt
      z = z >>> 7
      val out = if (z == 0L) { done = true; low } else low | 0x80
      sb.append(f"$out%02X")
    }
    sb.toString
  }

  /** Avro union [null, bytes.decimal(18,2)] of a 2-decimal money
    * column: union index (varint 0 | 1), then minimal big-endian
    * unscaled cents with its varint byte-length prefix. */
  private def moneyHex(c: Column): Column = {
    // minimal two's-complement big-endian cents + varint length prefix,
    // emitted by the native loop ([[graft.functions.AvroBytesHex]] —
    // truncation to the minimal k bytes IS two's complement); the cents
    // derivation stays a Column expr so round() semantics are exactly
    // the oracle's ROUND
    val cents = round(c * lit(100.0)).cast("long")
    when(c.isNull, lit("00")).otherwise(concat(lit("02"),
      graft.functions.WireExprs.avroBytesHex(cents)))
  }

  private def moneyHexSql(e: String): String = {
    val cents = s"CAST(ROUND(($e) * 100.0, 0) AS BIGINT)"
    def withLen(k: Int): String = {
      val be = (k - 1 to 0 by -1)
        .map(i => byteHexSql(s"((($cents >> ${8 * i}) % 256) + 256) % 256"))
        .mkString("CONCAT(", ", ", ")")
      s"CONCAT(${zvarHexSql(k.toString)}, $be)"
    }
    def fits(k: Int): String = {
      val h = 1L << (8 * k - 1)
      s"($cents >= -$h AND $cents < $h)"
    }
    val mids = (2 to 7)
      .map(k => s"WHEN ${fits(k)} THEN ${withLen(k)}").mkString("\n    ")
    s"""CASE WHEN ($e) IS NULL THEN '00'
       |  ELSE CONCAT('02', CASE WHEN ${fits(1)} THEN ${withLen(1)}
       |    $mids
       |    ELSE ${withLen(8)} END) END""".stripMargin
  }

  /** the un-unioned bytes.decimal ladder for a non-null unscaled value
    * (the r11 precise-decimal field) - moneyHexSql without the union
    * branch or the NULL arm */
  private def plainDecimalHexSql(cents: String): String = {
    def withLen(k: Int): String = {
      val be = (k - 1 to 0 by -1)
        .map(i => byteHexSql(s"((($cents >> ${8 * i}) % 256) + 256) % 256"))
        .mkString("CONCAT(", ", ", ")")
      s"CONCAT(${zvarHexSql(k.toString)}, $be)"
    }
    def fits(k: Int): String = {
      val h = 1L << (8 * k - 1)
      s"($cents >= -$h AND $cents < $h)"
    }
    val mids = (2 to 7)
      .map(k => s"WHEN ${fits(k)} THEN ${withLen(k)}").mkString("\n    ")
s"""CASE WHEN ${fits(1)} THEN ${withLen(1)}
   |    $mids
   |    ELSE ${withLen(8)} END""".stripMargin
  }

  /** Confluent message header: magic 0x00 + int32 big-endian schema id. */
  private def headerHex(schemaId: Int): String = f"00$schemaId%08X"

  /** A41 — (commit_ts, key, value) with byte-exact hex-rendered Avro
    * binary messages. Key record: {pk: long} (the handle key,
    * arvo.go:87). Value record mirrors A23's field order:
    * schema_name, table_name, op, pk, commit_ts, before_value,
    * after_value. */
  def messages(cl: DataFrame): DataFrame =
    cl.select(col("commit_ts"),
        zvarHex(col("pk")).as("h_pk"),
        zvarHex(col("commit_ts")).as("h_ts"),
        strHex(col("schema_name")).as("h_schema"),
        strHex(col("table_name")).as("h_table"),
        strHex(col("op")).as("h_op"),
        moneyHex(col("before_value")).as("h_before"),
        moneyHex(col("after_value")).as("h_after"),
        // the TypedImage matrix, each an Avro string per the reference
        // string-handling rules (arvo.go:807-812 date/datetime/timestamp,
        // :767-771 decimalHandlingMode=string, :789-801 enum name)
        strHex(TypedImage.dateStr).as("h_date"),
        strHex(TypedImage.dtStr).as("h_dt"),
        strHex(TypedImage.decStr).as("h_dec"),
        strHex(TypedImage.enumName).as("h_enum"),
        // r11: the precise-decimal wire (avro logical decimal, scale 4
        // in the schema): varint length + minimal big-endian unscaled
        // bytes - the same native loop as the money union, un-unioned
        // (arvo.go:745-765 precise mode / :918-921)
        graft.functions.WireExprs.avroBytesHex(TypedImage.decE4)
          .as("h_dec_prec"))
      .select(col("commit_ts"),
        concat(lit(headerHex(KeySchemaId)), col("h_pk")).as("key"),
        concat(lit(headerHex(ValueSchemaId)), col("h_schema"), col("h_table"),
          col("h_op"), col("h_pk"), col("h_ts"), col("h_before"), col("h_after"),
          col("h_date"), col("h_dt"), col("h_dec"), col("h_enum"),
          col("h_dec_prec"))
          .as("value"))

  /** A53 — Avro binary DECODE, the consumer side of [[messages]]
    * (reference: pkg/sink/codec/decoder/decoder.go:24-38 — the decoder
    * interface every protocol implements — instantiated for avro by the
    * consumer's schema-registry reader). Both wire messages parse
    * through a real sequential Avro-binary parser (native loop-codegen
    * decoders `graft_avro_decode_key`/`graft_avro_decode_value` of
    * [[graft.functions.WireScanExprs]]):
    * Confluent magic + int32 schema id, varint-length UTF-8 strings,
    * zigzag varints, union-branch decimal cents (minimal big-endian
    * two's complement, sign-extended). `valid`=1 requires magic 0x00 AND
    * full byte consumption — the same whole-message bounds invariant as
    * the craft decoder. The DuckDB oracle is the independent side of the
    * contract: it projects the changelog directly (decode ∘ encode =
    * projection), so any parser drift breaks the hash match. Absent
    * money images take the -1 sentinel (cents are non-negative by
    * construction); row-local, zero shuffle. */
  def decode(msgs: DataFrame): DataFrame = {
    import graft.functions.WireScanExprs
    // layered projections: parse once per message, then field accesses
    msgs.select(
        WireScanExprs.decode("avro_key", col("key")).as("k"),
        WireScanExprs.decode("avro_value", col("value")).as("v"))
      .select(
        col("k.schema_id").as("key_schema_id"),
        col("k.pk").as("key_pk"),
        col("v.schema_id").as("val_schema_id"),
        col("v.schema_name").as("schema_name"),
        col("v.table_name").as("table_name"),
        col("v.op").as("op"),
        col("v.pk").as("pk"),
        col("v.commit_ts").as("commit_ts"),
        col("v.before_cents").as("before_cents"),
        col("v.after_cents").as("after_cents"),
        col("v.c_date").as("c_date"),
        col("v.c_dt").as("c_dt"),
        col("v.c_dec").as("c_dec"),
        col("v.c_enum").as("c_enum"),
        col("v.c_dec_prec_e4").as("c_dec_prec_e4"),
        (col("k.valid") * col("v.valid")).as("valid"))
  }

  def decodeSql(): String =
    s"""SELECT CAST($KeySchemaId AS BIGINT) AS key_schema_id,
       |  pk AS key_pk,
       |  CAST($ValueSchemaId AS BIGINT) AS val_schema_id,
       |  schema_name, table_name, op, pk, commit_ts,
       |  CASE WHEN before_value IS NULL THEN CAST(-1 AS BIGINT)
       |       ELSE CAST(ROUND(before_value * 100.0, 0) AS BIGINT) END AS before_cents,
       |  CASE WHEN after_value IS NULL THEN CAST(-1 AS BIGINT)
       |       ELSE CAST(ROUND(after_value * 100.0, 0) AS BIGINT) END AS after_cents,
       |  ${TypedImage.dateStrSql} AS c_date,
       |  ${TypedImage.dtStrSql} AS c_dt,
       |  ${TypedImage.decStrSql} AS c_dec,
       |  ${TypedImage.enumNameSql} AS c_enum,
       |  CAST(${TypedImage.decE4Sql} AS BIGINT) AS c_dec_prec_e4,
       |  CAST(1 AS BIGINT) AS valid
       |FROM changelog""".stripMargin

  def messagesSql(): String =
    s"""SELECT commit_ts,
       |  CONCAT('${headerHex(KeySchemaId)}', h_pk) AS key,
       |  CONCAT('${headerHex(ValueSchemaId)}', h_schema, h_table, h_op,
       |         h_pk, h_ts, h_before, h_after, h_date, h_dt, h_dec, h_enum,
       |         h_dec_prec)
       |    AS value
       |FROM (
       |  SELECT commit_ts,
       |    ${zvarHexSql("pk")} AS h_pk,
       |    ${zvarHexSql("commit_ts")} AS h_ts,
       |    ${strHexSql("schema_name")} AS h_schema,
       |    ${strHexSql("table_name")} AS h_table,
       |    ${strHexSql("op")} AS h_op,
       |    ${moneyHexSql("before_value")} AS h_before,
       |    ${moneyHexSql("after_value")} AS h_after,
       |    ${strHexSql(TypedImage.dateStrSql)} AS h_date,
       |    ${strHexSql(TypedImage.dtStrSql)} AS h_dt,
       |    ${strHexSql(TypedImage.decStrSql)} AS h_dec,
       |    ${strHexSql(TypedImage.enumNameSql)} AS h_enum,
       |    ${plainDecimalHexSql(s"(${TypedImage.decE4Sql})")} AS h_dec_prec
       |  FROM changelog
       |)""".stripMargin
}
