package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import graft.functions.ImageArms
import graft.functions.WireRender.arm

/** The TiDB column-type matrix for the codecs (round-10 mandate #4,
  * completed round 11 with BIT/SET/BINARY/TIME/YEAR/unsigned-bigint
  * and the precise-decimal wire — see the r11 table below).
  *
  * The reference encodes the full MySQL type system — canal
  * `pkg/sink/codec/canal/helper.go:39-260` dispatches per
  * `mysql.Type*` to a (value rendering, java.sql.Types code) pair,
  * avro `pkg/sink/codec/avro/arvo.go:363-430` carries a
  * `type2TiDBType` name map and per-type schema/value rules
  * (:700-975), debezium `pkg/sink/codec/debezium/codec.go:62-430`
  * writes per-type `io.debezium.*` schema names and converted values.
  * Graft's changelog carries a (BIGINT pk, DOUBLE image, JSON props)
  * row, so every codec's dispatch previously ran three arms.
  *
  * This module widens the encoded row image with deterministic typed
  * columns (four in r10, six more + the precise-decimal wire in r11)
  * derived row-locally from columns already on the changelog (no schema change to the changelog itself — the A-row
  * surface is untouched; the codecs project these extensions at
  * encode time):
  *
  *   - `c_date`  DATE      — epoch day commit_ts % 40000 (1970..2079)
  *   - `c_dt`    DATETIME  — epoch second 8e8 + (commit_ts*37) % 1.2e9
  *   - `c_dec`   DECIMAL(20,4) — fixed-point pk*137 + commit_ts % 10^4
  *   - `c_enum`  ENUM('click','error','purchase','signup','view')
  *               — the event-type universe; value = 1-based index
  *
  * plus the existing `props` column formalized as the JSON arm.
  * Every derivation is integer arithmetic + ISO formatting, so the
  * DuckDB oracle renders the identical characters. Each arm has one
  * implementation, the native function in [[graft.functions.ImageArms]]:
  * the codec kernels call it directly and the Columns below reach it
  * through one thin expression each; the `*Sql` twins are the
  * oracle's. Per-codec value
  * renderings follow the reference dispatch:
  *
  *   | arm      | canal (helper.go)        | debezium (codec.go)        | avro (arvo.go, string mode) |
  *   |----------|--------------------------|----------------------------|------------------------------|
  *   | DATE     | 'yyyy-MM-dd' string, 91  | int32 epoch days :368-391  | string                       |
  *   | DATETIME | 'yyyy-MM-dd HH:mm:ss',93 | int64 epoch millis :393-421| string                       |
  *   | DECIMAL  | plain string, 3          | double number :349-366     | string (:767 string mode)    |
  *   | ENUM     | index string, 4          | name string :311-328       | name string + allowed (:789) |
  *   | JSON     | raw string, 12           | string (io.debezium.data.Json) | string (:802)            |
  *
  * Documented divergence (the %.4f family): debezium's decimal is a
  * fixed-scale 4-decimal number, not Go's shortest-round-trip float —
  * integer-exact and identical in both engines.
  */
object TypedImage {

  /** ENUM element list (canal/debezium `allowed` parameter order). */
  val enumElems: Seq[String] = ImageArms.EnumElems

  // ----------------------------------------------------------- DATE
  /** epoch-day number (the debezium int32 wire value) */
  private def ts: Column = col("commit_ts")
  private def pk: Column = col("pk")

  val dateDays: Column = arm(ImageArms.DateDays, ts)
  val dateDaysSql: String = "(commit_ts % 40000)"

  /** ISO 'yyyy-MM-dd' (the canal / avro / csv wire value) */
  val dateStr: Column = arm(ImageArms.DateStr, ts)
  val dateStrSql: String =
    s"CAST(DATE '1970-01-01' + CAST($dateDaysSql AS INTEGER) AS VARCHAR)"

  // ------------------------------------------------------- DATETIME
  /** epoch seconds; ×1000 is the debezium millis wire value
    * (precision 0 ≤ 3 → io.debezium.time.Timestamp, codec.go:141-143).
    * commit_ts is reduced before the ×37 so the derivation cannot wrap
    * at ANY input (the OverflowGuard discipline — identical values for
    * commit_ts < 1.2e9, i.e. every driver SF) */
  val dtSec: Column = arm(ImageArms.DtSec, ts)
  val dtSecSql: String =
    "(800000000 + ((commit_ts % 1200000000) * 37) % 1200000000)"

  /** 'yyyy-MM-dd HH:mm:ss' (canal / avro / csv wire value) in UTC, as
    * DuckDB's epoch-naive make_timestamp renders it */
  val dtStr: Column = arm(ImageArms.DtStr, ts)
  val dtStrSql: String =
    s"strftime(make_timestamp($dtSecSql * 1000000), '%Y-%m-%d %H:%M:%S')"

  // -------------------------------------------------------- DECIMAL
  /** fixed-point ×10⁴ integer (always ≥ 0: pk and commit_ts are);
    * pk reduced first so ×137 cannot wrap at any input */
  val decE4: Column = arm(ImageArms.DecE4, ts, pk)
  val decE4Sql: String =
    "((pk % 1000000000000) * 137 + commit_ts % 10000)"

  /** plain decimal string 'i.ffff' — canal/avro wire value, and the
    * digits of the debezium number (fixed-scale divergence above) */
  val decStr: Column = arm(ImageArms.DecStr, ts, pk)
  val decStrSql: String =
    s"CONCAT($decE4Sql // 10000, '.', lpad(CAST($decE4Sql % 10000 AS VARCHAR), 4, '0'))"

  // ----------------------------------------------------------- ENUM
  /** 1-based index into [[enumElems]] (canal integer value;
    * helper.go:115-122 renders 0 as null — the changelog's event-type
    * universe is exactly the element list, so 0 never occurs); the
    * canal kernel renders it with [[ImageArms.enumIdx]] */
  val enumIdxSql: String = enumElems.zipWithIndex
    .map { case (e, i) => s"WHEN '$e' THEN ${i + 1}" }
    .mkString("CASE event_type ", " ", " ELSE 0 END")

  /** element name (debezium/avro wire value, codec.go:311-328) */
  val enumName: Column = col("event_type")
  val enumNameSql: String = "event_type"

  // ------------------------------------------------------------------
  // Round-11 arms (VERDICT r10 mandate #5): BIT, SET, BINARY, TIME,
  // YEAR, BIGINT UNSIGNED, and the precise-decimal wire. All
  // derivations reduce their inputs BEFORE multiplying (the
  // OverflowGuard discipline) and stay in JSON-safe ASCII so both
  // engines render identical characters.
  //
  //   | arm    | canal (helper.go)            | debezium (codec.go)              | avro (arvo.go)                  |
  //   |--------|------------------------------|----------------------------------|---------------------------------|
  //   | BIT    | uint string, BIT -7 (:39-50) | BIT(8)→base64 LE bytes (:274-291)| bytes + length param (:734-745) |
  //   | SET    | mask string, BIT -7(:121-128)| name CSV, EnumSet (:330-347)     | name CSV + allowed (:949-963)   |
  //   | BINARY | ISO-8859-1 string (:51-112)  | base64 (:303-305, :514-517)      | bytes (:782-787, :927-931)      |
  //   | TIME   | 'HH:MM:SS', 92 (:145-152)    | int64 MICROS, MicroTime(:467-487)| string (:807-812)               |
  //   | YEAR   | int string, 12 (:274-281)    | int32, io.debezium.time.Year     | int (:812-817, :966-974)        |
  //   | UBIG   | uint string; >Max → DECIMAL 3| int64 REINTERPRET (wraps,:489-503)| string mode (:881-883)         |
  //   | DEC(p) | —                            | Connect Decimal: base64 BE       | bytes.decimal: same bytes       |
  //   |        |                              | unscaled + scale param (upstream | (:918-921 precise mode,         |
  //   |        |                              | default the reference's double   | logicalType decimal :745-765)   |
  //   |        |                              | mode replaces)                   |                                 |
  //   | GEO    | JSON null; sqlType -2 = Java | value nil — craft encoder        | (not emitted — unsupported)     |
  //   |        | BINARY (java.go:136-138,     | message_encoder.go:219-225 and   |                                 |
  //   |        | "not supported, should not   | decoder :350-356 both return nil;|                                 |
  //   |        | hit" — the mapping is total) | checksum SKIPS the column        |                                 |
  //   |        |                              | (verify_checksum.go:217-219)     |                                 |
  //   | NULL   | JSON null; sqlType 0 = Java  | value nil (same encoder/decoder  | (not emitted)                   |
  //   |        | NULL (java.go:85-86)         | arms); checksum skip             |                                 |
  //
  // GEOMETRY and NULL have NO per-row derivation: every encoder carries
  // nothing for either type, so the arms live entirely in the codec
  // dispatch (canal sqlType/mysqlType maps + null data values, the two
  // -1 nil markers in every craft value chunk, and the checksum
  // exclusion). These two rows make the type dispatch literally total.

  /** SET element list (4 elems → masks 1..15). */
  val setElems: Seq[String] = ImageArms.SetElems

  // -------------------------------------------------------------- BIT
  /** BIT(8) value 0..255 (inputs reduced first — cannot wrap) */
  val bitVal: Column = arm(ImageArms.BitVal, pk = pk)
  val bitValSql: String = "(((pk % 256) * 7 + 3) % 256)"

  /** debezium wire: BIT(8) → base64 of the single little-endian byte */
  val bitB64: Column = arm(ImageArms.BitB64, pk = pk)
  val bitB64Sql: String =
    s"to_base64(unhex(lpad(hex($bitValSql), 2, '0')))"

  // -------------------------------------------------------------- SET
  /** bitmask 1..15 — never 0, so the canal null arm never fires */
  val setMask: Column = arm(ImageArms.SetMask, ts, pk)
  val setMaskSql: String = "(1 + ((pk % 15) + (commit_ts % 15)) % 15)"

  /** comma-joined selected element names (ParseSetValue — the
    * debezium/avro wire value); the SQL concat_ws skips the null arms */
  val setName: Column = arm(ImageArms.SetName, ts, pk)
  val setNameSql: String = setElems.zipWithIndex
    .map { case (e, i) =>
      s"CASE WHEN $setMaskSql & ${1L << i} > 0 THEN '$e' END" }
    .mkString("concat_ws(',', ", ", ", ")")

  // ----------------------------------------------------------- BINARY
  /** VARBINARY(4) whose bytes are ASCII digits — the canal ISO-8859-1
    * decode is then the identity and every JSON stays escape-free */
  val binStr: Column = arm(ImageArms.BinStr, pk = pk)
  val binStrSql: String =
    "lpad(CAST((pk % 10000) * 13 % 10000 AS VARCHAR), 4, '0')"

  /** debezium / avro binary wire: base64 of the UTF-8(=ASCII) bytes */
  val binB64: Column = arm(ImageArms.BinB64, pk = pk)
  val binB64Sql: String = s"to_base64(encode($binStrSql))"

  // ------------------------------------------------------------- TIME
  /** seconds-of-day 0..86399 (Duration < 24h) */
  val timeSec: Column = arm(ImageArms.TimeSec, ts)
  val timeSecSql: String = "(((commit_ts % 86400) * 11) % 86400)"

  /** 'HH:MM:SS' (canal Duration.String() / avro string) */
  val timeStr: Column = arm(ImageArms.TimeStr, ts)
  val timeStrSql: String =
    s"strftime(make_timestamp(CAST($timeSecSql AS BIGINT) * 1000000), '%H:%M:%S')"

  /** debezium io.debezium.time.MicroTime int64 value */
  val timeMicrosSql: String = s"($timeSecSql * 1000000)"

  // ------------------------------------------------------------- YEAR
  /** 1970..2124 (inside MySQL YEAR's 1901..2155) */
  val yearVal: Column = arm(ImageArms.YearVal, ts)
  val yearValSql: String = "(1970 + commit_ts % 155)"

  // -------------------------------------------- BIGINT UNSIGNED (UBIG)
  /** the widening offset x < 2^20; the modeled column value is
    * 2^63 + x — ABOVE Long.MaxValue, so every handler's widening arm
    * actually fires */
  val ubigOff: Column = arm(ImageArms.UbigOff, ts, pk)
  val ubigOffSql: String =
    "(((pk % 1048576) * 31 + commit_ts % 1048576) % 1048576)"

  /** unsigned decimal string of 2^63 + x (canal FormatUint; avro
    * bigintUnsignedHandlingMode=string): 2^63 = 9223372036854775808
    * and x < 2^20 only moves the last 7 digits (4775808 + x ≤ 5824383,
    * no carry), so the closed form is exact in both engines */
  val ubigStr: Column = arm(ImageArms.UbigStr, ts, pk)
  val ubigStrSql: String = s"CONCAT('922337203685', 4775808 + $ubigOffSql)"

  /** debezium int64 REINTERPRET (codec.go:489-503 WriteInt64Field
    * (int64(v)) — two's-complement wrap, the documented consumer
    * footgun): int64(2^63 + x) = Long.MinValue + x */
  val ubigWrapped: Column = arm(ImageArms.UbigWrapped, ts, pk)
  val ubigWrappedSql: String = s"(-9223372036854775808 + $ubigOffSql)"

  // ------------------------------------- DECIMAL, precise wire (DEC p)
  /** Kafka Connect Decimal / avro logical-decimal bytes: base64 of the
    * minimal big-endian two's-complement unscaled integer
    * (BigInteger.toByteArray — even-length hex, plus a leading 0x00
    * when the top bit is set), scale rides the schema. [[decE4]] is
    * non-negative < 2^48 so the sign arm is the 0x00 prefix only. */
  private[graft] def beBytesHex(v: Column): Column = arm(ImageArms.BeHex, v)
  private def beBytesHexSql(e: String): String = {
    val even = s"lpad(hex($e), CAST(length(hex($e)) + length(hex($e)) % 2 AS INTEGER), '0')"
    s"""CASE WHEN substring($even, 1, 1) IN ('8','9','A','B','C','D','E','F')
       |  THEN CONCAT('00', $even) ELSE $even END""".stripMargin
  }

  val decPreciseB64: Column = arm(ImageArms.DecPreciseB64, ts, pk)
  val decPreciseB64Sql: String = s"to_base64(unhex(${beBytesHexSql(decE4Sql)}))"

  /** the same minimal big-endian unscaled bytes as uppercase hex — the
    * avro-binary (A41) bytes-decimal payload (varint length prefix is
    * the encoder's job) */
  val decPreciseHex: Column = arm(ImageArms.DecPreciseHex, ts, pk)
}
