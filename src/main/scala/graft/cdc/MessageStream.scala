package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The message-stream skeleton of the wires that carry DDL and
  * watermark messages beside the rows: the simple protocol's JSON
  * ([[SimpleProtocol]]) and Avro ([[SimpleAvro]]) marshallers and the
  * canal-json TiDB-extension envelope ([[Codecs.canalEnvelope]]). The
  * reference's simple codec is one message model with one marshaller
  * per format (pkg/sink/codec/simple/marshaller.go:30-57); here the
  * legs are built once and each wire supplies only its renderers.
  *
  * The stream is (`commit_ts`, `msg_type`, `value`) over these legs:
  *  - BOOTSTRAP per table (commit_ts 0), when the wire has one;
  *  - the BOOTSTRAP resend: every `resendEvery`-th DML of a table in
  *    commit_ts order re-emits its AS-OF schema (reference:
  *    pkg/sink/codec/bootstraper.go:80-156 — the msg-count arm is exact
  *    on this engine's commit_ts clock, and the interval arm maps to
  *    the same mechanism), so a consumer joining mid-stream is at most
  *    `resendEvery` DMLs per table from a schema-carrying message;
  *  - DDL, one per [[SchemaStore.ddlEvents]] row at its `valid_from`;
  *  - DML (or ROW), one per changelog row;
  *  - WATERMARK at the changelog's max commit_ts ([[ClDims.maxTs]]).
  *
  * Renderers are functions of the leg's ts expressions: BOOTSTRAP and
  * its resend share one of (buildTs, schema version) — bootstrap passes
  * (0, 0), the resend (commit_ts, commit_ts div [[SchemaStore.step]]);
  * DDL's is of (valid_from, valid_from div step), the watermark's of
  * the resolved ts. The Spark Columns and the DuckDB SQL are two
  * independent texts, so the oracle checks the Spark wire rather than
  * sharing its code.
  *
  * Scale shape: row-local projections plus the per-table window of the
  * resend, the DDL version grid and the 1-row max. */
object MessageStream {

  /** Bootstrap re-send cadence: one re-sent BOOTSTRAP per table per 500
    * DML messages (reference default send-bootstrap-in-msg-count;
    * bootstraper.go:55). */
  val ResendEvery = 500

  private val step = SchemaStore.step

  /** The stream over `cl`. `boot` renders BOOTSTRAP from (buildTs,
    * schema version); `resendEvery` ≤ 0 disables its resend. */
  def frame(cl: DataFrame, dmlLabel: String,
            boot: Option[(Column, Column) => Column], resendEvery: Int,
            ddl: (Column, Column) => Column, dml: Column,
            watermark: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bootstrap = boot.map(b => ClDims.tables(cl).select(lit(0L).as("commit_ts"),
      lit("BOOTSTRAP").as("msg_type"), b(lit(0L), lit(0L)).as("value")))
    val resend = boot.filter(_ => resendEvery > 0).map { b =>
      val w = Window.partitionBy(col("schema_name"), col("table_name"))
        .orderBy(col("commit_ts"))
      // project to the three needed columns BEFORE the window so the
      // per-table sort shuffles 24-byte rows, not full-width changelog
      // rows with both images (decode re-plans this subtree twice)
      cl.select(col("schema_name"), col("table_name"), col("commit_ts"))
        .withColumn("rn", row_number().over(w))
        .filter(pmod(col("rn"), lit(resendEvery)) === 0)
        .select(col("commit_ts"), lit("BOOTSTRAP").as("msg_type"),
          b(col("commit_ts"), expr(s"commit_ts div $step")).as("value"))
    }
    val ddlLeg = SchemaStore.ddlEvents(cl, Nil).select(
      col("valid_from").as("commit_ts"), lit("DDL").as("msg_type"),
      ddl(col("valid_from"), expr(s"valid_from div $step")).as("value"))
    val dmlLeg = cl.select(col("commit_ts"), lit(dmlLabel).as("msg_type"),
      dml.as("value"))
    val watermarkLeg = ClDims.maxTs(cl).select(col("m").as("commit_ts"),
      lit("WATERMARK").as("msg_type"), watermark(col("m")).as("value"))
    (bootstrap.toSeq ++ Seq(ddlLeg, dmlLeg, watermarkLeg) ++ resend)
      .reduce(_ unionAll _)
  }

  /** The DuckDB oracle of [[frame]] over the `changelog` relation, at
    * the [[ResendEvery]] cadence. */
  def sql(dmlLabel: String, boot: Option[(String, String) => String],
          ddl: (String, String) => String, dml: String,
          watermark: String => String): String = {
    val bootstrap = boot.map(b =>
      s"""SELECT CAST(0 AS BIGINT) AS commit_ts, 'BOOTSTRAP' AS msg_type,
         |  ${b("0", "0")} AS value
         |FROM (SELECT DISTINCT schema_name, table_name FROM changelog)""".stripMargin)
    val resend = boot.map(b =>
      s"""SELECT commit_ts, 'BOOTSTRAP' AS msg_type,
         |  ${b("commit_ts", s"commit_ts // $step")} AS value
         |FROM (SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY schema_name, table_name ORDER BY commit_ts) AS rn
         |      FROM changelog)
         |WHERE rn % $ResendEvery = 0""".stripMargin)
    val ddlLeg =
      s"""SELECT valid_from AS commit_ts, 'DDL' AS msg_type,
         |  ${ddl("valid_from", s"valid_from // $step")} AS value
         |FROM (${SchemaStore.ddlEventsSql(Nil)}) ddl_frame""".stripMargin
    val dmlLeg =
      s"""SELECT commit_ts, '$dmlLabel' AS msg_type,
         |  $dml AS value
         |FROM changelog""".stripMargin
    val watermarkLeg =
      s"""SELECT MAX(commit_ts) AS commit_ts, 'WATERMARK' AS msg_type,
         |  ${watermark("MAX(commit_ts)")} AS value
         |FROM changelog""".stripMargin
    (bootstrap.toSeq ++ Seq(ddlLeg, dmlLeg, watermarkLeg) ++ resend)
      .mkString("\nUNION ALL\n")
  }

  /** The decoder's schema cache (reference: simple/decoder.go:309-356
    * `memoryTableInfoProvider`): every decoded message resolves its
    * schema by exact (schema, table, schema_version) lookup against
    * `schemas`, the deduplicated (…, schema_cols) entries of the
    * stream's own BOOTSTRAP/DDL messages. The cache is tables ×
    * versions rows, so it is broadcast into a left join and adds no
    * shuffle; a miss (the schema-less WATERMARK rows of a batch
    * decode, the reference's park-until-DDL path) reads -1, never
    * NULL. */
  def resolveSchemas(decoded: DataFrame, schemas: DataFrame): DataFrame =
    decoded
      .join(broadcast(schemas),
        Seq("schema_name", "table_name", "schema_version"), "left")
      .select(col("msg_kind"), col("commit_ts"), col("schema_name"),
        col("table_name"), col("op"), col("ddl_type"), col("ddl_sql"),
        col("pk"), col("after_value"), col("before_value"),
        col("schema_version"),
        coalesce(col("schema_cols"), lit(-1L)).as("schema_cols"))
}
