package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** The row-change-event model — the engine's equivalent of TiCDC's
  * `RowChangedEvent` (reference: pkg/common/event/row_change.go,
  * logservice/logpuller).
  *
  * A change event is a flat row:
  * {{{
  *   schema_name  STRING  — upstream database
  *   table_name   STRING  — upstream table
  *   op           STRING  — 'I' insert | 'U' update | 'D' delete
  *   pk           LONG    — primary-key value
  *   commit_ts    LONG    — commit timestamp (total order, unique)
  *   start_ts     LONG    — transaction start ts (groups a txn batch)
  *   event_type   STRING  — source event kind (payload column)
  *   before_value DOUBLE  — old image (NULL for inserts)
  *   after_value  DOUBLE  — new image (NULL for deletes)
  *   props        STRING  — JSON payload column
  *   event_time   TIMESTAMP — wall-clock event time (watermark column)
  * }}}
  *
  * The changelog is derived **deterministically** from the synthetic
  * `events` table so a DuckDB oracle can derive the identical frame with
  * [[changelogSql]]: signup→insert, error→delete, everything else→update;
  * `commit_ts = event_id` (unique, monotone); transactions batch 10
  * consecutive commit timestamps.
  */
object ChangeEvents {

  /** Columns of the change-event frame, in canonical order. */
  val columns: Seq[String] = Seq(
    "schema_name", "table_name", "op", "pk", "commit_ts", "start_ts",
    "event_type", "before_value", "after_value", "props", "event_time")

  /** Batch changelog derived from `events.parquet` under `dir`: one
    * frame per session and events listing, hash-partitioned on
    * `start_ts` into `defaultParallelism` partitions. The events file
    * is a single row group, so a bare scan would do every caller's row
    * work in one task; and no transaction is split across partitions
    * (TiCDC's txn atomicity), so the sinks keyed on `start_ts` reuse
    * this partitioning instead of shuffling.
    *
    * The first read in a session is a plan over the parquet scan:
    * filters and column pruning reach the scan, and the repartition
    * costs one shuffle of what they leave. From the second read on the
    * frame is the session's changelog store, persisted by
    * [[graft.util.Tables.persisted]], the way the reference pulls each
    * span once into its event store and every dispatcher reads from
    * there: later calls scan no parquet and shuffle nothing to get
    * here, and filters over the store run in memory. */
  def changelog(spark: SparkSession, dir: String): DataFrame =
    Tables.persisted(spark, "changelog", dir, "events", pinAt = 2)(events =>
      fromEvents(events).repartition(spark.sparkContext.defaultParallelism, col("start_ts")))

  /** Derive the change-event frame from a raw events frame (batch or
    * streaming — the projection is row-local, so it works for both).
    * `ts` is normalized to the long-nanos contract first, so raw
    * parquet readers (streaming sources included) can feed either the
    * TIMESTAMP(NANOS)-as-long or the timestamp[us] driver schema. */
  def fromEvents(rawEvents: DataFrame): DataFrame = {
    val events = graft.util.Tables.normalizeTs(rawEvents)
    events.select(
      concat(lit("db"), pmod(col("user_id"), lit(2L)).cast("string")).as("schema_name"),
      concat(lit("t"), pmod(col("user_id"), lit(3L)).cast("string")).as("table_name"),
      when(col("event_type") === "signup", lit("I"))
        .when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U")).as("op"),
      col("user_id").as("pk"),
      col("event_id").as("commit_ts"),
      (col("event_id") - pmod(col("event_id"), lit(10L))).as("start_ts"),
      col("event_type"),
      when(col("event_type") === "signup", lit(null).cast("double"))
        .when(col("event_type") === "error", col("value"))
        .otherwise(col("value") - lit(1.0)).as("before_value"),
      when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")).as("after_value"),
      col("props"),
      expr("timestamp_micros(ts div 1000)").as("event_time"))
  }

  /** DuckDB SQL producing the identical frame from the `events` view. */
  val changelogSql: String =
    """SELECT
      |  CONCAT('db', CAST(user_id % 2 AS VARCHAR)) AS schema_name,
      |  CONCAT('t',  CAST(user_id % 3 AS VARCHAR)) AS table_name,
      |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
      |  user_id AS pk,
      |  event_id AS commit_ts,
      |  event_id - (event_id % 10) AS start_ts,
      |  event_type,
      |  CASE WHEN event_type = 'signup' THEN NULL
      |       WHEN event_type = 'error'  THEN value
      |       ELSE value - 1.0 END AS before_value,
      |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS after_value,
      |  props,
      |  CAST(ts AS TIMESTAMP) AS event_time
      |FROM events""".stripMargin

  /** Wrap an oracle query body with the changelog CTE. Bodies that start
    * with their own WITH clause get merged (SQL forbids nested WITH);
    * a RECURSIVE body hoists the keyword to the merged list head
    * (RECURSIVE may prefix a list whose first CTE is non-recursive). */
  def withChangelogSql(body: String): String = {
    val t = body.trim
    val up = t.toUpperCase
    if (up.startsWith("WITH RECURSIVE "))
      s"WITH RECURSIVE changelog AS (\n$changelogSql\n), ${t.drop(15)}"
    else if (up.startsWith("WITH "))
      s"WITH changelog AS (\n$changelogSql\n), ${t.drop(5)}"
    else
      s"WITH changelog AS (\n$changelogSql\n)\n$body"
  }
}
