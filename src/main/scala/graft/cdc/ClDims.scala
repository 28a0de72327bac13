package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Changelog dimension frames, kept per (session, changelog plan) by
  * [[graft.util.Tables.checkpointed]].
  *
  * Every CDC operator grid hangs off one of two tiny aggregations of
  * the changelog: the distinct table universe (≤ tables rows) and the
  * 1-row max commit-ts watermark. Without sharing, each query
  * re-evaluates them per SUBTREE — sink_ddl_routing alone paid four
  * full changelog scans for frames totalling 7 rows (17 s at the sf10
  * tier for a ~1 M-row output).
  *
  * Streaming inputs can't checkpoint; they fall through to the
  * uncached build (their micro-batch plans are bounded anyway). */
object ClDims {

  private def cached(df: DataFrame, kind: String)
                    (build: => DataFrame): DataFrame =
    if (df.isStreaming) build
    else graft.util.Tables.checkpointed(df, "dims", kind)(build.localCheckpoint())

  /** Distinct (schema_name, table_name) universe of a changelog-shaped
    * frame. */
  def tables(cl: DataFrame): DataFrame =
    cached(cl, "tables")(
      cl.select(col("schema_name"), col("table_name")).distinct())

  /** 1-row max(commit_ts) watermark, column `m`. Call-sites alias. */
  def maxTs(cl: DataFrame): DataFrame =
    cached(cl, "maxts")(cl.agg(max(col("commit_ts")).as("m")))

  /** Deterministic table id, INT: db ordinal × 1000 + table ordinal of
    * `db<N>` / `t<N>` names, injective below 1000 tables per schema.
    * Every wire, sink and dispatcher that names a table by id reads it. */
  def tableId(schema: Column, table: Column): Column =
    substring(schema, 3, Int.MaxValue).cast("int") * 1000 +
      substring(table, 2, Int.MaxValue).cast("int")

  def tableIdSql(schema: String, table: String): String =
    s"CAST(SUBSTRING($schema, 3) AS INT) * 1000 + CAST(SUBSTRING($table, 2) AS INT)"
}
