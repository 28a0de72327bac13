package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A52 — MySQL DDL execution + ddl_ts bookkeeping frame (reference:
  * pkg/sink/mysql/mysql_writer.go:90-133 `FlushDDLEvent`/`FlushDDLTs`
  * and :244-368 `SendDDLTs`): after executing a DDL downstream (with a
  * `defaultDDLMaxRetry` = 20 retry budget, mysql_writer.go:42), the
  * writer records the DDL's commitTs for every table the DDL influences
  * in the `tidb_cdc.ddl_ts_v1` bookkeeping table — one
  * `INSERT ... ON DUPLICATE KEY UPDATE` carrying a VALUES tuple
  * `('<cluster>', '<changefeed>', '<ddl_ts>', <table_id>)` per affected
  * table (mysql_writer.go:288-327), plus one `DELETE ... WHERE (...) IN`
  * for tables the DDL drops (:329-363). On restart the sink resumes each
  * table from its recorded ddl_ts (`GetStartTsList`, :374); a missing
  * row means the table was dropped.
  *
  * The affected-table set follows the blocked-tables influence model of
  * `WriteBlockEvent` (downstreamadapter/sink/mysql_sink.go:155 →
  * SendDDLTs's `InfluenceType` switch, mysql_writer.go:258-281):
  *  - `normal` — the DDL's own table span (CREATE/ALTER/DROP TABLE),
  *  - `db`     — every table of the DDL's schema (e.g. DROP DATABASE),
  *  - `all`    — every table of the changefeed (e.g. FLASHBACK CLUSTER).
  * Added tables (`GetNeedAddedTables`) join the upsert set; dropped
  * tables (`GetNeedDroppedTables`) render the DELETE. The deterministic
  * A18 DDL stream emits CREATE/ALTER only (all `normal` influence); the
  * db/all/drop arms are exercised by the handcrafted-frame spec, exactly
  * as the reference's own unit tests do.
  *
  * One row per DDL event — mirroring SendDDLTs's one bookkeeping
  * transaction per DDL — with the executed statement, the retry/exec
  * policy, and the rendered bookkeeping SQL. Scale shape: the universe
  * frame is (tables × 1) and broadcasts; DDL events are rare; the
  * per-event aggregation shuffles only the blocked expansion. */
object MysqlDdl {

  /** The downstream identity every syncpoint / DDL-ts row is keyed by. */
  val ClusterId = "graft-cluster"
  val ChangefeedId = "cf-1"
  /** [[syncpointStmts]]' retention and the boundary period of its cleanup. */
  val SyncpointRetentionSec = 86400L
  val SyncpointCleanupEvery = 5

  val RetryBudget = 20 // mysql_writer.go:42 defaultDDLMaxRetry

  /** Influence taxonomy of WriteBlockEvent (mysql_writer.go:258-281). */
  private val influence: Column =
    when(col("ddl_type") === "DROP_DATABASE", "db")
      .when(col("ddl_type") === "FLASHBACK", "all")
      .otherwise(lit("normal"))
  private val isDrop: Column =
    col("ddl_type").isin("DROP_TABLE", "DROP_DATABASE").cast("long")

  /** The changefeed's table universe: (u_schema, u_table, table_id),
    * the id [[ClDims.tableId]] (its injectivity over the universe, which
    * keeps ddl_ts bookkeeping rows apart, is spec-asserted). */
  private[graft] def universe(cl: DataFrame): DataFrame =
    cl.select(col("schema_name").as("u_schema"), col("table_name").as("u_table"))
      .distinct()
      .withColumn("table_id", ClDims.tableId(col("u_schema"), col("u_table")))

  /** Generic frame over any DDL-event stream + table universe — the
    * spec drives the db/all/drop arms through this entry point. `ddl`
    * needs (schema_name, table_name, valid_from, ddl_type, query). */
  /** Blocked-set expansion: one scoped equi-join per influence arm
    * (keeps hash joins; the db/all arms are empty for the A18 stream).
    * Shared by the bookkeeping frame (A52) and the resume read (A55). */
  private def blockedExpansion(ddl: DataFrame, uni: DataFrame): DataFrame = {
    val d = ddl.withColumn("influence", influence).withColumn("is_drop", isDrop)
    val normal = d.filter(col("influence") === "normal")
      .join(broadcast(uni), col("schema_name") === col("u_schema") &&
        col("table_name") === col("u_table"))
    val db = d.filter(col("influence") === "db")
      .join(broadcast(uni), col("schema_name") === col("u_schema"))
    val all = d.filter(col("influence") === "all").crossJoin(broadcast(uni))
    normal.unionByName(db).unionByName(all)
  }

  def frameFrom(ddl: DataFrame, uni: DataFrame,
                clusterId: String = ClusterId,
                changefeed: String = ChangefeedId,
                isTiDB: Boolean = false): DataFrame = {
    val blocked = blockedExpansion(ddl, uni)

    val upsertTuple = concat(
      lit(s"('$clusterId', '$changefeed', '"), col("valid_from"), lit("', "),
      col("table_id"), lit(")"))
    val deleteTuple = concat(
      lit(s"('$clusterId', '$changefeed', "), col("table_id"), lit(")"))
    // table_id-ordered string aggregation (collect_list order is not
    // deterministic; the sort key rides in the struct's first field)
    def ordered(c: Column, sep: String): Column = array_join(
      transform(array_sort(collect_list(struct(col("table_id").as("k"), c.as("v")))),
        x => x.getField("v")), sep)

    val execMode =
      if (isTiDB) when(col("exec_sql").contains("ADD INDEX"), "async")
        .otherwise(lit("sync")) // asyncExecAddIndexDDLIfTimeout, :91
      else lit("sync")

    blocked
      .groupBy(col("schema_name"), col("table_name"),
        col("valid_from").as("ddl_ts"), col("ddl_type"),
        col("query").as("exec_sql"), col("influence"), col("is_drop"))
      .agg(
        count(lit(1)).as("n_upsert"),
        ordered(col("table_id").cast("string"), ",").as("upsert_ids"),
        concat(
          lit("INSERT INTO tidb_cdc.ddl_ts_v1 (ticdc_cluster_id, changefeed, ddl_ts, table_id) VALUES "),
          ordered(upsertTuple, ", "),
          lit(" ON DUPLICATE KEY UPDATE ddl_ts=VALUES(ddl_ts), created_at=CURRENT_TIMESTAMP;"))
          .as("upsert_stmt"),
        when(max(col("is_drop")) === 1L, concat(
          lit("DELETE FROM tidb_cdc.ddl_ts_v1 WHERE (ticdc_cluster_id, changefeed, table_id) IN ("),
          ordered(deleteTuple, ", "), lit(")")))
          .otherwise(lit(null).cast("string")).as("delete_stmt"))
      .select(col("schema_name"), col("table_name"), col("ddl_ts"),
        col("ddl_type"), col("exec_sql"), execMode.as("exec_mode"),
        lit(RetryBudget.toLong).as("retry_budget"), col("influence"),
        col("n_upsert"), col("upsert_ids"), col("upsert_stmt"),
        (col("is_drop") * col("n_upsert")).as("n_dropped"),
        col("delete_stmt"))
  }

  /** A52 queries entry: the frame over the deterministic A18 DDL
    * stream and the changelog's table universe. */
  def frame(cl: DataFrame): DataFrame =
    frameFrom(SchemaStore.ddlEvents(cl, Nil), universe(cl),
      ClusterId, ChangefeedId)

  /** A54 — syncpoint writer frame (reference: mysql_writer.go:135-242
    * `FlushSyncPointEvent`/`SendSyncPointEvent`): at each syncpoint the
    * writer inserts the upstream/downstream ts pair into
    * `tidb_cdc.syncpoint_v1`, sets `tidb_external_ts` to the secondary
    * ts, and — once per retention period — deletes map rows older than
    * `SyncPointRetention`. One row per syncpoint boundary with the
    * three rendered statements. Deterministic stand-ins: primary_ts =
    * the boundary (the syncpoint's upstream commitTs); secondary_ts =
    * max applied commit_ts ≤ boundary (the reference reads the
    * downstream's `@@tidb_current_ts` at flush time — our clock IS
    * commit_ts, so the downstream's position after applying everything
    * up to the boundary is exactly this max); the wall-clock retention
    * sweep (`lastCleanSyncPointTime`, :215) fires every
    * [[SyncpointCleanupEvery]]-th boundary. Shapes: one tiny boundary grid
    * (max_ts/step rows) + one aggregation for the per-boundary max —
    * broadcast-scale at any corpus size. */
  def syncpointStmts(cl: DataFrame): DataFrame = {
    val step = Materialize.SyncStep
    import org.apache.spark.sql.expressions.Window
    val bounds = ClDims.maxTs(cl)
      .select(explode(when(col("m") >= step, sequence(lit(step), col("m"), lit(step)))
        .otherwise(array().cast("array<long>"))).as("primary_ts"))
    // per-boundary max applied ts, then a running max over the (tiny)
    // boundary sequence fills boundaries with no events of their own.
    // The unpartitioned window is deliberate and safe: the grid has
    // max_ts/step rows — bounded by the TIME HORIZON (syncpoints are
    // minutes apart in production), not by data volume — so this is a
    // single small task after the per-boundary aggregation, never a
    // whole-data global sort
    val perBound = cl
      .select((expr(s"((commit_ts + $step - 1) div $step) * $step")).as("primary_ts"),
        col("commit_ts"))
      .groupBy(col("primary_ts")).agg(max(col("commit_ts")).as("bmax"))
    val wRun = graft.util.Windows.bounded(col("primary_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds.join(perBound, Seq("primary_ts"), "left")
      .withColumn("secondary_ts", max(col("bmax")).over(wRun))
      .withColumn("cleanup_due",
        (pmod(expr(s"primary_ts div $step"), lit(SyncpointCleanupEvery.toLong)) === 0L)
          .cast("long"))
      .select(col("primary_ts"),
        coalesce(col("secondary_ts"), lit(0L)).as("secondary_ts"),
        concat(lit(s"insert ignore into tidb_cdc.syncpoint_v1 " +
            s"(ticdc_cluster_id, changefeed, primary_ts, secondary_ts) VALUES ('$ClusterId', '$ChangefeedId', "),
          col("primary_ts"), lit(", "),
          coalesce(col("secondary_ts"), lit(0L)), lit(")")).as("insert_stmt"),
        concat(lit("set global tidb_external_ts = "),
          coalesce(col("secondary_ts"), lit(0L))).as("external_ts_stmt"),
        col("cleanup_due"),
        when(col("cleanup_due") === 1L,
          lit(s"DELETE IGNORE FROM tidb_cdc.syncpoint_v1 WHERE " +
            s"ticdc_cluster_id = '$ClusterId' and changefeed = '$ChangefeedId' " +
            s"and created_at < (NOW() - INTERVAL $SyncpointRetentionSec.00 SECOND)"))
          .otherwise(lit(null).cast("string")).as("cleanup_stmt"))
  }

  def syncpointStmtsSql: String = {
    val step = Materialize.SyncStep
    s"""WITH bounds AS (
       |  SELECT UNNEST(GENERATE_SERIES($step, (SELECT MAX(commit_ts) FROM changelog), $step))
       |    AS primary_ts
       |),
       |per_bound AS (
       |  SELECT ((commit_ts + $step - 1) // $step) * $step AS primary_ts,
       |    MAX(commit_ts) AS bmax
       |  FROM changelog GROUP BY 1
       |),
       |filled AS (
       |  SELECT b.primary_ts,
       |    MAX(p.bmax) OVER (ORDER BY b.primary_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS secondary_ts,
       |    CAST((b.primary_ts // $step) % $SyncpointCleanupEvery = 0 AS BIGINT) AS cleanup_due
       |  FROM bounds b LEFT JOIN per_bound p USING (primary_ts)
       |)
       |SELECT primary_ts,
       |  CAST(COALESCE(secondary_ts, 0) AS BIGINT) AS secondary_ts,
       |  CONCAT('insert ignore into tidb_cdc.syncpoint_v1 (ticdc_cluster_id, changefeed, primary_ts, secondary_ts) VALUES (''$ClusterId'', ''$ChangefeedId'', ',
       |    primary_ts, ', ', COALESCE(secondary_ts, 0), ')') AS insert_stmt,
       |  CONCAT('set global tidb_external_ts = ', COALESCE(secondary_ts, 0)) AS external_ts_stmt,
       |  cleanup_due,
       |  CASE WHEN cleanup_due = 1 THEN
       |    'DELETE IGNORE FROM tidb_cdc.syncpoint_v1 WHERE ticdc_cluster_id = ''$ClusterId'' and changefeed = ''$ChangefeedId'' and created_at < (NOW() - INTERVAL $SyncpointRetentionSec.00 SECOND)'
       |  END AS cleanup_stmt
       |FROM filled""".stripMargin
  }

  /** A55 — restart/resume read path (reference: mysql_writer.go:374-430
    * `GetStartTsList`): on restart the sink reads each table's recorded
    * ddl_ts from the bookkeeping table — a missing row means the table
    * is new (or was dropped): startTs 0. The net bookkeeping state
    * after the A52 stream: a table's row holds the ts of the LAST DDL
    * upserting it (ON DUPLICATE KEY UPDATE overwrites), unless the last
    * DDL touching it dropped it (the DELETE removes the row). One
    * aggregation over the blocked expansion + a broadcast left join
    * back to the universe (untouched tables = new). */
  def startTsFrom(ddl: DataFrame, uni: DataFrame): DataFrame = {
    val state = blockedExpansion(ddl, uni)
      .groupBy(col("u_schema"), col("u_table"), col("table_id"))
      .agg(max(col("valid_from")).as("t_last"),
        max(when(col("is_drop") === 1L, col("valid_from"))).as("t_drop"))
      .select(col("u_schema"), col("u_table"), col("table_id"),
        when(col("t_drop").isNotNull && col("t_drop") === col("t_last"), 0L)
          .otherwise(col("t_last")).as("start_ts"))
    uni.join(broadcast(state),
        Seq("u_schema", "u_table", "table_id"), "left")
      .select(col("u_schema").as("schema_name"),
        col("u_table").as("table_name"), col("table_id"),
        coalesce(col("start_ts"), lit(0L)).as("start_ts"),
        (coalesce(col("start_ts"), lit(0L)) === 0L).cast("long").as("is_new"))
  }

  /** A55 queries entry over the deterministic DDL stream. */
  def startTs(cl: DataFrame): DataFrame =
    startTsFrom(SchemaStore.ddlEvents(cl, Nil), universe(cl))

  def startTsSql(): String =
    s"""WITH ddl AS (${SchemaStore.ddlEventsSql(Nil)}),
       |inf AS (
       |  SELECT *,
       |    CASE WHEN ddl_type = 'DROP_DATABASE' THEN 'db'
       |         WHEN ddl_type = 'FLASHBACK' THEN 'all'
       |         ELSE 'normal' END AS influence,
       |    CASE WHEN ddl_type IN ('DROP_TABLE', 'DROP_DATABASE')
       |         THEN 1 ELSE 0 END AS is_drop
       |  FROM ddl
       |),
       |uni AS (
       |  SELECT schema_name AS u_schema, table_name AS u_table,
       |    ${ClDims.tableIdSql("schema_name", "table_name")} AS table_id
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog)
       |),
       |blocked AS (
       |  SELECT i.*, u.u_schema, u.u_table, u.table_id FROM inf i JOIN uni u
       |    ON (i.influence = 'normal' AND i.schema_name = u.u_schema
       |        AND i.table_name = u.u_table)
       |    OR (i.influence = 'db' AND i.schema_name = u.u_schema)
       |    OR i.influence = 'all'
       |),
       |state AS (
       |  SELECT u_schema, u_table, table_id,
       |    MAX(valid_from) AS t_last,
       |    MAX(CASE WHEN is_drop = 1 THEN valid_from END) AS t_drop
       |  FROM blocked GROUP BY 1, 2, 3
       |)
       |SELECT u.u_schema AS schema_name, u.u_table AS table_name, u.table_id,
       |  CAST(COALESCE(CASE WHEN s.t_drop IS NOT NULL AND s.t_drop = s.t_last
       |    THEN 0 ELSE s.t_last END, 0) AS BIGINT) AS start_ts,
       |  CAST(COALESCE(CASE WHEN s.t_drop IS NOT NULL AND s.t_drop = s.t_last
       |    THEN 0 ELSE s.t_last END, 0) = 0 AS BIGINT) AS is_new
       |FROM uni u LEFT JOIN state s USING (u_schema, u_table, table_id)""".stripMargin

  def frameSql(): String = {
    // a literal single quote inside a SQL string literal is '' — the
    // rendered tuples must match the Scala side byte-for-byte
    val upsertTuple =
      s"CONCAT('(''$ClusterId'', ''$ChangefeedId'', ''', valid_from, ''', ', table_id, ')')"
    val deleteTuple =
      s"CONCAT('(''$ClusterId'', ''$ChangefeedId'', ', table_id, ')')"
    s"""WITH ddl AS (${SchemaStore.ddlEventsSql(Nil)}),
       |inf AS (
       |  SELECT *,
       |    CASE WHEN ddl_type = 'DROP_DATABASE' THEN 'db'
       |         WHEN ddl_type = 'FLASHBACK' THEN 'all'
       |         ELSE 'normal' END AS influence,
       |    CASE WHEN ddl_type IN ('DROP_TABLE', 'DROP_DATABASE')
       |         THEN 1 ELSE 0 END AS is_drop
       |  FROM ddl
       |),
       |uni AS (
       |  SELECT schema_name AS u_schema, table_name AS u_table,
       |    ${ClDims.tableIdSql("schema_name", "table_name")} AS table_id
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog)
       |),
       |blocked AS (
       |  SELECT i.*, u.table_id FROM inf i JOIN uni u
       |    ON (i.influence = 'normal' AND i.schema_name = u.u_schema
       |        AND i.table_name = u.u_table)
       |    OR (i.influence = 'db' AND i.schema_name = u.u_schema)
       |    OR i.influence = 'all'
       |)
       |SELECT schema_name, table_name, valid_from AS ddl_ts, ddl_type,
       |  query AS exec_sql,
       |  'sync' AS exec_mode,
       |  CAST($RetryBudget AS BIGINT) AS retry_budget,
       |  influence,
       |  CAST(COUNT(*) AS BIGINT) AS n_upsert,
       |  string_agg(CAST(table_id AS VARCHAR), ',' ORDER BY table_id) AS upsert_ids,
       |  CONCAT('INSERT INTO tidb_cdc.ddl_ts_v1 (ticdc_cluster_id, changefeed, ddl_ts, table_id) VALUES ',
       |    string_agg($upsertTuple, ', ' ORDER BY table_id),
       |    ' ON DUPLICATE KEY UPDATE ddl_ts=VALUES(ddl_ts), created_at=CURRENT_TIMESTAMP;') AS upsert_stmt,
       |  CAST(is_drop * COUNT(*) AS BIGINT) AS n_dropped,
       |  CASE WHEN is_drop = 1 THEN
       |    CONCAT('DELETE FROM tidb_cdc.ddl_ts_v1 WHERE (ticdc_cluster_id, changefeed, table_id) IN (',
       |      string_agg($deleteTuple, ', ' ORDER BY table_id), ')')
       |  END AS delete_stmt
       |FROM blocked
       |GROUP BY schema_name, table_name, valid_from, ddl_type, query,
       |  influence, is_drop""".stripMargin
  }
}
