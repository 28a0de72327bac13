package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A99 — the dispatcher-side block verdict: which events a table's
  * dispatcher can write straight to its sink and which must STALL
  * the span to wait for the maintainer's barrier — the user-visible
  * answer to "why did this DDL pause my (split) table".
  *
  * Reference: downstreamadapter/dispatcher/dispatcher.go:372-401
  * `shouldBlock` — a sync-point event ALWAYS blocks; a DDL with
  * database- or all-scope influence always blocks; a normal-scope
  * DDL blocking more than one table blocks; a normal single-table
  * DDL blocks ONLY when the dispatcher's span is not the complete
  * table span (`isCompleteSpan`, :365-371 — a split table must
  * coordinate even a self-only DDL across its sibling spans); and
  * :403-447 `dealWithBlockEvent` — a non-blocking event writes
  * directly, still notifying the maintainer when the DDL adds or
  * drops tables (the NeedAddedTables/NeedDroppedTables heartbeat).
  * The influence taxonomy is A52's WriteBlockEvent model
  * (mysql_writer.go:258-281).
  *
  * Deterministic replay: dispatchers are one per table with the
  * split flag taken from the hot-span plane (A81's `is_hot` — hot
  * tables are exactly the ones the maintainer splits, the production
  * pathway); the event set is the A18 DDL stream (normal influence,
  * one blocked table) plus the scope arms that stream cannot carry —
  * one DROP DATABASE per schema and one global FLASHBACK past the
  * data horizon — plus three sync-point barriers. Scoped equi-joins
  * fan each event to the dispatchers it reaches (the A52 expansion
  * discipline — never an unconditional cross).
  *
  * Scale shape: the dispatcher frame is dimension-scale (embeds
  * A81's walk — one span-keyed shuffle); events are dimension-scale;
  * all joins are broadcast equi-joins on schema/table keys. */
object DispatcherBlock {

  /** Commit-ts spacing of the planted block events past the horizon.
    * Not the syncpoint interval ([[Materialize.SyncStep]]) nor the
    * schema-version cadence ([[SchemaStore.step]]): it only has to
    * order the planted events after every real one, and any positive
    * spacing does. */
  val SyncStep = 1000L

  val SyncPoints = 3L

  def dispatcherBlock(cl: DataFrame): DataFrame = {
    val disp = Scheduler.hotSpans(cl)
      .select(col("span"), substring_index(col("span"), ".", 1).as("d_schema"),
        substring_index(col("span"), ".", -1).as("d_table"),
        col("is_hot").as("split"))
    val horizon = ClDims.maxTs(cl).select(col("m").as("mx"))
    val ddl = SchemaStore.ddlEvents(cl, Nil)
      .select(col("schema_name"), col("table_name"),
        col("valid_from").as("ts"), col("ddl_type"),
        lit("normal").as("influence"))
    val dropDb = cl.select(col("schema_name")).distinct()
      .crossJoin(broadcast(horizon))
      .select(col("schema_name"), lit("*").as("table_name"),
        (col("mx") + SyncStep).as("ts"), lit("DROP_DATABASE").as("ddl_type"),
        lit("db").as("influence"))
    val flashback = horizon
      .select(lit("*").as("schema_name"), lit("*").as("table_name"),
        (col("mx") + 2L * SyncStep).as("ts"),
        lit("FLASHBACK").as("ddl_type"), lit("all").as("influence"))
    val syncs = horizon
      .select(explode(expr(s"sequence(1L, ${SyncPoints}L)")).as("k"),
        col("mx"))
      .select(lit("*").as("schema_name"), lit("*").as("table_name"),
        (col("mx") + (col("k") + 2L) * SyncStep).as("ts"),
        lit("SYNCPOINT").as("ddl_type"), lit("syncpoint").as("influence"))
    // the multi-table NORMAL arm (a RENAME blocks both its tables —
    // the >1-blocked-tables branch of shouldBlock): one per schema,
    // reaching its two lowest tables
    val rename = ClDims.tables(cl)
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("schema_name")).orderBy(col("table_name")))
        .cast("long"))
      .filter(col("rn") <= 2L)
      .crossJoin(broadcast(horizon))
      .select(col("schema_name"), col("table_name"),
        (col("mx") + 6L * SyncStep).as("ts"), lit("RENAME").as("ddl_type"),
        lit("normal2").as("influence"))
    val events = ddl.unionByName(dropDb).unionByName(flashback)
      .unionByName(syncs).unionByName(rename)
    // per-event blocked-table count (the A52 expansion, aggregated)
    val uniN = ClDims.tables(cl)
      .groupBy(col("schema_name")).agg(count(lit(1)).as("n_in_schema"))
      .crossJoin(broadcast(ClDims.tables(cl).agg(count(lit(1)).as("n_all"))))
    // scoped fan-out: each arm an equi-join on its scope key
    val normal = events.filter(col("influence").startsWith("normal"))
      .join(broadcast(disp), col("schema_name") === col("d_schema") &&
        col("table_name") === col("d_table"))
      .withColumn("blocked_tables",
        when(col("influence") === "normal2", 2L).otherwise(1L))
      .withColumn("influence", lit("normal"))
    val db = events.filter(col("influence") === "db")
      .join(broadcast(disp), col("schema_name") === col("d_schema"))
      .join(broadcast(uniN.select(col("schema_name").as("s2"),
        col("n_in_schema"))), col("schema_name") === col("s2"))
      .withColumn("blocked_tables", col("n_in_schema"))
      .drop("s2", "n_in_schema")
    val global = events.filter(col("influence").isin("all", "syncpoint"))
      .crossJoin(broadcast(disp))
      .crossJoin(broadcast(uniN.agg(max(col("n_all")).as("n_all"))))
      .withColumn("blocked_tables", col("n_all"))
      .drop("n_all")
    val cols = Seq("span", "split", "ts", "ddl_type", "influence",
      "blocked_tables")
    normal.select(cols.map(col): _*)
      .unionByName(db.select(cols.map(col): _*))
      .unionByName(global.select(cols.map(col): _*))
      .withColumn("verdict",
        when(col("influence") === "syncpoint", "block")
          .when(col("influence").isin("db", "all"), "block")
          .when(col("blocked_tables") > 1L, "block")
          .when(col("split") === 1L, "block")
          .otherwise("write_direct"))
      .withColumn("reason",
        when(col("influence") === "syncpoint", "syncpoint")
          .when(col("influence").isin("db", "all"), "influence_scope")
          .when(col("blocked_tables") > 1L, "multi_table")
          .when(col("split") === 1L, "split_span")
          .when(col("ddl_type") === "CREATE", "direct_notify_added")
          .otherwise("single_complete"))
  }

  def dispatcherBlockSql(): String = {
    val hot = Scheduler.hotSpansSql()
      .linesIterator.map("    " + _).mkString("\n")
    val ddl = SchemaStore.ddlEventsSql(Nil)
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH disp AS (
       |  SELECT span, SPLIT_PART(span, '.', 1) AS d_schema,
       |    SPLIT_PART(span, '.', 2) AS d_table, is_hot AS split
       |  FROM (
       |$hot
       |  ) h
       |), horizon AS (SELECT MAX(commit_ts) AS mx FROM changelog),
       |uni AS (SELECT DISTINCT schema_name, table_name FROM changelog),
       |unin AS (
       |  SELECT schema_name, CAST(COUNT(*) AS BIGINT) AS n_in_schema
       |  FROM uni GROUP BY 1
       |), unall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM uni),
       |ddlev AS (
       |  SELECT schema_name, table_name, valid_from AS ts, ddl_type,
       |    'normal' AS influence
       |  FROM (
       |$ddl
       |  ) d
       |), ev AS (
       |  SELECT schema_name, table_name, CAST(ts AS BIGINT) AS ts,
       |    ddl_type, influence FROM ddlev
       |  UNION ALL
       |  SELECT s.schema_name, '*', h.mx + $SyncStep, 'DROP_DATABASE', 'db'
       |  FROM (SELECT DISTINCT schema_name FROM changelog) s
       |  CROSS JOIN horizon h
       |  UNION ALL
       |  SELECT '*', '*', mx + 2 * $SyncStep, 'FLASHBACK', 'all'
       |  FROM horizon
       |  UNION ALL
       |  SELECT '*', '*', mx + (k + 2) * $SyncStep, 'SYNCPOINT', 'syncpoint'
       |  FROM horizon CROSS JOIN
       |    (SELECT UNNEST(GENERATE_SERIES(1, $SyncPoints)) AS k) g
       |  UNION ALL
       |  SELECT schema_name, table_name, mx + 6 * $SyncStep, 'RENAME',
       |    'normal2'
       |  FROM (SELECT schema_name, table_name,
       |          ROW_NUMBER() OVER (PARTITION BY schema_name
       |            ORDER BY table_name) AS rn
       |        FROM uni) r CROSS JOIN horizon
       |  WHERE r.rn <= 2
       |), fanned AS (
       |  SELECT d.span, d.split, e.ts, e.ddl_type, 'normal' AS influence,
       |    CAST(CASE WHEN e.influence = 'normal2' THEN 2 ELSE 1 END
       |      AS BIGINT) AS blocked_tables
       |  FROM ev e JOIN disp d
       |    ON e.influence LIKE 'normal%' AND e.schema_name = d.d_schema
       |    AND e.table_name = d.d_table
       |  UNION ALL
       |  SELECT d.span, d.split, e.ts, e.ddl_type, e.influence,
       |    n.n_in_schema
       |  FROM ev e JOIN disp d
       |    ON e.influence = 'db' AND e.schema_name = d.d_schema
       |  JOIN unin n ON n.schema_name = e.schema_name
       |  UNION ALL
       |  SELECT d.span, d.split, e.ts, e.ddl_type, e.influence, a.n_all
       |  FROM ev e CROSS JOIN disp d CROSS JOIN unall a
       |  WHERE e.influence IN ('all', 'syncpoint')
       |)
       |SELECT span, split, ts, ddl_type, influence, blocked_tables,
       |  CASE WHEN influence = 'syncpoint' THEN 'block'
       |    WHEN influence IN ('db', 'all') THEN 'block'
       |    WHEN blocked_tables > 1 THEN 'block'
       |    WHEN split = 1 THEN 'block'
       |    ELSE 'write_direct' END AS verdict,
       |  CASE WHEN influence = 'syncpoint' THEN 'syncpoint'
       |    WHEN influence IN ('db', 'all') THEN 'influence_scope'
       |    WHEN blocked_tables > 1 THEN 'multi_table'
       |    WHEN split = 1 THEN 'split_span'
       |    WHEN ddl_type = 'CREATE' THEN 'direct_notify_added'
       |    ELSE 'single_complete' END AS reason
       |FROM fanned""".stripMargin
  }
}
