package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.AsOf

/** Versioned schema store — the engine's equivalent of TiCDC's
  * `logservice/schemastore`: every DML is decoded against the table
  * schema *as of its commitTs* (`getTableInfo(ts)`), and DDL events
  * flow through the changefeed (filtered by pkg/filter/ddl.go rules).
  *
  * Schema versions are derived deterministically from the changelog
  * (a new version every `step` commit timestamps) so the DuckDB oracle
  * can reproduce them and check the as-of semantics with a native
  * ASOF JOIN.
  */
object SchemaStore {

  /** The table filter of [[schemaSnapshot]]. */
  val SnapshotRules: Seq[String] = Seq("db0.%", "db1.t1")

  /** Commit-ts cadence of schema versions (a new version every `step`
    * timestamps). Its own setting, not the syncpoint interval
    * ([[Materialize.SyncStep]]): syncpoints and DDLs are separate block
    * events, and the event service reads both grids. */
  val step = 1000L

  /** Deterministic version table: (schema, table, valid_from, schema_ver). */
  def schemaVersions(cl: DataFrame): DataFrame = {
    val tables = ClDims.tables(cl)
    val vs = ClDims.maxTs(cl)
      .select(explode(sequence(lit(0L), expr(s"m div $step"), lit(1L))).as("v"))
    tables.crossJoin(broadcast(vs))
      .select(col("schema_name"), col("table_name"),
        (col("v") * step).as("valid_from"),
        concat(lit("v"), col("v").cast("string")).as("schema_ver"))
  }

  val schemaVersionsSql: String =
    s"""SELECT t.schema_name, t.table_name,
       |  g.v * $step AS valid_from,
       |  CONCAT('v', CAST(g.v AS VARCHAR)) AS schema_ver
       |FROM (SELECT DISTINCT schema_name, table_name FROM changelog) t
       |CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, (SELECT MAX(commit_ts) FROM changelog) // $step)) AS v) g""".stripMargin

  /** A17: resolve each event against its as-of schema version. */
  def eventsWithSchema(cl: DataFrame): DataFrame = {
    val versions = schemaVersions(cl)
    AsOf.joinAsOf(
      cl.select(col("schema_name"), col("table_name"), col("pk"),
        col("commit_ts"), col("op")),
      versions,
      keys = Seq("schema_name", "table_name"),
      leftTs = "commit_ts", rightTs = "valid_from",
      payload = Seq("schema_ver"))
  }

  val eventsWithSchemaSql: String =
    s"""WITH versions AS ($schemaVersionsSql)
       |SELECT c.schema_name, c.table_name, c.pk, c.commit_ts, c.op, v.schema_ver
       |FROM changelog c
       |ASOF JOIN versions v
       |  ON c.schema_name = v.schema_name
       | AND c.table_name = v.table_name
       | AND c.commit_ts >= v.valid_from""".stripMargin

  /** A18: the DDL event stream implied by the version table — CREATE at
    * v0, ALTER at later versions — with a DDL-type filter applied
    * (reference: pkg/filter/ddl.go ignore rules). */
  def ddlEvents(cl: DataFrame, ignoreTypes: Seq[String]): DataFrame =
    schemaVersions(cl)
      .withColumn("ddl_type",
        when(col("valid_from") === 0L, lit("CREATE")).otherwise(lit("ALTER")))
      .withColumn("query",
        when(col("ddl_type") === "CREATE",
          concat(lit("CREATE TABLE "), col("schema_name"), lit("."), col("table_name"),
            lit(" (pk BIGINT PRIMARY KEY, value DOUBLE, props JSON)")))
        .otherwise(
          concat(lit("ALTER TABLE "), col("schema_name"), lit("."), col("table_name"),
            lit(" ADD COLUMN "), col("schema_ver"), lit(" BIGINT"))))
      .filter(!col("ddl_type").isin(ignoreTypes: _*))
      .select("schema_name", "table_name", "valid_from", "schema_ver", "ddl_type", "query")

  // ------------------------------------------------------------- A67/A68
  // Physical-table lifecycle — the `versionedTableInfoStore` apply rules
  // (reference: logservice/schemastore/multi_version.go:211-384):
  //   CREATE   appends the first info version;
  //   ALTER    (add/drop column, rename) appends an info version;
  //   TRUNCATE tombstones the old PHYSICAL table id (deleteVersion =
  //            finishedTs) and births a new physical id at that ts;
  //   DROP     tombstones the id; a deleted store receives no more DDL.
  // The DDL-job log is derived deterministically from the changelog (the
  // same boundary grid as A18, actions rotated by table ordinal) so the
  // DuckDB oracle reproduces it; the APPLY rules above are the part
  // under test. All frames here are dimension-scale (tables ×
  // boundaries), so global row_number windows are fine — the
  // corpus-scale side only ever joins against the result (A68, as-of).

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.expressions.Window

  /** Table universe with a dense 0-based ordinal (injective across
    * engines: unique (schema, table) pairs, total order). */
  private def tableUniverse(cl: DataFrame): DataFrame =
    ClDims.tables(cl)
      .withColumn("base",
        row_number().over(graft.util.Windows.bounded(col("schema_name"), col("table_name")))
          .cast("long") - 1L)

  /** Deterministic DDL-job log: at boundary v (ts = v·step), a table
    * with ordinal b gets TRUNCATE iff (b+v)%5=0, else DROP iff v=vmax
    * and b%7=3, else ALTER iff (3b+v)%4=0. */
  private def ddlJobs(cl: DataFrame): DataFrame = {
    val grid = cl.agg(expr(s"CAST(MAX(commit_ts) DIV $step AS BIGINT)").as("vmax"))
      .select(col("vmax"),
        explode(when(col("vmax") >= 1L, sequence(lit(1L), col("vmax")))
          .otherwise(array())).as("v"))
      .select(col("v"), (col("v") * step).as("ts"), col("vmax"))
    tableUniverse(cl).crossJoin(broadcast(grid))
      .withColumn("action",
        when(pmod(col("base") + col("v"), lit(5L)) === 0L, lit("TRUNCATE"))
          .when(col("v") === col("vmax") && pmod(col("base"), lit(7L)) === 3L, lit("DROP"))
          .when(pmod(col("base") * 3L + col("v"), lit(4L)) === 0L, lit("ALTER")))
      .filter(col("action").isNotNull)
      .select(col("schema_name"), col("table_name"), col("base"),
        col("v"), col("ts"), col("action"))
  }

  /** A67: one row per PHYSICAL table generation. `table_id` =
    * base·2²⁰ + generation (injective — the A52 collision lesson),
    * `born_ts` its birth (0 for the created generation, the truncate
    * ts after), `delete_ts` the tombstone (-1 while alive),
    * `n_schema_versions` the appended info count (birth + alters
    * landing inside the generation), `dropped` 1 iff closed by DROP. */
  def tableLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val cl = ChangeEvents.changelog(spark, dir)
    val jobs = ddlJobs(cl)
    val births = jobs.filter(col("action") === "TRUNCATE")
      .withColumn("g",
        row_number().over(Window.partitionBy(col("base")).orderBy(col("v"))).cast("long"))
      .select(col("schema_name"), col("table_name"), col("base"), col("g"),
        col("ts").as("born_ts"))
      .unionByName(tableUniverse(cl).select(col("schema_name"), col("table_name"),
        col("base"), lit(0L).as("g"), lit(0L).as("born_ts")))
    val drops = jobs.filter(col("action") === "DROP")
      .select(col("base"), col("ts").as("drop_ts"))
    val alters = jobs.filter(col("action") === "ALTER")
      .select(col("base"), col("ts").as("alter_ts"))
    // an alter lands in the latest generation born at or before it
    val altGen = alters.join(births.select(col("base"), col("g"), col("born_ts")), Seq("base"))
      .filter(col("born_ts") <= col("alter_ts"))
      .groupBy(col("base"), col("alter_ts")).agg(max(col("g")).as("g"))
      .groupBy(col("base"), col("g")).agg(count(lit(1)).as("n_alters"))
    births
      .withColumn("delete_ts",
        coalesce(lead(col("born_ts"), 1).over(
          Window.partitionBy(col("base")).orderBy(col("g"))), lit(-1L)))
      .join(drops, Seq("base"), "left")
      .withColumn("dropped",
        when(col("delete_ts") === -1L && col("drop_ts").isNotNull, 1L).otherwise(0L))
      .withColumn("delete_ts",
        when(col("dropped") === 1L, col("drop_ts")).otherwise(col("delete_ts")))
      .join(altGen, Seq("base", "g"), "left")
      .select(col("schema_name"), col("table_name"),
        (col("base") * 1048576L + col("g")).as("table_id"),
        col("g").as("generation"), col("born_ts"), col("delete_ts"),
        (lit(1L) + coalesce(col("n_alters"), lit(0L))).as("n_schema_versions"),
        col("dropped"))
  }

  /** The A67 derivation as a DuckDB CTE chain ending in `lifecycle`. */
  private val lifecycleCtes: String =
    s"""u AS (
       |  SELECT schema_name, table_name,
       |    ROW_NUMBER() OVER (ORDER BY schema_name, table_name) - 1 AS base
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog)
       |), grid AS (
       |  SELECT v, v * $step AS ts, vmax FROM
       |    (SELECT UNNEST(GENERATE_SERIES(1, vmax)) AS v, vmax
       |     FROM (SELECT MAX(commit_ts) // $step AS vmax FROM changelog))
       |), jobs AS (
       |  SELECT u.schema_name, u.table_name, u.base, g.v, g.ts,
       |    CASE WHEN (u.base + g.v) % 5 = 0 THEN 'TRUNCATE'
       |         WHEN g.v = g.vmax AND u.base % 7 = 3 THEN 'DROP'
       |         WHEN (u.base * 3 + g.v) % 4 = 0 THEN 'ALTER' END AS action
       |  FROM u CROSS JOIN grid g
       |), births AS (
       |  SELECT schema_name, table_name, base,
       |    ROW_NUMBER() OVER (PARTITION BY base ORDER BY v) AS g, ts AS born_ts
       |  FROM jobs WHERE action = 'TRUNCATE'
       |  UNION ALL
       |  SELECT schema_name, table_name, base, 0 AS g, 0 AS born_ts FROM u
       |), gen AS (
       |  SELECT *, COALESCE(LEAD(born_ts) OVER (PARTITION BY base ORDER BY g), -1) AS delete0
       |  FROM births
       |), drops AS (SELECT base, ts AS drop_ts FROM jobs WHERE action = 'DROP'),
       |alters AS (SELECT base, ts AS alter_ts FROM jobs WHERE action = 'ALTER'),
       |altgen AS (
       |  SELECT base, g, COUNT(*) AS n_alters FROM (
       |    SELECT a.base, a.alter_ts, MAX(b.g) AS g
       |    FROM alters a JOIN births b ON a.base = b.base AND b.born_ts <= a.alter_ts
       |    GROUP BY 1, 2)
       |  GROUP BY 1, 2
       |), lifecycle AS (
       |  SELECT gen.schema_name, gen.table_name,
       |    CAST(gen.base * 1048576 + gen.g AS BIGINT) AS table_id,
       |    CAST(gen.g AS BIGINT) AS generation,
       |    CAST(gen.born_ts AS BIGINT) AS born_ts,
       |    CAST(CASE WHEN gen.delete0 = -1 AND d.drop_ts IS NOT NULL
       |              THEN d.drop_ts ELSE gen.delete0 END AS BIGINT) AS delete_ts,
       |    CAST(1 + COALESCE(ag.n_alters, 0) AS BIGINT) AS n_schema_versions,
       |    CAST(CASE WHEN gen.delete0 = -1 AND d.drop_ts IS NOT NULL
       |              THEN 1 ELSE 0 END AS BIGINT) AS dropped
       |  FROM gen
       |  LEFT JOIN drops d ON gen.base = d.base
       |  LEFT JOIN altgen ag ON gen.base = ag.base AND gen.g = ag.g
       |)""".stripMargin

  val tableLifecycleSql: String =
    s"""WITH $lifecycleCtes
       |SELECT * FROM lifecycle""".stripMargin

  /** A74: the schemastore's other read API —
    * `getAllPhysicalTables(snapTs, tableFilter)` (reference:
    * logservice/schemastore/persist_storage.go:257-276 +
    * schema_store.go:213): the physical-table universe ALIVE at a
    * snapshot ts, with the A3 matcher rules applied, each table
    * carrying its generation and the info-version count as of the
    * snapshot (birth + alters landed at or before it). Probe ts =
    * max commit_ts div 2 — a deterministic mid-stream snapshot the
    * oracle replays. Everything here is dimension-scale. */
  def schemaSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val cl = ChangeEvents.changelog(spark, dir)
    val probe = cl.agg(expr(s"CAST(MAX(commit_ts) DIV 2 AS BIGINT)").as("snap_ts"))
    val alive = Filters.tableFilter(tableLifecycle(spark, dir), SnapshotRules)
      .crossJoin(broadcast(probe))
      .filter(col("born_ts") <= col("snap_ts") &&
        (col("delete_ts") === -1L || col("snap_ts") < col("delete_ts")))
      .withColumn("base", expr("table_id DIV 1048576"))
    val alters = ddlJobs(cl).filter(col("action") === "ALTER")
      .select(col("base"), col("ts"))
    alive.join(alters, Seq("base"), "left")
      .groupBy(col("schema_name"), col("table_name"), col("table_id"),
        col("generation"), col("born_ts"), col("snap_ts"))
      .agg(sum(when(col("ts") > col("born_ts") && col("ts") <= col("snap_ts"), 1L)
        .otherwise(0L)).as("n_alters"))
      .select(col("schema_name"), col("table_name"), col("table_id"),
        col("generation"), col("born_ts"), col("snap_ts"),
        (lit(1L) + col("n_alters")).as("n_versions_asof"))
  }

  def schemaSnapshotSql(): String =
    s"""WITH $lifecycleCtes,
       |snap AS (SELECT MAX(commit_ts) // 2 AS snap_ts FROM changelog),
       |alive AS (
       |  SELECT l.*, l.table_id // 1048576 AS base, s.snap_ts
       |  FROM lifecycle l CROSS JOIN snap s
       |  WHERE l.born_ts <= s.snap_ts
       |    AND (l.delete_ts = -1 OR s.snap_ts < l.delete_ts)
       |    AND ${Filters.tableFilterSql(SnapshotRules)
                  .replace("schema_name", "l.schema_name")
                  .replace("table_name", "l.table_name")}
       |), alt AS (SELECT base, ts FROM jobs WHERE action = 'ALTER')
       |SELECT a.schema_name, a.table_name, a.table_id, a.generation,
       |  a.born_ts, a.snap_ts,
       |  CAST(1 + COALESCE(SUM(CASE WHEN j.ts > a.born_ts AND j.ts <= a.snap_ts
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_versions_asof
       |FROM alive a LEFT JOIN alt j ON j.base = a.base
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** A103: the schemastore GC sweep — what survives `doGc(gcTs)`
    * (reference: logservice/schemastore/persist_storage.go:534-580 +
    * :581-630 `cleanObsoleteDataInMemory` + multi_version.go:131-157
    * `versionedTableInfoStore.gc`). The same event list is trimmed by
    * TWO deliberately different retention rules, and that contrast is
    * the behavior under test:
    *   - the INFO STORE keeps every version strictly after gcTs PLUS
    *     the floor (latest version at or before gcTs — readers at
    *     gcTs still need it; multi_version.go's `target-1` slice); a
    *     store whose deleteVersion ≤ gcTs is removed whole; a store
    *     whose versions ALL sit past gcTs (`target == 0`) keeps
    *     everything;
    *   - the DDL HISTORY keeps strictly-after ONLY (no floor), and a
    *     table whose history empties is dropped from the map
    *     (persist_storage.go:588-599); the table-trigger history gets
    *     the same strict trim globally (:602-606).
    * Sweep = three gcTs scenarios at quarter points of the stream
    * (doGc's monotone no-op guards make any increasing sweep valid).
    * All frames are dimension-scale (stores × versions × 3). */
  def schemaGc(spark: SparkSession, dir: String): DataFrame = {
    val cl = ChangeEvents.changelog(spark, dir)
    val lc = tableLifecycle(spark, dir)
      .withColumn("base", expr("table_id div 1048576"))
    val jobs = ddlJobs(cl)
    val gcs = ClDims.maxTs(cl).select(col("m").as("mx"))
      .select(explode(sequence(lit(1L), lit(3L))).as("k"), col("mx"))
      .select((col("k") * call_function("div", col("mx"), lit(4L))).as("gc_ts"))
    val vers = lc.select(col("table_id"), col("born_ts").as("ver_ts"))
      .unionByName(
        jobs.filter(col("action") === "ALTER").select(col("base"), col("ts"))
          .join(lc.select(col("base"), col("table_id"), col("born_ts"),
            col("delete_ts")), Seq("base"))
          .filter(col("born_ts") <= col("ts") &&
            (col("delete_ts") === -1L || col("ts") < col("delete_ts")))
          .select(col("table_id"), col("ts").as("ver_ts")))
    val perStore = vers.crossJoin(broadcast(gcs))
      .groupBy(col("gc_ts"), col("table_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("ver_ts") <= col("gc_ts"), 1L).otherwise(0L)).as("n_le"),
        max(when(col("ver_ts") <= col("gc_ts"), col("ver_ts"))).as("floor_ts"),
        min(col("ver_ts")).as("min_ts"))
    val trig = jobs.crossJoin(broadcast(gcs))
      .groupBy(col("gc_ts"))
      .agg(sum(when(col("ts") > col("gc_ts"), 1L).otherwise(0L))
        .as("n_trigger_kept"))
    perStore
      .join(lc.select(col("schema_name"), col("table_name"), col("table_id"),
        col("delete_ts")), Seq("table_id"))
      .withColumn("removed",
        when(col("delete_ts") =!= -1L && col("delete_ts") <= col("gc_ts"), 1L)
          .otherwise(0L))
      .withColumn("n_versions_kept",
        when(col("removed") === 1L, 0L)
          .when(col("n_le") > 0L, col("n_total") - col("n_le") + 1L)
          .otherwise(col("n_total")))
      .withColumn("kept_from_ts",
        when(col("removed") === 1L, lit(-1L))
          .when(col("n_le") > 0L, col("floor_ts"))
          .otherwise(col("min_ts")))
      .withColumn("n_hist_kept", col("n_total") - col("n_le"))
      .withColumn("hist_removed",
        when(col("n_hist_kept") === 0L, 1L).otherwise(0L))
      // LEFT: a stream too short for any DDL boundary (sf0.001) has an
      // EMPTY job log — the trigger history is 0, not a vanished frame
      .join(broadcast(trig), Seq("gc_ts"), "left")
      .select(col("gc_ts"), col("schema_name"), col("table_name"),
        col("table_id"), col("removed"), col("kept_from_ts"),
        col("n_versions_kept"),
        (col("n_total") - col("n_versions_kept")).as("n_versions_dropped"),
        col("n_hist_kept"), col("hist_removed"),
        coalesce(col("n_trigger_kept"), lit(0L)).as("n_trigger_kept"))
  }

  val schemaGcSql: String =
    s"""WITH $lifecycleCtes,
       |gcs AS (
       |  SELECT CAST(k * ((SELECT MAX(commit_ts) FROM changelog) // 4)
       |    AS BIGINT) AS gc_ts
       |  FROM (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS k)
       |), vers AS (
       |  SELECT table_id, born_ts AS ver_ts FROM lifecycle
       |  UNION ALL
       |  SELECT l.table_id, a.ts AS ver_ts
       |  FROM (SELECT base, ts FROM jobs WHERE action = 'ALTER') a
       |  JOIN lifecycle l ON l.table_id // 1048576 = a.base
       |    AND l.born_ts <= a.ts
       |    AND (l.delete_ts = -1 OR a.ts < l.delete_ts)
       |), per_store AS (
       |  SELECT g.gc_ts, v.table_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_total,
       |    CAST(SUM(CASE WHEN v.ver_ts <= g.gc_ts THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_le,
       |    MAX(CASE WHEN v.ver_ts <= g.gc_ts THEN v.ver_ts END) AS floor_ts,
       |    MIN(v.ver_ts) AS min_ts
       |  FROM vers v CROSS JOIN gcs g GROUP BY 1, 2
       |), trig AS (
       |  SELECT g.gc_ts,
       |    CAST(SUM(CASE WHEN j.ts > g.gc_ts THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_trigger_kept
       |  FROM jobs j CROSS JOIN gcs g
       |  WHERE j.action IS NOT NULL GROUP BY 1
       |)
       |SELECT p.gc_ts, l.schema_name, l.table_name, p.table_id,
       |  CAST(CASE WHEN l.delete_ts <> -1 AND l.delete_ts <= p.gc_ts
       |    THEN 1 ELSE 0 END AS BIGINT) AS removed,
       |  CAST(CASE WHEN l.delete_ts <> -1 AND l.delete_ts <= p.gc_ts THEN -1
       |    WHEN p.n_le > 0 THEN p.floor_ts ELSE p.min_ts END
       |    AS BIGINT) AS kept_from_ts,
       |  CAST(CASE WHEN l.delete_ts <> -1 AND l.delete_ts <= p.gc_ts THEN 0
       |    WHEN p.n_le > 0 THEN p.n_total - p.n_le + 1
       |    ELSE p.n_total END AS BIGINT) AS n_versions_kept,
       |  CAST(p.n_total - (CASE WHEN l.delete_ts <> -1
       |      AND l.delete_ts <= p.gc_ts THEN 0
       |    WHEN p.n_le > 0 THEN p.n_total - p.n_le + 1
       |    ELSE p.n_total END) AS BIGINT) AS n_versions_dropped,
       |  CAST(p.n_total - p.n_le AS BIGINT) AS n_hist_kept,
       |  CAST(CASE WHEN p.n_total - p.n_le = 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS hist_removed,
       |  COALESCE(t.n_trigger_kept, 0) AS n_trigger_kept
       |FROM per_store p
       |JOIN lifecycle l ON l.table_id = p.table_id
       |LEFT JOIN trig t ON t.gc_ts = p.gc_ts""".stripMargin

  /** A68: resolve every changelog event to the physical table
    * generation alive at its commitTs (`getTableInfo(ts)` against the
    * A67 store). Events landing at or after a tombstone — DML the
    * reference would reject on a deleted store — carry `alive` = 0.
    * One union-tag as-of shuffle; the lifecycle side is
    * dimension-scale. */
  def eventPhysicalTable(spark: SparkSession, dir: String): DataFrame = {
    val cl = ChangeEvents.changelog(spark, dir)
    val lc = tableLifecycle(spark, dir)
      .select(col("schema_name"), col("table_name"), col("born_ts"),
        col("table_id"), col("delete_ts"))
    AsOf.joinAsOf(
      cl.select(col("schema_name"), col("table_name"), col("pk"),
        col("commit_ts"), col("op")),
      lc, keys = Seq("schema_name", "table_name"),
      leftTs = "commit_ts", rightTs = "born_ts",
      payload = Seq("table_id", "delete_ts"))
      .withColumn("alive",
        when(col("delete_ts") === -1L || col("commit_ts") < col("delete_ts"), 1L)
          .otherwise(0L))
      .select(col("schema_name"), col("table_name"), col("pk"), col("commit_ts"),
        col("op"), col("table_id"), col("alive"))
  }

  val eventPhysicalTableSql: String =
    s"""WITH $lifecycleCtes
       |SELECT c.schema_name, c.table_name, c.pk, c.commit_ts, c.op,
       |  l.table_id,
       |  CAST(CASE WHEN l.delete_ts = -1 OR c.commit_ts < l.delete_ts
       |            THEN 1 ELSE 0 END AS BIGINT) AS alive
       |FROM changelog c
       |ASOF JOIN lifecycle l
       |  ON c.schema_name = l.schema_name
       | AND c.table_name = l.table_name
       | AND c.commit_ts >= l.born_ts""".stripMargin

  def ddlEventsSql(ignoreTypes: Seq[String]): String = {
    val ignoreList = ignoreTypes.map(t => s"'$t'").mkString(", ")
    val ignoreClause = if (ignoreTypes.isEmpty) "" else s"WHERE ddl_type NOT IN ($ignoreList)"
    s"""WITH versions AS ($schemaVersionsSql),
       |ddl AS (
       |  SELECT schema_name, table_name, valid_from, schema_ver,
       |    CASE WHEN valid_from = 0 THEN 'CREATE' ELSE 'ALTER' END AS ddl_type
       |  FROM versions
       |)
       |SELECT schema_name, table_name, valid_from, schema_ver, ddl_type,
       |  CASE WHEN ddl_type = 'CREATE'
       |    THEN CONCAT('CREATE TABLE ', schema_name, '.', table_name,
       |                ' (pk BIGINT PRIMARY KEY, value DOUBLE, props JSON)')
       |    ELSE CONCAT('ALTER TABLE ', schema_name, '.', table_name,
       |                ' ADD COLUMN ', schema_ver, ' BIGINT')
       |  END AS query
       |FROM ddl $ignoreClause""".stripMargin
  }

  // --------------------------------------------------------------- A107
  /** A107: the schemastore's persist-KV layout (reference:
    * logservice/schemastore/disk_format.go:35-93) — the on-disk key
    * space a restarting schemastore reads back: snapshot rows
    * `ss_{ts}{schema_id}` / `st_{ts}{table_id}`, DDL jobs
    * `ds_{finished_ts}` (finished ts unique — here v·step + base,
    * injective because base < step), and the two metadata cells
    * `gc` → snapshot_ts and `up` → (max_finished_ddl_ts,
    * schema_version, resolved_ts). The VALIDITY rule of :45-47 is the
    * point: live data = the snapshot at snapshot_ts plus DDL jobs in
    * (snapshot_ts, upperBound] — a DDL at ts ≤ snapshot_ts is residue
    * already folded into the snapshot (GC sweeps it), one above the
    * upper bound is not yet persisted (restart re-pulls from
    * resolved_ts). snapshot_ts = the commit-ts span midpoint,
    * upperBound = its 3rd quartile, and every table persists three
    * jobs at the 25/50/75% span points (+base, keeping finished ts
    * unique), so all three arms fire at every SF. All fields
    * fixed-width big-endian hex (the A104
    * discipline), so byte order == (prefix, ts, id) tuple order —
    * `pos_bykey`/`pos_bytuple` make the invariant oracle-visible; the
    * ASCII prefixes themselves order ds_ < gc < ss_ < st_ < up, which
    * the rank pair also pins. Dimension-scale frames only (table
    * universe × DDL grid); one bounded global rank window pair. */
  def schemaPersistKey(cl: DataFrame): DataFrame = {
    def w16(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 16, "0")
    // Quartile-anchored bounds + per-table DDL finish ts: every table
    // persists three jobs at the global span's 25/50/75% points (+base
    // for the unique-finished-ts contract — injective while #tables <
    // span/4, which any non-degenerate changefeed satisfies), so all
    // three validity arms fire at every SF.
    val bounds = cl.agg(min(col("commit_ts")).as("lo"),
        max(col("commit_ts")).as("hi"))
      .select(col("lo"), col("hi"),
        (col("lo") + expr("(hi - lo) div 2")).as("gc_ts"),
        (col("lo") + expr("(3 * (hi - lo)) div 4")).as("upper_ts"))
    val schemas = cl.select(col("schema_name")).distinct()
      .withColumn("schema_id",
        row_number().over(graft.util.Windows.bounded(col("schema_name"))).cast("long") - 1L)
    val tables = tableUniverse(cl)
    val ddls = tables
      .select(col("schema_name"), col("table_name"), col("base"),
        explode(expr("sequence(1L, 3L)")).as("j"))
      .crossJoin(broadcast(bounds))
      .select(col("schema_name"), col("table_name"),
        (col("lo") + expr("(j * (hi - lo)) div 4") + col("base")).as("ts"))
    val sKeys = schemas.crossJoin(broadcast(bounds))
      .select(lit("snapshot_schema").as("key_kind"), col("schema_name"),
        lit("").as("table_name"), col("schema_id").as("entity_id"),
        col("gc_ts").as("ts"),
        concat(lit("73735f"), w16(col("gc_ts")), w16(col("schema_id")))
          .as("key_hex"),
        lit("").as("value_hex"), lit(1L).as("valid"), lit("live").as("reason"))
    val tKeys = tables.crossJoin(broadcast(bounds))
      .select(lit("snapshot_table").as("key_kind"), col("schema_name"),
        col("table_name"), col("base").as("entity_id"),
        col("gc_ts").as("ts"),
        concat(lit("73745f"), w16(col("gc_ts")), w16(col("base")))
          .as("key_hex"),
        lit("").as("value_hex"), lit(1L).as("valid"), lit("live").as("reason"))
    val dKeys = ddls.crossJoin(broadcast(bounds))
      .select(lit("ddl_job").as("key_kind"), col("schema_name"),
        col("table_name"), lit(-1L).as("entity_id"), col("ts"),
        concat(lit("64735f"), w16(col("ts"))).as("key_hex"),
        lit("").as("value_hex"),
        when(col("ts") > col("gc_ts") && col("ts") <= col("upper_ts"), 1L)
          .otherwise(0L).as("valid"),
        when(col("ts") <= col("gc_ts"), "covered_by_snapshot")
          .when(col("ts") > col("upper_ts"), "beyond_upper")
          .otherwise("live").as("reason"))
    val meta = bounds.select(explode(array(
        struct(lit("meta_gc").as("key_kind"), lit("6763").as("key_hex"),
          w16(col("gc_ts")).as("value_hex")),
        struct(lit("meta_upper").as("key_kind"), lit("7570").as("key_hex"),
          concat(w16(col("upper_ts")), w16(expr("(upper_ts div 1000)")),
            w16(col("upper_ts") + 50L)).as("value_hex")))).as("m"))
      .select(col("m.key_kind").as("key_kind"), lit("").as("schema_name"),
        lit("").as("table_name"), lit(-1L).as("entity_id"), lit(-1L).as("ts"),
        col("m.key_hex").as("key_hex"), col("m.value_hex").as("value_hex"),
        lit(1L).as("valid"), lit("live").as("reason"))
    val all = sKeys.unionAll(tKeys).unionAll(dKeys).unionAll(meta)
      .withColumn("kind_rank",
        when(col("key_kind") === "ddl_job", 0L)
          .when(col("key_kind") === "meta_gc", 1L)
          .when(col("key_kind") === "snapshot_schema", 2L)
          .when(col("key_kind") === "snapshot_table", 3L)
          .otherwise(4L))
    // (schema_name, table_name) tie-breaks BOTH rankings: finished-ts
    // uniqueness (ts = lo + j*(hi-lo)/4 + base) is injective only while
    // #tables < span/4 — on a degenerate span two ddl_job rows would
    // share key_hex and an un-tie-broken ROW_NUMBER pair would order
    // them arbitrarily per engine. The same suffix on both orders keeps
    // order_preserved deterministic even then.
    all
      .withColumn("pos_bykey",
        row_number().over(graft.util.Windows.bounded(col("key_hex"), col("schema_name"),
          col("table_name"))).cast("long"))
      .withColumn("pos_bytuple",
        row_number().over(graft.util.Windows.bounded(col("kind_rank"), col("ts"),
          col("entity_id"), col("schema_name"), col("table_name")))
          .cast("long"))
      .select(col("key_kind"), col("schema_name"), col("table_name"),
        col("entity_id"), col("ts"), col("key_hex"), col("value_hex"),
        col("valid"), col("reason"), col("pos_bykey"), col("pos_bytuple"),
        (col("pos_bykey") === col("pos_bytuple")).cast("long")
          .as("order_preserved"))
  }

  def schemaPersistKeySql(): String = {
    def w16(e: String) = s"lpad(lower(to_hex($e)), 16, '0')"
    s"""WITH universe AS (
       |  SELECT schema_name, table_name,
       |    CAST(ROW_NUMBER() OVER (ORDER BY schema_name, table_name)
       |      AS BIGINT) - 1 AS base
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog)
       |), bounds AS (
       |  SELECT
       |    CAST(MIN(commit_ts) + (MAX(commit_ts) - MIN(commit_ts)) // 2
       |      AS BIGINT) AS gc_ts,
       |    CAST(MIN(commit_ts) + (3 * (MAX(commit_ts) - MIN(commit_ts))) // 4
       |      AS BIGINT) AS upper_ts,
       |    CAST(MIN(commit_ts) AS BIGINT) AS lo,
       |    CAST(MAX(commit_ts) AS BIGINT) AS hi
       |  FROM changelog
       |), jobs AS (
       |  SELECT u.schema_name, u.table_name,
       |    CAST(b.lo + (j.j * (b.hi - b.lo)) // 4 + u.base AS BIGINT) AS ts
       |  FROM universe u
       |  CROSS JOIN bounds b
       |  CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS j) j
       |), schemas AS (
       |  SELECT schema_name,
       |    CAST(ROW_NUMBER() OVER (ORDER BY schema_name) AS BIGINT) - 1
       |      AS schema_id
       |  FROM (SELECT DISTINCT schema_name FROM changelog)
       |), allkeys AS (
       |  SELECT 'snapshot_schema' AS key_kind, s.schema_name,
       |    '' AS table_name, s.schema_id AS entity_id, b.gc_ts AS ts,
       |    '73735f' || ${w16("b.gc_ts")} || ${w16("s.schema_id")} AS key_hex,
       |    '' AS value_hex, CAST(1 AS BIGINT) AS valid, 'live' AS reason,
       |    CAST(2 AS BIGINT) AS kind_rank
       |  FROM schemas s CROSS JOIN bounds b
       |  UNION ALL
       |  SELECT 'snapshot_table', u.schema_name, u.table_name, u.base,
       |    b.gc_ts,
       |    '73745f' || ${w16("b.gc_ts")} || ${w16("u.base")},
       |    '', 1, 'live', 3
       |  FROM universe u CROSS JOIN bounds b
       |  UNION ALL
       |  SELECT 'ddl_job', j.schema_name, j.table_name, -1, j.ts,
       |    '64735f' || ${w16("j.ts")}, '',
       |    CAST(CASE WHEN j.ts > b.gc_ts AND j.ts <= b.upper_ts
       |      THEN 1 ELSE 0 END AS BIGINT),
       |    CASE WHEN j.ts <= b.gc_ts THEN 'covered_by_snapshot'
       |      WHEN j.ts > b.upper_ts THEN 'beyond_upper'
       |      ELSE 'live' END, 0
       |  FROM jobs j CROSS JOIN bounds b
       |  UNION ALL
       |  SELECT 'meta_gc', '', '', -1, -1, '6763',
       |    ${w16("b.gc_ts")}, 1, 'live', 1
       |  FROM bounds b
       |  UNION ALL
       |  SELECT 'meta_upper', '', '', -1, -1, '7570',
       |    ${w16("b.upper_ts")} || ${w16("(b.upper_ts // 1000)")}
       |      || ${w16("b.upper_ts + 50")}, 1, 'live', 4
       |  FROM bounds b
       |)
       |SELECT key_kind, schema_name, table_name, entity_id, ts, key_hex,
       |  value_hex, valid, reason,
       |  CAST(ROW_NUMBER() OVER (ORDER BY key_hex, schema_name, table_name)
       |    AS BIGINT) AS pos_bykey,
       |  CAST(ROW_NUMBER() OVER (ORDER BY kind_rank, ts, entity_id,
       |    schema_name, table_name) AS BIGINT) AS pos_bytuple,
       |  CAST((ROW_NUMBER() OVER (ORDER BY key_hex, schema_name, table_name)) =
       |    (ROW_NUMBER() OVER (ORDER BY kind_rank, ts, entity_id,
       |      schema_name, table_name))
       |    AS BIGINT) AS order_preserved
       |FROM allkeys""".stripMargin
  }
}
