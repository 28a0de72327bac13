package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A75/A76 — the maintainer's coordination plane: DDL/syncpoint barrier
  * resolution and changefeed watermark aggregation.
  *
  * A75 (reference: maintainer/barrier.go:26-106 `Barrier.HandleStatus` +
  * maintainer/barrier_event.go:57-165): dispatchers report block events
  * (DDLs and syncpoints); the maintainer keys them by
  * `(blockTs, isSyncPoint)` (barrier.go:43-47 `eventKey` — distinct
  * events sharing a commitTs merge under one barrier, and a DDL and a
  * syncpoint at the same ts stay distinct), waits until every influenced
  * dispatcher has reported (`TableCountChecker` coverage,
  * barrier_event.go:76-112), then selects ONE writer dispatcher and
  * sends everyone else a pass action (barrier_event.go:124-165
  * `onAllDispatcherReportedBlockEvent` + :226-277 `sendPassAction`,
  * which skips the writer). Writer selection: db/all influence → always
  * the table-trigger event dispatcher; normal influence → the LAST
  * dispatcher to report, unless the trigger dispatcher is itself
  * blocked (`tableTriggerDispatcherRelated`), in which case the trigger
  * wins (barrier_event.go:127-146).
  *
  * The blocked sets follow the schemastore's `buildDDLEvent` taxonomy
  * (logservice/schemastore/persist_storage.go:1487-1560): CREATE TABLE
  * blocks only the trigger span; table-local DDLs (ALTER/DROP TABLE)
  * block their own span plus the trigger; DROP DATABASE blocks the
  * schema (db influence); FLASHBACK blocks everything (all influence).
  * Syncpoints block every dispatcher (sync_point_event.go).
  *
  * Determinism stand-ins, documented for the oracle: the reference
  * reserves table id 0 for the trigger's DDL span
  * (heartbeatpb/table_span.go:10-17); our deterministic universe ids
  * start at 0, so the trigger sits at -1 — the reserved-id convention,
  * not the literal constant. "Last reporter" is modeled as the highest
  * dispatcher id (reports arrive in dispatcher-id order), exercised by
  * the no-trigger spec arm; the production-derived stream always blocks
  * the trigger, exactly like the reference's real DDLs.
  *
  * Scale shape: block events are dimension-scale (tables × schema
  * versions + the boundary grid) — the only full-data pass is the
  * `spanFrontier`/`schemaVersions` inputs they derive from. The barrier
  * frame itself is one small partial-aggregated shuffle plus windows
  * over the same key partitioning (no second exchange).
  */
object Barrier {
  import Materialize.SyncStep

  /** The table-trigger event dispatcher (heartbeatpb DDLSpan). */
  val TriggerDispatcher = -1L

  /** A table's dispatcher id: its [[ClDims.tableId]], as BIGINT. */
  private val dispId: Column =
    ClDims.tableId(col("schema_name"), col("table_name")).cast("bigint")

  private val dispIdSql =
    s"CAST(${ClDims.tableIdSql("schema_name", "table_name")} AS BIGINT)"

  /** Influence severity: normal < db < all (barrier_event.go:127-129
    * folds db and all into the trigger-writer arm). */
  private val sevToInfluence: Column =
    when(col("key_sev") === 2, "all")
      .when(col("key_sev") === 1, "db")
      .otherwise(lit("normal"))

  /** The pre-expanded blocked-dispatcher rows the production stream
    * implies: one row per (block event, blocked dispatcher).
    *
    *  - every DDL (CREATE at v0, ALTER at later versions — the A18
    *    stream) blocks the trigger span (persist_storage.go:1504-1507,
    *    :1552-1555);
    *  - ALTERs additionally block their own table span;
    *  - every syncpoint boundary (the A16 cadence) blocks ALL
    *    dispatchers including the trigger.
    */
  def blockedEvents(cl: DataFrame): DataFrame = {
    val uni = ClDims.tables(cl)
      .withColumn("dispatcher_id", dispId)
    val versions = SchemaStore.schemaVersions(cl)
      .withColumn("event_tag", concat_ws(".", col("schema_name"), col("table_name")))
    val ddlTrigger = versions.select(
      col("valid_from").as("block_ts"), lit(0L).as("is_syncpoint"),
      col("event_tag"), lit(0).as("sev"),
      lit(TriggerDispatcher).as("dispatcher_id"))
    val ddlSelf = versions.filter(col("valid_from") > 0L).select(
      col("valid_from").as("block_ts"), lit(0L).as("is_syncpoint"),
      col("event_tag"), lit(0).as("sev"),
      dispId.as("dispatcher_id"))
    // empty-safe boundary grid, the A16 syncpoint cadence
    val bounds = ClDims.maxTs(cl)
      .select(explode(when(col("m") >= SyncStep,
        sequence(lit(SyncStep), col("m"), lit(SyncStep)))
        .otherwise(array().cast("array<long>"))).as("block_ts"))
    val syncTables = bounds.crossJoin(broadcast(uni)).select(
      col("block_ts"), lit(1L).as("is_syncpoint"),
      lit("syncpoint").as("event_tag"), lit(2).as("sev"), col("dispatcher_id"))
    val syncTrigger = bounds.select(
      col("block_ts"), lit(1L).as("is_syncpoint"),
      lit("syncpoint").as("event_tag"), lit(2).as("sev"),
      lit(TriggerDispatcher).as("dispatcher_id"))
    ddlTrigger.unionByName(ddlSelf).unionByName(syncTables).unionByName(syncTrigger)
  }

  /** Barrier resolution over pre-expanded blocked rows
    * `(block_ts, is_syncpoint, event_tag, sev, dispatcher_id)` — the
    * spec drives the db-influence and no-trigger (last-reporter) arms
    * through this entry point with handcrafted frames, exactly as the
    * reference's own barrier tests do.
    *
    * One partial-aggregated shuffle on `(block_ts, is_syncpoint,
    * dispatcher_id)`, then windows over the barrier key — same
    * partitioning, no extra exchange. */
  def frame(blocked: DataFrame): DataFrame = {
    val perDisp = blocked
      .groupBy(col("block_ts"), col("is_syncpoint"), col("dispatcher_id"))
      .agg(max(col("sev")).as("disp_sev"),
        countDistinct(col("event_tag")).as("n_blocking_events"))
    val w = Window.partitionBy(col("block_ts"), col("is_syncpoint"))
    perDisp
      .withColumn("key_sev", max(col("disp_sev")).over(w))
      .withColumn("has_trigger",
        max((col("dispatcher_id") === TriggerDispatcher).cast("int")).over(w))
      .withColumn("expected_reports", count(lit(1)).over(w))
      // barrier_event.go:127-146: db/all → trigger; normal → trigger if
      // blocked (tableTriggerDispatcherRelated), else the last reporter
      .withColumn("writer",
        when(col("key_sev") >= 1 || col("has_trigger") === 1,
          lit(TriggerDispatcher))
          .otherwise(max(col("dispatcher_id")).over(w)))
      .select(
        col("block_ts"), col("is_syncpoint"), col("dispatcher_id"),
        col("n_blocking_events"), sevToInfluence.as("influence"),
        col("expected_reports"),
        (col("dispatcher_id") === col("writer")).cast("long").as("is_writer"),
        when(col("dispatcher_id") === col("writer"), "write")
          .otherwise(lit("pass")).as("action"))
  }

  /** A75 production query: barrier resolution of the derived DDL +
    * syncpoint block-event stream. */
  def ddlBarrier(cl: DataFrame): DataFrame =
    frame(blockedEvents(cl))

  def ddlBarrierSql: String =
    s"""WITH versions AS (${SchemaStore.schemaVersionsSql}),
       |uni AS (
       |  SELECT DISTINCT schema_name, table_name, $dispIdSql AS dispatcher_id
       |  FROM changelog
       |),
       |bounds AS (
       |  SELECT UNNEST(GENERATE_SERIES($SyncStep,
       |    (SELECT MAX(commit_ts) FROM changelog), $SyncStep)) AS block_ts
       |),
       |blocked AS (
       |  SELECT valid_from AS block_ts, CAST(0 AS BIGINT) AS is_syncpoint,
       |    schema_name || '.' || table_name AS event_tag, 0 AS sev,
       |    CAST(-1 AS BIGINT) AS dispatcher_id
       |  FROM versions
       |  UNION ALL
       |  SELECT valid_from, CAST(0 AS BIGINT),
       |    schema_name || '.' || table_name, 0, $dispIdSql
       |  FROM versions WHERE valid_from > 0
       |  UNION ALL
       |  SELECT b.block_ts, CAST(1 AS BIGINT), 'syncpoint', 2, u.dispatcher_id
       |  FROM bounds b CROSS JOIN uni u
       |  UNION ALL
       |  SELECT b.block_ts, CAST(1 AS BIGINT), 'syncpoint', 2, CAST(-1 AS BIGINT)
       |  FROM bounds b
       |),
       |per_disp AS (
       |  SELECT block_ts, is_syncpoint, dispatcher_id,
       |    MAX(sev) AS disp_sev,
       |    CAST(COUNT(DISTINCT event_tag) AS BIGINT) AS n_blocking_events
       |  FROM blocked GROUP BY 1, 2, 3
       |),
       |keyed AS (
       |  SELECT *,
       |    MAX(disp_sev) OVER w AS key_sev,
       |    MAX(CASE WHEN dispatcher_id = -1 THEN 1 ELSE 0 END) OVER w AS has_trigger,
       |    CAST(COUNT(*) OVER w AS BIGINT) AS expected_reports,
       |    MAX(dispatcher_id) OVER w AS max_disp
       |  FROM per_disp
       |  WINDOW w AS (PARTITION BY block_ts, is_syncpoint)
       |)
       |SELECT block_ts, is_syncpoint, dispatcher_id, n_blocking_events,
       |  CASE key_sev WHEN 2 THEN 'all' WHEN 1 THEN 'db' ELSE 'normal' END AS influence,
       |  expected_reports,
       |  CAST(CASE WHEN dispatcher_id =
       |    (CASE WHEN key_sev >= 1 OR has_trigger = 1 THEN -1 ELSE max_disp END)
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_writer,
       |  CASE WHEN dispatcher_id =
       |    (CASE WHEN key_sev >= 1 OR has_trigger = 1 THEN -1 ELSE max_disp END)
       |    THEN 'write' ELSE 'pass' END AS action
       |FROM keyed""".stripMargin

  // ------------------------------------------------------------------
  // A76 — changefeed watermark aggregation
  // ------------------------------------------------------------------

  /** BIGINT stand-in for `NewMaxWatermark`'s MaxUint64 seed
    * (heartbeatpb/watermark_util.go:28-33). */
  val MaxWatermark: Long = Long.MaxValue

  /** A76 (reference: heartbeatpb/watermark_util.go:18-33 `UpdateMin` +
    * `NewMaxWatermark`, consumed by the maintainer's heartbeat collect
    * loop): the changefeed watermark is the COMPONENT-WISE minimum of
    * its dispatchers' watermarks — checkpointTs and resolvedTs minimize
    * independently, so the aggregated pair may come from two different
    * spans — seeded at MaxUint64 so a changefeed with no spans reports
    * the max watermark.
    *
    * Per-span watermarks derive from the A69 span frontier: a span's
    * resolvedTs is its region-minimum frontier; its checkpointTs is the
    * last syncpoint-aligned flush boundary at or below it (the sink
    * flushes in cadence batches; resolved advances continuously).
    * Changefeeds are table-rule filter configs (pkg/filter), matched
    * with SQL LIKE patterns.
    *
    * Output per changefeed: span count, aggregated watermark pair, the
    * lag between the components, and the slowest span (argmin by
    * checkpoint, ties to the lexicographically first span — the strict
    * comparison discipline of A69). Scale shape: spans are
    * dimension-scale (one row per table after the frontier reduce); the
    * rule match is a broadcast nested loop over (changefeeds × tables);
    * one final aggregation on the handful of changefeed keys. */
  def watermarkAgg(cl: DataFrame,
                   changefeeds: Seq[(String, Seq[String])]): DataFrame = {
    val spark = cl.sparkSession
    import spark.implicits._
    val defs = changefeeds.flatMap { case (cf, rules) =>
      rules.map(r => (cf, r))
    }.toDF("changefeed", "rule")
    val spans = Materialize.spanFrontier(cl)
      .select(col("schema_name"), col("table_name"),
        col("frontier_ts").as("resolved_ts"),
        expr(s"(frontier_ts div $SyncStep) * $SyncStep").as("checkpoint_ts"),
        concat_ws(".", col("schema_name"), col("table_name")).as("span"))
    val members = defs
      .join(broadcast(spans), expr("span LIKE rule"), "left")
      .select(col("changefeed"), col("span"),
        col("checkpoint_ts"), col("resolved_ts"))
      .distinct() // a span matching two rules of one changefeed counts once
    val wcf = Window.partitionBy(col("changefeed"))
    members
      .withColumn("min_cp", min(col("checkpoint_ts")).over(wcf))
      .groupBy(col("changefeed"))
      .agg(
        count(col("span")).as("n_spans"),
        coalesce(min(col("checkpoint_ts")), lit(MaxWatermark)).as("checkpoint_ts"),
        coalesce(min(col("resolved_ts")), lit(MaxWatermark)).as("resolved_ts"),
        min(when(col("checkpoint_ts") === col("min_cp"), col("span")))
          .as("slowest_span"))
      .select(col("changefeed"), col("n_spans"), col("checkpoint_ts"),
        col("resolved_ts"),
        when(col("n_spans") > 0, col("resolved_ts") - col("checkpoint_ts"))
          .otherwise(lit(0L)).as("lag_ts"),
        col("slowest_span"))
  }

  /** The A76 pipeline as a reusable CTE chain ending in `wm` —
    * A78's safepoint query extends it. */
  private def watermarkCtes(changefeeds: Seq[(String, Seq[String])]): String = {
    val defRows = changefeeds.flatMap { case (cf, rules) =>
      rules.map(r => s"('$cf', '$r')")
    }.mkString(", ")
    s"""regions AS (
       |  SELECT schema_name, table_name,
       |    ${Scheduler.pkRegionSql()} AS region_id,
       |    MAX(commit_ts) AS rts
       |  FROM changelog GROUP BY 1, 2, 3
       |),
       |spans AS (
       |  SELECT schema_name || '.' || table_name AS span,
       |    MIN(rts) AS resolved_ts,
       |    (MIN(rts) // $SyncStep) * $SyncStep AS checkpoint_ts
       |  FROM regions GROUP BY schema_name, table_name
       |),
       |defs(changefeed, rule) AS (VALUES $defRows),
       |members AS (
       |  SELECT DISTINCT d.changefeed, s.span, s.checkpoint_ts, s.resolved_ts
       |  FROM defs d LEFT JOIN spans s ON s.span LIKE d.rule
       |),
       |windowed AS (
       |  SELECT *, MIN(checkpoint_ts) OVER (PARTITION BY changefeed) AS min_cp
       |  FROM members
       |),
       |wm AS (
       |  SELECT changefeed, CAST(COUNT(span) AS BIGINT) AS n_spans,
       |    COALESCE(MIN(checkpoint_ts), ${MaxWatermark}) AS checkpoint_ts,
       |    COALESCE(MIN(resolved_ts), ${MaxWatermark}) AS resolved_ts,
       |    CASE WHEN COUNT(span) > 0
       |      THEN MIN(resolved_ts) - MIN(checkpoint_ts) ELSE 0 END AS lag_ts,
       |    MIN(CASE WHEN checkpoint_ts = min_cp THEN span END) AS slowest_span
       |  FROM windowed GROUP BY changefeed
       |)""".stripMargin
  }

  def watermarkAggSql(changefeeds: Seq[(String, Seq[String])]): String =
    s"""WITH ${watermarkCtes(changefeeds)}
       |SELECT * FROM wm""".stripMargin

  // ------------------------------------------------------------------
  // A78 — the coordinator's GC safepoint over the changefeed fleet
  // ------------------------------------------------------------------

  /** A changefeed's control state for the GC-safepoint calculation. */
  case class CfState(changefeed: String, rules: Seq[String],
                     state: String, errorCode: Option[String])

  /** GC fast-fail error codes (public tiflow pkg/errors helper —
    * changefeeds failed BY the GC itself stop protecting data). */
  val GcFastFailCodes: Seq[String] =
    Seq("CDC:ErrGCTTLExceeded", "CDC:ErrSnapshotLostByGC")

  private val blockStates = Seq("normal", "stopped", "pending", "warning")

  /** A78 (reference: coordinator/changefeed/changefeed_db.go:250-268
    * `CalculateGCSafepoint` + pkg/config/changefeed.go:70-88
    * `NeedBlockGC` + coordinator/coordinator.go:279-292
    * `updateGCSafepoint`): the upstream GC safepoint is held at
    * `min(checkpointTs over GC-blocking changefeeds) - 1`. A changefeed
    * blocks GC in states normal/stopped/pending/warning; failed
    * changefeeds block UNLESS their error is a GC fast-fail code (the
    * data is already lost — protecting it is pointless); finished and
    * removed changefeeds never block. An all-empty fleet leaves the min
    * at the MaxUint64 seed (the coordinator then falls back to the
    * current PD time — modeled as the seed minus one).
    *
    * Checkpoints come from the A76 watermark aggregation; one row per
    * changefeed carrying its state, blocking verdict, and the fleet's
    * safepoint upper bound. Dimension-scale end to end. */
  def gcSafepoint(cl: DataFrame, fleet: Seq[CfState]): DataFrame =
    gcSafepointFromWm(
      watermarkAgg(cl, fleet.map(f => f.changefeed -> f.rules)),
      fleet)
      .select(col("changefeed"), col("state"), col("error_code"),
        col("n_spans"), col("checkpoint_ts"), col("blocks_gc"),
        col("safepoint_upper"))

  /** The A78 safepoint columns layered onto an ALREADY-BUILT A76
    * watermark frame — factored out so A105's overview can compute the
    * watermark aggregation ONCE and derive both the safepoint and the
    * watermark columns from it (before r15 the overview embedded TWO
    * full copies of the spanFrontier→LIKE-join→agg subtree: one inside
    * gcSafepoint, one as its own wmFull — 92 exchanges / 26 scans in
    * the static plan). Returns every wm column plus state, error_code,
    * blocks_gc, safepoint_upper. */
  private def gcSafepointFromWm(wm: DataFrame,
                                fleet: Seq[CfState]): DataFrame = {
    val spark = wm.sparkSession
    import spark.implicits._
    val states = fleet.map(f =>
      (f.changefeed, f.state, f.errorCode.orNull))
      .toDF("changefeed", "state", "error_code")
    val blocks = col("state").isin(blockStates: _*) ||
      (col("state") === "failed" && (col("error_code").isNull ||
        !col("error_code").isin(GcFastFailCodes: _*)))
    val joined = wm.join(broadcast(states), Seq("changefeed"))
      .withColumn("blocks_gc", blocks.cast("long"))
    val w = Window.partitionBy() // fleet-level min: a handful of rows
    joined
      .withColumn("min_blocking_cp",
        min(when(col("blocks_gc") === 1L, col("checkpoint_ts"))).over(w))
      .withColumn("error_code",
        coalesce(col("error_code"), lit(null).cast("string")))
      .withColumn("safepoint_upper",
        coalesce(col("min_blocking_cp"), lit(MaxWatermark)) - 1L)
  }

  /** A105 — the changefeed OVERVIEW: the `cdc cli changefeed list` /
    * `query` view operators actually read, composed from the verified
    * planes — per changefeed its control state (A78 fleet), span
    * membership + checkpoint/resolved/lag and the slowest span (A76),
    * the GC-blocking verdict with the fleet safepoint (A78), and how
    * many of its spans are currently running HOT (A81 — the "why is
    * my changefeed splitting" column). Composition only: every input
    * frame is independently oracle-checked; the join fabric is
    * dimension-scale (fleet × spans LIKE-join + the span-level hot
    * frame), the C46-funnel discipline applied to the CDC plane. */
  def changefeedOverview(cl: DataFrame, fleet: Seq[CfState]): DataFrame = {
    val spark = cl.sparkSession
    import spark.implicits._
    // ONE watermark aggregation feeds both the safepoint and the
    // resolved/lag/slowest columns (it used to run twice: once inside
    // gcSafepoint, once as a separate wmFull — identical subtrees the
    // planner cannot merge across a join)
    val base = gcSafepointFromWm(
      watermarkAgg(cl, fleet.map(f => f.changefeed -> f.rules)),
      fleet)
    val rules = fleet.flatMap(f => f.rules.map(r => (f.changefeed, r)))
      .toDF("changefeed", "rule")
    val hot = Scheduler.hotSpans(cl)
      .filter(col("is_hot") === 1L).select(col("span"))
    val hotPerCf = rules
      .join(broadcast(hot), expr("span LIKE rule"), "left")
      .select(col("changefeed"), col("span")).distinct()
      .groupBy(col("changefeed"))
      .agg(count(col("span")).as("n_hot_spans"))
    base
      .join(hotPerCf, Seq("changefeed"), "left")
      .select(col("changefeed"), col("state"), col("error_code"),
        col("n_spans"), col("checkpoint_ts"), col("resolved_ts"),
        col("lag_ts"), col("slowest_span"), col("blocks_gc"),
        col("safepoint_upper"),
        coalesce(col("n_hot_spans"), lit(0L)).as("n_hot_spans"))
  }

  def changefeedOverviewSql(fleet: Seq[CfState]): String = {
    val ruleRows = fleet.flatMap(f =>
      f.rules.map(r => s"('${f.changefeed}', '$r')")).mkString(", ")
    s"""WITH base AS (
       |  ${gcSafepointSql(fleet).replace("\n", "\n  ")}
       |), wmfull AS (
       |  ${watermarkAggSql(fleet.map(f => f.changefeed -> f.rules))
             .replace("\n", "\n  ")}
       |), hot AS (
       |  SELECT span FROM (
       |    ${Scheduler.hotSpansSql().replace("\n", "\n    ")}
       |  ) WHERE is_hot = 1
       |), cfrules(changefeed, rule) AS (VALUES $ruleRows),
       |hotcf AS (
       |  SELECT changefeed, CAST(COUNT(span) AS BIGINT) AS n_hot_spans
       |  FROM (SELECT DISTINCT r.changefeed, h.span
       |        FROM cfrules r LEFT JOIN hot h ON h.span LIKE r.rule)
       |  GROUP BY 1
       |)
       |SELECT b.changefeed, b.state, b.error_code, b.n_spans,
       |  b.checkpoint_ts, w.resolved_ts, w.lag_ts, w.slowest_span,
       |  b.blocks_gc, b.safepoint_upper,
       |  COALESCE(h.n_hot_spans, 0) AS n_hot_spans
       |FROM base b
       |JOIN wmfull w ON w.changefeed = b.changefeed
       |LEFT JOIN hotcf h ON h.changefeed = b.changefeed""".stripMargin
  }

  def gcSafepointSql(fleet: Seq[CfState]): String = {
    val stateRows = fleet.map { f =>
      val err = f.errorCode.map(c => s"'$c'").getOrElse("NULL")
      s"('${f.changefeed}', '${f.state}', $err)"
    }.mkString(", ")
    val blockList = blockStates.map(s => s"'$s'").mkString(", ")
    val fastFail = GcFastFailCodes.map(c => s"'$c'").mkString(", ")
    s"""WITH ${watermarkCtes(fleet.map(f => f.changefeed -> f.rules))},
       |states(changefeed, state, error_code) AS (VALUES $stateRows),
       |joined AS (
       |  SELECT w.changefeed, s.state, s.error_code, w.n_spans, w.checkpoint_ts,
       |    CAST(CASE
       |      WHEN s.state IN ($blockList) THEN 1
       |      WHEN s.state = 'failed'
       |        AND (s.error_code IS NULL OR s.error_code NOT IN ($fastFail))
       |        THEN 1
       |      ELSE 0 END AS BIGINT) AS blocks_gc
       |  FROM wm w JOIN states s ON w.changefeed = s.changefeed
       |)
       |SELECT changefeed, state, error_code, n_spans, checkpoint_ts, blocks_gc,
       |  COALESCE(MIN(CASE WHEN blocks_gc = 1 THEN checkpoint_ts END) OVER (),
       |    ${MaxWatermark}) - 1 AS safepoint_upper
       |FROM joined""".stripMargin
  }
}
