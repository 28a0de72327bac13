package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Changelog materialization — the *net effect* of TiCDC's MySQL sink
  * (reference: downstreamadapter/sink/mysql_sink.go, pkg/sink/mysql):
  * applying an ordered stream of I/U/D events to a keyed table is
  * last-writer-wins per primary key, with deletes removing the row.
  *
  * Scale notes: every operator here is a single hash aggregation on
  * (schema, table, pk) with map-side partial `max_by` — no global sort,
  * no window over a total order. At 100 TB this is one shuffle keyed by
  * pk; AQE skew-split handles hot keys.
  */
object Materialize {

  /** [[gcTrim]]'s event-store retention below the span frontier
    * (commit-ts units). */
  val GcRetention = 2000L

  /** Current snapshot: latest image per key, deletes applied. */
  def snapshot(cl: DataFrame): DataFrame =
    cl.groupBy(col("schema_name"), col("table_name"), col("pk"))
      .agg(
        max(col("commit_ts")).as("last_ts"),
        max_by(col("op"), col("commit_ts")).as("last_op"),
        max_by(col("after_value"), col("commit_ts")).as("value"),
        max_by(col("props"), col("commit_ts")).as("props"),
        count(lit(1)).as("n_changes"))
      .filter(col("last_op") =!= "D")
      .drop("last_op")

  val snapshotSql: String =
    """SELECT schema_name, table_name, pk, last_ts, value, props, n_changes
      |FROM (
      |  SELECT schema_name, table_name, pk,
      |    MAX(commit_ts) AS last_ts,
      |    MAX_BY(op, commit_ts) AS last_op,
      |    MAX_BY(after_value, commit_ts) AS value,
      |    MAX_BY(props, commit_ts) AS props,
      |    COUNT(*) AS n_changes
      |  FROM changelog
      |  GROUP BY schema_name, table_name, pk
      |) WHERE last_op <> 'D'""".stripMargin

  /** Safe-mode upsert stream: one terminal statement per key —
    * REPLACE with the latest image, or DELETE if the last op was a
    * delete (reference: mysql sink safe-mode rewrites INSERT→REPLACE,
    * UPDATE→DELETE+REPLACE; the terminal statement per key is what the
    * downstream table ends up executing). */
  def safeModeUpsert(cl: DataFrame): DataFrame =
    cl.groupBy(col("schema_name"), col("table_name"), col("pk"))
      .agg(
        max(col("commit_ts")).as("last_ts"),
        max_by(col("op"), col("commit_ts")).as("last_op"),
        max_by(col("after_value"), col("commit_ts")).as("last_value"))
      .withColumn("statement",
        when(col("last_op") === "D", lit("DELETE")).otherwise(lit("REPLACE")))
      // a DELETE carries no image (engines differ on max_by null handling,
      // so pin the semantics explicitly)
      .withColumn("value",
        when(col("last_op") === "D", lit(null).cast("double"))
          .otherwise(col("last_value")))
      .drop("last_op", "last_value")

  val safeModeUpsertSql: String =
    """SELECT schema_name, table_name, pk, last_ts,
      |  CASE WHEN last_op = 'D' THEN 'DELETE' ELSE 'REPLACE' END AS statement,
      |  CASE WHEN last_op = 'D' THEN NULL ELSE value END AS value
      |FROM (
      |  SELECT schema_name, table_name, pk,
      |    MAX(commit_ts) AS last_ts,
      |    MAX_BY(op, commit_ts) AS last_op,
      |    MAX_BY(after_value, commit_ts) AS value
      |  FROM changelog
      |  GROUP BY schema_name, table_name, pk
      |)""".stripMargin

  /** Resolved ts per schema = min over its tables of max(commit_ts):
    * "no event earlier than this will arrive" (reference:
    * logservice/eventstore resolved-ts tracking; maps to Spark's
    * watermark in streaming mode). */
  def resolvedTs(cl: DataFrame): DataFrame =
    cl.groupBy(col("schema_name"), col("table_name"))
      .agg(max(col("commit_ts")).as("table_max_ts"))
      .groupBy(col("schema_name"))
      .agg(min(col("table_max_ts")).as("resolved_ts"),
           count(lit(1)).as("n_tables"))

  val resolvedTsSql: String =
    """SELECT schema_name, MIN(table_max_ts) AS resolved_ts, COUNT(*) AS n_tables
      |FROM (
      |  SELECT schema_name, table_name, MAX(commit_ts) AS table_max_ts
      |  FROM changelog GROUP BY schema_name, table_name
      |) GROUP BY schema_name""".stripMargin

  /** A69: the span frontier — a table's keyspace splits into REGIONS
    * that each advance their own resolvedTs; the table's resolved ts is
    * the MINIMUM over its regions, and the range-lock statistics track
    * the fastest and slowest region (reference: logservice/logpuller/
    * regionlock/region_range_lock.go:244-263 RangeLock.ResolvedTs +
    * :293-335 IterAll — strict >/< comparisons in start-key Ascend
    * order, so the FIRST region wins ties: min region_id here).
    *
    * Regions are the deterministic pk-hash buckets (the index-value
    * dispatch hash pmod nRegions); a region's resolvedTs is the max
    * commit_ts it has seen. One partial-aggregated (table, region)
    * shuffle, then dimension-scale table reduces + tie-break joins. */
  def spanFrontier(cl: DataFrame): DataFrame = {
    val regions = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .groupBy(col("schema_name"), col("table_name"), col("region_id"))
      .agg(max(col("commit_ts")).as("rts"))
    val tbl = regions.groupBy(col("schema_name"), col("table_name"))
      .agg(count(lit(1)).as("n_regions"),
        min(col("rts")).as("frontier_ts"),
        max(col("rts")).as("fastest_ts"))
    val fast = regions.join(tbl, Seq("schema_name", "table_name"))
      .filter(col("rts") === col("fastest_ts"))
      .groupBy(col("schema_name"), col("table_name"))
      .agg(min(col("region_id")).as("fastest_region"))
    val slow = regions.join(tbl, Seq("schema_name", "table_name"))
      .filter(col("rts") === col("frontier_ts"))
      .groupBy(col("schema_name"), col("table_name"))
      .agg(min(col("region_id")).as("slowest_region"))
    tbl.join(fast, Seq("schema_name", "table_name"))
      .join(slow, Seq("schema_name", "table_name"))
      .select(col("schema_name"), col("table_name"), col("n_regions"),
        col("frontier_ts"), col("fastest_region"), col("fastest_ts"),
        col("slowest_region"))
  }

  def spanFrontierSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    s"""WITH regions AS (
       |  SELECT schema_name, table_name, $bucket AS region_id,
       |    MAX(commit_ts) AS rts
       |  FROM changelog
       |  GROUP BY 1, 2, 3
       |), tbl AS (
       |  SELECT schema_name, table_name,
       |    CAST(COUNT(*) AS BIGINT) AS n_regions,
       |    MIN(rts) AS frontier_ts, MAX(rts) AS fastest_ts
       |  FROM regions GROUP BY 1, 2
       |), fast AS (
       |  SELECT r.schema_name, r.table_name, MIN(r.region_id) AS fastest_region
       |  FROM regions r JOIN tbl t
       |    ON r.schema_name = t.schema_name AND r.table_name = t.table_name
       |   AND r.rts = t.fastest_ts
       |  GROUP BY 1, 2
       |), slow AS (
       |  SELECT r.schema_name, r.table_name, MIN(r.region_id) AS slowest_region
       |  FROM regions r JOIN tbl t
       |    ON r.schema_name = t.schema_name AND r.table_name = t.table_name
       |   AND r.rts = t.frontier_ts
       |  GROUP BY 1, 2
       |)
       |SELECT t.schema_name, t.table_name, t.n_regions, t.frontier_ts,
       |  f.fastest_region, t.fastest_ts, s.slowest_region
       |FROM tbl t
       |JOIN fast f ON t.schema_name = f.schema_name AND t.table_name = f.table_name
       |JOIN slow s ON t.schema_name = s.schema_name AND t.table_name = s.table_name""".stripMargin
  }

  /** A73: event-store retention GC (reference: logservice/eventstore/
    * gc.go:33-76 — delete ranges (0, gcTs] per table). The GC
    * watermark derives from the A69 span frontier minus the retention
    * horizon (clamped at 0); the observable state per table is the
    * trimmed/surviving split and the store's new low watermark (min
    * surviving commit ts, -1 when the table empties). One broadcast
    * of the dimension-scale gc frame + one partial-aggregated pass
    * over the changelog. */
  def gcTrim(cl: DataFrame, retention: Long = GcRetention): DataFrame = {
    val gc = spanFrontier(cl)
      .select(col("schema_name"), col("table_name"),
        greatest(col("frontier_ts") - retention, lit(0L)).as("gc_ts"))
    cl.join(broadcast(gc), Seq("schema_name", "table_name"))
      .groupBy(col("schema_name"), col("table_name"), col("gc_ts"))
      .agg(
        sum(when(col("commit_ts") <= col("gc_ts"), 1L).otherwise(0L)).as("trimmed_events"),
        sum(when(col("commit_ts") > col("gc_ts"), 1L).otherwise(0L)).as("surviving_events"),
        coalesce(min(when(col("commit_ts") > col("gc_ts"), col("commit_ts"))), lit(-1L))
          .as("low_watermark"))
  }

  def gcTrimSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    s"""WITH regions AS (
       |  SELECT schema_name, table_name, $bucket AS region_id,
       |    MAX(commit_ts) AS rts
       |  FROM changelog GROUP BY 1, 2, 3
       |), gc AS (
       |  SELECT schema_name, table_name,
       |    GREATEST(MIN(rts) - $GcRetention, 0) AS gc_ts
       |  FROM regions GROUP BY 1, 2
       |)
       |SELECT c.schema_name, c.table_name, g.gc_ts,
       |  CAST(SUM(CASE WHEN c.commit_ts <= g.gc_ts THEN 1 ELSE 0 END) AS BIGINT)
       |    AS trimmed_events,
       |  CAST(SUM(CASE WHEN c.commit_ts > g.gc_ts THEN 1 ELSE 0 END) AS BIGINT)
       |    AS surviving_events,
       |  CAST(COALESCE(MIN(CASE WHEN c.commit_ts > g.gc_ts THEN c.commit_ts END), -1)
       |    AS BIGINT) AS low_watermark
       |FROM changelog c
       |JOIN gc g ON c.schema_name = g.schema_name AND c.table_name = g.table_name
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** Transaction batches: events sharing a start_ts form one upstream
    * txn (reference: txn batching in pkg/sink/mysql — events of one txn
    * are flushed atomically). */
  def txnGroup(cl: DataFrame): DataFrame =
    cl.groupBy(col("schema_name"), col("table_name"), col("start_ts"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("pk")).as("n_keys"),
        min(col("commit_ts")).as("first_ts"),
        max(col("commit_ts")).as("last_ts"),
        // all-delete txns sum no after-images: 0, not NULL (a nullable
        // BIGINT turns float64 on the oracle's pandas bridge)
        coalesce(graft.util.Money.sumCents(col("after_value")), lit(0L))
          .as("sum_value_cents"))

  val txnGroupSql: String =
    """SELECT schema_name, table_name, start_ts,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT pk) AS n_keys,
      |  MIN(commit_ts) AS first_ts,
      |  MAX(commit_ts) AS last_ts,
      |  CAST(COALESCE(SUM(CAST(ROUND(after_value * 100.0, 0) AS BIGINT)), 0) AS BIGINT) AS sum_value_cents
      |FROM changelog
      |GROUP BY schema_name, table_name, start_ts""".stripMargin

  /** Commit-ts interval between syncpoints (the changefeed's
    * sync-point interval). One setting: the A16 syncpoint boundaries,
    * the A75 syncpoint block events, the A76 checkpoint alignment, the
    * syncpoint statements and the event service's syncpoint-aligned
    * dispatchers all read it. */
  val SyncStep = 100L

  /** Syncpoint snapshots: consistent table state at each ts boundary
    * (reference: downstreamadapter/syncpoint — periodic aligned
    * snapshots downstream can diff against). Emits per boundary/table:
    * live row count + value total.
    *
    * Incremental plan — the naive boundaries×events range join explodes
    * to |events|×|boundaries| rows (measured 245 s at sf0.1; would be
    * catastrophic at 100 TB). Instead each event contributes a *delta*
    * (its key's contribution change) attributed to the first boundary
    * ≥ its commit_ts; per-table deltas then cumulative-sum across the
    * boundary grid. Cost: one lag-window shuffle keyed by pk, one
    * aggregation, and a cumsum over the tiny (tables × boundaries)
    * grid — telescoping makes it exact. */
  def syncpoint(spark: SparkSession, cl: DataFrame): DataFrame = {
    val step = SyncStep
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy(col("schema_name"), col("table_name"), col("pk"))
      .orderBy(col("commit_ts"))
    val tr = cl.select(col("schema_name"), col("table_name"), col("pk"),
        col("commit_ts"), col("op"),
        // deltas telescope in exact integer cents (graft.util.Money) so
        // the cumulative sums below are exact and the cents BIGINT
        // output is engine-portable
        graft.util.Money.cents(col("after_value")).as("cents"))
      .withColumn("prev_op", lag(col("op"), 1).over(wk))
      .withColumn("prev_cents", lag(col("cents"), 1).over(wk))
      .withColumn("cur_live", (col("op") =!= "D").cast("long"))
      .withColumn("prev_live",
        coalesce((col("prev_op") =!= "D").cast("long"), lit(0L)))
      .withColumn("d_live", col("cur_live") - col("prev_live"))
      .withColumn("d_cents",
        coalesce(when(col("cur_live") === 1L, col("cents")), lit(0L)) -
        coalesce(when(col("prev_live") === 1L, col("prev_cents")), lit(0L)))
      // first syncpoint boundary this event is visible at
      .withColumn("boundary_ts",
        expr(s"((commit_ts + $step - 1) div $step) * $step"))
    val deltas = tr.groupBy(col("boundary_ts"), col("schema_name"), col("table_name"))
      .agg(sum(col("d_live")).as("d_live"), sum(col("d_cents")).as("d_cents"))
    // empty-safe: no boundaries when max ts < step (sequence() would error)
    val bounds = ClDims.maxTs(cl)
      .select(explode(when(col("m") >= step, sequence(lit(step), col("m"), lit(step)))
        .otherwise(array().cast("array<long>"))).as("boundary_ts"))
    val grid = ClDims.tables(cl)
      .crossJoin(broadcast(bounds))
    val wc = Window.partitionBy(col("schema_name"), col("table_name"))
      .orderBy(col("boundary_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(deltas, Seq("boundary_ts", "schema_name", "table_name"), "left")
      .withColumn("live_rows", sum(coalesce(col("d_live"), lit(0L))).over(wc))
      .withColumn("total_value_cents",
        sum(coalesce(col("d_cents"), lit(0L))).over(wc))
      .filter(col("live_rows") > 0)
      .select(col("boundary_ts"), col("schema_name"), col("table_name"),
        col("live_rows"), col("total_value_cents"))
  }

  def syncpointSql: String = {
    val step = SyncStep
    s"""SELECT boundary_ts, schema_name, table_name,
       |  COUNT(*) AS live_rows,
       |  CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_value_cents
       |FROM (
       |  SELECT b.boundary_ts, c.schema_name, c.table_name, c.pk,
       |    MAX_BY(c.op, c.commit_ts) AS last_op,
       |    MAX_BY(c.after_value, c.commit_ts) AS value
       |  FROM changelog c
       |  JOIN (SELECT UNNEST(GENERATE_SERIES($step, (SELECT MAX(commit_ts) FROM changelog), $step)) AS boundary_ts) b
       |    ON c.commit_ts <= b.boundary_ts
       |  GROUP BY b.boundary_ts, c.schema_name, c.table_name, c.pk
       |) WHERE last_op <> 'D'
       |GROUP BY boundary_ts, schema_name, table_name""".stripMargin
  }

  /** Event sort order — TiCDC's eventstore guarantee: per key, events
    * are delivered in (commit_ts, start_ts) order (reference:
    * logservice/eventstore). Exposed as an explicit sequence number so
    * correctness is oracle-checkable. */
  def eventSort(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("schema_name"), col("table_name"), col("pk"))
      .orderBy(col("commit_ts"), col("start_ts"))
    cl.select(col("schema_name"), col("table_name"), col("pk"),
        col("commit_ts"), col("start_ts"), col("op"))
      .withColumn("seq", row_number().over(w).cast("long"))
  }

  val eventSortSql: String =
    """SELECT schema_name, table_name, pk, commit_ts, start_ts, op,
      |  ROW_NUMBER() OVER (PARTITION BY schema_name, table_name, pk
      |                     ORDER BY commit_ts, start_ts) AS seq
      |FROM changelog""".stripMargin

  // ---------------------------------------------------------------- A83
  /** A83: the dispatcher's sink-progress tracker — TiCDC's
    * `TableProgress` (reference: downstreamadapter/dispatcher/
    * table_progress.go:62-125): DML events enter a per-table FIFO in
    * commit_ts order (`Add`), the sink acknowledges a prefix (`Remove`,
    * which also cumulates the flushed event sizes), and block events
    * that write nothing advance `maxCommitTs` without entering the list
    * (`Pass`). `GetCheckpointTs` then returns
    *   - earliest unflushed commit_ts − 1 when the list is non-empty,
    *   - maxCommitTs − 1 (DMLs and passed block events both count)
    *     when everything flushed,
    *   - 0 when the dispatcher has seen nothing (that arm needs an
    *     eventless dispatcher, which a changelog-derived table universe
    *     cannot produce — documented, not modeled).
    *
    * The flush frontier is modeled deterministically as three scenarios
    * per table — 0%, 50% (floor(n/2) oldest events), 100% flushed — so
    * all reachable GetCheckpointTs arms land on the oracle board. Pass
    * events are the A18 DDL boundary grid (latest boundary =
    * (global max commit_ts div step)·step). Event size is the
    * deterministic 16 + len(event_type) + len(props) model.
    *
    * Plan shape: one per-table window (the dispatcher's inherent
    * per-table total order — the A2 event-sort shape), one grouped
    * aggregation, and a 1-row broadcast of the pass boundary; the
    * 3-scenario unpivot is a row-local explode of the 6-table frame. */
  def tableProgress(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("schema_name"), col("table_name"))
      .orderBy(col("commit_ts"))
    val wc = Window.partitionBy(col("schema_name"), col("table_name"))
    val ranked = cl.select(col("schema_name"), col("table_name"), col("commit_ts"),
        (lit(16L) + octet_length(col("event_type")) +
          octet_length(col("props"))).cast("long").as("sz"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(wc))
    val agg = ranked.groupBy(col("schema_name"), col("table_name")).agg(
      count(lit(1)).as("n"),
      min(col("commit_ts")).as("min_ts"),
      max(col("commit_ts")).as("max_dml"),
      min(when(expr("rn > cnt div 2"), col("commit_ts"))).as("first_unflushed50"),
      coalesce(sum(when(expr("rn <= cnt div 2"), col("sz"))), lit(0L)).as("bytes50"),
      sum(col("sz")).as("bytes_all"))
    val step = SchemaStore.step
    val pass = cl.agg(expr(s"(MAX(commit_ts) div $step) * $step").as("pass_max"))
    agg.crossJoin(broadcast(pass))
      .select(col("schema_name"), col("table_name"), col("n").as("n_events"),
        explode(array(
          struct(lit("f0").as("scenario"), lit(0L).as("n_flushed"),
            (col("min_ts") - 1L).as("checkpoint_ts"),
            lit(0L).as("is_empty"), lit(0L).as("flushed_bytes")),
          struct(lit("f50").as("scenario"), expr("n div 2").as("n_flushed"),
            (col("first_unflushed50") - 1L).as("checkpoint_ts"),
            lit(0L).as("is_empty"), col("bytes50").as("flushed_bytes")),
          struct(lit("f100").as("scenario"), col("n").as("n_flushed"),
            (greatest(col("max_dml"), col("pass_max")) - 1L).as("checkpoint_ts"),
            lit(1L).as("is_empty"), col("bytes_all").as("flushed_bytes")))).as("s"))
      .select(col("schema_name"), col("table_name"), col("s.scenario"),
        col("n_events"), col("s.n_flushed"), col("s.checkpoint_ts"),
        col("s.is_empty"), col("s.flushed_bytes"))
  }

  /** The A83 CTE bodies + final select, split so A84 can reuse them. */
  private def tpCtes(step: Long): String =
    s"""ranked AS (
       |  SELECT schema_name, table_name, commit_ts,
       |    16 + octet_length(encode(event_type)) + octet_length(encode(props)) AS sz,
       |    ROW_NUMBER() OVER (PARTITION BY schema_name, table_name
       |                       ORDER BY commit_ts) AS rn,
       |    COUNT(*) OVER (PARTITION BY schema_name, table_name) AS cnt
       |  FROM changelog
       |), agg AS (
       |  SELECT schema_name, table_name,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    MIN(commit_ts) AS min_ts,
       |    MAX(commit_ts) AS max_dml,
       |    MIN(CASE WHEN rn > cnt // 2 THEN commit_ts END) AS first_unflushed50,
       |    CAST(COALESCE(SUM(CASE WHEN rn <= cnt // 2 THEN sz END), 0) AS BIGINT) AS bytes50,
       |    CAST(SUM(sz) AS BIGINT) AS bytes_all
       |  FROM ranked GROUP BY schema_name, table_name
       |), pass AS (
       |  SELECT (MAX(commit_ts) // $step) * $step AS pass_max FROM changelog
       |)""".stripMargin

  private val tpSelect: String =
    """SELECT schema_name, table_name, 'f0' AS scenario, n AS n_events,
      |  CAST(0 AS BIGINT) AS n_flushed, min_ts - 1 AS checkpoint_ts,
      |  CAST(0 AS BIGINT) AS is_empty, CAST(0 AS BIGINT) AS flushed_bytes
      |FROM agg
      |UNION ALL
      |SELECT schema_name, table_name, 'f50', n, n // 2,
      |  first_unflushed50 - 1, CAST(0 AS BIGINT), bytes50 FROM agg
      |UNION ALL
      |SELECT schema_name, table_name, 'f100', n, n,
      |  GREATEST(max_dml, (SELECT pass_max FROM pass)) - 1,
      |  CAST(1 AS BIGINT), bytes_all FROM agg""".stripMargin

  def tableProgressSql(): String =
    s"WITH ${tpCtes(SchemaStore.step)}\n$tpSelect"

  // ---------------------------------------------------------------- A84
  /** A84: the dispatcher-level checkpoint — `Dispatcher.GetCheckpointTs`
    * (reference: downstreamadapter/dispatcher/dispatcher.go:520-533)
    * composes the A83 table progress with the dispatcher's resolvedTs
    * (fed by the event collector; modeled as the A69 span-frontier
    * min-over-regions):
    *   - checkpoint 0 (the dispatcher never sent an event to the sink)
    *     → report resolvedTs;
    *   - progress drained (isEmpty) → max(checkpoint, resolvedTs) —
    *     a drained dispatcher rides the frontier forward;
    *   - events pending → the table-progress checkpoint alone (the
    *     sink, not the frontier, bounds recovery).
    * One dimension-scale equi join of two already-derived frames. */
  private[graft] def dispatcherCheckpointFrom(tp: DataFrame,
      frontier: DataFrame): DataFrame =
    tp.join(frontier, Seq("schema_name", "table_name"))
      .select(col("schema_name"), col("table_name"), col("scenario"),
        col("checkpoint_ts"), col("is_empty"), col("resolved_ts"),
        when(col("checkpoint_ts") === 0L, col("resolved_ts"))
          .when(col("is_empty") === 1L,
            greatest(col("checkpoint_ts"), col("resolved_ts")))
          .otherwise(col("checkpoint_ts")).as("final_ts"))

  def dispatcherCheckpoint(cl: DataFrame): DataFrame =
    dispatcherCheckpointFrom(
      tableProgress(cl),
      spanFrontier(cl)
        .select(col("schema_name"), col("table_name"),
          col("frontier_ts").as("resolved_ts")))

  def dispatcherCheckpointSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    s"""WITH ${tpCtes(SchemaStore.step)}, tp AS (
       |$tpSelect
       |), frontier AS (
       |  SELECT schema_name, table_name, MIN(rts) AS resolved_ts
       |  FROM (
       |    SELECT schema_name, table_name, $bucket AS region_id,
       |      MAX(commit_ts) AS rts
       |    FROM changelog GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2
       |)
       |SELECT t.schema_name, t.table_name, t.scenario,
       |  t.checkpoint_ts, t.is_empty, f.resolved_ts,
       |  CASE WHEN t.checkpoint_ts = 0 THEN f.resolved_ts
       |       WHEN t.is_empty = 1 THEN GREATEST(t.checkpoint_ts, f.resolved_ts)
       |       ELSE t.checkpoint_ts END AS final_ts
       |FROM tp t JOIN frontier f
       |  ON t.schema_name = f.schema_name AND t.table_name = f.table_name""".stripMargin
  }
}
