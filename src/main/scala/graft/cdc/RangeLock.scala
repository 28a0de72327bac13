package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A96 — the table RangeLock: the structure that tracks which parts
  * of a table's keyspace are CAPTURED (locked by a region
  * subscription) vs not, and computes the table's resolvedTs as the
  * minimum over both — the operational answer to "why is this
  * table's resolvedTs stuck?" during incremental scans.
  *
  * Reference: logservice/logpuller/regionlock/region_range_lock.go
  * :244-263 `ResolvedTs` (min over every locked range's resolvedTs
  * AND the unlocked-range ts map), :169-233 `UnlockRange` (unlocking
  * a region RECORDS its current resolvedTs into the unlocked map —
  * frozen there until the range locks again), :292-335 `IterAll`
  * (fastest/slowest locked region with strict comparisons, so the
  * FIRST region in key order wins ties; uncaptured holes reported
  * with their held-back ts), and range_ts_map.go:33-41 (the map is
  * born covering the whole span at startTs — a not-yet-captured
  * region holds the table's resolvedTs at startTs).
  *
  * Deterministic replay at region granularity (regions are the
  * A69/A77 pk-hash grid cells; the reference's mid-range split
  * generality collapses to whole-region set/unset on this grid):
  * region r of every table locks at tick r mod 3 (staggered initial
  * capture — until the last region locks, the table's resolvedTs is
  * pinned at startTs 0 by the uncaptured hole); regions with
  * r mod 4 = 1 unlock over ticks [UnlockFrom, RelockAt) (a region
  * migration), freezing their recorded ts at the unlock-tick value,
  * and relock at RelockAt with version 2, resuming the advance. A
  * locked region's resolvedTs at tick t is the max commit_ts it has
  * seen below the tick boundary.
  *
  * Scale shape: ONE partial-aggregated changelog pass builds the
  * (table, region, tick) maxima; the cumulative advance is a
  * region-partitioned running-max window over the bounded tick grid;
  * everything after is dimension-scale (tables × regions × ticks).
  * No fold, no driver loop. */
object RangeLock {

  val MaxTick = 12L
  val TickW = 1000L
  /** Unlock window [UnlockFrom, RelockAt) for regions r mod 4 = 1. */
  val UnlockFrom = 5L
  val RelockAt = 8L

  /** Per (table, region, tick): lock state, version, effective ts. */
  def regionStates(cl: DataFrame): DataFrame = {
    val tables = ClDims.tables(cl)
    val grid = tables
      .select(col("schema_name"), col("table_name"),
        explode(expr(s"sequence(0L, ${Scheduler.NRegions - 1}L)")).as("region_id"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        explode(expr(s"sequence(0L, ${MaxTick}L)")).as("tick"))
    val perTick = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .withColumn("tick", expr(s"commit_ts div $TickW") + 1L)
      .filter(col("tick") <= MaxTick)
      .groupBy(col("schema_name"), col("table_name"), col("region_id"),
        col("tick"))
      .agg(max(col("commit_ts")).as("m"))
    val wcum = Window
      .partitionBy(col("schema_name"), col("table_name"), col("region_id"))
      .orderBy(col("tick"))
    val lockTick = pmod(col("region_id"), lit(3L))
    val migrates = pmod(col("region_id"), lit(4L)) === 1L
    grid.join(perTick, Seq("schema_name", "table_name", "region_id", "tick"),
        "left")
      .withColumn("rts_cum", coalesce(
        max(col("m")).over(wcum.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)), lit(0L)))
      // the frozen value a migrating region records at unlock: its
      // cumulative ts at the unlock tick
      .withColumn("frozen",
        max(when(col("tick") === UnlockFrom, col("rts_cum"))).over(
          Window.partitionBy(col("schema_name"), col("table_name"),
            col("region_id"))))
      .withColumn("state",
        when(col("tick") < lockTick, "pending")
          .when(migrates &&
            col("tick").between(UnlockFrom, RelockAt - 1L), "unlocked")
          .otherwise("locked"))
      .withColumn("version",
        when(col("state") === "locked" && migrates &&
          col("tick") >= RelockAt, lit(2L))
          .when(col("state") === "locked", lit(1L))
          .otherwise(lit(0L)))
      .withColumn("eff_ts",
        when(col("state") === "pending", lit(0L))
          .when(col("state") === "unlocked", col("frozen"))
          .otherwise(col("rts_cum")))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("tick"), col("state"), col("version"), col("eff_ts"))
  }

  /** A96 production query: the per-(table, tick) RangeLockStatistics
    * frame — resolvedTs over locked + unlocked coverage, locked
    * region census, and the fastest/slowest locked regions with the
    * reference's first-region-wins ties. */
  def rangeLockStats(cl: DataFrame): DataFrame = {
    val st = regionStates(cl)
    val agg = st.groupBy(col("schema_name"), col("table_name"), col("tick"))
      .agg(
        sum(when(col("state") === "locked", 1L).otherwise(0L)).as("n_locked"),
        sum(when(col("state") === "pending", 1L).otherwise(0L)).as("n_pending"),
        sum(when(col("state") === "unlocked", 1L).otherwise(0L)).as("n_unlocked"),
        min(col("eff_ts")).as("resolved_ts"),
        min(when(col("state") === "locked", col("eff_ts"))).as("slow_ts"),
        max(when(col("state") === "locked", col("eff_ts"))).as("fast_ts"))
    val locked = st.filter(col("state") === "locked")
    val slow = locked.join(agg,
        Seq("schema_name", "table_name", "tick"))
      .filter(col("eff_ts") === col("slow_ts"))
      .groupBy(col("schema_name"), col("table_name"), col("tick"))
      .agg(min(col("region_id")).as("slowest_region"))
    val fast = locked.join(agg,
        Seq("schema_name", "table_name", "tick"))
      .filter(col("eff_ts") === col("fast_ts"))
      .groupBy(col("schema_name"), col("table_name"), col("tick"))
      .agg(min(col("region_id")).as("fastest_region"))
    agg
      .join(slow, Seq("schema_name", "table_name", "tick"), "left")
      .join(fast, Seq("schema_name", "table_name", "tick"), "left")
      .select(col("schema_name"), col("table_name"), col("tick"),
        col("n_locked"), col("n_pending"), col("n_unlocked"),
        col("resolved_ts"),
        coalesce(col("slowest_region"), lit(-1L)).as("slowest_region"),
        coalesce(col("slow_ts"), lit(-1L)).as("slowest_ts"),
        coalesce(col("fastest_region"), lit(-1L)).as("fastest_region"),
        coalesce(col("fast_ts"), lit(-1L)).as("fastest_ts"))
  }

  /** The region-states CTE chain (`tables` → `grid` → `pertick` →
    * `cum` → `states` → `eff`) — the SQL twin of [[regionStates]],
    * shared with the A108 lock resolver, which joins the final-tick
    * `eff` rows as the capture-side resolvedTs bound. */
  def regionStatesCteSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    s"""tables AS (
       |  SELECT DISTINCT schema_name, table_name FROM changelog
       |), grid AS (
       |  SELECT t.schema_name, t.table_name, r.region_id, g.tick
       |  FROM tables t
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${Scheduler.NRegions - 1}))
       |    AS region_id) r
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, $MaxTick)) AS tick) g
       |), pertick AS (
       |  SELECT schema_name, table_name, $bucket AS region_id,
       |    commit_ts // $TickW + 1 AS tick, MAX(commit_ts) AS m
       |  FROM changelog WHERE commit_ts // $TickW + 1 <= $MaxTick
       |  GROUP BY 1, 2, 3, 4
       |), cum AS (
       |  SELECT g.schema_name, g.table_name, g.region_id, g.tick,
       |    COALESCE(MAX(p.m) OVER (PARTITION BY g.schema_name,
       |      g.table_name, g.region_id ORDER BY g.tick
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |      AS rts_cum
       |  FROM grid g LEFT JOIN pertick p
       |    ON p.schema_name = g.schema_name AND p.table_name = g.table_name
       |    AND p.region_id = g.region_id AND p.tick = g.tick
       |), states AS (
       |  SELECT schema_name, table_name, region_id, tick,
       |    CASE WHEN tick < region_id % 3 THEN 'pending'
       |      WHEN region_id % 4 = 1 AND tick BETWEEN $UnlockFrom
       |        AND ${RelockAt - 1} THEN 'unlocked'
       |      ELSE 'locked' END AS state,
       |    rts_cum,
       |    MAX(CASE WHEN tick = $UnlockFrom THEN rts_cum END)
       |      OVER (PARTITION BY schema_name, table_name, region_id)
       |      AS frozen
       |  FROM cum
       |), eff AS (
       |  SELECT schema_name, table_name, region_id, tick, state,
       |    CAST(CASE WHEN state = 'pending' THEN 0
       |      WHEN state = 'unlocked' THEN frozen
       |      ELSE rts_cum END AS BIGINT) AS eff_ts
       |  FROM states
       |)""".stripMargin
  }

  def rangeLockStatsSql(): String = {
    s"""WITH ${regionStatesCteSql()}, agg AS (
       |  SELECT schema_name, table_name, tick,
       |    CAST(SUM(CASE WHEN state = 'locked' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_locked,
       |    CAST(SUM(CASE WHEN state = 'pending' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_pending,
       |    CAST(SUM(CASE WHEN state = 'unlocked' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_unlocked,
       |    CAST(MIN(eff_ts) AS BIGINT) AS resolved_ts,
       |    MIN(CASE WHEN state = 'locked' THEN eff_ts END) AS slow_ts,
       |    MAX(CASE WHEN state = 'locked' THEN eff_ts END) AS fast_ts
       |  FROM eff GROUP BY 1, 2, 3
       |), slow AS (
       |  SELECT e.schema_name, e.table_name, e.tick,
       |    MIN(e.region_id) AS slowest_region
       |  FROM eff e JOIN agg a ON a.schema_name = e.schema_name
       |    AND a.table_name = e.table_name AND a.tick = e.tick
       |  WHERE e.state = 'locked' AND e.eff_ts = a.slow_ts
       |  GROUP BY 1, 2, 3
       |), fast AS (
       |  SELECT e.schema_name, e.table_name, e.tick,
       |    MIN(e.region_id) AS fastest_region
       |  FROM eff e JOIN agg a ON a.schema_name = e.schema_name
       |    AND a.table_name = e.table_name AND a.tick = e.tick
       |  WHERE e.state = 'locked' AND e.eff_ts = a.fast_ts
       |  GROUP BY 1, 2, 3
       |)
       |SELECT a.schema_name, a.table_name, a.tick, a.n_locked,
       |  a.n_pending, a.n_unlocked, a.resolved_ts,
       |  CAST(COALESCE(s.slowest_region, -1) AS BIGINT) AS slowest_region,
       |  CAST(COALESCE(a.slow_ts, -1) AS BIGINT) AS slowest_ts,
       |  CAST(COALESCE(f.fastest_region, -1) AS BIGINT) AS fastest_region,
       |  CAST(COALESCE(a.fast_ts, -1) AS BIGINT) AS fastest_ts
       |FROM agg a
       |LEFT JOIN slow s ON s.schema_name = a.schema_name
       |  AND s.table_name = a.table_name AND s.tick = a.tick
       |LEFT JOIN fast f ON f.schema_name = a.schema_name
       |  AND f.table_name = a.table_name AND f.tick = a.tick""".stripMargin
  }
}
