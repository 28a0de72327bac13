package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A97 — the region subscription's INITIALIZED boundary: what happens
  * to events that arrive while the region's incremental scan is still
  * running — the protocol that makes the snapshot/stream seam
  * exactly-once.
  *
  * Reference: logservice/logpuller/region_event_handler.go:160-252
  * `handleEventEntries` — a COMMIT whose PREWRITE has not been
  * delivered yet (the snapshot race) must NOT fail pre-init: it is
  * CACHED (`matcher.cacheCommitRow`) and flushed when the
  * Event_INITIALIZED entry arrives (`matchCachedRow(true)` inside the
  * INITIALIZED arm); a COMMIT that does match emits immediately —
  * even pre-init — unless it is STALE (`CommitTs <= span.startTs`,
  * the incremental scan already covered it: skipped); COMMITTED
  * entries (scan output) emit directly; and :254-283
  * `handleResolvedTs` — resolved-ts entries are IGNORED until the
  * region is initialized, and a REGRESSED resolved-ts (below the
  * region's last) is logged and dropped, never advancing the
  * frontier.
  *
  * Deterministic replay (closed form — every outcome is a row-local
  * decision given the region's constants, so NO fold is needed): the
  * changelog's (commit, prewrite) stream per (table, pk-hash region)
  * with the A72 conventions; region r initializes at the tick
  * boundary (r mod 3 + 1)·TickW and carries startTs = r mod 2 · Stale
  * (so both stale arms appear); odd regions take the snapshot race —
  * their pre-init prewrites are delayed behind the scan, so pre-init
  * commits cache and flush at init; resolved entries ride every tick
  * boundary post-data with ONE planted regression per region at
  * RegressTick. Output: one row per entry with its outcome
  * (emit / emit_pre_init / cached_then_init_emit / stale_skip /
  * resolved_advance / resolved_ignored_uninit /
  * resolved_regressed_skip) — the full taxonomy of the seam.
  *
  * Scale shape: one row-local pass over the changelog plus a
  * dimension-scale (table × region × tick) resolved grid; the only
  * shuffle is the partial-aggregated grid build. */
object RegionInit {

  val TickW = 100L
  val MaxTick = 12L
  /** startTs for odd regions — commits at or below it are stale. */
  val Stale = 50L
  /** The tick whose resolved entry is planted BELOW the previous one. */
  val RegressTick = 9L

  /** A97 production frame: one row per protocol entry with outcome. */
  def regionInit(cl: DataFrame): DataFrame = {
    val initTs = (pmod(col("region_id"), lit(3L)) + 1L) * TickW
    val startTs = pmod(col("region_id"), lit(2L)) * Stale
    val raceArm = pmod(col("region_id"), lit(2L)) === 1L
    // DML entries: the COMMIT stream (prewrite delivery is implied by
    // the arm: delayed behind the scan for race regions pre-init)
    val commits = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .select(col("schema_name"), col("table_name"), col("region_id"),
        lit("COMMIT").as("kind"), col("commit_ts").as("ts"),
        col("pk").cast("string").as("detail"))
      .withColumn("outcome",
        when(col("ts") <= startTs, "stale_skip")
          .when(col("ts") >= initTs, "emit")
          .when(raceArm, "cached_then_init_emit")
          .otherwise("emit_pre_init"))
    // resolved entries: one per tick boundary per region; monotone
    // except the planted regression at RegressTick
    val tables = ClDims.tables(cl)
    val resolved = tables
      .select(col("schema_name"), col("table_name"),
        explode(expr(s"sequence(0L, ${Scheduler.NRegions - 1}L)")).as("region_id"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        explode(expr(s"sequence(1L, ${MaxTick}L)")).as("tick"))
      .withColumn("ts",
        when(col("tick") === RegressTick, (col("tick") - 2L) * TickW)
          .otherwise(col("tick") * TickW))
      .withColumn("outcome",
        when(col("ts") < initTs, "resolved_ignored_uninit")
          .when(col("tick") === RegressTick, "resolved_regressed_skip")
          .otherwise("resolved_advance"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        lit("RESOLVED").as("kind"), col("ts"),
        col("tick").cast("string").as("detail"), col("outcome"))
    commits.unionByName(resolved.select(commits.columns.map(col): _*))
      .withColumn("init_ts", initTs)
      .withColumn("start_ts", startTs)
  }

  def regionInitSql: String = {
    val bucket = Scheduler.pkRegionSql()
    s"""WITH commits AS (
       |  SELECT schema_name, table_name, $bucket AS region_id,
       |    'COMMIT' AS kind, commit_ts AS ts, CAST(pk AS VARCHAR) AS detail
       |  FROM changelog
       |), carm AS (
       |  SELECT *,
       |    (region_id % 3 + 1) * $TickW AS init_ts,
       |    (region_id % 2) * $Stale AS start_ts,
       |    CASE WHEN ts <= (region_id % 2) * $Stale THEN 'stale_skip'
       |      WHEN ts >= (region_id % 3 + 1) * $TickW THEN 'emit'
       |      WHEN region_id % 2 = 1 THEN 'cached_then_init_emit'
       |      ELSE 'emit_pre_init' END AS outcome
       |  FROM commits
       |), grid AS (
       |  SELECT t.schema_name, t.table_name, r.region_id, g.tick
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog) t
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${Scheduler.NRegions - 1}))
       |    AS region_id) r
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, $MaxTick)) AS tick) g
       |), res AS (
       |  SELECT schema_name, table_name, region_id, 'RESOLVED' AS kind,
       |    CASE WHEN tick = $RegressTick THEN (tick - 2) * $TickW
       |      ELSE tick * $TickW END AS ts,
       |    CAST(tick AS VARCHAR) AS detail,
       |    (region_id % 3 + 1) * $TickW AS init_ts,
       |    (region_id % 2) * $Stale AS start_ts,
       |    CASE WHEN (CASE WHEN tick = $RegressTick THEN (tick - 2) * $TickW
       |        ELSE tick * $TickW END) < (region_id % 3 + 1) * $TickW
       |        THEN 'resolved_ignored_uninit'
       |      WHEN tick = $RegressTick THEN 'resolved_regressed_skip'
       |      ELSE 'resolved_advance' END AS outcome
       |  FROM grid
       |)
       |SELECT schema_name, table_name, region_id, kind,
       |  CAST(ts AS BIGINT) AS ts, detail, outcome,
       |  CAST(init_ts AS BIGINT) AS init_ts,
       |  CAST(start_ts AS BIGINT) AS start_ts
       |FROM (
       |  SELECT schema_name, table_name, region_id, kind, ts, detail,
       |    outcome, init_ts, start_ts FROM carm
       |  UNION ALL
       |  SELECT schema_name, table_name, region_id, kind, ts, detail,
       |    outcome, init_ts, start_ts FROM res
       |)""".stripMargin
  }
}
