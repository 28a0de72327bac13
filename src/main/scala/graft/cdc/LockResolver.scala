package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** A108 — the TiKV lock resolver: the pass that answers the most
  * common "resolvedTs is stuck" incident — a transaction LOCK below
  * maxVersion is pinning the region's watermark, and the resolver
  * must classify it (committed → resolve forward and advance,
  * rolled-back → resolve backward and advance, still LIVE → cannot
  * resolve, the pin stays) before the resolved ts can move.
  *
  * Reference: logservice/txnutil/lock_resolver.go:51-146 `Resolve` —
  * scan the region's locks with ts ≤ maxVersion in batches of
  * `scanLockLimit` (=1024, :49) from the region start key; each batch
  * feeds `ResolveLocks`, which resolves committed and rolled-back
  * transactions but leaves live ones; the scan cursor advances to the
  * LAST lock's key when the batch is full, to the region end key when
  * it comes back partial (:130-135), so a region with n scanned locks
  * takes exactly floor(n / limit) + 1 scan rounds — the final
  * partial/empty round is what terminates the loop (:137-139). (The
  * cursor is modeled exclusive; the reference's inclusive last-key
  * rescan only re-touches locks ResolveLocks already cleaned —
  * resolution is idempotent, so the overlap is not an observable
  * frame.) The
  * live-transaction arm is the operational point: `Resolve` cannot
  * advance past a lock whose transaction is still running, so the
  * region resolvedTs is pinned at lockTs - 1 until commit/rollback
  * (tikv's check_txn_status semantics the resolver defers to).
  *
  * Deterministic replay on the A96 grid: lock CANDIDATES are the
  * changelog's transactions (start_ts batches) keyed to regions by
  * the pk-hash bucket — a txn's lock in a region sits at the region's
  * smallest pk it touched (TiKV's primary-vs-secondary collapse: one
  * lock row per txn per region) with lockTs = start_ts. Locks are
  * SPARSE the way a healthy cluster's are (1/[[LockMod]] of txns by
  * portable hash): regions with zero qualifying locks exist at every
  * SF, and the resolver scans them too — one empty round, resolvedTs
  * clean at maxVersion. maxVersion is the table's commit-span
  * midpoint (a resolve pass mid-ingest, so the above/below-maxVersion
  * split is non-degenerate at every SF). Status by portable hash of
  * the lock identity — committed / rolled-back / live, all three arms
  * live on any real fleet. ScanLimit is 4, the model-scale stand-in
  * for the reference's 1024 (same closed form; 1024 would make every
  * small-SF region single-batch and leave the cursor arithmetic
  * untested).
  *
  * Composes with A96: the region's range-lock eff_ts at the final
  * tick is the CAPTURE-side bound; the resolver's lock bound is the
  * TXN-side bound; the region serves the MIN of the two — the row
  * says which side is the pin (`pin` column), exactly the diagnosis
  * the incident runbook needs.
  *
  * Scale shape: one partial-aggregated changelog pass builds the
  * per-(table, region, txn) lock census; everything after is
  * dimension-scale aggregation (regions × tables). The batched-scan
  * count is the closed form, not a fold — the Go loop's only
  * state is the cursor, and the cursor's trajectory is determined by
  * the lock count alone (spec replays the loop sequentially and
  * asserts equality). */
object LockResolver {

  /** Model-scale stand-in for lock_resolver.go:49 scanLockLimit=1024. */
  val ScanLimit = 4L

  /** 1 in LockMod candidate txns actually holds a lock at resolve
    * time — sparse, the healthy-cluster shape, so zero-lock regions
    * exist at every SF and the clean-scan arm fires. */
  val LockMod = 16L

  /** Per-(table, region, txn) lock census with status classification.
    * One row per lock: lock_ts (= start_ts), key (= min pk the txn
    * touched in the region), n_keys, status. */
  def lockCensus(cl: DataFrame): DataFrame =
    cl.withColumn("region_id", Scheduler.pkRegion())
      .groupBy(col("schema_name"), col("table_name"), col("region_id"),
        col("start_ts"))
      .agg(min(col("pk")).as("lock_key"),
        count(lit(1)).as("n_keys"),
        max(col("commit_ts")).as("txn_commit_ts"))
      .filter(pmod(Portable.hash60(concat(lit("lockpick:"), col("schema_name"),
        lit("."), col("table_name"), lit("#"), col("region_id").cast("string"),
        lit("@"), col("start_ts").cast("string"))), lit(LockMod)) === 0L)
      .withColumn("status",
        when(pmod(Portable.hash60(concat(lit("lock:"), col("schema_name"),
          lit("."), col("table_name"), lit("#"), col("region_id").cast("string"),
          lit("@"), col("start_ts").cast("string"))), lit(3L)) === 0L, "committed")
          .when(pmod(Portable.hash60(concat(lit("lock:"), col("schema_name"),
            lit("."), col("table_name"), lit("#"), col("region_id").cast("string"),
            lit("@"), col("start_ts").cast("string"))), lit(3L)) === 1L, "rolled_back")
          .otherwise("live"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("start_ts").as("lock_ts"), col("lock_key"), col("n_keys"),
        col("txn_commit_ts"), col("status"))

  /** A108 production query: one resolve pass per (table, region) at
    * maxVersion = the table's commit-span midpoint. Output columns:
    *  - max_version, n_locks (all), n_scanned (ts ≤ maxVersion),
    *    n_scans (the batched-cursor round count),
    *  - n_committed / n_rolled_back / n_live among the scanned,
    *  - min_live_ts (-1 if none), txn_resolved_ts (maxVersion, or
    *    min_live_ts - 1 when a live lock pins),
    *  - range_eff_ts (the A96 capture-side bound at the final tick),
    *  - resolved_ts = least(txn_resolved_ts, range_eff_ts),
    *  - pin ∈ {'lock','range','none'} — which side holds the min
    *    (lock wins ties: the resolver runs BECAUSE the ts is stuck). */
  def resolvePass(cl: DataFrame): DataFrame = {
    val maxV = cl.groupBy(col("schema_name"), col("table_name"))
      .agg((expr("min(commit_ts) + (max(commit_ts) - min(commit_ts)) div 2"))
        .as("max_version"))
    val census = lockCensus(cl)
    // every (table, region) cell appears — the resolver scans regions
    // with no locks too (one empty round, clean resolvedTs)
    val grid = maxV.select(col("schema_name"), col("table_name"),
      col("max_version"),
      explode(expr(s"sequence(0L, ${Scheduler.NRegions - 1}L)")).as("region_id"))
    val perRegion = grid
      .join(census, Seq("schema_name", "table_name", "region_id"), "left")
      .groupBy(col("schema_name"), col("table_name"), col("region_id"),
        col("max_version"))
      .agg(
        sum(when(col("lock_ts").isNotNull, 1L).otherwise(0L)).as("n_locks"),
        sum(when(col("lock_ts") <= col("max_version"), 1L).otherwise(0L))
          .as("n_scanned"),
        sum(when(col("lock_ts") <= col("max_version")
          && col("status") === "committed", 1L).otherwise(0L)).as("n_committed"),
        sum(when(col("lock_ts") <= col("max_version")
          && col("status") === "rolled_back", 1L).otherwise(0L))
          .as("n_rolled_back"),
        sum(when(col("lock_ts") <= col("max_version")
          && col("status") === "live", 1L).otherwise(0L)).as("n_live"),
        min(when(col("lock_ts") <= col("max_version")
          && col("status") === "live", col("lock_ts"))).as("mlt"))
      .withColumn("n_scans", expr(s"n_scanned div $ScanLimit") + 1L)
      .withColumn("min_live_ts", coalesce(col("mlt"), lit(-1L)))
      .withColumn("txn_resolved_ts",
        when(col("n_live") > 0L, col("min_live_ts") - 1L)
          .otherwise(col("max_version")))
    val range = RangeLock.regionStates(cl)
      .filter(col("tick") === RangeLock.MaxTick)
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("eff_ts").as("range_eff_ts"))
    perRegion.join(range, Seq("schema_name", "table_name", "region_id"))
      .withColumn("resolved_ts", least(col("txn_resolved_ts"),
        col("range_eff_ts")))
      .withColumn("pin",
        when(col("txn_resolved_ts") <= col("range_eff_ts")
          && col("n_live") > 0L, "lock")
          .when(col("range_eff_ts") < col("txn_resolved_ts"), "range")
          .otherwise("none"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("max_version"), col("n_locks"), col("n_scanned"), col("n_scans"),
        col("n_committed"), col("n_rolled_back"), col("n_live"),
        col("min_live_ts"), col("txn_resolved_ts"), col("range_eff_ts"),
        col("resolved_ts"), col("pin"))
  }

  def resolvePassSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    val lockHash = Portable.hash60Sql(
      "'lock:' || schema_name || '.' || table_name || '#' || " +
        "CAST(region_id AS VARCHAR) || '@' || CAST(start_ts AS VARCHAR)")
    val lockPick = Portable.hash60Sql(
      "'lockpick:' || schema_name || '.' || table_name || '#' || " +
        "CAST(region_id AS VARCHAR) || '@' || CAST(start_ts AS VARCHAR)")
    // the A96 region-states CTE chain, shared verbatim; the resolver
    // reads its final-tick `eff` rows as the capture-side bound
    s"""WITH ${RangeLock.regionStatesCteSql()},
       |maxv AS (
       |  SELECT schema_name, table_name,
       |    CAST(MIN(commit_ts) + (MAX(commit_ts) - MIN(commit_ts)) // 2
       |      AS BIGINT) AS max_version
       |  FROM changelog GROUP BY 1, 2
       |), census AS (
       |  SELECT schema_name, table_name, region_id,
       |    start_ts AS lock_ts,
       |    CASE ($lockHash % 3) WHEN 0 THEN 'committed'
       |      WHEN 1 THEN 'rolled_back' ELSE 'live' END AS status
       |  FROM (
       |    SELECT schema_name, table_name, $bucket AS region_id, start_ts
       |    FROM changelog
       |    GROUP BY schema_name, table_name, 3, start_ts
       |  )
       |  WHERE ($lockPick % $LockMod) = 0
       |), rgrid AS (
       |  SELECT m.schema_name, m.table_name, m.max_version, r.region_id
       |  FROM maxv m CROSS JOIN
       |    (SELECT UNNEST(GENERATE_SERIES(0, ${Scheduler.NRegions - 1})) AS region_id) r
       |), per_region AS (
       |  SELECT g.schema_name, g.table_name, g.region_id, g.max_version,
       |    CAST(SUM(CASE WHEN c.lock_ts IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_locks,
       |    CAST(SUM(CASE WHEN c.lock_ts <= g.max_version THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_scanned,
       |    CAST(SUM(CASE WHEN c.lock_ts <= g.max_version
       |      AND c.status = 'committed' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_committed,
       |    CAST(SUM(CASE WHEN c.lock_ts <= g.max_version
       |      AND c.status = 'rolled_back' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rolled_back,
       |    CAST(SUM(CASE WHEN c.lock_ts <= g.max_version
       |      AND c.status = 'live' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       |    MIN(CASE WHEN c.lock_ts <= g.max_version AND c.status = 'live'
       |      THEN c.lock_ts END) AS mlt
       |  FROM rgrid g LEFT JOIN census c
       |    ON c.schema_name = g.schema_name AND c.table_name = g.table_name
       |    AND c.region_id = g.region_id
       |  GROUP BY 1, 2, 3, 4
       |), resolved AS (
       |  SELECT *,
       |    CAST(n_scanned // $ScanLimit + 1 AS BIGINT) AS n_scans,
       |    CAST(COALESCE(mlt, -1) AS BIGINT) AS min_live_ts,
       |    CAST(CASE WHEN n_live > 0 THEN mlt - 1 ELSE max_version END
       |      AS BIGINT) AS txn_resolved_ts
       |  FROM per_region
       |), range_final AS (
       |  SELECT schema_name, table_name, region_id, eff_ts AS range_eff_ts
       |  FROM eff WHERE tick = ${RangeLock.MaxTick}
       |)
       |SELECT r.schema_name, r.table_name, r.region_id, r.max_version,
       |  r.n_locks, r.n_scanned, r.n_scans, r.n_committed, r.n_rolled_back,
       |  r.n_live, r.min_live_ts, r.txn_resolved_ts, g.range_eff_ts,
       |  CAST(LEAST(r.txn_resolved_ts, g.range_eff_ts) AS BIGINT)
       |    AS resolved_ts,
       |  CASE WHEN r.txn_resolved_ts <= g.range_eff_ts AND r.n_live > 0
       |      THEN 'lock'
       |    WHEN g.range_eff_ts < r.txn_resolved_ts THEN 'range'
       |    ELSE 'none' END AS pin
       |FROM resolved r JOIN range_final g
       |  ON g.schema_name = r.schema_name AND g.table_name = r.table_name
       |  AND g.region_id = r.region_id""".stripMargin
  }
}
