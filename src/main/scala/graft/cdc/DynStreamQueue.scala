package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** A102 — the dynamic-stream event-queue DRAIN order: which events the
  * ingestion service hands to its handler, in what batches — the
  * companion of A98 (which models what gets PAUSED; this models what
  * runs, and in what order, when nothing is paused).
  *
  * Reference: utils/dynstream/event_queue.go:206-237 `appendEvent`
  * (per-path FIFO) + :239-310 `popEvents` — each pop round walks a
  * two-level heap (areas by min queue time, event_queue.go:90-94;
  * within the area, paths by front-event timestamp, :31-36), then
  * drains up to `BatchCount` events from the chosen path's FIFO while
  * they share the first event's DataGroup and stay batchable
  * (:283-292); a NonBatchable event (a DDL) always travels alone; a
  * batch whose FIRST event is a PeriodicSignal collapses to its LAST
  * event only (:299-303 — resolved-ts heartbeats supersede each
  * other). Paths hash onto a fixed set of parallel streams
  * (parallel_dynamic_stream.go — each stream drains independently).
  *
  * Replay stand-ins, documented for the oracle: the queue is
  * pre-filled and drained to empty (the batch replay of the steady
  * state), arrival order = the event total order (ts, tie, detail,
  * path) — so the area's min queue time IS its min front timestamp
  * and the two-level heap choice collapses to "the path with the
  * globally minimal front event"; heap ties at BOTH levels break by
  * that same total order (the reference's heap order on equal keys
  * is internal, so any deterministic pin is a valid model; in this
  * fleet cross-path (ts, tie) ties only happen on grid events whose
  * detail is constant, so (first_ts, first_tie, path) already IS
  * that order); DataGroup = event kind (DMLs batch with DMLs,
  * signals with signals).
  *
  * Under those stand-ins the sequential drain loop admits a FULL
  * closed form — no fold at all:
  *   1. per path, events order by (ts, tie, detail); a RUN starts at
  *      every kind change (FIFO fronts advance monotonically, so
  *      batches respect run boundaries);
  *   2. batchable runs chop into ⌈len/B⌉ batches of B (`pos div B`);
  *      NonBatchable (DDL) runs chop one event per batch;
  *   3. batches drain per stream in (first_ts, first_tie, path)
  *      order — the heap merge of monotone per-path sequences is
  *      exactly the sort of batch heads;
  *   4. a SIGNAL batch of size > 1 emits only its last event.
  *
  * Event fleet: changelog DMLs (detail = pk), the A18 DDL grid
  * (detail = schema version, one per region path — DDLs visit every
  * span dispatcher, the A99 convention), and per-path resolved-ts
  * SIGNALs every [[SignalStep]] ticks (the A81 heartbeat-grid
  * convention; step 20 leaves multi-signal runs in every table's
  * quiet gaps at sf0.01+, so the collapse arm runs on real data).
  *
  * Scale shape: one changelog pass + a dimension-scale signal/DDL
  * grid; two corpus-scale keyed shuffles (path windows, batch-key
  * aggregate) and a per-stream rank over batch HEADS (rows/B, the A2
  * per-key-sort class — the drain order per stream is inherently a
  * total order; the reference itself is that sequential loop). */
object DynStreamQueue {

  val NStreams = 4
  val BatchCount = 4
  val SignalStep = 20L
  /** Heartbeat BUDGET: the effective signal step is
    * max(SignalStep, span div SignalBudget) — heartbeats are a TIME
    * cadence, not a volume cadence, so the per-path signal count is
    * bounded (~SignalBudget) as the commit-ts span grows instead of
    * scaling with data volume (the 24M-signal artifact that made A102
    * the sf10 board's largest cost). The floor keeps every small-SF
    * queue — and its oracle hash — identical. */
  val SignalBudget = 5000L

  /** The pre-filled queue: (stream, area, path, ts, tie, kind, detail). */
  private[cdc] def queueFrame(cl: DataFrame,
                         signalStep: Long): DataFrame = {
    val dml = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .select(col("schema_name").as("area"),
        concat_ws("#", col("schema_name"), col("table_name"),
          col("region_id")).as("path"),
        col("commit_ts").as("ts"), lit(0L).as("tie"),
        lit("DML").as("kind"), col("pk").cast("string").as("detail"))
    val regionGrid = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .select(col("schema_name"), col("table_name"), col("region_id"))
      .distinct()
    val ddl = SchemaStore.ddlEvents(cl, Nil)
      .join(regionGrid, Seq("schema_name", "table_name"))
      .select(col("schema_name").as("area"),
        concat_ws("#", col("schema_name"), col("table_name"),
          col("region_id")).as("path"),
        col("valid_from").as("ts"), lit(1L).as("tie"),
        lit("DDL").as("kind"), col("schema_ver").as("detail"))
    val maxTs = ClDims.maxTs(cl).select(col("m").as("max_ts"))
    val signals = regionGrid.crossJoin(broadcast(maxTs))
      .withColumn("step",
        greatest(lit(signalStep), expr(s"max_ts div $SignalBudget")))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("step"),
        explode(expr("sequence(1L, max_ts div step)")).as("k"))
      .select(col("schema_name").as("area"),
        concat_ws("#", col("schema_name"), col("table_name"),
          col("region_id")).as("path"),
        (col("k") * col("step")).as("ts"), lit(2L).as("tie"),
        lit("SIGNAL").as("kind"), lit("").as("detail"))
    dml.unionByName(ddl).unionByName(signals)
      .withColumn("stream", Portable.bucket(col("path"), NStreams))
  }

  /** Closed-form drain over a pre-filled queue frame
    * (stream, area, path, ts, tie, kind, detail) — spec-drivable. */
  def drainFrame(queue: DataFrame): DataFrame = {
    val wPath = Window.partitionBy(col("path"))
      .orderBy(col("ts"), col("tie"), col("detail"))
    val wRun = wPath.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = queue
      .withColumn("rn", row_number().over(wPath).cast("long"))
      .withColumn("run_start",
        max(when(col("kind") =!= coalesce(
            lag(col("kind"), 1).over(wPath), lit("")), col("rn")))
          .over(wRun))
      .withColumn("pos_in_run", col("rn") - col("run_start"))
      .withColumn("sub",
        when(col("kind") === "DDL", col("pos_in_run"))
          .otherwise(expr(s"pos_in_run div $BatchCount")))
      .withColumn("pos_in_batch",
        when(col("kind") === "DDL", lit(1L))
          .otherwise(col("pos_in_run") - col("sub") * BatchCount + 1L))
    val batches = seg
      .groupBy(col("stream"), col("path"), col("run_start"), col("sub"))
      .agg(min(col("ts")).as("first_ts"), min(col("tie")).as("first_tie"),
        count(lit(1)).as("batch_size"))
      .withColumn("batch_seq",
        row_number().over(Window.partitionBy(col("stream"))
          .orderBy(col("first_ts"), col("first_tie"), col("path"),
            col("run_start"), col("sub"))).cast("long"))
    seg.join(batches, Seq("stream", "path", "run_start", "sub"))
      .withColumn("emitted",
        when(col("kind") === "SIGNAL" && col("batch_size") > 1L &&
          col("pos_in_batch") < col("batch_size"), 0L).otherwise(1L))
      .select(col("stream"), col("area"), col("path"), col("kind"),
        col("ts"), col("tie"), col("detail"), col("batch_seq"),
        col("pos_in_batch"), col("batch_size"), col("emitted"))
  }

  def queueDrain(cl: DataFrame): DataFrame =
    drainFrame(queueFrame(cl, SignalStep))

  def queueDrainSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    val streamOf = Portable.bucketSql("path", NStreams)
    s"""WITH sstep AS (
       |  SELECT GREATEST($SignalStep,
       |    (SELECT MAX(commit_ts) FROM changelog) // $SignalBudget) AS st
       |), rg AS (
       |  SELECT DISTINCT schema_name, table_name, $bucket AS region_id
       |  FROM changelog
       |), q AS (
       |  SELECT schema_name AS area,
       |    schema_name || '#' || table_name || '#' ||
       |      CAST($bucket AS VARCHAR) AS path,
       |    commit_ts AS ts, 0 AS tie, 'DML' AS kind,
       |    CAST(pk AS VARCHAR) AS detail
       |  FROM changelog
       |  UNION ALL
       |  SELECT rg.schema_name AS area,
       |    rg.schema_name || '#' || rg.table_name || '#' ||
       |      CAST(rg.region_id AS VARCHAR) AS path,
       |    g.v * ${SchemaStore.step} AS ts, 1 AS tie, 'DDL' AS kind,
       |    'v' || CAST(g.v AS VARCHAR) AS detail
       |  FROM rg CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0,
       |    (SELECT MAX(commit_ts) FROM changelog) // ${SchemaStore.step}))
       |    AS v) g
       |  UNION ALL
       |  SELECT rg.schema_name AS area,
       |    rg.schema_name || '#' || rg.table_name || '#' ||
       |      CAST(rg.region_id AS VARCHAR) AS path,
       |    g.k * (SELECT st FROM sstep) AS ts, 2 AS tie, 'SIGNAL' AS kind,
       |    '' AS detail
       |  FROM rg CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1,
       |    (SELECT MAX(commit_ts) FROM changelog)
       |      // (SELECT st FROM sstep))) AS k) g
       |), seg0 AS (
       |  SELECT *, $streamOf AS stream,
       |    CAST(ROW_NUMBER() OVER wp AS BIGINT) AS rn,
       |    (kind <> COALESCE(LAG(kind, 1) OVER wp, '')) AS kind_change
       |  FROM q
       |  WINDOW wp AS (PARTITION BY path ORDER BY ts, tie, detail)
       |), seg1 AS (
       |  SELECT *,
       |    MAX(CASE WHEN kind_change THEN rn END)
       |      OVER (PARTITION BY path ORDER BY ts, tie, detail
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_start
       |  FROM seg0
       |), seg AS (
       |  SELECT *,
       |    CASE WHEN kind = 'DDL' THEN rn - run_start
       |      ELSE (rn - run_start) // $BatchCount END AS sub,
       |    CASE WHEN kind = 'DDL' THEN 1
       |      ELSE rn - run_start
       |        - ((rn - run_start) // $BatchCount) * $BatchCount + 1
       |      END AS pos_in_batch
       |  FROM seg1
       |), batches AS (
       |  SELECT stream, path, run_start, sub,
       |    MIN(ts) AS first_ts, MIN(tie) AS first_tie,
       |    CAST(COUNT(*) AS BIGINT) AS batch_size,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY stream
       |      ORDER BY MIN(ts), MIN(tie), path, run_start, sub)
       |      AS BIGINT) AS batch_seq
       |  FROM seg GROUP BY stream, path, run_start, sub
       |)
       |SELECT s.stream, s.area, s.path, s.kind, CAST(s.ts AS BIGINT) AS ts,
       |  CAST(s.tie AS BIGINT) AS tie, s.detail, b.batch_seq,
       |  CAST(s.pos_in_batch AS BIGINT) AS pos_in_batch,
       |  b.batch_size,
       |  CAST(CASE WHEN s.kind = 'SIGNAL' AND b.batch_size > 1
       |    AND s.pos_in_batch < b.batch_size THEN 0 ELSE 1 END AS BIGINT)
       |    AS emitted
       |FROM seg s JOIN batches b ON b.stream = s.stream AND b.path = s.path
       |  AND b.run_start = s.run_start AND b.sub = s.sub""".stripMargin
  }
}
