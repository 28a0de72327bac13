package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A98 — the dynamic-stream memory backpressure ladder: which event
  * paths get PAUSED when an area (changefeed) approaches its memory
  * quota — the mechanism that keeps one slow table from OOMing the
  * whole ingestion service.
  *
  * Reference: utils/dynstream/memory_control.go:26-46 (the graded
  * rule table — usage ≥95% pauses ALL paths, ≥90% the top 80%, ≥85%
  * the top 50%, ≥80% the top 20%, below 80% none; "top" = largest
  * pending size) and :233-255 `shouldPausePath` (stopMaxIndex =
  * int(pathCount × ratio); a path pauses iff its position in the
  * size ordering is below that index — the reference reads the
  * max-heap index as "a good approximation" of the descending-size
  * rank; this frame computes the intended rank exactly, ties to the
  * lexicographic path). The per-event drop surgery
  * (`shouldDropEvent`'s drain-the-largest-path loop) is queue-local
  * sequential bookkeeping below this frame's granularity and is
  * deliberately out of scope.
  *
  * Deterministic replay: areas are changefeeds (= schemas, the
  * A76/A78 convention), paths are (table, region) cells, and a
  * path's pending size is its encoded open-protocol payload byte
  * total — one partial-aggregated pass. A 5-point settings grid
  * sweeps the quota so the area's usage lands in every rule band
  * (~70 / 82 / 87 / 92 / 100%), usage measured integer-exactly in
  * ppm.
  *
  * Scale shape: one partial-agg shuffle builds the path frame;
  * everything after is dimension-scale (areas × scenarios × paths)
  * with (area, scenario)-partitioned rank windows. */
object Backpressure {

  /** Quota sweep: usage ≈ pct of the quota in each scenario. */
  val ScenarioPcts: Seq[Long] = Seq(70L, 82L, 87L, 92L, 100L)

  /** memoryPauseRule rendered in ppm (memory_control.go:32-37). */
  private def pauseRatioPct(usagePpm: org.apache.spark.sql.Column) =
    when(usagePpm >= 950000L, 100L)
      .when(usagePpm >= 900000L, 80L)
      .when(usagePpm >= 850000L, 50L)
      .when(usagePpm >= 800000L, 20L)
      .otherwise(0L)

  def memBackpressure(cl: DataFrame): DataFrame = {
    val paths = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .groupBy(col("schema_name").as("area"),
        concat_ws("#", col("table_name"), col("region_id")).as("path"))
      .agg(sum(octet_length(Codecs.openProtocolValue)).as("pending_bytes"))
    val areas = paths.groupBy(col("area"))
      .agg(sum(col("pending_bytes")).as("total_bytes"),
        count(lit(1)).as("n_paths"))
    val scen = areas.select(col("area"), col("total_bytes"), col("n_paths"),
      explode(typedLit(ScenarioPcts)).as("target_pct"))
      .withColumn("max_bytes",
        expr("(total_bytes * 100) div target_pct"))
      .withColumn("usage_ppm",
        expr("(total_bytes * 1000000) div max_bytes"))
      .withColumn("pause_ratio_pct", pauseRatioPct(col("usage_ppm")))
      .withColumn("stop_max",
        expr("(n_paths * pause_ratio_pct) div 100"))
    val w = Window.partitionBy(col("area"), col("target_pct"))
      .orderBy(col("pending_bytes").desc, col("path"))
    paths.join(scen, Seq("area"))
      .withColumn("size_rank", row_number().over(w).cast("long") - 1L)
      .withColumn("paused",
        (col("size_rank") < col("stop_max")).cast("long"))
      .select(col("area"), col("target_pct"), col("path"),
        col("pending_bytes"), col("usage_ppm"), col("pause_ratio_pct"),
        col("stop_max"), col("size_rank"), col("paused"))
  }

  def memBackpressureSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    val pcts = ScenarioPcts.mkString(", ")
    s"""WITH paths AS (
       |  SELECT schema_name AS area,
       |    table_name || '#' || CAST($bucket AS VARCHAR) AS path,
       |    CAST(SUM(octet_length(encode(${Codecs.openProtocolValueSql})))
       |      AS BIGINT) AS pending_bytes
       |  FROM changelog
       |  GROUP BY 1, 2
       |), areas AS (
       |  SELECT area, CAST(SUM(pending_bytes) AS BIGINT) AS total_bytes,
       |    CAST(COUNT(*) AS BIGINT) AS n_paths
       |  FROM paths GROUP BY 1
       |), scen AS (
       |  SELECT a.area, a.total_bytes, a.n_paths, p.target_pct,
       |    (a.total_bytes * 100) // p.target_pct AS max_bytes
       |  FROM areas a
       |  CROSS JOIN (SELECT UNNEST([$pcts]) AS target_pct) p
       |), graded AS (
       |  SELECT *,
       |    (total_bytes * 1000000) // max_bytes AS usage_ppm,
       |    CASE
       |      WHEN (total_bytes * 1000000) // max_bytes >= 950000 THEN 100
       |      WHEN (total_bytes * 1000000) // max_bytes >= 900000 THEN 80
       |      WHEN (total_bytes * 1000000) // max_bytes >= 850000 THEN 50
       |      WHEN (total_bytes * 1000000) // max_bytes >= 800000 THEN 20
       |      ELSE 0 END AS pause_ratio_pct
       |  FROM scen
       |)
       |SELECT p.area, g.target_pct, p.path, p.pending_bytes,
       |  CAST(g.usage_ppm AS BIGINT) AS usage_ppm,
       |  CAST(g.pause_ratio_pct AS BIGINT) AS pause_ratio_pct,
       |  CAST((g.n_paths * g.pause_ratio_pct) // 100 AS BIGINT) AS stop_max,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY p.area, g.target_pct
       |    ORDER BY p.pending_bytes DESC, p.path) - 1 AS BIGINT) AS size_rank,
       |  CAST((ROW_NUMBER() OVER (PARTITION BY p.area, g.target_pct
       |    ORDER BY p.pending_bytes DESC, p.path) - 1) <
       |    (g.n_paths * g.pause_ratio_pct) // 100 AS BIGINT) AS paused
       |FROM paths p JOIN graded g ON g.area = p.area""".stripMargin
  }
}
