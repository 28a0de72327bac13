package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A100 — the barrier bootstrap coverage checker: given the sub-span
  * reports the dispatchers have sent, is every table's keyspace
  * FULLY covered — and if not, where is the first hole? The
  * maintainer gates DDL barriers and changefeed bootstrap on exactly
  * this verdict.
  *
  * Reference: maintainer/range_checker/table_span_range_checker.go
  * :43-49 `AddSubRange` + :77-140 (SpanCoverageChecker — reported
  * ranges are MERGED when they overlap or touch, held in a btree) and
  * :50-58 / :142-152 `IsFullyCovered` (one node left spanning
  * [start, end] of the table) with `Detail` listing the uncovered
  * tables. The btree's incremental merge collapses declaratively to
  * the classic interval-union: sort reports, a new island starts
  * where a report begins past the running max end + 1.
  *
  * Deterministic replay over the A90 splitter's own sub-spans — the
  * spans dispatchers actually report — in the occupied-region INDEX
  * domain (adjacency is index-adjacency; raw region ids are sparse
  * hash buckets): every 5th report is MISSING (that dispatcher has
  * not come up — the hole arm), every 7th is DUPLICATED (a re-sent
  * heartbeat — the exact-overlap merge arm), and each split table
  * additionally reports one STALE pre-split span covering its first
  * two sub-spans (the partial-overlap merge arm).
  *
  * Scale shape: dimension-scale throughout — the report list is the
  * A90 span list; the merge is one grp-partitioned running-max
  * window + one aggregation; no corpus-scale frame anywhere past the
  * A90 region scan. */
object Coverage {

  def spanCoverage(cl: DataFrame): DataFrame = {
    // occupied-region index per (grp, rid): the coverage domain
    val ridx = cl
      .withColumn("rid", Scheduler.pkRegion(Scheduler.SplitScanRegions))
      .select(concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        col("rid"))
      .distinct()
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("rid"))).cast("long") - 1L)
    val n = ridx.groupBy(col("grp")).agg(count(lit(1)).as("n_regions"))
    val spans = Scheduler.spanSplitRegions(cl)
      .join(ridx.select(col("grp"), col("rid").as("start_rid"),
        col("idx").as("start_idx")), Seq("grp", "start_rid"))
      .join(ridx.select(col("grp"), col("rid").as("end_rid"),
        col("idx").as("end_idx")), Seq("grp", "end_rid"))
      .select(col("grp"), col("span_seq"), col("start_idx"), col("end_idx"))
    val present = spans.filter(pmod(col("span_seq"), lit(5L)) =!= 2L)
    val dup = spans.filter(pmod(col("span_seq"), lit(7L)) === 3L)
    val stale = spans.filter(col("span_seq") <= 2L)
      .groupBy(col("grp")).agg(count(lit(1)).as("c"),
        min(col("start_idx")).as("start_idx"),
        max(col("end_idx")).as("end_idx"))
      .filter(col("c") === 2L)
      .select(col("grp"), lit(0L).as("span_seq"), col("start_idx"),
        col("end_idx"))
    val reports = present.unionByName(dup).unionByName(stale)
    // interval union: island starts where a report begins past the
    // running max end + 1 (merge-on-touch, the btree semantics)
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("start_idx"), col("end_idx"))
    val islanded = reports
      .withColumn("prev_max", max(col("end_idx")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull ||
          col("start_idx") > col("prev_max") + 1L, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val merged = islanded.groupBy(col("grp"), col("island"))
      .agg(min(col("start_idx")).as("m_start"),
        max(col("end_idx")).as("m_end"),
        count(lit(1)).as("n_reports_in"))
    val wI = Window.partitionBy(col("grp")).orderBy(col("island"))
    val gaps = merged
      .withColumn("prev_end", lag(col("m_end"), 1).over(wI))
      .withColumn("gap_start",
        when(col("island") === 1L && col("m_start") > 0L, lit(0L))
          .when(col("prev_end").isNotNull, col("prev_end") + 1L))
      .withColumn("gap_end",
        when(col("island") === 1L && col("m_start") > 0L,
          col("m_start") - 1L)
          .when(col("prev_end").isNotNull, col("m_start") - 1L))
    gaps.groupBy(col("grp"))
      .agg(sum(col("n_reports_in")).as("n_reports"),
        count(lit(1)).as("n_merged"),
        sum(col("m_end") - col("m_start") + 1L).as("covered_regions"),
        min(col("m_start")).as("cov_start"),
        max(col("m_end")).as("cov_end"),
        min(when(col("gap_start").isNotNull,
          struct(col("gap_start"), col("gap_end")))).as("g"))
      .join(n, Seq("grp"))
      .select(col("grp"), col("n_regions"), col("n_reports"),
        col("n_merged"), col("covered_regions"),
        ((col("n_merged") === 1L) && (col("cov_start") === 0L) &&
          (col("cov_end") === col("n_regions") - 1L)).cast("long")
          .as("fully_covered"),
        coalesce(col("g.gap_start"), lit(-1L)).as("first_gap_start"),
        coalesce(col("g.gap_end"), lit(-1L)).as("first_gap_end"))
  }

  def spanCoverageSql(): String = {
    val a90 = Scheduler.spanSplitRegionsSql()
      .linesIterator.map("    " + _).mkString("\n")
    val bucket = Scheduler.pkRegionSql(Scheduler.SplitScanRegions)
    s"""WITH ridx AS (
       |  SELECT grp, rid,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY rid) - 1
       |      AS BIGINT) AS idx
       |  FROM (SELECT DISTINCT schema_name || '.' || table_name AS grp,
       |          $bucket AS rid
       |        FROM changelog)
       |), nreg AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_regions
       |  FROM ridx GROUP BY 1
       |), spans AS (
       |  SELECT s.grp, s.span_seq, a.idx AS start_idx, b.idx AS end_idx
       |  FROM (
       |$a90
       |  ) s
       |  JOIN ridx a ON a.grp = s.grp AND a.rid = s.start_rid
       |  JOIN ridx b ON b.grp = s.grp AND b.rid = s.end_rid
       |), reports AS (
       |  SELECT grp, span_seq, start_idx, end_idx FROM spans
       |  WHERE span_seq % 5 <> 2
       |  UNION ALL
       |  SELECT grp, span_seq, start_idx, end_idx FROM spans
       |  WHERE span_seq % 7 = 3
       |  UNION ALL
       |  SELECT grp, 0, MIN(start_idx), MAX(end_idx) FROM spans
       |  WHERE span_seq <= 2 GROUP BY grp HAVING COUNT(*) = 2
       |), islanded AS (
       |  SELECT *,
       |    CAST(SUM(CASE WHEN prev_max IS NULL
       |        OR start_idx > prev_max + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY grp ORDER BY start_idx, end_idx
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS island
       |  FROM (
       |    SELECT *, MAX(end_idx) OVER (PARTITION BY grp
       |      ORDER BY start_idx, end_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |    FROM reports
       |  )
       |), merged AS (
       |  SELECT grp, island, MIN(start_idx) AS m_start,
       |    MAX(end_idx) AS m_end, CAST(COUNT(*) AS BIGINT) AS n_reports_in
       |  FROM islanded GROUP BY 1, 2
       |), gaps AS (
       |  SELECT *,
       |    CASE WHEN island = 1 AND m_start > 0 THEN 0
       |      WHEN prev_end IS NOT NULL THEN prev_end + 1 END AS gap_start,
       |    CASE WHEN island = 1 AND m_start > 0 THEN m_start - 1
       |      WHEN prev_end IS NOT NULL THEN m_start - 1 END AS gap_end
       |  FROM (SELECT *, LAG(m_end, 1) OVER (PARTITION BY grp
       |    ORDER BY island) AS prev_end FROM merged)
       |), agg AS (
       |  SELECT grp, CAST(SUM(n_reports_in) AS BIGINT) AS n_reports,
       |    CAST(COUNT(*) AS BIGINT) AS n_merged,
       |    CAST(SUM(m_end - m_start + 1) AS BIGINT) AS covered_regions,
       |    MIN(m_start) AS cov_start, MAX(m_end) AS cov_end,
       |    MIN(CASE WHEN gap_start IS NOT NULL
       |      THEN {'gap_start': gap_start, 'gap_end': gap_end} END) AS g
       |  FROM gaps GROUP BY grp
       |)
       |SELECT a.grp, n.n_regions, a.n_reports, a.n_merged,
       |  a.covered_regions,
       |  CAST(a.n_merged = 1 AND a.cov_start = 0
       |    AND a.cov_end = n.n_regions - 1 AS BIGINT) AS fully_covered,
       |  CAST(COALESCE(a.g.gap_start, -1) AS BIGINT) AS first_gap_start,
       |  CAST(COALESCE(a.g.gap_end, -1) AS BIGINT) AS first_gap_end
       |FROM agg a JOIN nreg n ON n.grp = a.grp""".stripMargin
  }
}
