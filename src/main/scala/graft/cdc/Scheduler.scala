package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** A79/A80/A81 — the maintainer's span-scheduling plane: absent-task
  * assignment, group balance moves, and the hot-span split decision.
  *
  * A79 (reference: pkg/scheduler/basic.go:106-139 `BasicSchedule`):
  * absent spans are assigned one at a time, each to the CURRENTLY
  * least-loaded node (a min-heap keyed on load, re-pushed after every
  * assignment), capped at the scheduler's available batch size.
  *
  * A80 (reference: pkg/scheduler/balance.go:196-280 `Balance` +
  * :93-111 `schedulerGroup` + :169-194 `CheckBalanceStatus`): per
  * replication group, `lowerLimit = floor(total / aliveNodes)`; nodes
  * below the limit are targets (min-heap), the rest are victims
  * (max-heap); the loop repeatedly moves one task from the max-loaded
  * victim to the min-loaded target until every target reaches the
  * limit, capped per group at the batch size; groups run in order and
  * a group is skipped entirely once the cumulative move count has
  * reached the batch (balance.go:104-107).
  *
  * Both heap loops admit an exact closed form — the HEAP→LAYER
  * duality: popping the min-loaded node k times and re-pushing equals
  * filling unit slots sorted by (height ASC, node ASC), and popping
  * the max-loaded victim equals draining unit layers sorted by
  * (height DESC, node ASC), where a victim's j-th donation happens at
  * height `load - j + 1`. The r-th assignment (move) pairs the r-th
  * slot with the r-th layer. Surpluses always cover deficits
  * (sum(load) = n·lower + remainder), so no victim is ever pulled
  * below the limit and the pairing is total. This turns both
  * sequential schedulers into pure window/join plans.
  *
  * Determinism stand-ins, documented for the oracle: heap ties are
  * broken by node id ASC (the reference's heap order is internal);
  * the victim's donated task is its lowest span key (the reference
  * shuffles tasks randomly, balance.go:233-239 — any order is
  * semantically valid); absent spans schedule in span-key order (the
  * reference processes its absent buffer in list order).
  *
  * A81 (reference: maintainer/replica/hot_span.go:123-158
  * `updateHotSpan` + :82-121 `getBatchByGroup` + :29-38 constants):
  * per heartbeat tick a span's score moves +1 when its write rate is
  * at or above `writeThreshold × imbalanceCoefficient`, −1 (floored
  * at 0) when below `writeThreshold`, else 0; the coefficient is 1
  * for the default group and 3 for split groups
  * (hot_span.go:41-46 `getImbalanceThreshold`). A span is HOT when
  * its score reaches HotSpanScoreThreshold (3) and its last increment
  * is within the clear timeout (stale entries are cleared, not
  * returned). The floored walk has the Lindley closed form
  * `score_t = S_t − min(0, min_{j≤t} S_j)` over the delta prefix sum
  * S — two windows on one (span)-keyed shuffle. Hot spans carry the
  * split hint `getSpansNumber(regionNum, captureNum, maxSpanNum)`
  * (maintainer/split/region_count_splitter.go:173-180, constants
  * splitter.go:32-39; consumed via maintainer_controller.go:135,174).
  *
  * Deterministic fleet replay over the A69/A77 region convention:
  * spans are (table, pk-hash-region) cells; the ABSENT set and the
  * replicating placement come from the A110 replication-db machine's
  * finals (the reference wiring — the schedulers read the db, not a
  * fabricated census). Bind targets keep the skewed
  * `min(spanBucket, nNodes-1)` assignment so victims and targets
  * both appear. Hot-span ticks are syncStep-wide
  * commit_ts buckets with the event count as the write-rate proxy,
  * densified over the full grid (heartbeats arrive every tick).
  *
  * Scale shape: all three frames are dimension-scale (tables ×
  * regions × nodes, tables × ticks) — the only full-data pass is the
  * partial-aggregated changelog scan that builds them. The slot/layer
  * rank windows are unpartitioned (A79) or group-partitioned (A80)
  * over nodes×absent-size frames — bounded by the span universe, not
  * data volume, the A54 boundary-grid precedent. */
object Scheduler {

  /** Alive-node universe (stand-in for NodeManager.GetAliveNodes). */
  val NNodes = 4
  /** Region sub-spans per table, the A69/A77 convention: every
    * region-level cdc/ operator (scheduler, event service, frontier,
    * locks, backpressure, coverage) and the streaming twins map a row
    * to its region with [[pkRegion]] over this one count. */
  val NRegions = 8

  /** The pk-hash region map: `hash60(pk) mod n`, [[NRegions]] cells per
    * table (the splitters pass their finer [[SplitScanRegions]] grid). */
  def pkRegion(n: Int = NRegions): Column = Portable.bucket(col("pk").cast("string"), n)

  /** DuckDB rendering of [[pkRegion]]. */
  def pkRegionSql(n: Int = NRegions): String = Portable.bucketSql("CAST(pk AS VARCHAR)", n)

  /** Scheduler batch: the most spans one scheduling pass assigns or
    * moves (A79/A80/A92/A94/A109). */
  val Batch = 1000

  /** A81 hot-span walk: tick width (commit-ts units), the per-tick write
    * threshold, the score that marks a span hot and the ticks without
    * an increment that make it stale — shared by the batch walk, its
    * oracle and the A81s streaming twin. */
  val HotTickW = 100L
  val HotThr = 10L
  val HotScoreThr = 3
  val HotClearTicks = 3L

  /** getSpansNumber's cap on sub-spans per split and its regions-per-span
    * limit. */
  val MaxSpanNum = 100
  val SpanRegionLimit = 50000L

  /** Sub-spans a hot span splits into: `getSpansNumber(NRegions, NNodes)`. */
  val HotSplitSpans: Int = spansNumber(NRegions, NNodes)

  /** A82/A90/A101 splitter thresholds: the table write count below which
    * the write splitter keeps a table whole, and the occupied-region count
    * above which the region splitter cuts it. */
  val SplitWriteThreshold = 500L
  val SplitRegionThreshold = 20

  private[cdc] def nodeFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    (0L until NNodes.toLong).toDF("node")
  }

  private[cdc] val nodesValuesSql: String =
    (0 until NNodes).map(n => s"(CAST($n AS BIGINT))").mkString(", ")

  /** (grp, region_id, span, n_rows) — one row per table×region cell,
    * kept per (session, changelog plan) by
    * [[graft.util.Tables.checkpointed]]: A79/A80/A92/A94/A109/A110 all
    * funnel through this ~48-row census, the only full-data pass of the
    * scheduler plane, and A109 alone composes three scheduler outputs
    * (it paid the scan ~20×, 20.4 s at the sf10 tier vs 0.8 s for one
    * census pass). */
  private[graft] def spanFrame(cl: DataFrame): DataFrame =
    graft.util.Tables.checkpointed(cl, "census", ())(
      spanFrameUncached(cl).localCheckpoint())

  private def spanFrameUncached(cl: DataFrame): DataFrame =
    cl.withColumn("region_id", pkRegion())
      .groupBy(
        concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        col("region_id"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("span",
        concat(col("grp"), lit("#r"), col("region_id").cast("string")))

  private[cdc] def spanFrameSql(): String =
    s"""SELECT schema_name || '.' || table_name AS grp, region_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    schema_name || '.' || table_name || '#r' || CAST(region_id AS VARCHAR) AS span
       |  FROM (SELECT *,
       |    ${pkRegionSql()} AS region_id
       |    FROM changelog)
       |  GROUP BY schema_name, table_name, region_id""".stripMargin

  /** Skewed current assignment: buckets ≥ nNodes-1 pile onto the last
    * node, so both surplus and deficit nodes exist. */
  private[cdc] def assignNode(span: Column): Column =
    least(Portable.bucket(span, 2 * NNodes), lit(NNodes - 1L))

  private[cdc] def assignNodeSql(spanExpr: String): String =
    s"LEAST(${Portable.bucketSql(spanExpr, 2 * NNodes)}, ${NNodes - 1})"

  /** The current replicating placement (grp, span, node) — the A110
    * replication-db machine's final replicating surface (TryRemove*
    * only builds remove operators for spans that HAVE a dispatcher;
    * absent spans are deleted without one). Shared with the A109
    * maintainer span-operator plane, whose remove machines run over
    * the spans of dropped tables. */
  private[cdc] def spanPlacement(cl: DataFrame): DataFrame =
    ReplicationDb.finalStates(cl)
      .filter(col("state") === "replicating")
      .select(col("grp"), col("span"), col("node"))

  private[cdc] def spanPlacementSql(): String =
    s"""WITH spans AS (${spanFrameSql()}),
       |${ReplicationDb.spanStatesCteSql},
       |${ReplicationDb.finalsCteSql}
       |SELECT grp, span, node FROM finals
       |WHERE state = 'replicating'""".stripMargin

  // ------------------------------------------------------------------
  // A79 — basic scheduler: absent spans onto the min-loaded node
  // ------------------------------------------------------------------

  /** Core frame, spec-drivable with handcrafted inputs.
    * `loads` = (node, load) over ALL alive nodes; `absent` = (span).
    * Output: one row per scheduled span with its assignment order,
    * target node and the node's load after the assignment. */
  def basicFrame(loads: DataFrame, absent: DataFrame, batch: Int): DataFrame = {
    val nAbs = absent.agg(count(lit(1)).as("n_abs"))
    // ≥ n_abs slots per node always covers the worst case (every
    // assignment landing on one node); extra slots rank later and
    // simply go unfilled
    val slots = loads.crossJoin(broadcast(nAbs))
      .select(col("node"), col("load"),
        explode(when(col("n_abs") > 0, sequence(lit(1L), col("n_abs")))
          .otherwise(array().cast("array<long>"))).as("s"))
      .withColumn("height", col("load") + col("s"))
      .withColumn("slot_rank",
        row_number().over(graft.util.Windows.bounded(col("height"), col("node"))))
    val ranked = absent
      .withColumn("assign_seq",
        row_number().over(graft.util.Windows.bounded(col("span"))).cast("long"))
      .filter(col("assign_seq") <= batch)
    ranked.join(slots, col("assign_seq") === col("slot_rank"))
      .select(col("span"), col("assign_seq"),
        col("node").as("target_node"),
        col("height").as("node_load_after"))
  }

  /** A79 production query over the A110 replication-db finals — the
    * reference wiring: BasicSchedule pulls the db's ABSENT set
    * (crashed-off and still-undiscovered spans) and the node loads
    * are the db's replicating task counts (basic.go:106-139 reading
    * GetAbsentByGroup / GetTaskSizePerNode). */
  def basicSchedule(cl: DataFrame): DataFrame = {
    val fin = ReplicationDb.finalStates(cl)
    val absent = fin.filter(col("state") === "absent").select(col("span"))
    val loads = nodeFrame(cl.sparkSession)
      .join(fin.filter(col("state") === "replicating")
          .groupBy("node").agg(count(lit(1)).as("cnt")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("cnt"), lit(0L)).as("load"))
    basicFrame(loads, absent, Batch)
  }

  def basicScheduleSql(): String =
    s"""WITH spans AS (${spanFrameSql()}),
       |${ReplicationDb.spanStatesCteSql},
       |${ReplicationDb.finalsCteSql},
       |nodes(node) AS (VALUES $nodesValuesSql),
       |absent AS (SELECT span FROM finals WHERE state = 'absent'),
       |loads AS (
       |  SELECT n.node, COALESCE(c.cnt, 0) AS load
       |  FROM nodes n LEFT JOIN
       |    (SELECT node, CAST(COUNT(*) AS BIGINT) AS cnt FROM finals
       |     WHERE state = 'replicating' GROUP BY node) c
       |    ON n.node = c.node
       |),
       |acnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_abs FROM absent),
       |slots AS (
       |  SELECT node, load + s AS height,
       |    ROW_NUMBER() OVER (ORDER BY load + s, node) AS slot_rank
       |  FROM (SELECT l.node, l.load,
       |          UNNEST(GENERATE_SERIES(1, (SELECT n_abs FROM acnt))) AS s
       |        FROM loads l)
       |),
       |ranked AS (
       |  SELECT span,
       |    CAST(ROW_NUMBER() OVER (ORDER BY span) AS BIGINT) AS assign_seq
       |  FROM absent
       |)
       |SELECT r.span, r.assign_seq, s.node AS target_node,
       |  s.height AS node_load_after
       |FROM ranked r JOIN slots s ON r.assign_seq = s.slot_rank
       |WHERE r.assign_seq <= $Batch""".stripMargin

  // ------------------------------------------------------------------
  // A80 — balance scheduler: per-group surplus→deficit moves
  // ------------------------------------------------------------------

  /** Per-group per-node load over the full alive universe with the
    * group's lower limit attached. lowerLimit divides by the ALIVE
    * node count (balance.go:216-222 counts nodeTasks after
    * absent-node fill), not a constant. */
  private def loadStat(tasks: DataFrame, nodes: DataFrame): DataFrame = {
    val loads = tasks.select("grp").distinct()
      .crossJoin(broadcast(nodes))
      .join(tasks.groupBy("grp", "node").agg(count(lit(1)).as("cnt")),
        Seq("grp", "node"), "left")
      .select(col("grp"), col("node"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    loads
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("grp"))))
      .withColumn("lower", expr("total div n_nodes"))
  }

  /** CheckBalanceStatus (balance.go:169-194) per group: the total,
    * the lower limit, the deficit (its moveSize), the per-group cap
    * min(batch, deficit), and the cumulative-moved gate position.
    * One row per group — balanced groups report deficit 0 (the
    * reference's fast-path: no scheduling needed). */
  def balanceStatus(tasks: DataFrame, nodes: DataFrame, batch: Int): DataFrame =
    loadStat(tasks, nodes).groupBy(col("grp"))
      .agg(
        max(col("total")).as("grp_total"),
        max(col("lower")).as("grp_lower"),
        sum(greatest(col("lower") - col("cnt"), lit(0L))).as("deficit"))
      .withColumn("grp_cap", least(col("deficit"), lit(batch.toLong)))
      .withColumn("moved_before",
        coalesce(sum(col("grp_cap")).over(
          graft.util.Windows.bounded(col("grp")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))

  /** Core frame, spec-drivable. `tasks` = (grp, node, span) current
    * replicating assignment; `nodes` = (node) alive universe.
    * Output: one row per move. */
  def balanceFrame(tasks: DataFrame, nodes: DataFrame, batch: Int): DataFrame = {
    val stat = loadStat(tasks, nodes)
    // the cross-group batch gate: a group is skipped entirely once the
    // cumulative moved count has reached the batch (balance.go:104-107)
    val groupStat = balanceStatus(tasks, nodes, batch)
      .filter(col("moved_before") < batch && col("deficit") > 0)
    // layer duality: victim v's j-th donation happens at height
    // cnt - j + 1; donations drain (height DESC, node ASC)
    val donations = stat.filter(col("cnt") > col("lower"))
      .select(col("grp"), col("node").as("from_node"), col("cnt"),
        explode(sequence(col("lower") + 1L, col("cnt"))).as("from_height"))
      .withColumn("task_rank", col("cnt") + 1L - col("from_height"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("from_height").desc, col("from_node"))).cast("long"))
    // the donated task: lowest span key first (shuffle stand-in)
    val rankedTasks = tasks
      .withColumn("task_rank", row_number().over(
        Window.partitionBy(col("grp"), col("node")).orderBy(col("span"))).cast("long"))
      .withColumnRenamed("node", "from_node")
    // slot duality: targets fill (height ASC, node ASC) up to the limit
    val slots = stat.filter(col("cnt") < col("lower"))
      .select(col("grp"), col("node").as("to_node"), col("lower"),
        explode(sequence(col("cnt") + 1L, col("lower"))).as("to_height"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("to_height"), col("to_node"))).cast("long"))
    donations
      .join(rankedTasks, Seq("grp", "from_node", "task_rank"))
      .join(slots, Seq("grp", "rank"))
      .join(groupStat.select("grp", "grp_cap"), Seq("grp"))
      .filter(col("rank") <= col("grp_cap"))
      .select(col("grp"), col("rank").as("move_seq"), col("span"),
        col("from_node"), col("from_height"),
        col("to_node"), col("to_height"), col("lower").as("grp_lower"))
  }

  /** A80 production query over the full skewed span fleet, grouped by
    * table (the reference's split-span groups are per-table). One row
    * per group ALWAYS (the CheckBalanceStatus verdict — balanced
    * groups report deficit 0 with null move columns, the reference's
    * fast-path) plus one row per move for groups with a deficit. */
  def groupBalance(cl: DataFrame): DataFrame = {
    val tasks = ReplicationDb.finalStates(cl)
      .filter(col("state") === "replicating")
      .select("grp", "node", "span")
    val nodes = nodeFrame(cl.sparkSession)
    val moves = balanceFrame(tasks, nodes, Batch)
      .select(col("grp"), col("move_seq"), col("span"), col("from_node"),
        col("from_height"), col("to_node"), col("to_height"))
    balanceStatus(tasks, nodes, Batch).join(moves, Seq("grp"), "left")
  }

  /** The shared balance CTE chain (spans → tasks → loads → …
    * → moves) with the scheduler-group expression pluggable: `grp`
    * for the per-table split groups (A80), `'default'` for the
    * one-group default arm (A92's operator input). */
  private def balanceCteSql(grpExpr: String): String =
    s"""WITH spans AS (${spanFrameSql()}),
       |${ReplicationDb.spanStatesCteSql},
       |${ReplicationDb.finalsCteSql},
       |nodes(node) AS (VALUES $nodesValuesSql),
       |tasks AS (
       |  SELECT $grpExpr AS grp, node, span
       |  FROM finals WHERE state = 'replicating'
       |),
       |loads AS (
       |  SELECT g.grp, n.node, COALESCE(c.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT grp FROM tasks) g
       |  CROSS JOIN nodes n
       |  LEFT JOIN (SELECT grp, node, CAST(COUNT(*) AS BIGINT) AS cnt
       |             FROM tasks GROUP BY grp, node) c
       |    ON g.grp = c.grp AND n.node = c.node
       |),
       |stat AS (
       |  SELECT *,
       |    CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS total,
       |    CAST(SUM(cnt) OVER (PARTITION BY grp)
       |      // (SELECT COUNT(*) FROM nodes) AS BIGINT)
       |    AS lower_lim
       |  FROM loads
       |),
       |group_stat AS (
       |  SELECT grp,
       |    CAST(MAX(total) AS BIGINT) AS grp_total,
       |    CAST(MAX(lower_lim) AS BIGINT) AS grp_lower,
       |    CAST(SUM(GREATEST(lower_lim - cnt, 0)) AS BIGINT) AS deficit,
       |    CAST(LEAST(SUM(GREATEST(lower_lim - cnt, 0)), $Batch) AS BIGINT)
       |      AS grp_cap
       |  FROM stat GROUP BY grp
       |),
       |gated AS (
       |  SELECT *,
       |    CAST(COALESCE(SUM(grp_cap) OVER (ORDER BY grp
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS moved_before
       |  FROM group_stat
       |),
       |donations AS (
       |  SELECT grp, from_node, from_height,
       |    cnt + 1 - from_height AS task_rank,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp
       |      ORDER BY from_height DESC, from_node) AS BIGINT) AS rnk
       |  FROM (SELECT grp, node AS from_node, cnt,
       |          UNNEST(GENERATE_SERIES(lower_lim + 1, cnt)) AS from_height
       |        FROM stat WHERE cnt > lower_lim)
       |),
       |ranked_tasks AS (
       |  SELECT grp, node AS from_node, span,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp, node ORDER BY span)
       |      AS BIGINT) AS task_rank
       |  FROM tasks
       |),
       |slots AS (
       |  SELECT grp, to_node, lower_lim, to_height,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp
       |      ORDER BY to_height, to_node) AS BIGINT) AS rnk
       |  FROM (SELECT grp, node AS to_node, lower_lim,
       |          UNNEST(GENERATE_SERIES(cnt + 1, lower_lim)) AS to_height
       |        FROM stat WHERE cnt < lower_lim)
       |),
       |moves AS (
       |  SELECT d.grp, d.rnk AS move_seq, t.span,
       |    d.from_node, d.from_height, s.to_node, s.to_height
       |  FROM donations d
       |  JOIN ranked_tasks t
       |    ON d.grp = t.grp AND d.from_node = t.from_node
       |    AND d.task_rank = t.task_rank
       |  JOIN slots s ON d.grp = s.grp AND d.rnk = s.rnk
       |  JOIN gated g ON d.grp = g.grp
       |  WHERE g.moved_before < $Batch AND g.deficit > 0
       |    AND d.rnk <= g.grp_cap
       |)
       |""".stripMargin

  def groupBalanceSql(): String =
    balanceCteSql("grp") +
      s"""SELECT g.grp, g.grp_total, g.grp_lower, g.deficit, g.grp_cap,
         |  g.moved_before, m.move_seq, m.span, m.from_node, m.from_height,
         |  m.to_node, m.to_height
         |FROM gated g LEFT JOIN moves m ON g.grp = m.grp""".stripMargin

  /** The default-group move list: all spans of a CHANGEFEED in one
    * scheduler group (pkg/scheduler/balance.go:93-111 — spans live in
    * the changefeed's default group unless a split put them in their
    * own; one group per feed means small fleets still rebalance). A
    * changefeed here is a schema — the per-schema feed convention of
    * A76/A78. */
  def defaultGroupMoves(cl: DataFrame): DataFrame = {
    val tasks = ReplicationDb.finalStates(cl)
      .filter(col("state") === "replicating")
      .select(substring_index(col("grp"), ".", 1).as("grp"),
        col("node"), col("span"))
    balanceFrame(tasks, nodeFrame(cl.sparkSession), Batch)
      .select(col("grp"), col("move_seq"), col("span"),
        col("from_node"), col("to_node"))
  }

  def defaultGroupMovesSql(): String =
    balanceCteSql("SPLIT_PART(grp, '.', 1)") +
      "SELECT grp, move_seq, span, from_node, to_node FROM moves"

  // ------------------------------------------------------------------
  // A81 — hot-span score walk + split decision
  // ------------------------------------------------------------------

  /** getSpansNumber (region_count_splitter.go:173-180): how many
    * sub-spans a hot span splits into. */
  def spansNumber(regionNum: Int, captureNum: Int,
                  maxSpanNum: Int = MaxSpanNum): Int = {
    val coefficient = math.max(captureNum - 1, 3)
    val spanNum =
      if (regionNum > 1) math.max(captureNum * coefficient, (regionNum / SpanRegionLimit).toInt)
      else 1
    math.min(spanNum, maxSpanNum)
  }

  /** Core walk, spec-drivable. `ticks` = (span, tick, bytes, coeff)
    * DENSE per span (every tick present). Output: one summary row per
    * span with the Lindley-walked final score, peak, staleness and
    * hot/split verdict. */
  def hotWalkFrame(ticks: DataFrame, thr: Long, scoreThr: Int,
                   clearTicks: Long, splitSpans: Int): DataFrame = {
    val ws = Window.partitionBy(col("span")).orderBy(col("tick"))
    val walked = ticks
      .withColumn("delta",
        when(col("bytes") >= lit(thr) * col("coeff"), 1L)
          .when(col("bytes") < thr, -1L)
          .otherwise(0L))
      .withColumn("s", sum(col("delta")).over(ws))
      .withColumn("score", col("s") - least(lit(0L), min(col("s")).over(ws)))
    walked.groupBy(col("span"), col("coeff"))
      .agg(
        count(lit(1)).as("n_ticks"),
        max(col("score")).as("peak_score"),
        max(col("tick")).as("last_tick"),
        max(struct(col("tick"), col("score"))).getField("score").as("final_score"),
        // -1 sentinel: the span never crossed the increment threshold
        coalesce(max(when(col("delta") === 1L, col("tick"))), lit(-1L))
          .as("last_inc_tick"))
      .withColumn("is_stale",
        (col("last_inc_tick") >= 0L &&
          col("last_tick") - col("last_inc_tick") > clearTicks).cast("long"))
      .withColumn("is_hot",
        (col("final_score") >= scoreThr && col("is_stale") === 0L).cast("long"))
      .withColumn("split_spans",
        when(col("is_hot") === 1L, lit(splitSpans.toLong)).otherwise(lit(0L)))
      .select(col("span"), col("coeff"), col("n_ticks"), col("peak_score"),
        col("final_score"), col("last_inc_tick"), col("is_stale"),
        col("is_hot"), col("split_spans"))
  }

  /** A81 production query: syncStep-wide commit_ts buckets as
    * heartbeat ticks, event count as the write-rate proxy, densified
    * over the span × tick grid (every working dispatcher reports each
    * tick); db0 tables model the default group (coefficient 1), the
    * rest split groups (coefficient 3). */
  /** The dense production tick frame feeding the walk (also the
    * replay source for the A81s streaming twin). */
  def hotTicks(cl: DataFrame): DataFrame = {
    val obs = cl.groupBy(
        concat_ws(".", col("schema_name"), col("table_name")).as("span"),
        expr(s"commit_ts div $HotTickW").as("tick"))
      .agg(count(lit(1)).as("obs_bytes"))
    val uni = cl.select(
        concat_ws(".", col("schema_name"), col("table_name")).as("span"),
        col("schema_name"))
      .distinct()
    val grid = cl.agg(max(expr(s"commit_ts div $HotTickW")).as("mx"))
      .select(explode(sequence(lit(0L), col("mx"))).as("tick"))
    uni.crossJoin(broadcast(grid))
      .join(obs, Seq("span", "tick"), "left")
      .select(col("span"), col("tick"),
        coalesce(col("obs_bytes"), lit(0L)).as("bytes"),
        when(col("schema_name") === "db0", 1L).otherwise(3L).as("coeff"))
  }

  def hotSpans(cl: DataFrame): DataFrame =
    hotWalkFrame(hotTicks(cl), HotThr, HotScoreThr, HotClearTicks, HotSplitSpans)

  // ------------------------------------------------------------------
  // A82 — write-bytes span splitter (greedy weight packing)
  // ------------------------------------------------------------------

  /** Reference: maintainer/split/write_bytes_splitter.go:123-255
    * `splitRegionsByWrittenKeysV1` — a hot span's regions are packed
    * greedily into ~`spansNum` spans of approximately equal write
    * weight: written keys are normalized (+1 per region), the limit is
    * `totalNorm / spansNum`, and the loop emits a span when its weight
    * EXCEEDS the limit or its region count hits spanRegionLimit; when
    * one span remains, a small remainder is absorbed whole (the break
    * arm) and a large remainder re-expands the budget to
    * `restWeight / limit` spans; a tail with no more regions than
    * remaining spans goes one-region-per-span. Below writeKeyThreshold
    * the table is a single span (splitter.go's no-split fast path).
    *
    * The fold is inherently sequential PER TABLE (each arm reads state
    * the previous regions built), but tables are independent — so it
    * runs as a Catalyst higher-order `aggregate` over each table's
    * sorted region list: one dimension-scale row per table, the fold
    * inside the engine, parallel across tables, no driver loop. The
    * oracle replays the identical fold as a recursive CTE. */
  private def splitAggExpr(spansNum: Int, threshold: Long,
                           spanRegionLimit: Long): String = {
    // shared sub-expressions, inlined per SQL-lambda arm (no `let`):
    // i1 = acc.i + 1 (current 0-based index), rc1/sw1 = updated span
    // count/weight, st1 = current span's start rid, rs1 = restSpans
    // after the one-span re-expansion arm (balance.go analog is
    // write_bytes_splitter.go:186-208)
    val st1 = "IF(acc.rc = 0, r.rid, acc.st_rid)"
    val rs1 = "IF(acc.rest_spans = 1, acc.rest_weight div lim, acc.rest_spans)"
    val sw1 = "acc.sw + r.wk + 1"
    val rc1 = "acc.rc + 1"
    s"""CASE WHEN total_write < $threshold THEN
       |  array(named_struct(
       |    'st', element_at(rs, 1).rid, 'en', element_at(rs, -1).rid,
       |    'cnt', CAST(n AS BIGINT), 'w', total_norm))
       |ELSE aggregate(
       |  rs,
       |  named_struct(
       |    'spans', CAST(array() AS
       |      ARRAY<STRUCT<st: BIGINT, en: BIGINT, cnt: BIGINT, w: BIGINT>>),
       |    'st_rid', CAST(-1 AS BIGINT), 'sw', CAST(0 AS BIGINT),
       |    'rc', CAST(0 AS BIGINT),
       |    'rest_spans', CAST($spansNum AS BIGINT), 'rest_weight', total_norm,
       |    'i', CAST(-1 AS BIGINT), 'done', false),
       |  (acc, r) -> CASE
       |    WHEN acc.done THEN acc
       |    WHEN acc.rest_spans = 1 AND acc.rest_weight < lim THEN named_struct(
       |      'spans', concat(acc.spans, array(named_struct(
       |        'st', $st1, 'en', element_at(rs, -1).rid,
       |        'cnt', n - acc.i - 1 + acc.rc, 'w', acc.rest_weight))),
       |      'st_rid', CAST(-1 AS BIGINT), 'sw', CAST(0 AS BIGINT),
       |      'rc', CAST(0 AS BIGINT),
       |      'rest_spans', CAST(0 AS BIGINT), 'rest_weight', CAST(0 AS BIGINT),
       |      'i', acc.i + 1, 'done', true)
       |    WHEN (n - acc.i - 1) <= $rs1 OR ($sw1) > lim
       |      OR ($rc1) >= $spanRegionLimit THEN named_struct(
       |      'spans', concat(acc.spans, array(named_struct(
       |        'st', $st1, 'en', r.rid, 'cnt', $rc1, 'w', $sw1))),
       |      'st_rid', CAST(-1 AS BIGINT), 'sw', CAST(0 AS BIGINT),
       |      'rc', CAST(0 AS BIGINT),
       |      'rest_spans', ($rs1) - 1, 'rest_weight', acc.rest_weight - ($sw1),
       |      'i', acc.i + 1, 'done', false)
       |    ELSE named_struct(
       |      'spans', acc.spans,
       |      'st_rid', $st1, 'sw', $sw1, 'rc', $rc1,
       |      'rest_spans', $rs1, 'rest_weight', acc.rest_weight,
       |      'i', acc.i + 1, 'done', false)
       |  END,
       |  acc -> acc.spans)
       |END""".stripMargin
  }

  /** Core frame, spec-drivable. `regions` = (grp, rid, wk) — one row
    * per region with its written-key count, rid-ordered within grp.
    * Output: one row per packed span. */
  def splitFrame(regions: DataFrame, spansNum: Int, threshold: Long,
                 spanRegionLimit: Long = SpanRegionLimit): DataFrame =
    regions
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("rid"), col("wk")))).as("rs"))
      .withColumn("n", size(col("rs")))
      .withColumn("total_write",
        expr("aggregate(rs, CAST(0 AS BIGINT), (a, x) -> a + x.wk)"))
      .withColumn("total_norm", col("total_write") + col("n"))
      .withColumn("lim", expr(s"total_norm div $spansNum"))
      .withColumn("spans_arr",
        expr(splitAggExpr(spansNum, threshold, spanRegionLimit)))
      .select(col("grp"), posexplode(col("spans_arr")))
      .select(col("grp"),
        (col("pos") + 1L).as("span_seq"),
        col("col.st").as("start_rid"), col("col.en").as("end_rid"),
        col("col.cnt").as("region_cnt"), col("col.w").as("span_weight"))

  /** Region sub-spans scanned for the splitter: finer than the
    * scheduling buckets — PD regions are much smaller than spans. */
  val SplitScanRegions = 64

  /** A82 production query: every table's PD-region scan (64 pk-hash
    * cells, event count as written keys) packed into
    * `getSpansNumber(regions, captures)` = 12 spans; tables under the
    * write threshold stay whole (at sf0.001 every table takes that
    * arm; at sf0.01+ the packing arms run). */
  def spanSplitBytes(cl: DataFrame, threshold: Long = SplitWriteThreshold): DataFrame = {
    val regions = cl
      .withColumn("rid", pkRegion(SplitScanRegions))
      .groupBy(
        concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        col("rid"))
      .agg(count(lit(1)).as("wk"))
    splitFrame(regions, spansNumber(SplitScanRegions, NNodes), threshold)
  }

  def spanSplitBytesSql(threshold: Long = SplitWriteThreshold): String = {
    val spansNum = spansNumber(SplitScanRegions, NNodes)
    s"""WITH RECURSIVE regions0 AS (
       |  SELECT schema_name || '.' || table_name AS grp,
       |    ${pkRegionSql(SplitScanRegions)} AS rid,
       |    CAST(COUNT(*) AS BIGINT) AS wk
       |  FROM changelog GROUP BY 1, 2
       |),
       |ridx AS (
       |  SELECT grp, rid, wk,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY rid) - 1 AS BIGINT)
       |      AS idx
       |  FROM regions0
       |),
       |tstats AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(wk) AS BIGINT) AS total_write,
       |    CAST(SUM(wk) + COUNT(*) AS BIGINT) AS total_norm,
       |    CAST((SUM(wk) + COUNT(*)) // $spansNum AS BIGINT) AS lim,
       |    MIN(rid) AS first_rid, MAX(rid) AS last_rid
       |  FROM ridx GROUP BY grp
       |),
       |step AS (
       |  SELECT grp, CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS st_rid,
       |    CAST(0 AS BIGINT) AS sw, CAST(0 AS BIGINT) AS rc,
       |    CAST($spansNum AS BIGINT) AS rest_spans, total_norm AS rest_weight,
       |    FALSE AS done,
       |    CAST(NULL AS BIGINT) AS e_st, CAST(NULL AS BIGINT) AS e_en,
       |    CAST(NULL AS BIGINT) AS e_cnt, CAST(NULL AS BIGINT) AS e_w
       |  FROM tstats WHERE total_write >= $threshold
       |  UNION ALL
       |  SELECT grp, i1,
       |    CAST(CASE WHEN brk OR em THEN -1 ELSE st1 END AS BIGINT),
       |    CAST(CASE WHEN brk OR em THEN 0 ELSE sw1 END AS BIGINT),
       |    CAST(CASE WHEN brk OR em THEN 0 ELSE rc1 END AS BIGINT),
       |    CAST(CASE WHEN brk THEN 0 WHEN em THEN rs1 - 1 ELSE rs1 END
       |      AS BIGINT),
       |    CAST(CASE WHEN brk THEN 0 WHEN em THEN rw - sw1 ELSE rw END
       |      AS BIGINT),
       |    brk,
       |    CAST(CASE WHEN brk OR em THEN st1 END AS BIGINT),
       |    CAST(CASE WHEN brk THEN last_rid WHEN em THEN cur_rid END
       |      AS BIGINT),
       |    CAST(CASE WHEN brk THEN n - i1 + rc1 - 1 WHEN em THEN rc1 END
       |      AS BIGINT),
       |    CAST(CASE WHEN brk THEN rw WHEN em THEN sw1 END AS BIGINT)
       |  FROM (
       |    SELECT s.grp, s.i + 1 AS i1, s.rc + 1 AS rc1,
       |      s.sw + r.wk + 1 AS sw1,
       |      CASE WHEN s.rc = 0 THEN r.rid ELSE s.st_rid END AS st1,
       |      CASE WHEN s.rest_spans = 1 THEN s.rest_weight // t.lim
       |           ELSE s.rest_spans END AS rs1,
       |      (s.rest_spans = 1 AND s.rest_weight < t.lim) AS brk,
       |      (NOT (s.rest_spans = 1 AND s.rest_weight < t.lim)) AND
       |        ((t.n - (s.i + 1)) <= (CASE WHEN s.rest_spans = 1
       |            THEN s.rest_weight // t.lim ELSE s.rest_spans END)
       |          OR (s.sw + r.wk + 1) > t.lim
       |          OR (s.rc + 1) >= $SpanRegionLimit) AS em,
       |      s.rest_weight AS rw, t.n, t.last_rid, t.lim, r.rid AS cur_rid
       |    FROM step s
       |    JOIN tstats t ON t.grp = s.grp
       |    JOIN ridx r ON r.grp = s.grp AND r.idx = s.i + 1
       |    WHERE NOT s.done
       |  ) x
       |),
       |sp AS (
       |  SELECT grp, e_st, e_en, e_cnt, e_w, i FROM step WHERE e_st IS NOT NULL
       |  UNION ALL
       |  SELECT grp, first_rid, last_rid, n, total_norm, CAST(0 AS BIGINT)
       |  FROM tstats WHERE total_write < $threshold
       |)
       |SELECT grp,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY i) AS BIGINT)
       |    AS span_seq,
       |  e_st AS start_rid, e_en AS end_rid,
       |  e_cnt AS region_cnt, e_w AS span_weight
       |FROM sp""".stripMargin
  }

  // ------------------------------------------------------------------
  // A90 — region-count span splitter (the fresh-changefeed default)
  // ------------------------------------------------------------------

  /** Reference: maintainer/split/region_count_splitter.go:44-131
    * `split` + :140-171 `evenlySplitStepper` — the fallback splitter
    * every fresh changefeed takes when PD write stats are absent: a
    * span covering more than `regionThreshold` regions is cut into
    * `getSpansNumber(regions, captures, maxSpanNum)` sub-spans of
    * evenly-distributed region count. The stepper's state collapses to
    * a closed form: `regionPerSpan = n div pages`, `remain = n mod
    * pages` < pages forces `extraRegionPerSpan = ceil(remain/pages)`
    * to 0 or 1, so exactly the first `remain` spans carry one extra
    * region — span j starts at region index `j*rps + min(j, remain)`
    * and holds `rps + (j < remain)` regions. The `regionPerSpan == 0`
    * arm (more pages than regions) degrades to one region per span.
    * Unlike A82's write-weight packing there is no sequential
    * dependence at all: every span is pure per-row arithmetic over
    * (j, n) — dimension-scale rows, no fold, no window. */
  def splitRegionsFrame(regions: DataFrame, captureNum: Int = NNodes,
                        maxSpanNum: Int = MaxSpanNum,
                        regionThreshold: Int = SplitRegionThreshold): DataFrame = {
    val coeff = math.max(captureNum - 1, 3)
    val agged = regions
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(col("rid"))).as("rs"))
      .withColumn("n", size(col("rs")).cast("long"))
      // getSpansNumber: max(captures*coeff, n/spanRegionLimit), capped
      .withColumn("pages0", least(
        when(col("n") > 1L,
          greatest(lit(captureNum.toLong * coeff), expr(s"n div $SpanRegionLimit")))
          .otherwise(lit(1L)),
        lit(maxSpanNum.toLong)))
      .withColumn("rps0", expr("n div pages0"))
      .withColumn("rem0", expr("n % pages0"))
      .withColumn("pages", when(col("rps0") === 0L, col("n")).otherwise(col("pages0")))
      .withColumn("rps", when(col("rps0") === 0L, lit(1L)).otherwise(col("rps0")))
      .withColumn("rem", when(col("rps0") === 0L, lit(0L)).otherwise(col("rem0")))
    val whole = agged
      .filter(col("n") <= regionThreshold.toLong || lit(captureNum) === 0)
      .select(col("grp"), lit(1L).as("span_seq"),
        element_at(col("rs"), 1).as("start_rid"),
        element_at(col("rs"), -1).as("end_rid"),
        col("n").as("region_cnt"), col("n").as("n_regions"))
    val split = agged
      .filter(col("n") > regionThreshold.toLong && lit(captureNum) =!= 0)
      .select(col("grp"), col("rs"), col("n"), col("rps"), col("rem"),
        explode(expr("sequence(0L, pages - 1L)")).as("j"))
      .withColumn("start_idx", col("j") * col("rps") + least(col("j"), col("rem")))
      .withColumn("cnt", col("rps") + when(col("j") < col("rem"), 1L).otherwise(0L))
      .select(col("grp"), (col("j") + 1L).as("span_seq"),
        element_at(col("rs"), (col("start_idx") + 1L).cast("int")).as("start_rid"),
        element_at(col("rs"), (col("start_idx") + col("cnt")).cast("int")).as("end_rid"),
        col("cnt").as("region_cnt"), col("n").as("n_regions"))
    whole.unionByName(split)
  }

  /** A90 production query: every table's occupied pk-hash region set
    * (the A82 64-cell scan convention, region id = bucket); tables
    * whose occupied-region count exceeds the threshold are evenly cut
    * into `getSpansNumber` sub-spans, the rest stay whole — the path
    * every fresh changefeed takes before write stats exist. */
  def spanSplitRegions(cl: DataFrame): DataFrame = {
    val regions = cl
      .withColumn("rid", pkRegion(SplitScanRegions))
      .select(
        concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        col("rid"))
      .distinct()
    splitRegionsFrame(regions)
  }

  def spanSplitRegionsSql(): String = {
    val captureNum = NNodes
    val coeff = math.max(captureNum - 1, 3)
    s"""WITH regions AS (
       |  SELECT DISTINCT schema_name || '.' || table_name AS grp,
       |    ${pkRegionSql(SplitScanRegions)} AS rid
       |  FROM changelog
       |), ridx AS (
       |  SELECT grp, rid,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY rid) - 1
       |      AS BIGINT) AS idx
       |  FROM regions
       |), t AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
       |    MIN(rid) AS first_rid, MAX(rid) AS last_rid
       |  FROM ridx GROUP BY grp
       |), q AS (
       |  SELECT *, n // pages0 AS rps0, n % pages0 AS rem0
       |  FROM (SELECT *,
       |    LEAST(CASE WHEN n > 1
       |        THEN GREATEST(${captureNum.toLong * coeff}, n // 50000)
       |        ELSE 1 END, 100) AS pages0
       |    FROM t)
       |), a AS (
       |  SELECT grp, n,
       |    CASE WHEN rps0 = 0 THEN n ELSE pages0 END AS pages,
       |    CASE WHEN rps0 = 0 THEN 1 ELSE rps0 END AS rps,
       |    CASE WHEN rps0 = 0 THEN 0 ELSE rem0 END AS rem
       |  FROM q
       |), s AS (
       |  SELECT grp, n, rps, rem,
       |    UNNEST(GENERATE_SERIES(0, pages - 1)) AS j
       |  FROM a WHERE n > $SplitRegionThreshold
       |)
       |SELECT s.grp, CAST(s.j + 1 AS BIGINT) AS span_seq,
       |  r1.rid AS start_rid, r2.rid AS end_rid,
       |  CAST(s.rps + CASE WHEN s.j < s.rem THEN 1 ELSE 0 END AS BIGINT)
       |    AS region_cnt,
       |  s.n AS n_regions
       |FROM s
       |JOIN ridx r1 ON r1.grp = s.grp
       |  AND r1.idx = s.j * s.rps + LEAST(s.j, s.rem)
       |JOIN ridx r2 ON r2.grp = s.grp
       |  AND r2.idx = s.j * s.rps + LEAST(s.j, s.rem)
       |    + s.rps + CASE WHEN s.j < s.rem THEN 1 ELSE 0 END - 1
       |UNION ALL
       |SELECT grp, CAST(1 AS BIGINT) AS span_seq, first_rid, last_rid,
       |  n AS region_cnt, n AS n_regions
       |FROM t WHERE n <= $SplitRegionThreshold""".stripMargin
  }

  // ------------------------------------------------------------------
  // A101 — splitter priority chooser (SplitSpans)
  // ------------------------------------------------------------------

  /** Reference: maintainer/split/splitter.go:80-95 `SplitSpans` — the
    * maintainer holds BOTH splitters in priority order (write-bytes
    * first, region-count second, splitter.go:66-79) and takes the
    * FIRST one that actually splits (returns >1 span); if neither
    * does, the table stays one whole span. This is the production
    * entry every split decision goes through: a table with PD write
    * stats above the threshold splits by write weight (A82), a fresh
    * changefeed with no stats but many regions splits evenly by
    * region count (A90), and a small table stays whole.
    *
    * Both candidate frames are dimension-scale (spans per table), so
    * the chooser is a tag-union + one broadcast join against the
    * per-table span counts — no new corpus-scale work beyond the two
    * splitters' own partial-aggregated scans. Output carries both
    * candidate span counts so every verdict is auditable. */
  def spanSplitChoose(cl: DataFrame, threshold: Long = SplitWriteThreshold): DataFrame = {
    val cols = Seq("grp", "span_seq", "start_rid", "end_rid", "region_cnt")
      .map(col)
    val wb = spanSplitBytes(cl, threshold).select(cols: _*)
    val rc = spanSplitRegions(cl).select(cols: _*)
    val counts = wb.groupBy(col("grp")).agg(count(lit(1)).as("n_write_spans"))
      .join(rc.groupBy(col("grp")).agg(count(lit(1)).as("n_region_spans")),
        Seq("grp"))
      .withColumn("chosen",
        when(col("n_write_spans") > 1L, lit("write"))
          .when(col("n_region_spans") > 1L, lit("region"))
          .otherwise(lit("none")))
    val tagged = wb.withColumn("src", lit("write"))
      .unionByName(rc.withColumn("src", lit("region")))
    tagged.join(broadcast(counts), Seq("grp"))
      // chosen=none keeps the write splitter's single whole-span row
      // (both no-split arms emit the identical whole span)
      .filter((col("chosen") === col("src")) ||
        (col("chosen") === "none" && col("src") === "write"))
      .select(col("grp"), col("chosen"), col("n_write_spans"),
        col("n_region_spans"), col("span_seq"), col("start_rid"),
        col("end_rid"), col("region_cnt"))
  }

  def spanSplitChooseSql(threshold: Long = SplitWriteThreshold): String =
    s"""WITH wb AS (
       |  ${spanSplitBytesSql(threshold).replace("\n", "\n  ")}
       |), rc AS (
       |  ${spanSplitRegionsSql().replace("\n", "\n  ")}
       |), counts AS (
       |  SELECT w.grp, w.n_write_spans, r.n_region_spans,
       |    CASE WHEN w.n_write_spans > 1 THEN 'write'
       |         WHEN r.n_region_spans > 1 THEN 'region'
       |         ELSE 'none' END AS chosen
       |  FROM (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_write_spans
       |        FROM wb GROUP BY grp) w
       |  JOIN (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_region_spans
       |        FROM rc GROUP BY grp) r ON r.grp = w.grp
       |), tagged AS (
       |  SELECT grp, span_seq, start_rid, end_rid, region_cnt,
       |    'write' AS src FROM wb
       |  UNION ALL
       |  SELECT grp, span_seq, start_rid, end_rid, region_cnt,
       |    'region' AS src FROM rc
       |)
       |SELECT t.grp, c.chosen, c.n_write_spans, c.n_region_spans,
       |  t.span_seq, t.start_rid, t.end_rid, t.region_cnt
       |FROM tagged t JOIN counts c ON c.grp = t.grp
       |WHERE c.chosen = t.src
       |   OR (c.chosen = 'none' AND t.src = 'write')""".stripMargin

  def hotSpansSql(): String = {
    s"""WITH obs AS (
       |  SELECT schema_name || '.' || table_name AS span,
       |    commit_ts // $HotTickW AS tick, CAST(COUNT(*) AS BIGINT) AS obs_bytes
       |  FROM changelog GROUP BY 1, 2
       |),
       |uni AS (
       |  SELECT DISTINCT schema_name || '.' || table_name AS span, schema_name
       |  FROM changelog
       |),
       |grid AS (
       |  SELECT UNNEST(GENERATE_SERIES(0,
       |    (SELECT MAX(commit_ts // $HotTickW) FROM changelog))) AS tick
       |),
       |ticks AS (
       |  SELECT u.span, g.tick, COALESCE(o.obs_bytes, 0) AS bytes,
       |    CASE WHEN u.schema_name = 'db0' THEN 1 ELSE 3 END AS coeff
       |  FROM uni u CROSS JOIN grid g
       |  LEFT JOIN obs o ON u.span = o.span AND g.tick = o.tick
       |),
       |walked AS (
       |  SELECT *,
       |    SUM(delta) OVER w AS s
       |  FROM (SELECT *,
       |    CASE WHEN bytes >= $HotThr * coeff THEN 1
       |         WHEN bytes < $HotThr THEN -1 ELSE 0 END AS delta
       |    FROM ticks)
       |  WINDOW w AS (PARTITION BY span ORDER BY tick)
       |),
       |scored AS (
       |  SELECT *, s - LEAST(0, MIN(s) OVER (PARTITION BY span ORDER BY tick))
       |    AS score
       |  FROM walked
       |),
       |summary AS (
       |  SELECT span, coeff,
       |    CAST(COUNT(*) AS BIGINT) AS n_ticks,
       |    CAST(MAX(score) AS BIGINT) AS peak_score,
       |    MAX(tick) AS last_tick,
       |    CAST(MAX_BY(score, tick) AS BIGINT) AS final_score,
       |    COALESCE(MAX(CASE WHEN delta = 1 THEN tick END), -1) AS last_inc_tick
       |  FROM scored GROUP BY span, coeff
       |)
       |SELECT span, coeff, n_ticks, peak_score, final_score, last_inc_tick,
       |  CAST(CASE WHEN last_inc_tick >= 0
       |    AND last_tick - last_inc_tick > $HotClearTicks THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_stale,
       |  CAST(CASE WHEN final_score >= $HotScoreThr
       |    AND NOT (last_inc_tick >= 0
       |      AND last_tick - last_inc_tick > $HotClearTicks)
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_hot,
       |  CAST(CASE WHEN final_score >= $HotScoreThr
       |    AND NOT (last_inc_tick >= 0
       |      AND last_tick - last_inc_tick > $HotClearTicks)
       |    THEN $HotSplitSpans ELSE 0 END AS BIGINT) AS split_spans
       |FROM summary""".stripMargin
  }
}
