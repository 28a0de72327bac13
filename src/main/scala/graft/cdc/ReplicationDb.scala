package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** A110 — the replication-state DB: the absent / scheduling /
  * replicating state machine every span walks between discovery and
  * removal, and the grouped census the schedulers read. Before this
  * row, A79/A80 fabricated their absent/placement inputs by
  * deterministic stand-in; now the schedulers consume THIS machine's
  * final states — the actual wiring of the reference, where
  * BasicSchedule pulls GetAbsentByGroup and Balance pulls the
  * replicating node-task maps, both straight out of the db.
  *
  * Reference: maintainer/replica/replication_db.go:233-250
  * (MarkSpanAbsent / MarkSpanScheduling / MarkSpanReplicating — the
  * public transitions) delegating to
  * pkg/scheduler/replica/replication_group.go:74-127 (MarkReplicaAbsent
  * clears the span's node binding and files it absent; Scheduling and
  * Replicating move it between the other two maps, node kept),
  * :130-146 `BindReplicaToNode` (sets the node, forces SCHEDULING —
  * the only transition that changes placement), :169-188
  * (AddAbsentReplica / RemoveReplica — removal deletes from all three
  * maps AND the node-task map), and replication.go:103-111 `GetGroups`
  * + :374-408 (groups are created on first task and dropped when
  * empty — maybeRemoveGroup). Scheduler wiring:
  * pkg/scheduler/basic.go:106-139 schedules `GetAbsentByGroup`;
  * balance.go reads `GetTaskSizePerNode` over replicating tasks.
  *
  * Deterministic replay: every span census cell walks a 5-tick script
  * chosen by a portable hash of the span identity — steady
  * (absent → bind → replicating), crashed (… → node loss →
  * MarkSpanAbsent, node binding CLEARED), moved (… → re-bind to the
  * next node → replicating — the A109 move operator's db trace),
  * fresh (discovered, still absent), dropped (… → RemoveReplica).
  * Arms are WEIGHTED 4/1/1/1/1 over an 8-way hash — a healthy fleet
  * is mostly replicating (crashes and drops are the exceptions), and
  * the balance plane downstream needs a dense replicating census to
  * have anything to move. Bind targets keep the A80 skewed placement
  * so the balance plane still has victims and targets. Group census columns
  * (the GetGroups / GetTaskSize surface) ride every row: per
  * (group, tick) absent/scheduling/replicating counts and the
  * group-live flag (a group with no remaining task is dropped).
  *
  * Scale shape: one partial-aggregated changelog pass builds the span
  * census; the script is a closed-form CASE over the (span, tick)
  * grid — no fold, no driver loop; the census columns are
  * dimension-scale windows over (group, tick). */
object ReplicationDb {

  /** Script ticks 0..MaxTick; tick 0 is the changefeed-start
    * AddAbsentReplicaSet discovery. */
  val MaxTick = 4L

  /** Script arm — 0 steady / 1 crashed / 2 moved / 3 fresh /
    * 4 dropped — weighted 4/1/1/1/1 over an 8-way hash (raw buckets
    * 0-3 collapse to steady). */
  private[cdc] def armOf(span: Column): Column =
    greatest(pmod(Portable.hash60(concat(lit("rdb:"), span)), lit(8L)) - 3L,
      lit(0L))

  private[cdc] def armOfSql(spanExpr: String): String =
    s"GREATEST((${Portable.hash60Sql(s"'rdb:' || $spanExpr")} % 8) - 3, 0)"

  /** Per (grp, span, tick): the db action applied at the tick, the
    * span's state and node binding after it, and the group census
    * (GetGroups surface) at the tick. */
  def spanStates(cl: DataFrame): DataFrame =
    spanStatesFrom(Scheduler.spanFrame(cl))

  /** [[spanStates]] over any (grp, span) frame — the spec drives it
    * with synthetic spans chosen to land on every arm. */
  private[graft] def spanStatesFrom(spansFrame: DataFrame): DataFrame = {
    val spans = spansFrame
      .withColumn("arm", armOf(col("span")))
      .withColumn("n1", Scheduler.assignNode(col("span")))
      .withColumn("n2", pmod(col("n1") + 1L, lit(Scheduler.NNodes.toLong)))
    val grid = spans.select(col("grp"), col("span"), col("arm"), col("n1"),
      col("n2"), explode(expr(s"sequence(0L, ${MaxTick}L)")).as("tick"))
    val staged = grid
      .withColumn("action",
        when(col("tick") === 0L, "add_absent")
          .when(col("tick") === 1L && col("arm") =!= 3L, "bind")
          .when(col("tick") === 2L && col("arm") =!= 3L, "mark_replicating")
          .when(col("tick") === 3L && col("arm") === 1L, "mark_absent")
          .when(col("tick") === 3L && col("arm") === 2L, "bind")
          .when(col("tick") === 3L && col("arm") === 4L, "remove")
          .when(col("tick") === 4L && col("arm") === 2L, "mark_replicating")
          .otherwise("none"))
      .withColumn("state",
        when(col("arm") === 3L || col("tick") === 0L, "absent")
          .when(col("tick") === 1L, "scheduling")
          .when(col("tick") === 2L, "replicating")
          .when(col("arm") === 0L, "replicating")
          .when(col("arm") === 1L, "absent")
          .when(col("arm") === 2L,
            when(col("tick") === 3L, "scheduling").otherwise("replicating"))
          .otherwise("removed"))
      .withColumn("node",
        when(col("state").isin("absent", "removed"), lit(-1L))
          .when(col("arm") === 2L && col("tick") >= 3L, col("n2"))
          .otherwise(col("n1")))
      .select(col("grp"), col("span"), col("arm"), col("tick"),
        col("action"), col("state"), col("node"))
    val wg = Window.partitionBy(col("grp"), col("tick"))
    staged
      .withColumn("g_absent",
        sum(when(col("state") === "absent", 1L).otherwise(0L)).over(wg))
      .withColumn("g_scheduling",
        sum(when(col("state") === "scheduling", 1L).otherwise(0L)).over(wg))
      .withColumn("g_replicating",
        sum(when(col("state") === "replicating", 1L).otherwise(0L)).over(wg))
      .withColumn("group_live",
        when(col("g_absent") + col("g_scheduling") + col("g_replicating") > 0L,
          1L).otherwise(0L))
  }

  /** The machine's final surface — what the schedulers consume:
    * (grp, span, state, node) at the last tick. */
  def finalStates(cl: DataFrame): DataFrame =
    spanStates(cl)
      .filter(col("tick") === MaxTick)
      .select(col("grp"), col("span"), col("state"), col("node"))

  /** The (grp, span, arm, tick, action, state, node) CTE — shared by
    * this row's oracle and every scheduler oracle that consumes the
    * finals. Renders as a single CTE named `span_states` (expects
    * `spans` in scope = Scheduler.spanFrameSql). */
  private[cdc] def spanStatesCteSql: String = {
    val arm = armOfSql("span")
    val n1 = Scheduler.assignNodeSql("span")
    s"""span_states AS (
       |  SELECT grp, span, arm, tick, action, state,
       |    CAST(CASE WHEN state IN ('absent', 'removed') THEN -1
       |      WHEN arm = 2 AND tick >= 3 THEN n2 ELSE n1 END AS BIGINT)
       |      AS node
       |  FROM (
       |    SELECT grp, span, arm, n1, n2, tick,
       |      CASE WHEN tick = 0 THEN 'add_absent'
       |        WHEN tick = 1 AND arm <> 3 THEN 'bind'
       |        WHEN tick = 2 AND arm <> 3 THEN 'mark_replicating'
       |        WHEN tick = 3 AND arm = 1 THEN 'mark_absent'
       |        WHEN tick = 3 AND arm = 2 THEN 'bind'
       |        WHEN tick = 3 AND arm = 4 THEN 'remove'
       |        WHEN tick = 4 AND arm = 2 THEN 'mark_replicating'
       |        ELSE 'none' END AS action,
       |      CASE WHEN arm = 3 OR tick = 0 THEN 'absent'
       |        WHEN tick = 1 THEN 'scheduling'
       |        WHEN tick = 2 THEN 'replicating'
       |        WHEN arm = 0 THEN 'replicating'
       |        WHEN arm = 1 THEN 'absent'
       |        WHEN arm = 2 THEN
       |          CASE WHEN tick = 3 THEN 'scheduling' ELSE 'replicating' END
       |        ELSE 'removed' END AS state
       |    FROM (
       |      SELECT grp, span, $arm AS arm, $n1 AS n1,
       |        ($n1 + 1) % ${Scheduler.NNodes} AS n2
       |      FROM spans
       |    ) s CROSS JOIN
       |      (SELECT UNNEST(GENERATE_SERIES(0, $MaxTick)) AS tick) g
       |  )
       |)""".stripMargin
  }

  /** `finals` CTE over `span_states`. */
  private[cdc] def finalsCteSql: String =
    s"""finals AS (
       |  SELECT grp, span, state, node FROM span_states
       |  WHERE tick = $MaxTick
       |)""".stripMargin

  /** A110 production query: the full transition trace with the group
    * census columns. */
  def replicationState(cl: DataFrame): DataFrame =
    spanStates(cl)

  def replicationStateSql(): String =
    s"""WITH spans AS (${Scheduler.spanFrameSql()}),
       |$spanStatesCteSql
       |SELECT s.grp, s.span, s.arm, s.tick, s.action, s.state, s.node,
       |  CAST(SUM(CASE WHEN s.state = 'absent' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY s.grp, s.tick) AS BIGINT) AS g_absent,
       |  CAST(SUM(CASE WHEN s.state = 'scheduling' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY s.grp, s.tick) AS BIGINT) AS g_scheduling,
       |  CAST(SUM(CASE WHEN s.state = 'replicating' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY s.grp, s.tick) AS BIGINT) AS g_replicating,
       |  CAST(CASE WHEN SUM(CASE WHEN s.state IN ('absent', 'scheduling',
       |      'replicating') THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY s.grp, s.tick) > 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS group_live
       |FROM span_states s""".stripMargin
}
