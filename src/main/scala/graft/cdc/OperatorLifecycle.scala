package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The coordinator's operator machines: A92 move and A94 add/stop.
  *
  * A92 — the MOVE-operator state machine: the per-move
  * ack/timeout/rollback protocol that EXECUTES the balance scheduler's
  * decisions (A80). Reference: coordinator/operator/operator_move.go
  * :55-70 `Check`, :72-88 `Schedule`, :90-126 `OnNodeRemove`,
  * :146-153 `OnTaskRemoved`, :155-160 `Start` (MarkScheduling) and
  * :162-173 `PostFinish` (MarkReplicating unless canceled). The
  * maintainer's operator_move.go:54-186 is the same machine at span
  * granularity, so A92 is the move half of the A109 fold: the six-arm
  * scenario grid of [[SpanLifecycle.moveTrace]] folded by
  * [[SpanLifecycle.spanFrame]], read with the coordinator's columns.
  *
  * Scale shape: the move list is dimension-scale (A80 caps it at the
  * batch), the per-operator fold runs INSIDE Catalyst as a
  * higher-order `aggregate` (the A82/A91 discipline — no driver
  * loop, no corpus-scale window), and the only full-data pass is the
  * partial-aggregated span scan A80 already does. */
object OperatorLifecycle {

  /** A92 production query: replay the move machine over every move
    * the balance pass schedules for the changefeed's default group
    * (balance.go:93-111 — spans live in the default group unless a
    * split gave them their own; one group means small fleets still
    * rebalance, so the operator plane has work to execute). Columns:
    * `grp` is the schema part of the span (the default group; a move
    * always has a span, and the coalesce keeps the column non-nullable
    * as A80's `grp` is), `dest` the fold's `cur`, and a move never
    * sets `removed`. */
  def operatorMove(cl: DataFrame): DataFrame =
    SpanLifecycle.spanFrame(SpanLifecycle.moveTrace(
      Scheduler.defaultGroupMoves(cl))).select(
      coalesce(substring_index(col("op_id"), ".", 1), lit("")).as("grp"),
      col("op_id").as("span"), col("origin"), col("tick"), col("kind"),
      col("node"), col("cur").as("dest"), col("origin_stopped"),
      col("bound"), col("finished"), col("canceled"), col("msg"),
      col("msg_target"), col("db_mark"))

  // ------------------------------------------------------------------
  // A94 — add/stop operator machines
  // ------------------------------------------------------------------

  /** A94 heartbeat grid: ticks 0..AddStopMaxTick, tick 0 is `Start`. */
  val AddStopMaxTick = 3L

  private val asOutType =
    """ARRAY<STRUCT<tick: BIGINT, kind: STRING, node: BIGINT,
      |  cur: BIGINT, fin: BIGINT, can: BIGINT, msg: STRING,
      |  target: BIGINT, mark: STRING>>""".stripMargin

  private def asArm(curN: String, finN: String, canN: String, msg: String,
                    target: String, mark: String): String =
    s"""named_struct('fin', $finN, 'can', $canN, 'cur', CAST($curN AS BIGINT),
       |  'out', concat(acc.out, array(named_struct(
       |    'tick', e.tick, 'kind', e.kind, 'node', e.node,
       |    'cur', CAST($curN AS BIGINT),
       |    'fin', CAST(IF($finN, 1, 0) AS BIGINT),
       |    'can', CAST(IF($canN, 1, 0) AS BIGINT),
       |    'msg', $msg, 'target', CAST($target AS BIGINT),
       |    'mark', IF(e.tick = 0 AND op_type = 'add', 'bound', $mark)))))"""
      .stripMargin

  /** The add/stop per-operator fold: state (fin, can, cur). Add
    * (operator_add.go:49-99): a Working heartbeat from the dest
    * finishes (PostFinish → MarkReplicating); dest loss or task
    * removal finishes CANCELED (PostFinish → MarkAbsent); Start binds
    * the feed to the dest (`bound` at tick 0). Stop
    * (operator_stop.go:55-112): ANY non-Working maintainer heartbeat
    * finishes — the sender is ignored; node loss redirects the remove
    * command to the coordinator node (id 0) and keeps polling; task
    * removal finishes; PostFinish deletes the changefeed
    * (changefeedIsRemoved) or clears its progress. */
  private def addStopFoldExpr: String =
    s"""aggregate(
       |  evs,
       |  named_struct('fin', false, 'can', false, 'cur', dest0,
       |    'out', CAST(array() AS $asOutType)),
       |  (acc, e) -> CASE
       |    WHEN acc.fin THEN
       |      ${asArm("acc.cur", "true", "acc.can", "'none'", "-1", "''")}
       |    WHEN op_type = 'add' AND e.kind = 'CHECK_WORKING'
       |      AND e.node = acc.cur THEN
       |      ${asArm("acc.cur", "true", "false", "'none'", "-1",
                      "'replicating'")}
       |    WHEN op_type = 'add' AND ((e.kind = 'NODE_REMOVE'
       |        AND e.node = acc.cur) OR e.kind = 'TASK_REMOVED') THEN
       |      ${asArm("acc.cur", "true", "true", "'none'", "-1", "'absent'")}
       |    WHEN op_type = 'stop' AND (e.kind = 'CHECK_NONWORKING'
       |        OR e.kind = 'TASK_REMOVED') THEN
       |      ${asArm("acc.cur", "true", "false", "'none'", "-1",
                      "IF(removed = 1, 'deleted', 'progress_none')")}
       |    WHEN op_type = 'stop' AND e.kind = 'NODE_REMOVE'
       |      AND e.node = acc.cur THEN
       |      ${asArm("0", "false", "false", "'remove'", "0", "''")}
       |    ELSE
       |      ${asArm("acc.cur", "false", "false",
                      "IF(op_type = 'add', 'add', 'remove')", "acc.cur",
                      "''")}
       |  END,
       |  acc -> acc.out)""".stripMargin

  /** Core frame, spec-drivable: `trace` = (op_type, op_id, removed,
    * dest0, tick, kind, node). */
  def addStopFrame(trace: DataFrame): DataFrame =
    trace
      .groupBy(col("op_type"), col("op_id"), col("removed"), col("dest0"))
      .agg(sort_array(collect_list(struct(col("tick"), col("kind"),
        col("node")))).as("evs"))
      .withColumn("o", explode(expr(addStopFoldExpr)))
      .select(col("op_type"), col("op_id"), col("removed"),
        col("o.tick").as("tick"), col("o.kind").as("kind"),
        col("o.node").as("node"), col("o.cur").as("cur"),
        col("o.fin").as("finished"), col("o.can").as("canceled"),
        col("o.msg").as("msg"), col("o.target").as("msg_target"),
        col("o.mark").as("db_mark"))

  /** A94 production query: ADD operators execute every A79 basic-
    * scheduler assignment (arm round-robin: clean ack / dest loss /
    * DDL drop / stalled); STOP operators run one per changefeed
    * (= schema, the A76/A78 convention; removed alternates the
    * delete-vs-pause PostFinish) with arms clean-ack / node-redirect /
    * task-removed. Node stand-in for the stop side: the feed's
    * maintainer runs on its portable-hash node, coordinator = node 0. */
  def operatorAddStop(cl: DataFrame): DataFrame = {
    val adds = Scheduler.basicSchedule(cl)
      .select(lit("add").as("op_type"), col("span").as("op_id"),
        lit(-1L).as("removed"), col("target_node").as("dest0"),
        pmod(col("assign_seq") - 1L, lit(4L)).as("arm"))
    val stops = cl.select(col("schema_name")).distinct()
      .withColumn("rn", row_number().over(
        graft.util.Windows.bounded(col("schema_name"))).cast("long"))
      .select(lit("stop").as("op_type"), col("schema_name").as("op_id"),
        pmod(col("rn"), lit(2L)).as("removed"),
        graft.functions.Portable.bucket(col("schema_name"),
          Scheduler.NNodes).as("dest0"),
        pmod(col("rn"), lit(3L)).as("arm"))
    val trace = adds.unionByName(stops)
      .select(col("op_type"), col("op_id"), col("removed"), col("dest0"),
        col("arm"), explode(expr(s"sequence(0L, ${AddStopMaxTick}L)"))
          .as("tick"))
      .withColumn("kind",
        when(col("op_type") === "add" && col("arm") === 0L &&
          col("tick") === 2L, "CHECK_WORKING")
          .when(col("op_type") === "add" && col("arm") === 1L &&
            col("tick") === 2L, "NODE_REMOVE")
          .when(col("op_type") === "add" && col("arm") === 2L &&
            col("tick") === 1L, "TASK_REMOVED")
          .when(col("op_type") === "stop" && col("arm") === 0L &&
            col("tick") === 2L, "CHECK_NONWORKING")
          .when(col("op_type") === "stop" && col("arm") === 1L &&
            col("tick") === 1L, "NODE_REMOVE")
          .when(col("op_type") === "stop" && col("arm") === 1L &&
            col("tick") === 3L, "CHECK_NONWORKING")
          .when(col("op_type") === "stop" && col("arm") === 2L &&
            col("tick") === 2L, "TASK_REMOVED")
          .otherwise("HB"))
      .withColumn("node",
        when(col("kind").isin("CHECK_WORKING", "NODE_REMOVE"), col("dest0"))
          .otherwise(lit(-1L)))
      .select(col("op_type"), col("op_id"), col("removed"), col("dest0"),
        col("tick"), col("kind"), col("node"))
    addStopFrame(trace)
  }

  def operatorAddStopSql(): String = {
    val basic = Scheduler.basicScheduleSql()
      .linesIterator.map("    " + _).mkString("\n")
    val bucket = graft.functions.Portable.bucketSql("schema_name",
      Scheduler.NNodes)
    s"""WITH RECURSIVE ops AS (
       |  SELECT 'add' AS op_type, span AS op_id, CAST(-1 AS BIGINT)
       |      AS removed, target_node AS dest0,
       |    (assign_seq - 1) % 4 AS arm
       |  FROM (
       |$basic
       |  ) a
       |  UNION ALL
       |  SELECT 'stop', schema_name, CAST(rn % 2 AS BIGINT),
       |    CAST($bucket AS BIGINT), rn % 3
       |  FROM (SELECT schema_name, ROW_NUMBER() OVER (ORDER BY schema_name)
       |          AS rn
       |        FROM (SELECT DISTINCT schema_name FROM changelog))
       |), trace AS (
       |  SELECT o.op_type, o.op_id, o.removed, o.dest0, g.tick,
       |    CASE
       |      WHEN o.op_type = 'add' AND o.arm = 0 AND g.tick = 2
       |        THEN 'CHECK_WORKING'
       |      WHEN o.op_type = 'add' AND o.arm = 1 AND g.tick = 2
       |        THEN 'NODE_REMOVE'
       |      WHEN o.op_type = 'add' AND o.arm = 2 AND g.tick = 1
       |        THEN 'TASK_REMOVED'
       |      WHEN o.op_type = 'stop' AND o.arm = 0 AND g.tick = 2
       |        THEN 'CHECK_NONWORKING'
       |      WHEN o.op_type = 'stop' AND o.arm = 1 AND g.tick = 1
       |        THEN 'NODE_REMOVE'
       |      WHEN o.op_type = 'stop' AND o.arm = 1 AND g.tick = 3
       |        THEN 'CHECK_NONWORKING'
       |      WHEN o.op_type = 'stop' AND o.arm = 2 AND g.tick = 2
       |        THEN 'TASK_REMOVED'
       |      ELSE 'HB' END AS kind
       |  FROM ops o CROSS JOIN
       |    (SELECT UNNEST(GENERATE_SERIES(0, $AddStopMaxTick)) AS tick) g
       |), tr AS (
       |  SELECT op_type, op_id, removed, dest0, tick, kind,
       |    CAST(CASE WHEN kind IN ('CHECK_WORKING', 'NODE_REMOVE')
       |      THEN dest0 ELSE -1 END AS BIGINT) AS node
       |  FROM trace
       |), step AS (
       |  SELECT op_type, op_id, removed, dest0, dest0 AS cur,
       |    CAST(-1 AS BIGINT) AS tick, FALSE AS fin, FALSE AS can,
       |    CAST(NULL AS VARCHAR) AS e_kind, CAST(NULL AS BIGINT) AS e_node,
       |    CAST(NULL AS BIGINT) AS e_cur, CAST(NULL AS BIGINT) AS e_fin,
       |    CAST(NULL AS BIGINT) AS e_can, CAST(NULL AS VARCHAR) AS e_msg,
       |    CAST(NULL AS BIGINT) AS e_target, CAST(NULL AS VARCHAR) AS e_mark
       |  FROM ops
       |  UNION ALL
       |  SELECT op_type, op_id, removed, dest0,
       |    CAST(CASE WHEN arm2 = 'redirect' THEN 0 ELSE cur END AS BIGINT),
       |    tick,
       |    CASE WHEN arm2 IN ('idle', 'add_ok', 'add_cancel', 'stop_ok')
       |      THEN TRUE ELSE FALSE END,
       |    CASE WHEN arm2 = 'add_cancel' THEN TRUE
       |      WHEN arm2 = 'idle' THEN can ELSE FALSE END,
       |    kind, node,
       |    CAST(CASE WHEN arm2 = 'redirect' THEN 0 ELSE cur END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('idle', 'add_ok', 'add_cancel',
       |      'stop_ok') THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN arm2 = 'add_cancel' THEN 1
       |      WHEN arm2 = 'idle' AND can THEN 1 ELSE 0 END AS BIGINT),
       |    CASE WHEN arm2 = 'redirect' THEN 'remove'
       |      WHEN arm2 = 'hb' THEN
       |        CASE WHEN op_type = 'add' THEN 'add' ELSE 'remove' END
       |      ELSE 'none' END,
       |    CAST(CASE WHEN arm2 = 'redirect' THEN 0
       |      WHEN arm2 = 'hb' THEN cur ELSE -1 END AS BIGINT),
       |    CASE WHEN tick = 0 AND op_type = 'add' THEN 'bound'
       |      WHEN arm2 = 'add_ok' THEN 'replicating'
       |      WHEN arm2 = 'add_cancel' THEN 'absent'
       |      WHEN arm2 = 'stop_ok' THEN
       |        CASE WHEN removed = 1 THEN 'deleted' ELSE 'progress_none' END
       |      ELSE '' END
       |  FROM (
       |    SELECT s.op_type, s.op_id, s.removed, s.dest0, s.cur, s.fin,
       |      s.can, t.tick AS tick, t.kind AS kind, t.node AS node,
       |      CASE
       |        WHEN s.fin THEN 'idle'
       |        WHEN s.op_type = 'add' AND t.kind = 'CHECK_WORKING'
       |          AND t.node = s.cur THEN 'add_ok'
       |        WHEN s.op_type = 'add' AND ((t.kind = 'NODE_REMOVE'
       |            AND t.node = s.cur) OR t.kind = 'TASK_REMOVED')
       |          THEN 'add_cancel'
       |        WHEN s.op_type = 'stop' AND (t.kind = 'CHECK_NONWORKING'
       |            OR t.kind = 'TASK_REMOVED') THEN 'stop_ok'
       |        WHEN s.op_type = 'stop' AND t.kind = 'NODE_REMOVE'
       |          AND t.node = s.cur THEN 'redirect'
       |        ELSE 'hb' END AS arm2
       |    FROM step s JOIN tr t
       |      ON t.op_type = s.op_type AND t.op_id = s.op_id
       |      AND t.tick = s.tick + 1
       |  ) x
       |)
       |SELECT op_type, op_id, removed, tick, e_kind AS kind,
       |  e_node AS node, e_cur AS cur, e_fin AS finished,
       |  e_can AS canceled, e_msg AS msg, e_target AS msg_target,
       |  e_mark AS db_mark
       |FROM step WHERE tick >= 0""".stripMargin
  }

  /** A92's oracle: the same projection over the A109 oracle's move
    * rows. */
  def operatorMoveSql(): String = {
    val spans = SpanLifecycle.spanOperatorsSql()
      .linesIterator.map("  " + _).mkString("\n")
    s"""SELECT SPLIT_PART(op_id, '.', 1) AS grp, op_id AS span, origin,
       |  tick, kind, node, cur AS dest, origin_stopped, bound, finished,
       |  canceled, msg, msg_target, db_mark
       |FROM (
       |$spans
       |) s WHERE op_type = 'move'""".stripMargin
  }
}
