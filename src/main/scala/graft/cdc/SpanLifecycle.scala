package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A109 — the MAINTAINER-side span operator machines: the per-span
  * add / remove / move protocols that execute every `DROP TABLE`,
  * changefeed rescale and span rebalance at dispatcher granularity.
  * A92/A94 transcribed the coordinator plane (changefeed-granularity
  * operators); this frame transcribes the maintainer plane, so every
  * operator file in BOTH controllers has a modeled row.
  *
  * Reference, one machine per file:
  *  - ADD — maintainer/operator/operator_add.go:48-127 `Check` (a
  *    heartbeat from the DEST: Working → finished; Removed → finished
  *    AND removed; Stopped → ignored with a warn), `Schedule`
  *    (finished or removed → no message, else keep sending
  *    Add-to-dest), `OnNodeRemove`(dest) → `OnTaskRemoved` (finished
  *    + removed), `Start` (:108 BindSpanToNode "" → dest — the span
  *    enters scheduling bound to the dest) and `PostFinish` (:112-119
  *    — not removed → MarkSpanReplicating; removed with the task
  *    still in the db (dest crash / removed report) → MarkSpanAbsent
  *    for rescheduling; removed because the TASK was dropped →
  *    GetTaskByID is nil, no mark).
  *  - REMOVE — maintainer/operator/operator_remove.go:37-103: the
  *    span is ALREADY out of the replication db when the operator
  *    starts (the controller's TryRemoveAll/BySchemaID/ByTableIDs
  *    pulled it before pushing the operator —
  *    operator_controller.go:100-128); `Check` (a non-Working status
  *    from the span's node finishes), `Schedule` (keep sending
  *    Remove), `OnNodeRemove`(node) → finished, `OnTaskRemoved` is
  *    `panic("unreachable")` — the db row is already gone, nothing
  *    can re-remove it — so remove traces carry no TASK_REMOVED
  *    event, and `PostFinish` only logs.
  *  - MOVE — maintainer/operator/operator_move.go:54-186: the same
  *    six-arm machine as the coordinator's operator_move.go:55-173,
  *    so A92 (`cdc_operator_move`) is this fold's move half read with
  *    the coordinator's columns ([[OperatorLifecycle.operatorMove]])
  *    (origin non-Working stops, dest Working after stop finishes,
  *    dest lost before stop swaps the move into an add-back-to-origin
  *    with dest := origin, dest lost after stop marks the span ABSENT
  *    and cancels, task removal cancels with no PostFinish), at span
  *    granularity: `Start` is MarkSpanScheduling, `PostFinish` is
  *    MarkSpanReplicating.
  *
  * Deterministic replay (the A92/A94 discipline): ADD operators run
  * one per A79 basic-scheduler assignment over a 6-arm round-robin
  * (clean ack / removed report / stopped-ignored-then-working / dest
  * crash / task drop / stalled); REMOVE operators run over the spans
  * of DROPPED tables (tables on the grp-hash mod 3 = 0 arm — the
  * RemoveTasksByTableIDs path) with arms clean-nonworking-ack / node
  * crash / stalled; MOVE operators execute the A80 default-group
  * balance moves over the six-arm scenario grid ([[moveTrace]]).
  * Events ride the heartbeat tick grid; each tick applies at most one
  * event then polls Schedule(), exactly the controller's poll loop.
  *
  * Scale shape: the operator lists are dimension-scale (A79/A80 cap
  * them at the batch; dropped-table spans are bounded by the span
  * census), the per-operator fold runs INSIDE Catalyst as a
  * higher-order `aggregate` over ≤6 ticks, and the only full-data
  * pass is the partial-aggregated span census the scheduler already
  * does. */
object SpanLifecycle {

  /** Move heartbeat grid 0..5 (A92 reads it too); add/remove machines
    * finish on the shorter 0..3 grid. */
  val MoveMaxTick = 5L
  val AddRemoveMaxTick = 3L

  private val outType =
    """ARRAY<STRUCT<tick: BIGINT, kind: STRING, node: BIGINT,
      |  cur: BIGINT, stopped: BIGINT, bind: BIGINT, fin: BIGINT,
      |  removed: BIGINT, can: BIGINT, msg: STRING, target: BIGINT,
      |  mark: STRING>>""".stripMargin

  /** One transition arm: post-event state + the Schedule() poll's
    * emission. Tick 0 overrides the mark with the machine's Start()
    * db action (add binds → 'bound', move → 'scheduling', remove's
    * span was already dropped → 'dropped'). */
  private def arm(curN: String, stoppedN: String, bindN: String,
                  finN: String, removedN: String, canN: String,
                  msg: String, target: String, mark: String): String =
    s"""named_struct('fin', $finN, 'removed', $removedN, 'can', $canN,
       |  'stopped', $stoppedN, 'bind', $bindN,
       |  'cur', CAST($curN AS BIGINT),
       |  'out', concat(acc.out, array(named_struct(
       |    'tick', e.tick, 'kind', e.kind, 'node', e.node,
       |    'cur', CAST($curN AS BIGINT),
       |    'stopped', CAST(IF($stoppedN, 1, 0) AS BIGINT),
       |    'bind', CAST(IF($bindN, 1, 0) AS BIGINT),
       |    'fin', CAST(IF($finN, 1, 0) AS BIGINT),
       |    'removed', CAST(IF($removedN, 1, 0) AS BIGINT),
       |    'can', CAST(IF($canN, 1, 0) AS BIGINT),
       |    'msg', $msg, 'target', CAST($target AS BIGINT),
       |    'mark', IF(e.tick = 0,
       |      CASE op_type WHEN 'add' THEN 'bound'
       |        WHEN 'move' THEN 'scheduling' ELSE 'dropped' END,
       |      $mark)))))""".stripMargin

  /** The unified per-operator fold: state (fin, removed, can,
    * stopped, bind, cur) over sorted (tick, kind, node) events. Arm
    * order mirrors the Go receiver methods per machine; finished or
    * canceled operators ignore events (the controller only polls
    * IsFinished). */
  private def foldExpr: String =
    s"""aggregate(
       |  evs,
       |  named_struct('fin', false, 'removed', false, 'can', false,
       |    'stopped', false, 'bind', false, 'cur', dest0,
       |    'out', CAST(array() AS $outType)),
       |  (acc, e) -> CASE
       |    WHEN acc.fin OR acc.can THEN
       |      ${arm("acc.cur", "acc.stopped", "acc.bind", "acc.fin",
                    "acc.removed", "acc.can", "'none'", "-1", "''")}
       |    WHEN op_type = 'move' AND e.kind = 'TASK_REMOVED' THEN
       |      ${arm("acc.cur", "acc.stopped", "acc.bind", "false",
                    "false", "true", "'none'", "-1", "''")}
       |    WHEN op_type = 'move' AND e.kind = 'NODE_REMOVE'
       |      AND e.node = acc.cur AND acc.stopped THEN
       |      ${arm("acc.cur", "acc.stopped", "acc.bind", "false",
                    "false", "true", "'none'", "-1", "'absent'")}
       |    WHEN op_type = 'move' AND e.kind = 'NODE_REMOVE'
       |      AND e.node = acc.cur THEN
       |      ${arm("origin", "true", "true", "false", "false", "false",
                    "'add'", "origin", "''")}
       |    WHEN op_type = 'move' AND ((e.kind = 'NODE_REMOVE'
       |        AND e.node = origin)
       |      OR (e.kind = 'CHECK_STOPPED' AND e.node = origin)) THEN
       |      ${arm("acc.cur", "true", "true", "false", "false", "false",
                    "'add'", "acc.cur", "''")}
       |    WHEN op_type = 'move' AND e.kind = 'CHECK_WORKING'
       |      AND e.node = acc.cur AND acc.stopped THEN
       |      ${arm("acc.cur", "acc.stopped", "acc.bind", "true", "false",
                    "false", "'none'", "-1", "'replicating'")}
       |    WHEN op_type = 'move' THEN
       |      ${arm("acc.cur", "acc.stopped", "(acc.bind OR acc.stopped)",
                    "false", "false", "false",
                    "IF(acc.stopped, 'add', 'remove')",
                    "IF(acc.stopped, acc.cur, origin)", "''")}
       |    WHEN op_type = 'add' AND e.kind = 'CHECK_WORKING'
       |      AND e.node = acc.cur THEN
       |      ${arm("acc.cur", "false", "true", "true", "false", "false",
                    "'none'", "-1", "'replicating'")}
       |    WHEN op_type = 'add' AND ((e.kind = 'CHECK_REMOVED'
       |        AND e.node = acc.cur)
       |      OR (e.kind = 'NODE_REMOVE' AND e.node = acc.cur)) THEN
       |      ${arm("acc.cur", "false", "true", "true", "true", "false",
                    "'none'", "-1", "'absent'")}
       |    WHEN op_type = 'add' AND e.kind = 'TASK_REMOVED' THEN
       |      ${arm("acc.cur", "false", "true", "true", "true", "false",
                    "'none'", "-1", "''")}
       |    WHEN op_type = 'add' THEN
       |      ${arm("acc.cur", "false", "true", "false", "false", "false",
                    "'add'", "acc.cur", "''")}
       |    WHEN op_type = 'remove' AND ((e.kind = 'CHECK_NONWORKING'
       |        AND e.node = acc.cur)
       |      OR (e.kind = 'NODE_REMOVE' AND e.node = acc.cur)) THEN
       |      ${arm("acc.cur", "false", "false", "true", "false", "false",
                    "'none'", "-1", "''")}
       |    ELSE
       |      ${arm("acc.cur", "false", "false", "false", "false", "false",
                    "'remove'", "acc.cur", "''")}
       |  END,
       |  acc -> acc.out)""".stripMargin

  /** Core frame, spec-drivable: `trace` = (op_type, op_id, origin,
    * dest0, tick, kind, node) — one row per heartbeat tick with its
    * event (node = -1 when eventless). Output: one row per tick with
    * the machine state and the Schedule() emission. */
  def spanFrame(trace: DataFrame): DataFrame =
    trace
      .groupBy(col("op_type"), col("op_id"), col("origin"), col("dest0"))
      .agg(sort_array(collect_list(struct(col("tick"), col("kind"),
        col("node")))).as("evs"))
      .withColumn("o", explode(expr(foldExpr)))
      .select(col("op_type"), col("op_id"), col("origin"),
        col("o.tick").as("tick"), col("o.kind").as("kind"),
        col("o.node").as("node"), col("o.cur").as("cur"),
        col("o.stopped").as("origin_stopped"), col("o.bind").as("bound"),
        col("o.fin").as("finished"), col("o.removed").as("removed"),
        col("o.can").as("canceled"), col("o.msg").as("msg"),
        col("o.target").as("msg_target"), col("o.mark").as("db_mark"))

  /** The six move scenarios, one operator per A80 balance move
    * (origin = from_node, dest = to_node): clean move, origin crash,
    * dest crash before stop (the swap/rollback arm), dest crash after
    * stop (the absent arm), DDL drop, and a stalled origin (still
    * re-sending Add at trace end). Arm index = (global move rank - 1)
    * mod 6 over the (grp, span)-ordered move list, so any fleet with
    * ≥6 scheduled moves exercises every arm; the rank window is bounded
    * by the move list (≤ the A80 batch cap), never by data volume.
    * Output: the [[spanFrame]] trace of the moves (op_id = span). */
  def moveTrace(moves: DataFrame): DataFrame =
    moves
      .withColumn("arm",
        pmod(row_number().over(graft.util.Windows.bounded(col("grp"), col("span")))
          .cast("long") - 1L, lit(6L)))
      .select(lit("move").as("op_type"), col("span").as("op_id"),
        col("from_node").as("origin"), col("to_node").as("dest0"), col("arm"),
        explode(expr(s"sequence(0L, ${MoveMaxTick}L)")).as("tick"))
      .withColumn("kind",
        when(col("arm") === 0L && col("tick") === 2L, "CHECK_STOPPED")
          .when(col("arm") === 0L && col("tick") === 4L, "CHECK_WORKING")
          .when(col("arm") === 1L && col("tick") === 2L, "NODE_REMOVE")
          .when(col("arm") === 1L && col("tick") === 3L, "CHECK_WORKING")
          .when(col("arm") === 2L && col("tick") === 1L, "NODE_REMOVE")
          .when(col("arm") === 2L && col("tick") === 3L, "CHECK_WORKING")
          .when(col("arm") === 3L && col("tick") === 2L, "CHECK_STOPPED")
          .when(col("arm") === 3L && col("tick") === 3L, "NODE_REMOVE")
          .when(col("arm") === 4L && col("tick") === 2L, "TASK_REMOVED")
          .when(col("arm") === 5L && col("tick") === 2L, "CHECK_STOPPED")
          .otherwise("HB"))
      // CHECK_STOPPED is from the origin; NODE_REMOVE hits the dest on
      // arms 2/3, the origin on arm 1; CHECK_WORKING is from the dest
      // except arm 2's add-back (origin)
      .withColumn("node",
        when(col("kind") === "HB" || col("kind") === "TASK_REMOVED", lit(-1L))
          .when(col("kind") === "NODE_REMOVE" && col("arm").isin(2L, 3L),
            col("dest0"))
          .when(col("kind") === "NODE_REMOVE", col("origin"))
          .when(col("kind") === "CHECK_WORKING" && col("arm") === 2L,
            col("origin"))
          .when(col("kind") === "CHECK_WORKING", col("dest0"))
          .otherwise(col("origin")))
      .select(col("op_type"), col("op_id"), col("origin"), col("dest0"),
        col("tick"), col("kind"), col("node"))

  /** A109 production query: ADD machines over the A79 assignments
    * (6-arm round-robin), REMOVE machines over the dropped tables'
    * spans (grp-hash mod 3 = 0, the RemoveTasksByTableIDs path; 3-arm
    * round-robin), MOVE machines over the A80 default-group balance
    * moves ([[moveTrace]]). */
  def spanOperators(cl: DataFrame): DataFrame = {
    val adds = Scheduler.basicSchedule(cl)
      .select(lit("add").as("op_type"), col("span").as("op_id"),
        lit(-1L).as("origin"), col("target_node").as("dest0"),
        pmod(col("assign_seq") - 1L, lit(6L)).as("arm"))
    val removes = Scheduler.spanPlacement(cl)
      .filter(graft.functions.Portable.bucket(col("grp"), 3) === 0L)
      .withColumn("rn",
        row_number().over(graft.util.Windows.bounded(col("span"))).cast("long"))
      .select(lit("remove").as("op_type"), col("span").as("op_id"),
        lit(-1L).as("origin"), col("node").as("dest0"),
        pmod(col("rn") - 1L, lit(3L)).as("arm"))
    val trace = adds.unionByName(removes)
      .select(col("op_type"), col("op_id"), col("origin"), col("dest0"),
        col("arm"),
        explode(expr(s"sequence(0L, ${AddRemoveMaxTick}L)")).as("tick"))
      .withColumn("kind",
        // add arms: clean / removed-report / stopped-ignored / dest
        // crash / task drop / stalled
        when(col("op_type") === "add" && col("arm") === 0L &&
          col("tick") === 2L, "CHECK_WORKING")
          .when(col("op_type") === "add" && col("arm") === 1L &&
            col("tick") === 2L, "CHECK_REMOVED")
          .when(col("op_type") === "add" && col("arm") === 2L &&
            col("tick") === 1L, "CHECK_STOPPED")
          .when(col("op_type") === "add" && col("arm") === 2L &&
            col("tick") === 2L, "CHECK_WORKING")
          .when(col("op_type") === "add" && col("arm") === 3L &&
            col("tick") === 2L, "NODE_REMOVE")
          .when(col("op_type") === "add" && col("arm") === 4L &&
            col("tick") === 1L, "TASK_REMOVED")
          // remove arms: clean non-working ack / node crash / stalled
          .when(col("op_type") === "remove" && col("arm") === 0L &&
            col("tick") === 2L, "CHECK_NONWORKING")
          .when(col("op_type") === "remove" && col("arm") === 1L &&
            col("tick") === 1L, "NODE_REMOVE")
          .otherwise("HB"))
      // every addressed event hits the machine's node
      .withColumn("node",
        when(col("kind").isin("HB", "TASK_REMOVED"), lit(-1L))
          .otherwise(col("dest0")))
      .select(col("op_type"), col("op_id"), col("origin"), col("dest0"),
        col("tick"), col("kind"), col("node"))
    spanFrame(trace.unionByName(
      moveTrace(Scheduler.defaultGroupMoves(cl))))
  }

  def spanOperatorsSql(): String = {
    val basic = Scheduler.basicScheduleSql()
      .linesIterator.map("    " + _).mkString("\n")
    val placement = Scheduler.spanPlacementSql()
      .linesIterator.map("    " + _).mkString("\n")
    val moves = Scheduler.defaultGroupMovesSql()
      .linesIterator.map("    " + _).mkString("\n")
    val dropPick = graft.functions.Portable.bucketSql("grp", 3)
    s"""WITH RECURSIVE ops AS (
       |  SELECT 'add' AS op_type, span AS op_id, CAST(-1 AS BIGINT)
       |      AS origin, target_node AS dest0,
       |    (assign_seq - 1) % 6 AS arm, $AddRemoveMaxTick AS max_tick
       |  FROM (
       |$basic
       |  ) a
       |  UNION ALL
       |  SELECT 'remove', span, CAST(-1 AS BIGINT), node,
       |    (ROW_NUMBER() OVER (ORDER BY span) - 1) % 3,
       |    $AddRemoveMaxTick
       |  FROM (
       |$placement
       |  ) p WHERE ($dropPick) = 0
       |  UNION ALL
       |  SELECT 'move', span, from_node, to_node,
       |    (ROW_NUMBER() OVER (ORDER BY grp, span) - 1) % 6, $MoveMaxTick
       |  FROM (
       |$moves
       |  ) m WHERE move_seq IS NOT NULL
       |), trace0 AS (
       |  SELECT o.op_type, o.op_id, o.origin, o.dest0, o.arm, g.tick
       |  FROM ops o CROSS JOIN
       |    (SELECT UNNEST(GENERATE_SERIES(0, $MoveMaxTick)) AS tick) g
       |  WHERE g.tick <= o.max_tick
       |), trace AS (
       |  SELECT op_type, op_id, origin, dest0, tick,
       |    CASE
       |      WHEN op_type = 'add' AND arm = 0 AND tick = 2
       |        THEN 'CHECK_WORKING'
       |      WHEN op_type = 'add' AND arm = 1 AND tick = 2
       |        THEN 'CHECK_REMOVED'
       |      WHEN op_type = 'add' AND arm = 2 AND tick = 1
       |        THEN 'CHECK_STOPPED'
       |      WHEN op_type = 'add' AND arm = 2 AND tick = 2
       |        THEN 'CHECK_WORKING'
       |      WHEN op_type = 'add' AND arm = 3 AND tick = 2
       |        THEN 'NODE_REMOVE'
       |      WHEN op_type = 'add' AND arm = 4 AND tick = 1
       |        THEN 'TASK_REMOVED'
       |      WHEN op_type = 'remove' AND arm = 0 AND tick = 2
       |        THEN 'CHECK_NONWORKING'
       |      WHEN op_type = 'remove' AND arm = 1 AND tick = 1
       |        THEN 'NODE_REMOVE'
       |      WHEN op_type = 'move' AND arm = 0 AND tick = 2
       |        THEN 'CHECK_STOPPED'
       |      WHEN op_type = 'move' AND arm = 0 AND tick = 4
       |        THEN 'CHECK_WORKING'
       |      WHEN op_type = 'move' AND arm = 1 AND tick = 2
       |        THEN 'NODE_REMOVE'
       |      WHEN op_type = 'move' AND arm = 1 AND tick = 3
       |        THEN 'CHECK_WORKING'
       |      WHEN op_type = 'move' AND arm = 2 AND tick = 1
       |        THEN 'NODE_REMOVE'
       |      WHEN op_type = 'move' AND arm = 2 AND tick = 3
       |        THEN 'CHECK_WORKING'
       |      WHEN op_type = 'move' AND arm = 3 AND tick = 2
       |        THEN 'CHECK_STOPPED'
       |      WHEN op_type = 'move' AND arm = 3 AND tick = 3
       |        THEN 'NODE_REMOVE'
       |      WHEN op_type = 'move' AND arm = 4 AND tick = 2
       |        THEN 'TASK_REMOVED'
       |      WHEN op_type = 'move' AND arm = 5 AND tick = 2
       |        THEN 'CHECK_STOPPED'
       |      ELSE 'HB' END AS kind,
       |    arm
       |  FROM trace0
       |), tr AS (
       |  SELECT op_type, op_id, origin, dest0, tick, kind,
       |    CAST(CASE
       |      WHEN kind IN ('HB', 'TASK_REMOVED') THEN -1
       |      WHEN op_type = 'move' AND kind = 'CHECK_STOPPED' THEN origin
       |      WHEN op_type = 'move' AND kind = 'NODE_REMOVE'
       |        AND arm IN (2, 3) THEN dest0
       |      WHEN op_type = 'move' AND kind = 'NODE_REMOVE' THEN origin
       |      WHEN op_type = 'move' AND kind = 'CHECK_WORKING' AND arm = 2
       |        THEN origin
       |      WHEN op_type = 'move' THEN dest0
       |      ELSE dest0 END AS BIGINT) AS node
       |  FROM trace
       |), step AS (
       |  SELECT op_type, op_id, origin, dest0, dest0 AS cur,
       |    CAST(-1 AS BIGINT) AS tick, FALSE AS stopped, FALSE AS bind,
       |    FALSE AS fin, FALSE AS removed, FALSE AS can,
       |    CAST(NULL AS VARCHAR) AS e_kind, CAST(NULL AS BIGINT) AS e_node,
       |    CAST(NULL AS BIGINT) AS e_cur, CAST(NULL AS BIGINT) AS e_stopped,
       |    CAST(NULL AS BIGINT) AS e_bind, CAST(NULL AS BIGINT) AS e_fin,
       |    CAST(NULL AS BIGINT) AS e_removed, CAST(NULL AS BIGINT) AS e_can,
       |    CAST(NULL AS VARCHAR) AS e_msg, CAST(NULL AS BIGINT) AS e_target,
       |    CAST(NULL AS VARCHAR) AS e_mark
       |  FROM ops
       |  UNION ALL
       |  SELECT op_type, op_id, origin, dest0,
       |    CAST(CASE WHEN arm2 = 'swap' THEN origin ELSE cur END AS BIGINT),
       |    tick,
       |    CASE WHEN arm2 IN ('swap', 'stop') THEN TRUE ELSE stopped END,
       |    CASE WHEN op_type = 'add' AND arm2 <> 'idle' THEN TRUE
       |      WHEN arm2 IN ('swap', 'stop') THEN TRUE
       |      WHEN arm2 = 'mv_hb' THEN (bind OR stopped) ELSE bind END,
       |    CASE WHEN arm2 IN ('finish', 'add_ok', 'add_removed',
       |      'add_gone', 'rm_ok') THEN TRUE ELSE fin END,
       |    CASE WHEN arm2 IN ('add_removed', 'add_gone') THEN TRUE
       |      ELSE removed END,
       |    CASE WHEN arm2 IN ('task_rm', 'dest_abs') THEN TRUE ELSE can END,
       |    kind, node,
       |    CAST(CASE WHEN arm2 = 'swap' THEN origin ELSE cur END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('swap', 'stop') THEN 1
       |      WHEN stopped THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN op_type = 'add' AND arm2 <> 'idle' THEN 1
       |      WHEN op_type = 'add' THEN CASE WHEN bind THEN 1 ELSE 0 END
       |      WHEN arm2 IN ('swap', 'stop') THEN 1
       |      WHEN arm2 = 'mv_hb' AND (bind OR stopped) THEN 1
       |      WHEN bind THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('finish', 'add_ok', 'add_removed',
       |      'add_gone', 'rm_ok') THEN 1 WHEN fin THEN 1 ELSE 0 END
       |      AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('add_removed', 'add_gone') THEN 1
       |      WHEN removed THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('task_rm', 'dest_abs') THEN 1
       |      WHEN can THEN 1 ELSE 0 END AS BIGINT),
       |    CASE WHEN arm2 = 'idle' THEN 'none'
       |      WHEN arm2 IN ('finish', 'add_ok', 'add_removed', 'add_gone',
       |        'rm_ok', 'task_rm', 'dest_abs') THEN 'none'
       |      WHEN arm2 IN ('swap', 'stop') THEN 'add'
       |      WHEN arm2 = 'mv_hb' THEN
       |        CASE WHEN stopped THEN 'add' ELSE 'remove' END
       |      WHEN arm2 = 'add_hb' THEN 'add'
       |      ELSE 'remove' END AS e_msg,
       |    CAST(CASE WHEN arm2 = 'swap' THEN origin
       |      WHEN arm2 = 'stop' THEN cur
       |      WHEN arm2 = 'mv_hb' THEN
       |        CASE WHEN stopped THEN cur ELSE origin END
       |      WHEN arm2 IN ('add_hb', 'rm_hb') THEN cur
       |      ELSE -1 END AS BIGINT) AS e_target,
       |    CASE WHEN tick = 0 THEN
       |        CASE op_type WHEN 'add' THEN 'bound'
       |          WHEN 'move' THEN 'scheduling' ELSE 'dropped' END
       |      WHEN arm2 IN ('finish', 'add_ok') THEN 'replicating'
       |      WHEN arm2 IN ('dest_abs', 'add_removed') THEN 'absent'
       |      ELSE '' END AS e_mark
       |  FROM (
       |    SELECT s.op_type, s.op_id, s.origin, s.dest0, s.cur, s.stopped,
       |      s.bind, s.fin, s.removed, s.can, t.tick AS tick,
       |      t.kind AS kind, t.node AS node,
       |      CASE
       |        WHEN s.fin OR s.can THEN 'idle'
       |        WHEN s.op_type = 'move' AND t.kind = 'TASK_REMOVED'
       |          THEN 'task_rm'
       |        WHEN s.op_type = 'move' AND t.kind = 'NODE_REMOVE'
       |          AND t.node = s.cur AND s.stopped THEN 'dest_abs'
       |        WHEN s.op_type = 'move' AND t.kind = 'NODE_REMOVE'
       |          AND t.node = s.cur THEN 'swap'
       |        WHEN s.op_type = 'move' AND ((t.kind = 'NODE_REMOVE'
       |            AND t.node = s.origin)
       |          OR (t.kind = 'CHECK_STOPPED' AND t.node = s.origin))
       |          THEN 'stop'
       |        WHEN s.op_type = 'move' AND t.kind = 'CHECK_WORKING'
       |          AND t.node = s.cur AND s.stopped THEN 'finish'
       |        WHEN s.op_type = 'move' THEN 'mv_hb'
       |        WHEN s.op_type = 'add' AND t.kind = 'CHECK_WORKING'
       |          AND t.node = s.cur THEN 'add_ok'
       |        WHEN s.op_type = 'add' AND ((t.kind = 'CHECK_REMOVED'
       |            AND t.node = s.cur)
       |          OR (t.kind = 'NODE_REMOVE' AND t.node = s.cur))
       |          THEN 'add_removed'
       |        WHEN s.op_type = 'add' AND t.kind = 'TASK_REMOVED'
       |          THEN 'add_gone'
       |        WHEN s.op_type = 'add' THEN 'add_hb'
       |        WHEN s.op_type = 'remove' AND ((t.kind = 'CHECK_NONWORKING'
       |            AND t.node = s.cur)
       |          OR (t.kind = 'NODE_REMOVE' AND t.node = s.cur))
       |          THEN 'rm_ok'
       |        ELSE 'rm_hb' END AS arm2
       |    FROM step s JOIN tr t
       |      ON t.op_type = s.op_type AND t.op_id = s.op_id
       |      AND t.tick = s.tick + 1
       |  ) x
       |)
       |SELECT op_type, op_id, origin, tick, e_kind AS kind,
       |  e_node AS node, e_cur AS cur, e_stopped AS origin_stopped,
       |  e_bind AS bound, e_fin AS finished, e_removed AS removed,
       |  e_can AS canceled, e_msg AS msg, e_target AS msg_target,
       |  e_mark AS db_mark
       |FROM step WHERE tick >= 0""".stripMargin
  }
}
