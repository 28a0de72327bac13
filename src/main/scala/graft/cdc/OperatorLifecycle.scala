package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A92 — the coordinator/maintainer MOVE-operator state machine: the
  * per-move ack/timeout/rollback protocol that EXECUTES the balance
  * scheduler's decisions (A80). A scheduled move is not atomic — it
  * is a little distributed transaction driven by heartbeats and node
  * liveness, and this frame replays that machine over every move the
  * balance pass emits.
  *
  * Reference: coordinator/operator/operator_move.go:55-70 `Check`
  * (a heartbeat from the ORIGIN node with a non-Working component
  * state marks the origin stopped; once stopped, a Working heartbeat
  * from the DEST node finishes the move), :72-88 `Schedule` (finished
  * or canceled → no message; origin stopped → bind the feed to the
  * dest once, then keep sending Add-to-dest; otherwise keep sending
  * Remove-from-origin), :90-126 `OnNodeRemove` (dest lost AFTER the
  * origin stopped → the feed is marked ABSENT for rescheduling and
  * the operator cancels; dest lost BEFORE → the move flips into an
  * add back onto the origin — dest:=origin, bind, origin-stopped;
  * origin lost → origin stopped), :146-153 `OnTaskRemoved` (the feed
  * was dropped by DDL → cancel), :155-160 `Start` (MarkScheduling)
  * and :162-173 `PostFinish` (MarkReplicating unless canceled). The
  * maintainer-side span operators
  * (maintainer/operator/operator_split.go:67-132) run the same
  * Start/Check/OnNodeRemove/PostFinish shape over span replicas.
  *
  * Deterministic replay: each A80 balance move becomes one operator
  * (origin = from_node, dest = to_node) and takes one of six event
  * scenarios — clean move, origin-crash move, dest-crash-before-stop
  * (the swap/rollback arm), dest-crash-after-stop (the absent arm),
  * DDL drop, and a stalled origin (operator still re-scheduling Add
  * at trace end) — chosen by a portable hash of the move identity so
  * real fleets exercise every arm. Events ride a 6-tick heartbeat
  * grid; each tick applies at most one event and then polls
  * `Schedule()`, exactly the controller's poll loop.
  *
  * Scale shape: the move list is dimension-scale (A80 caps it at the
  * batch), the per-operator fold is 6 ticks INSIDE Catalyst as a
  * higher-order `aggregate` (the A82/A91 discipline — no driver
  * loop, no corpus-scale window), and the only full-data pass is the
  * partial-aggregated span scan A80 already does. */
object OperatorLifecycle {

  /** Heartbeat grid: ticks 0..MaxTick, tick 0 is `Start`. */
  val MaxTick = 5L

  private val outType =
    """ARRAY<STRUCT<tick: BIGINT, kind: STRING, node: BIGINT,
      |  dest: BIGINT, stopped: BIGINT, bind: BIGINT, fin: BIGINT,
      |  can: BIGINT, msg: STRING, target: BIGINT, mark: STRING>>""".stripMargin

  /** One transition arm: the post-event state (`destN`..`canN` as SQL
    * over `acc`/`e`/`origin`) plus the Schedule() poll's emission. */
  private def arm(destN: String, stoppedN: String, bindN: String,
                  finN: String, canN: String, msg: String, target: String,
                  mark: String): String =
    s"""named_struct('stopped', $stoppedN, 'bind', $bindN, 'fin', $finN,
       |  'can', $canN, 'dest', CAST($destN AS BIGINT),
       |  'out', concat(acc.out, array(named_struct(
       |    'tick', e.tick, 'kind', e.kind, 'node', e.node,
       |    'dest', CAST($destN AS BIGINT),
       |    'stopped', CAST(IF($stoppedN, 1, 0) AS BIGINT),
       |    'bind', CAST(IF($bindN, 1, 0) AS BIGINT),
       |    'fin', CAST(IF($finN, 1, 0) AS BIGINT),
       |    'can', CAST(IF($canN, 1, 0) AS BIGINT),
       |    'msg', $msg, 'target', CAST($target AS BIGINT),
       |    'mark', IF(e.tick = 0, 'scheduling', $mark)))))""".stripMargin

  /** The per-operator sequential fold as a Catalyst `aggregate` over
    * `evs` = sorted (tick, kind, node) events. State: (stopped, bind,
    * fin, can, dest, out). Arm order mirrors the Go receiver methods:
    * finished/canceled operators ignore events (the controller only
    * polls IsFinished), OnTaskRemoved cancels, OnNodeRemove checks
    * the dest before the origin, Check handles the origin-stopped and
    * dest-working acks, and the default heartbeat just re-polls
    * Schedule(). */
  private def foldExpr: String =
    s"""aggregate(
       |  evs,
       |  named_struct('stopped', false, 'bind', false, 'fin', false,
       |    'can', false, 'dest', dest0,
       |    'out', CAST(array() AS $outType)),
       |  (acc, e) -> CASE
       |    WHEN acc.fin OR acc.can THEN
       |      ${arm("acc.dest", "acc.stopped", "acc.bind", "acc.fin",
                    "acc.can", "'none'", "-1", "''")}
       |    WHEN e.kind = 'TASK_REMOVED' THEN
       |      ${arm("acc.dest", "acc.stopped", "acc.bind", "false", "true",
                    "'none'", "-1", "''")}
       |    WHEN e.kind = 'NODE_REMOVE' AND e.node = acc.dest AND acc.stopped THEN
       |      ${arm("acc.dest", "acc.stopped", "acc.bind", "false", "true",
                    "'none'", "-1", "'absent'")}
       |    WHEN e.kind = 'NODE_REMOVE' AND e.node = acc.dest THEN
       |      ${arm("origin", "true", "true", "false", "false",
                    "'add'", "origin", "''")}
       |    WHEN (e.kind = 'NODE_REMOVE' AND e.node = origin)
       |      OR (e.kind = 'CHECK_STOPPED' AND e.node = origin) THEN
       |      ${arm("acc.dest", "true", "true", "false", "false",
                    "'add'", "acc.dest", "''")}
       |    WHEN e.kind = 'CHECK_WORKING' AND e.node = acc.dest AND acc.stopped THEN
       |      ${arm("acc.dest", "acc.stopped", "acc.bind", "true", "false",
                    "'none'", "-1", "'replicating'")}
       |    ELSE
       |      ${arm("acc.dest", "acc.stopped", "(acc.bind OR acc.stopped)",
                    "false", "false", "IF(acc.stopped, 'add', 'remove')",
                    "IF(acc.stopped, acc.dest, origin)", "''")}
       |  END,
       |  acc -> acc.out)""".stripMargin

  /** Core frame, spec-drivable: `trace` = (grp, span, origin, dest0,
    * tick, kind, node) — one row per heartbeat tick with its event
    * (kind HB / CHECK_STOPPED / CHECK_WORKING / NODE_REMOVE /
    * TASK_REMOVED, node = -1 when eventless). Output: one row per
    * tick with the machine state and the Schedule() emission. */
  def moveFrame(trace: DataFrame): DataFrame =
    trace
      .groupBy(col("grp"), col("span"), col("origin"), col("dest0"))
      .agg(sort_array(collect_list(struct(col("tick"), col("kind"),
        col("node")))).as("evs"))
      .withColumn("o", explode(expr(foldExpr)))
      .select(col("grp"), col("span"), col("origin"),
        col("o.tick").as("tick"), col("o.kind").as("kind"),
        col("o.node").as("node"), col("o.dest").as("dest"),
        col("o.stopped").as("origin_stopped"), col("o.bind").as("bound"),
        col("o.fin").as("finished"), col("o.can").as("canceled"),
        col("o.msg").as("msg"), col("o.target").as("msg_target"),
        col("o.mark").as("db_mark"))

  /** The six deterministic scenarios over the tick grid. Arm index =
    * (global move rank - 1) mod 6 over the (grp, span)-ordered move
    * list — any fleet with ≥6 scheduled moves exercises every arm.
    * The rank window is unpartitioned but bounded by the move list
    * (≤ the A80 batch cap), never by data volume. */
  def moveTrace(moves: DataFrame): DataFrame =
    moves
      .withColumn("arm",
        pmod(row_number().over(graft.util.Windows.bounded(col("grp"), col("span")))
          .cast("long") - 1L, lit(6L)))
      .select(col("grp"), col("span"), col("from_node").as("origin"),
        col("to_node").as("dest0"), col("arm"),
        explode(expr(s"sequence(0L, ${MaxTick}L)")).as("tick"))
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
      .withColumn("node",
        when(col("kind") === "HB" || col("kind") === "TASK_REMOVED", lit(-1L))
          .when(col("kind") === "NODE_REMOVE" && col("arm").isin(2L, 3L),
            col("dest0"))
          .when(col("kind") === "NODE_REMOVE", col("origin"))
          .when(col("kind") === "CHECK_WORKING" && col("arm") === 2L,
            col("origin"))
          .when(col("kind") === "CHECK_WORKING", col("dest0"))
          .otherwise(col("origin")))
      .select(col("grp"), col("span"), col("origin"), col("dest0"),
        col("tick"), col("kind"), col("node"))

  /** A92 production query: replay the move machine over every move
    * the balance pass schedules for the changefeed's default group
    * (balance.go:93-111 — spans live in the default group unless a
    * split gave them their own; one group means small fleets still
    * rebalance, so the operator plane has work to execute). */
  def operatorMove(cl: DataFrame, batch: Int = 1000,
                   nRegions: Int = Scheduler.NRegions): DataFrame =
    moveFrame(moveTrace(Scheduler.defaultGroupMoves(cl, batch, nRegions)))

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
  def operatorAddStop(cl: DataFrame, batch: Int = 1000,
                      nRegions: Int = Scheduler.NRegions): DataFrame = {
    val adds = Scheduler.basicSchedule(cl, batch, nRegions)
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

  def operatorAddStopSql(batch: Int = 1000,
                         nRegions: Int = Scheduler.NRegions): String = {
    val basic = Scheduler.basicScheduleSql(batch, nRegions)
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

  def operatorMoveSql(batch: Int = 1000,
                      nRegions: Int = Scheduler.NRegions): String = {
    val gb = Scheduler.defaultGroupMovesSql(batch, nRegions)
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH RECURSIVE moves AS (
       |  SELECT grp, move_seq, span, from_node AS origin, to_node AS dest0,
       |    (ROW_NUMBER() OVER (ORDER BY grp, span) - 1) % 6 AS arm
       |  FROM (
       |$gb
       |  ) gb WHERE move_seq IS NOT NULL
       |), trace AS (
       |  SELECT m.grp, m.span, m.origin, m.dest0, g.tick,
       |    CASE
       |      WHEN m.arm = 0 AND g.tick = 2 THEN 'CHECK_STOPPED'
       |      WHEN m.arm = 0 AND g.tick = 4 THEN 'CHECK_WORKING'
       |      WHEN m.arm = 1 AND g.tick = 2 THEN 'NODE_REMOVE'
       |      WHEN m.arm = 1 AND g.tick = 3 THEN 'CHECK_WORKING'
       |      WHEN m.arm = 2 AND g.tick = 1 THEN 'NODE_REMOVE'
       |      WHEN m.arm = 2 AND g.tick = 3 THEN 'CHECK_WORKING'
       |      WHEN m.arm = 3 AND g.tick = 2 THEN 'CHECK_STOPPED'
       |      WHEN m.arm = 3 AND g.tick = 3 THEN 'NODE_REMOVE'
       |      WHEN m.arm = 4 AND g.tick = 2 THEN 'TASK_REMOVED'
       |      WHEN m.arm = 5 AND g.tick = 2 THEN 'CHECK_STOPPED'
       |      ELSE 'HB' END AS kind,
       |    CAST(CASE
       |      WHEN (m.arm = 0 AND g.tick = 2) OR (m.arm = 3 AND g.tick = 2)
       |        OR (m.arm = 5 AND g.tick = 2) THEN m.origin
       |      WHEN m.arm = 0 AND g.tick = 4 THEN m.dest0
       |      WHEN m.arm = 1 AND g.tick = 2 THEN m.origin
       |      WHEN m.arm = 1 AND g.tick = 3 THEN m.dest0
       |      WHEN m.arm = 2 AND g.tick = 1 THEN m.dest0
       |      WHEN m.arm = 2 AND g.tick = 3 THEN m.origin
       |      WHEN m.arm = 3 AND g.tick = 3 THEN m.dest0
       |      ELSE -1 END AS BIGINT) AS node
       |  FROM moves m CROSS JOIN
       |    (SELECT UNNEST(GENERATE_SERIES(0, $MaxTick)) AS tick) g
       |), step AS (
       |  SELECT grp, span, origin, dest0 AS dest, CAST(-1 AS BIGINT) AS tick,
       |    FALSE AS stopped, FALSE AS bind, FALSE AS fin, FALSE AS can,
       |    CAST(NULL AS VARCHAR) AS e_kind, CAST(NULL AS BIGINT) AS e_node,
       |    CAST(NULL AS BIGINT) AS e_dest, CAST(NULL AS BIGINT) AS e_stopped,
       |    CAST(NULL AS BIGINT) AS e_bind, CAST(NULL AS BIGINT) AS e_fin,
       |    CAST(NULL AS BIGINT) AS e_can, CAST(NULL AS VARCHAR) AS e_msg,
       |    CAST(NULL AS BIGINT) AS e_target, CAST(NULL AS VARCHAR) AS e_mark
       |  FROM moves
       |  UNION ALL
       |  SELECT grp, span, origin,
       |    CAST(CASE arm2 WHEN 'swap' THEN origin ELSE dest END AS BIGINT),
       |    tick,
       |    CASE WHEN arm2 IN ('swap', 'stop') THEN TRUE ELSE stopped END,
       |    CASE WHEN arm2 IN ('swap', 'stop') THEN TRUE
       |      WHEN arm2 = 'hb' THEN (bind OR stopped) ELSE bind END,
       |    CASE WHEN arm2 = 'finish' THEN TRUE ELSE fin END,
       |    CASE WHEN arm2 IN ('task_rm', 'dest_abs') THEN TRUE ELSE can END,
       |    kind, node,
       |    CAST(CASE arm2 WHEN 'swap' THEN origin ELSE dest END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('swap', 'stop') THEN 1
       |      WHEN stopped THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('swap', 'stop') THEN 1
       |      WHEN arm2 = 'hb' AND (bind OR stopped) THEN 1
       |      WHEN bind THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN arm2 = 'finish' THEN 1
       |      WHEN fin THEN 1 ELSE 0 END AS BIGINT),
       |    CAST(CASE WHEN arm2 IN ('task_rm', 'dest_abs') THEN 1
       |      WHEN can THEN 1 ELSE 0 END AS BIGINT),
       |    CASE WHEN arm2 IN ('swap', 'stop') THEN 'add'
       |      WHEN arm2 = 'hb' THEN
       |        CASE WHEN stopped THEN 'add' ELSE 'remove' END
       |      ELSE 'none' END,
       |    CAST(CASE arm2 WHEN 'swap' THEN origin WHEN 'stop' THEN dest
       |      WHEN 'hb' THEN CASE WHEN stopped THEN dest ELSE origin END
       |      ELSE -1 END AS BIGINT),
       |    CASE WHEN tick = 0 THEN 'scheduling'
       |      WHEN arm2 = 'dest_abs' THEN 'absent'
       |      WHEN arm2 = 'finish' THEN 'replicating' ELSE '' END
       |  FROM (
       |    SELECT s.grp, s.span, s.origin, s.dest, s.stopped, s.bind,
       |      s.fin, s.can, t.tick AS tick, t.kind AS kind, t.node AS node,
       |      CASE
       |        WHEN s.fin OR s.can THEN 'idle'
       |        WHEN t.kind = 'TASK_REMOVED' THEN 'task_rm'
       |        WHEN t.kind = 'NODE_REMOVE' AND t.node = s.dest AND s.stopped
       |          THEN 'dest_abs'
       |        WHEN t.kind = 'NODE_REMOVE' AND t.node = s.dest THEN 'swap'
       |        WHEN (t.kind = 'NODE_REMOVE' AND t.node = s.origin)
       |          OR (t.kind = 'CHECK_STOPPED' AND t.node = s.origin)
       |          THEN 'stop'
       |        WHEN t.kind = 'CHECK_WORKING' AND t.node = s.dest
       |          AND s.stopped THEN 'finish'
       |        ELSE 'hb' END AS arm2
       |    FROM step s JOIN trace t
       |      ON t.grp = s.grp AND t.span = s.span AND t.tick = s.tick + 1
       |  ) x
       |)
       |SELECT grp, span, origin, tick, e_kind AS kind, e_node AS node,
       |  e_dest AS dest, e_stopped AS origin_stopped, e_bind AS bound,
       |  e_fin AS finished, e_can AS canceled, e_msg AS msg,
       |  e_target AS msg_target, e_mark AS db_mark
       |FROM step WHERE tick >= 0""".stripMargin
  }
}
