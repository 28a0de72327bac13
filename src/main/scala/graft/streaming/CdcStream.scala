package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.cdc.{ChangeEvents, Codecs, Dispatchers, Filters, Routing, Scheduler, Sinks}
import graft.functions.Portable

/** Structured-Streaming form of the changefeed — the engine's
  * equivalent of TiCDC's continuous pipeline (reference: the
  * logpuller → filter → route → encode → sink dataflow of
  * downstreamadapter/dispatcher, run as a Spark streaming query).
  *
  * The batch operators reuse directly: changelog derivation, filters,
  * dispatchers and codecs are row-local expressions, identical in
  * micro-batch mode. Only the stateful pieces differ:
  *  - resolved-ts ⇒ the event-time watermark,
  *  - the MySQL-sink apply loop ⇒ `flatMapGroupsWithState` keeping the
  *    latest image per key,
  *  - periodic consistent snapshots ⇒ watermarked window aggregation.
  *
  * Scale notes: state is keyed by (schema, table, pk) — Spark
  * hash-partitions state across executors; the watermark bounds both
  * state size and late-event buffering.
  */
object CdcStream {

  /** The streaming changefeed's topic and partition count (the batch
    * twin's `Changefeed.Config` defaults). */
  val DefaultTopic = "changefeed"
  val NPartitions = 16
  /** The tumbling window of [[windowedAgg]]. */
  val WindowLen = "1 hour"

  /** Typed change event for stateful ops. */
  case class ChangeEvent(schema_name: String, table_name: String, op: String,
                         pk: Long, commit_ts: Long, start_ts: Long,
                         event_type: String, before_value: Option[Double],
                         after_value: Option[Double], props: String,
                         event_time: java.sql.Timestamp)

  /** Latest-image state per key (the downstream table row). */
  case class KeyState(schema_name: String, table_name: String, pk: Long,
                      last_ts: Long, last_op: String,
                      value: Option[Double], props: String)

  /** A26 — the streaming changefeed source: file-stream the events
    * table, derive the changelog, filter, route the topic, dispatch the
    * partition, encode — optionally through the claim-check splitter.
    * Returns an unbounded DataFrame ready for `writeStream`. The
    * row-local batch operators (filters, topic router, partition
    * dispatcher, codecs, claim check) reuse unchanged in micro-batch
    * mode — StreamingSpec asserts frame equality with their batch
    * twins. */
  def pipeline(spark: SparkSession, dir: String,
               tableRules: Seq[String] = Seq("db%.%"),
               topicRules: Seq[(Seq[String], String)] = Nil,
               claimCheckMaxBytes: Option[Int] = None,
               maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // maxFilesPerTrigger bounds each micro-batch when events.parquet is
    // a multi-file directory — the bench's ≥3-batch smoke uses it so
    // watermark finalization is exercised ACROSS batch boundaries, not
    // inside a single AvailableNow batch
    val reader = spark.readStream.schema(schema)
    val raw = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(s"$dir/events.parquet*")
    val cl = ChangeEvents.fromEvents(raw)
    val filtered = Filters.tableFilter(cl, tableRules)
    val topic = Routing.topicFor(topicRules, DefaultTopic).as("topic")
    claimCheckMaxBytes match {
      case Some(maxBytes) =>
        // large messages detour to external storage; the sink frame
        // carries the claim location + stub value (A31, streaming form)
        Sinks.claimCheckFrame(filtered, NPartitions, maxBytes, extra = Seq(topic))
      case None =>
        filtered.select(col("commit_ts"), topic,
          Dispatchers.indexValueBucket(NPartitions).as("partition"),
          Codecs.openProtocolKey.as("key"),
          Codecs.openProtocolValue.as("value"))
    }
  }

  /** A27 — continuous snapshot maintenance: one `KeyState` per key,
    * updated to the latest image as micro-batches arrive (the net
    * effect of TiCDC's MySQL sink apply loop). Emits the new state of
    * every key touched in the batch (OutputMode.Update). */
  def snapshotState(events: Dataset[ChangeEvent]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.schema_name, e.table_name, e.pk))
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case ((sch, tbl, pk), batch, state: GroupState[KeyState]) =>
          val prior = state.getOption
          val latest = batch.foldLeft(prior) { (acc, e) =>
            if (acc.forall(_.last_ts < e.commit_ts))
              Some(KeyState(sch, tbl, pk, e.commit_ts, e.op, e.after_value, e.props))
            else acc
          }
          latest match {
            case Some(s) if !prior.contains(s) => state.update(s); Iterator(s)
            case _ => Iterator.empty
          }
      }
  }

  /** A28 — watermarked windowed aggregation: per-table event counts and
    * value totals over event-time windows; the watermark is the
    * resolved-ts analogue (late events beyond it are dropped, closed
    * windows emit finally). */
  def windowedAgg(cl: DataFrame): DataFrame =
    cl.withWatermark("event_time", DataOps.WatermarkDelay)
      .groupBy(window(col("event_time"), WindowLen),
        col("schema_name"), col("table_name"))
      .agg(count(lit(1)).as("n_events"),
        // exact cents sum (graft.util.Money): partial-agg merge order
        // across micro-batches can't flip a cent
        graft.util.Money.sumCents(col("after_value")).as("sum_value_cents"))
      .select(col("window.start").as("window_start"),
        col("schema_name"), col("table_name"),
        col("n_events"), col("sum_value_cents"))

  /** Region-frontier state per table: each region's resolved ts. */
  case class FrontierState(region_ts: Map[Long, Long])

  /** One frontier advancement: the table's resolved ts moved. */
  case class FrontierAdvance(schema_name: String, table_name: String,
                             frontier_ts: Long, n_regions: Long)

  /** A69s — continuous span-frontier advancement: the per-table
    * resolved ts as the reference actually maintains it (every region
    * event lifts its region's resolvedTs; the table frontier is the
    * min over regions and only ever moves FORWARD). State per table is
    * one small region→ts map ([[Scheduler.NRegions]] entries); an advancement row
    * emits ONLY when the min rises — the "no earlier event will
    * arrive" signal downstream sinks key their flushes on. */
  def spanFrontier(events: Dataset[ChangeEvent]): Dataset[FrontierAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.schema_name, e.table_name))
      .flatMapGroupsWithState[FrontierState, FrontierAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((sch, tbl), it, state: GroupState[FrontierState]) =>
          var regions = state.getOption.map(_.region_ts).getOrElse(Map.empty[Long, Long])
          def frontier(m: Map[Long, Long]): Long =
            if (m.isEmpty) -1L else m.values.min
          val before = frontier(regions)
          // region of an event = the same pk-hash bucket the batch
          // operator (A69) uses; process in commit order for a
          // deterministic advancement sequence
          val out = scala.collection.mutable.Buffer[FrontierAdvance]()
          var cur = before
          it.toSeq.sortBy(_.commit_ts).foreach { e =>
            val region = Portable.hash60Long(e.pk.toString) % Scheduler.NRegions
            if (regions.getOrElse(region, -1L) < e.commit_ts)
              regions = regions.updated(region, e.commit_ts)
            val f = frontier(regions)
            if (f > cur) {
              out += FrontierAdvance(sch, tbl, f, regions.size.toLong)
              cur = f
            }
          }
          state.update(FrontierState(regions))
          out.iterator
      }
  }

  /** One raw TiKV-style change entry (A72's stream form). */
  case class RawKv(schema_name: String, table_name: String, pk: Long,
                   start_ts: Long, kind: String, seq: Long, commit_ts: Long,
                   op: String, value: String, old_value: String)

  /** Cached prewrite per (table, key, startTs) — the matcher's map entry. */
  case class PrewriteState(value: String, old_value: String)

  /** A matched row event (commit + its prewrite's payloads). */
  case class MatchedRow(schema_name: String, table_name: String, pk: Long,
                        start_ts: Long, commit_ts: Long, op: String,
                        value: String, old_value: String)

  /** A72s — the transaction matcher as it actually runs: continuous,
    * one O(1) prewrite cache per (table, key, startTs), exactly
    * `txn_matcher.go`'s map entry. Commits emit iff a live prewrite
    * exists; rollbacks clear it; an empty-payload (fake) prewrite never
    * overwrites a cached real one. Batch-arrival order within a group
    * is undefined under parallelism (the reference's map overwrite is
    * arrival-order dependent), so the twin pins the batch operator's
    * deterministic tie-break: rows process in (seq, value, old_value)
    * order and the first non-empty prewrite wins. */
  def txnMatch(raw: Dataset[RawKv]): Dataset[MatchedRow] = {
    import raw.sparkSession.implicits._
    raw.groupByKey(r => (r.schema_name, r.table_name, r.pk, r.start_ts))
      .flatMapGroupsWithState[PrewriteState, MatchedRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((sch, tbl, pk, sts), it, state: GroupState[PrewriteState]) =>
          val out = scala.collection.mutable.Buffer[MatchedRow]()
          var cached = state.getOption
          it.toSeq.sortBy(r => (r.seq, r.value, r.old_value)).foreach { r =>
            r.kind match {
              case "P" | "F" =>
                val overwrite = cached.forall(_.value.isEmpty) && r.value.nonEmpty
                if (cached.isEmpty || overwrite)
                  cached = Some(PrewriteState(r.value, r.old_value))
              case "R" => cached = None
              // the reference deletes the entry on match (a real txn
              // writes a key once per startTs); the synthetic changelog
              // can carry several events per (key, startTs), and the
              // batch operator's join matches EVERY commit against the
              // one cached prewrite — the twin retains the entry to
              // stay frame-equal with it
              case "C" => cached.foreach { pw =>
                  out += MatchedRow(sch, tbl, pk, sts, r.commit_ts, r.op,
                    pw.value, pw.old_value)
                }
              case _ =>
            }
          }
          cached match {
            case Some(p) => state.update(p)
            case None => if (state.exists) state.remove()
          }
          out.iterator
      }
  }

  /** A85s input: one ingress item of the A85 trace (pos-ordered). */
  case class SeqEvent(schema_name: String, table_name: String, pos: Long,
                      kind: String, seq: Long, commit_ts: Long, src: String)

  /** A85s dispatcher state — exactly the three fields of the reference
    * DispatcherStat the protocol reads. */
  case class SeqState(lastSeq: Long, waiting: Boolean, sendTs: Long)

  case class SeqOutcome(schema_name: String, table_name: String, pos: Long,
                        outcome: String)

  /** A85s — the event collector's ingress protocol as a continuous
    * stateful stream: the reference loop
    * (event_collector.go:469-525) IS incremental — per event it reads
    * and updates (lastEventSeq, waitHandshake, sendCommitTs) — so the
    * state is ONE 3-field record per dispatcher and each micro-batch
    * folds its items in pos order. The batch operator (A85) computes
    * the same outcomes as closed-form windows; the spec replays the
    * production trace across micro-batch boundaries and asserts the
    * two readings agree outcome-for-outcome. In-order arrival across
    * batches is the contract (the trace is the service's send order). */
  def streamSeqCheck(ev: Dataset[SeqEvent]): Dataset[SeqOutcome] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(e => (e.schema_name, e.table_name))
      .flatMapGroupsWithState[SeqState, SeqOutcome](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((sch, tbl), it, state: GroupState[SeqState]) =>
          var s = state.getOption.getOrElse(SeqState(0L, waiting = true, 0L))
          val out = scala.collection.mutable.Buffer[SeqOutcome]()
          def checkSeq(seq: Long): Boolean = {
            s = s.copy(lastSeq = s.lastSeq + 1)
            if (seq != s.lastSeq) {
              if (!s.waiting) s = s.copy(lastSeq = 0L, waiting = true) // reset()
              false
            } else true
          }
          it.toSeq.sortBy(_.pos).foreach { e =>
            val outcome =
              if (e.src != "srv-0") "ignore_wrong_server"
              else if (e.kind == "HANDSHAKE") {
                if (checkSeq(e.seq)) { s = s.copy(waiting = false); "accept_handshake" }
                else "handshake_rejected"
              } else if (s.waiting) "ignore_wait_handshake"
              else if (!checkSeq(e.seq)) "ignore_out_of_order"
              else if (e.commit_ts < s.sendTs) "ignore_stale"
              else { s = s.copy(sendTs = e.commit_ts); "accept" }
            out += SeqOutcome(sch, tbl, e.pos, outcome)
          }
          state.update(s)
          out.iterator
      }
  }

  /** One heartbeat observation for a span (A81s input). */
  case class SpanTick(span: String, tick: Long, bytes: Long, coeff: Long)

  /** Per-span walk state: the floored score, its peak, and the
    * increment/heartbeat bookkeeping the staleness check reads. */
  case class HotState(score: Long, peak: Long, last_inc: Long,
                      last_tick: Long, n: Long)

  /** A81s output: the span's hot verdict after each micro-batch. */
  case class HotSummary(span: String, coeff: Long, n_ticks: Long,
                        peak_score: Long, final_score: Long,
                        last_inc_tick: Long, last_tick: Long,
                        is_stale: Long, is_hot: Long, split_spans: Long)

  /** A81s — the hot-span score walk as a continuous stateful stream:
    * `updateHotSpan` (hot_span.go:123-158) is itself an incremental
    * algorithm — per heartbeat the score moves +1 / −1-floored-at-0 /
    * 0 — so the state is ONE 5-long record per span and each
    * micro-batch folds its ticks in tick order. The batch operator
    * (A81) computes the same walk as a Lindley closed form; the twin
    * and the closed form are spec-checked equal on a replayed
    * production frame — the incremental and the closed-form reading
    * of the reference loop agree. In-order arrival across batches is
    * the contract (heartbeats are periodic); state is bounded by the
    * span universe. */
  def streamHotSpans(ticks: Dataset[SpanTick]): Dataset[HotSummary] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(t => (t.span, t.coeff))
      .mapGroupsWithState[HotState, HotSummary](
        GroupStateTimeout.NoTimeout()) {
        case ((span, coeff), it, state: GroupState[HotState]) =>
          var s = state.getOption.getOrElse(HotState(0L, 0L, -1L, -1L, 0L))
          it.toSeq.sortBy(_.tick).foreach { t =>
            val delta =
              if (t.bytes >= Scheduler.HotThr * coeff) 1L
              else if (t.bytes < Scheduler.HotThr) -1L
              else 0L
            val score = math.max(0L, s.score + delta)
            s = HotState(score, math.max(s.peak, score),
              if (delta == 1L) t.tick else s.last_inc, t.tick, s.n + 1)
          }
          state.update(s)
          val stale =
            if (s.last_inc >= 0L && s.last_tick - s.last_inc > Scheduler.HotClearTicks) 1L
            else 0L
          val hot = if (s.score >= Scheduler.HotScoreThr && stale == 0L) 1L else 0L
          HotSummary(span, coeff, s.n, s.peak, s.score, s.last_inc,
            s.last_tick, stale, hot, if (hot == 1L) Scheduler.HotSplitSpans.toLong else 0L)
      }
  }

  /** A92s input: one heartbeat tick of a move operator's event trace. */
  case class MoveEvent(grp: String, span: String, origin: Long, dest0: Long,
                       tick: Long, kind: String, node: Long)

  /** The move operator's live fields (operator_move.go:36-40:
    * originNodeStopped / bind / finished / canceled, plus the dest
    * that the rollback arm rewrites). */
  case class MoveState(stopped: Boolean, bind: Boolean, fin: Boolean,
                       can: Boolean, dest: Long)

  case class MoveOutcome(grp: String, span: String, origin: Long, tick: Long,
                         kind: String, node: Long, dest: Long,
                         origin_stopped: Long, bound: Long, finished: Long,
                         canceled: Long, msg: String, msg_target: Long,
                         db_mark: String)

  /** A92s — the move-operator machine as a continuous stateful
    * stream: the reference operator IS event-driven (each
    * Check/OnNodeRemove/OnTaskRemoved call mutates the five live
    * fields, then the controller polls Schedule), so the state is ONE
    * 5-field record per in-flight operator and each micro-batch folds
    * its events in tick order. The batch operator (A92, the move half
    * of the A109 fold) computes the same replay as a Catalyst
    * aggregate; the spec replays the production trace across
    * micro-batch boundaries and asserts the two readings agree
    * row-for-row. In-order arrival across batches is the contract
    * (heartbeats are the controller's own poll cadence); state is
    * bounded by the in-flight operator count. */
  def streamOperatorMove(ev: Dataset[MoveEvent]): Dataset[MoveOutcome] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(e => (e.grp, e.span, e.origin, e.dest0))
      .flatMapGroupsWithState[MoveState, MoveOutcome](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((grp, span, origin, dest0), it, state: GroupState[MoveState]) =>
          var s = state.getOption.getOrElse(
            MoveState(stopped = false, bind = false, fin = false,
              can = false, dest = dest0))
          val out = scala.collection.mutable.Buffer[MoveOutcome]()
          it.toSeq.sortBy(_.tick).foreach { e =>
            var msg = "none"; var target = -1L; var mark = ""
            if (!s.fin && !s.can) {
              e.kind match {
                case "TASK_REMOVED" => s = s.copy(can = true)
                case "NODE_REMOVE" if e.node == s.dest && s.stopped =>
                  s = s.copy(can = true); mark = "absent"
                case "NODE_REMOVE" if e.node == s.dest =>
                  s = s.copy(dest = origin, bind = true, stopped = true)
                case "NODE_REMOVE" if e.node == origin =>
                  s = s.copy(stopped = true)
                case "CHECK_STOPPED" if e.node == origin =>
                  s = s.copy(stopped = true)
                case "CHECK_WORKING" if e.node == s.dest && s.stopped =>
                  s = s.copy(fin = true); mark = "replicating"
                case _ =>
              }
              if (!s.fin && !s.can) {
                if (s.stopped) { s = s.copy(bind = true); msg = "add"; target = s.dest }
                else { msg = "remove"; target = origin }
              }
            }
            if (e.tick == 0L) mark = "scheduling"
            def b(x: Boolean) = if (x) 1L else 0L
            out += MoveOutcome(grp, span, origin, e.tick, e.kind, e.node,
              s.dest, b(s.stopped), b(s.bind), b(s.fin), b(s.can),
              msg, target, mark)
          }
          state.update(s)
          out.iterator
      }
  }
}
