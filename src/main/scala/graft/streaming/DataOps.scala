package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.{Dedup, Retrieval, Text}
import graft.queries.Analytics

/** Streaming forms of the LLM-data-pipeline operators: continuous
  * ingest is how a 100 TB corpus actually arrives, so the dedup and
  * sessionization operators need streaming twins with bounded state.
  *
  * - Dedup state is keyed by content fingerprint and, in production,
  *   bounded with `dropDuplicatesWithinWatermark` over ingest time —
  *   exact-once output per fingerprint inside the watermark horizon.
  * - Sessionization uses native `session_window` with a watermark:
  *   Spark merges/extends per-user session state and finalizes a
  *   session when the watermark passes its gap — the streaming
  *   equivalent of the batch lag+cumsum definition (B14).
  */
object DataOps {

  /** Event-time lateness every watermarked twin tolerates. */
  val WatermarkDelay = "10 minutes"
  /** [[streamSessionize]]'s session gap. */
  val SessionGap = "30 minutes"
  /** [[streamConcurrencyGauge]]'s window and slide (the batch gauge's
    * 5-minute duration and 1-minute grid). */
  val GaugeDur = "5 minutes"
  val GaugeSlide = "1 minute"

  /** A35 — streaming exact dedup: first document per normalized-text
    * fingerprint survives. `withinWatermarkDelay` bounds state when an
    * `ingest_time` column exists (files/Kafka provide one); None keeps
    * full-history state (exact global dedup, spec/testing mode). */
  def streamDedup(docs: DataFrame,
                  withinWatermarkDelay: Option[String] = None): DataFrame =
    withinWatermarkDelay match {
      case Some(delay) =>
        docs.select(col("doc_id"), col("ingest_time"),
            md5(Text.norm(col("text")).cast("binary")).as("fingerprint"))
          .withWatermark("ingest_time", delay)
          .dropDuplicatesWithinWatermark("fingerprint")
      case None =>
        docs.select(col("doc_id"),
            md5(Text.norm(col("text")).cast("binary")).as("fingerprint"))
          .dropDuplicates("fingerprint")
    }

  /** C27s — streaming line-level dedup: the C27 boilerplate pass over
    * a document stream. Line construction is row-local (identical per
    * micro-batch); first-occurrence resolution is per-line-digest
    * dedup state, exactly A35's shape one level finer. In production
    * the state bounds with `dropDuplicatesWithinWatermark` like A35;
    * the unbounded form is the exact global pass (spec mode). Emits
    * one row per SURVIVING line occurrence. */
  def streamLineDedup(docs: DataFrame,
                      withinWatermarkDelay: Option[String] = None): DataFrame = {
    withinWatermarkDelay match {
      case Some(delay) =>
        graft.ops.Dedup
          .lineFrameOf(docs.withWatermark("ingest_time", delay), Dedup.LineWidth,
            keep = Seq("ingest_time"))
          .withColumn("lh", md5(col("line").cast("binary")))
          .dropDuplicatesWithinWatermark("lh")
          .select(col("doc_id"), col("line_no"), col("lh"))
      case None =>
        graft.ops.Dedup.lineFrameOf(docs, Dedup.LineWidth)
          .withColumn("lh", md5(col("line").cast("binary")))
          .dropDuplicates("lh")
          .select(col("doc_id"), col("line_no"), col("lh"))
    }
  }

  /** A36 — streaming sessionization: per-user session windows with a
    * 30-minute gap over event time; a session finalizes when the
    * watermark passes its close. Emits the same (user, session start,
    * event count, exact cents value total) frame as the batch
    * lag+cumsum sessionizer.
    *
    * Boundary semantics: `session_window` closes at `start + gap`
    * exclusive, while the batch definition (B14) keeps an event at
    * EXACTLY [[SessionGap]] distance in the same session (`diff > gap` splits).
    * The two differ only when consecutive events are exactly the gap
    * apart — measure zero under microsecond timestamps, absent from
    * the test data, but callers comparing the frames should know. */
  def streamSessionize(events: DataFrame): DataFrame =
    graft.util.Tables.normalizeTs(events)
      .select(col("user_id"), expr("timestamp_micros(ts div 1000)").as("event_time"),
        col("value"))
      .withWatermark("event_time", WatermarkDelay)
      .groupBy(session_window(col("event_time"), SessionGap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Money.sumCents(col("value")).as("sum_value_cents"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("sum_value_cents"))

  /** Typed event for the stateful funnel. */
  case class UserEvent(user_id: Long, event_type: String, ts_us: Long)

  /** Typed day-activity event for the stateful retention twin. */
  case class DayEvent(user_id: Long, day: Long)

  /** Per-user retention state: the cohort (first active day) and every
    * day already emitted — bounded by the user's distinct active days,
    * i.e. the retention horizon, not the event volume. */
  case class RetentionState(cohort_day: Long, days: Seq[Long])

  /** One (user, cohort, offset) activity pair, emitted exactly once. */
  case class RetentionPair(user_id: Long, cohort_day: Long, day_offset: Long)

  /** B16s — streaming retention pairs: the continuous form of the batch
    * cohort query (B16). Per-user state tracks the cohort day and the
    * set of already-emitted active days; each micro-batch emits the
    * user's NEW (cohort_day, day_offset) pairs exactly once. The final
    * `COUNT(DISTINCT user)` per (cohort, offset) cell is a stateless
    * aggregation over this pair stream (applied by the consumer — Spark
    * disallows an aggregation after `flatMapGroupsWithState` within one
    * streaming query). Same in-order contract as [[streamFunnel]], and
    * the cohort is IMMUTABLE once set: the first batch locks it to its
    * earliest day, and any event carrying an earlier day in a LATER
    * micro-batch is dropped (the funnel's lock semantics) — never
    * re-based, so every emitted pair stays consistent with the single
    * locked cohort. Feed day-ordered replays to match batch exactly
    * (spec-verified on a three-micro-batch day-tercile replay; the
    * drop arm has its own out-of-order spec).
    *
    * `ttl` — the production state-TTL arm: a processing-time timeout
    * reclaims a user's state after `ttl` of inactivity, so a departed
    * user costs nothing forever; the user's NEXT event re-admits them
    * as a NEW cohort (spec-verified). Default None keeps `NoTimeout`,
    * the exact-batch-comparability contract. */
  def streamRetention(events: Dataset[DayEvent],
                      ttl: Option[String] = None): Dataset[RetentionPair] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionPair](
        OutputMode.Append(), timeoutConf) {
        (user, batch, state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val days = batch.map(_.day).toSeq.distinct.sorted
            if (days.isEmpty) Iterator.empty
            else {
              val prior = state.getOption
              // the cohort locks at first sight; later batches cannot
              // re-base it (pairs already emitted would silently keep
              // offsets against the stale cohort) — pre-cohort stragglers
              // are dropped instead
              val cohort = prior.map(_.cohort_day).getOrElse(days.head)
              val seen = prior.map(_.days.toSet).getOrElse(Set.empty[Long])
              val fresh = days.filter(d => d >= cohort && !seen(d))
              state.update(RetentionState(cohort, (seen ++ fresh).toSeq))
              ttl.foreach(state.setTimeoutDuration)
              fresh.iterator.map(d => RetentionPair(user, cohort, d - cohort))
            }
          }
      }
  }

  /** Per-user funnel progress; -1 = stage not reached. */
  case class FunnelState(user_id: Long, t_view_us: Long, t_click_us: Long,
                         t_purchase_us: Long, stage: Long)

  /** B15s — streaming funnel: one `FunnelState` per user advanced by
    * `mapGroupsWithState` as micro-batches arrive — the continuous
    * form of the batch stacked-window funnel (B15). Events are ordered
    * by timestamp inside each batch before folding, so a single-batch
    * run is exactly the batch funnel; across batches the fold is
    * greedy (a stage locks to the earliest qualifying event seen so
    * far), the standard streaming funnel semantics under in-order
    * arrival. State is one 4-long record per user — bounded by the
    * user population, not the event volume.
    *
    * API CONTRACT — in-order arrival across micro-batches: a stage
    * locks to the first qualifying event SEEN, so an earlier view/click
    * arriving in a later micro-batch cannot revise a locked stage and
    * the result can diverge from the batch funnel (B15) under
    * cross-batch disorder. Feed this from an event-time-ordered source
    * (e.g. a watermarked, sorted replay), or compare against B15 only
    * on in-order streams.
    *
    * `ttl` — the production state-TTL arm for an unbounded user
    * population: a processing-time timeout emits the user's last-known
    * state once more and reclaims it; the user's next event re-admits
    * them at stage 0 (spec-verified). Default None keeps `NoTimeout`,
    * the exact-batch-comparability contract. */
  def streamFunnel(events: Dataset[UserEvent],
                   ttl: Option[String] = None): Dataset[FunnelState] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelState](timeoutConf) {
        (user, batch, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // final emission of the expired state, then reclaim — the
            // user's next event starts a fresh funnel
            val last = state.get
            state.remove()
            last
          } else {
          var s = state.getOption.getOrElse(FunnelState(user, -1L, -1L, -1L, 0L))
          for (e <- batch.toSeq.sortBy(_.ts_us)) {
            if (e.event_type == "view" && s.t_view_us == -1L)
              s = s.copy(t_view_us = e.ts_us)
            else if (e.event_type == "click" && s.t_click_us == -1L &&
                     s.t_view_us != -1L && e.ts_us > s.t_view_us)
              s = s.copy(t_click_us = e.ts_us)
            else if (e.event_type == "purchase" && s.t_purchase_us == -1L &&
                     s.t_click_us != -1L && e.ts_us > s.t_click_us)
              s = s.copy(t_purchase_us = e.ts_us)
          }
          s = s.copy(stage =
            Seq(s.t_view_us, s.t_click_us, s.t_purchase_us).count(_ != -1L).toLong)
          state.update(s)
          ttl.foreach(state.setTimeoutDuration)
          s
          }
      }
  }

  case class AsofEvent(event_id: Long, user_id: Long, event_type: String,
                       ts_us: Long)
  /** Last view per user — the WHOLE as-of state: O(1) per user, vs the
    * batch window's full per-user sort. */
  case class AsofState(view_id: Long, view_us: Long)
  case class AsofPair(purchase_id: Long, user_id: Long, purchase_us: Long,
                      asof_view_id: Option[Long], asof_view_us: Option[Long],
                      gap_us: Option[Long])

  /** B17s — streaming AS-OF JOIN (last-touch attribution), the twin of
    * [[graft.queries.Analytics.qAsofJoin]]: per user the state is just
    * the latest view seen — constant per key, the reason as-of is THE
    * streaming-friendly join — and every purchase emits one pair
    * against it. Within a batch events apply in (ts, views-first, id)
    * order, the batch plan's exact tie rule. Same in-order contract
    * across batches as the other twins (a view arriving after a later
    * purchase's batch cannot retro-attribute — feed ts-ordered
    * replays; spec-equal to batch on one). */
  def streamAsof(events: Dataset[AsofEvent]): Dataset[AsofPair] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, batch, state: GroupState[AsofState]) =>
          val out = Seq.newBuilder[AsofPair]
          var s = state.getOption.orNull
          val ordered = batch.toSeq.sortBy(e =>
            (e.ts_us, if (e.event_type == "view") 0L else 1L, e.event_id))
          for (e <- ordered) e.event_type match {
            case "view" =>
              if (s == null || e.ts_us > s.view_us ||
                  (e.ts_us == s.view_us && e.event_id > s.view_id))
                s = AsofState(e.event_id, e.ts_us)
            case "purchase" =>
              out += (if (s == null)
                AsofPair(e.event_id, user, e.ts_us, None, None, None)
              else
                AsofPair(e.event_id, user, e.ts_us, Some(s.view_id),
                  Some(s.view_us), Some(e.ts_us - s.view_us)))
            case _ => ()
          }
          if (s != null) state.update(s)
          out.result().iterator
      }
  }

  /** B18s — the STREAM-STREAM interval join twin of the batch range
    * join (B18): purchases and views as two independently-watermarked
    * event streams, joined with Spark's native stream-stream inner
    * join on (user, time-range). The time-range predicate on the two
    * watermarked event-time columns is what lets the engine bound BOTH
    * join states: a buffered view older than
    * `watermark(purchase) − range` can never match a future purchase
    * and is evicted, so state is O(range × rate), not O(stream).
    * This is the one streaming capability class the mapGroupsWithState
    * twins (B15s/B16s/B17s/A72s) cannot express — per-key scalar state
    * keeps ONE value; the interval join must buffer the full in-range
    * window of BOTH sides.
    *
    * Emits the matched (purchase, view) PAIR stream; an inner join
    * emits a pair as soon as both sides arrived (append mode), so over
    * a complete replay the pair set equals the batch B18 join exactly —
    * the spec aggregates the pairs and checks frame equality with B18's
    * per-purchase counts. The range is B18's [[Analytics.RangeJoinUs]],
    * a whole number of seconds (it is interpolated into an INTERVAL
    * literal).
    *
    * Multi-micro-batch cost shape (StreamProbe, r14, 8-slice sf0.1
    * tier, mfpt=2 = 4 batches of 50k): state is BOUNDED and eviction
    * FIRES — numRowsTotal plateaus at ~10.7k rows / 4 MB and
    * numRowsRemoved ≈ the per-batch inserts from batch 1 on. The
    * 4× single-vs-multi-batch rate gap is per-batch state-store
    * COMMIT overhead, not state growth: a symmetric hash join keeps
    * 4 store instances per shuffle partition and each commits a delta
    * file per batch (32 partitions → 128 tiny writes/batch, measured
    * 67–104 s summed commitMs). The same replay at 8 partitions runs
    * 2.25× faster (31.2 → 13.8 s, commitMs ~3.7 s) with an identical
    * state curve. At corpus scale the batches are proportionally
    * larger and the commit amortizes; on a real cluster, size
    * shuffle/state partitions to state volume, not to the batch
    * default. */
  def streamRangeJoin(events: DataFrame): DataFrame = {
    val e = graft.util.Tables.normalizeTs(events)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(ts div 1000)").as("etime"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("etime").as("view_time"))
      .withWatermark("view_time", WatermarkDelay)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("etime").as("purchase_time"))
      .withWatermark("purchase_time", WatermarkDelay)
    purchases.join(views,
        col("p_user") === col("v_user") &&
        col("view_time") > col("purchase_time") -
          expr(s"INTERVAL ${Analytics.RangeJoinUs / 1000000L} SECONDS") &&
        col("view_time") <= col("purchase_time"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        expr("unix_micros(purchase_time)").as("purchase_us"),
        col("view_id"), expr("unix_micros(view_time)").as("view_us"))
  }

  /** B33s — approximate distinct as a STREAMING aggregate: the HLL
    * sketch is exactly the state shape streaming wants — a fixed
    * few-KB register set per group that MERGES across micro-batches
    * (an exact streaming COUNT(DISTINCT) would hold every seen key in
    * state forever). Update mode re-emits each group's running
    * estimate as batches land; the final row per group is the
    * whole-stream sketch, spec-checked inside the same 5% tolerance
    * contract as batch B33. */
  def streamApproxDistinct(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_approx"))

  /** B32s — the stream-stream LEFT OUTER interval join: B18s's pair
    * stream plus the capability inner joins can't express — a
    * purchase with NO in-range view must still emit, and in a stream
    * that answer is only safe once the WATERMARK has passed its
    * whole candidate window (a matching view could still arrive until
    * then). Spark buffers the left row and emits the null-padded
    * result via the no-data eviction batch after the watermark
    * clears it — the streaming rendering of B32's absent-side
    * sentinel discipline (-1 on the unmatched view columns). State
    * on both sides stays O(range × rate), bounded by the same
    * time-range predicate as the inner twin. */
  def streamLeftOuterJoin(events: DataFrame): DataFrame = {
    val e = graft.util.Tables.normalizeTs(events)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(ts div 1000)").as("etime"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("etime").as("view_time"))
      .withWatermark("view_time", WatermarkDelay)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("etime").as("purchase_time"))
      .withWatermark("purchase_time", WatermarkDelay)
    purchases.join(views,
        col("p_user") === col("v_user") &&
        col("view_time") > col("purchase_time") -
          expr(s"INTERVAL ${Analytics.RangeJoinUs / 1000000L} SECONDS") &&
        col("view_time") <= col("purchase_time"),
        "left_outer")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        expr("unix_micros(purchase_time)").as("purchase_us"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"),
        coalesce(expr("unix_micros(view_time)"), lit(-1L)).as("view_us"),
        col("view_id").isNotNull.cast("long").as("matched"))
  }

  /** B28s — the concurrency gauge as a NATIVE sliding event-time
    * window: `window(event_time, dur, slide)` assigns each event to
    * its dur/slide overlapping windows and the watermark closes them
    * finally — the idiomatic Structured Streaming rendering of the
    * batch grid-sampled gauge (B28). A window ending at e counts the
    * events in [e − dur, e) — the half-open convention of Spark's
    * window assignment, vs B28's closed-right boundary stabs; the
    * spec pins the streamed counts against an independent recount
    * under exactly this convention. Append mode emits each window
    * once, when the watermark passes it — the gauge row becomes
    * immutable exactly like the reference's flushed metrics. */
  def streamConcurrencyGauge(ev: DataFrame): DataFrame =
    ev.withWatermark("event_time", WatermarkDelay)
      .groupBy(window(col("event_time"), GaugeDur, GaugeSlide))
      .agg(count(lit(1)).as("n_open"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("n_open"))

  /** One marked gram occurrence heading into the span assembler. */
  case class SpanOcc(doc_id: Long, doc_tokens: Long, pos: Long)

  /** One emitted removal span (the C59 row shape). */
  case class SpanRow(doc_id: Long, span_seq: Long, tok_start: Long,
                     tok_end: Long, span_tokens: Long, doc_tokens: Long,
                     dup_ppm: Long)

  /** C59s — streaming substring-span marking: the batch op (C59)
    * computes document frequency over a FINISHED corpus; production
    * ingest instead marks each ARRIVING document against the static
    * historical duplicated-gram set (the index the batch pass
    * publishes — the C19s stream-static discipline): one
    * stream-static equi-join on the 60-bit gram key, then the island
    * merge runs per DOCUMENT inside `flatMapGroupsWithState` (a doc's
    * positions are bounded by its length; the per-doc window the
    * batch plan uses is not available on a stream — the per-group
    * in-memory merge is its exact streaming twin, and the
    * transcription is literally the same interval-union loop). With
    * the historical set = the corpus's own df≥2 grams, the streamed
    * output EQUALS batch C59 row-for-row (spec-asserted). */
  def streamSubstringSpans(docs: DataFrame, dupGrams: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val occ = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("doc_tokens", size(col("toks")).cast("long"))
      .withColumn("grams",
        call_function("graft_word_ngrams_all", col("toks"), lit(Retrieval.SubstrK)))
      .select(col("doc_id"), col("doc_tokens"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("doc_tokens"),
        col("pos").cast("long").as("pos"),
        graft.functions.Portable.hash60(col("gram")).as("gh"))
      .join(dupGrams, "gh")
      .select(col("doc_id"), col("doc_tokens"), col("pos"))
      .as[SpanOcc]
    occ.groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[SpanOcc], state: GroupState[Long]) =>
          // interval union over the sorted duplicated positions —
          // the same merge C59's per-doc window computes
          val rows = it.toVector
          if (rows.isEmpty) Iterator.empty
          else {
            val docTokens = rows.head.doc_tokens
            val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            rows.map(_.pos).sorted.foreach { p =>
              if (spans.nonEmpty && p <= spans.last._2)
                spans(spans.length - 1) = (spans.last._1, p + Retrieval.SubstrK)
              else spans += ((p, p + Retrieval.SubstrK))
            }
            val dup = spans.map(s => s._2 - s._1).sum
            spans.iterator.zipWithIndex.map { case ((s, e), i) =>
              SpanRow(id, i + 1L, s, e, e - s, docTokens,
                dup * 1000000L / docTokens)
            }
          }
      }
      .toDF()
  }

  /** One document heading into the per-source cap gate. */
  case class CapDoc(doc_id: Long, source: String, prio: Long)

  /** C60s — the per-source cap as a continuous ingest gate: the batch
    * op (C60) ranks a FINISHED corpus; production ingest must verdict
    * each arriving document with only the past in hand, so the
    * streaming form keeps one number per source — how much of the cap
    * is already spent — and admits until it runs out. State is O(1)
    * per source (a long), the minimum any cap can carry. Within a
    * micro-batch, candidates are ordered by the SAME (priority,
    * doc_id) key as the batch op, which makes the two forms exactly
    * equal when the corpus arrives as one batch (spec-asserted) and
    * makes multi-batch admission deterministic; across batches the
    * gate is first-come — the honest semantics of an online cap
    * (a later better-priority doc cannot evict an admitted one).
    * `cap_rank` is the admission ordinal; dropped docs carry -1. */
  def streamSourceCap(docs: DataFrame, cap: Int = graft.ops.Curation.SourceCap): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("source"),
        graft.functions.Portable.hash60(concat(lit("graft-cap-v1:"),
          col("doc_id").cast("string"))).as("prio"))
      .as[CapDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[CapDoc], state: GroupState[Long]) =>
          val spent = state.getOption.getOrElse(0L)
          val batch = it.toVector.sortBy(d => (d.prio, d.doc_id))
          val quota = math.max(0L, cap.toLong - spent)
          val admitted = batch.take(quota.toInt)
          state.update(spent + admitted.length)
          val ranks = admitted.zipWithIndex
            .map { case (d, i) => d.doc_id -> (spent + i + 1L) }.toMap
          batch.iterator.map(d => (d.doc_id, src,
            ranks.getOrElse(d.doc_id, -1L),
            if (ranks.contains(d.doc_id)) 1L else 0L))
      }
      .toDF("doc_id", "source", "cap_rank", "kept")
  }

  /** One verified probe row heading into the per-doc reduce. */
  case class IncProbe(doc_id: Long, gb: Seq[String], cid: Option[Long],
                      gc: Option[Seq[String]])

  /** C79s — incremental dedup as CONTINUOUS ingest: each arriving doc
    * probes the STATIC published band index (the frame the batch C79
    * corpus pass writes) — the production nightly-crawl shape run as
    * a stream. Because banding is a row-local expression
    * (graft.functions.MinhashBandKeys), the stream side needs NO
    * stateful aggregation: grams -> band keys -> stream-static LEFT
    * join against the index (left outer so candidate-less docs still
    * emit their keep verdict) -> static gram-store join -> the
    * per-doc best/verdict reduce inside flatMapGroupsWithState (a
    * doc's candidates are bounded by its band fan-out — per-group
    * in-memory, no cross-batch state). With the index built from the
    * same corpus split, the streamed verdicts EQUAL batch C79
    * row-for-row (spec-asserted). */
  def streamDedupIncremental(docs: DataFrame, index: DataFrame,
                             gramStore: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probes = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        call_function("graft_word_ngrams", col("toks"), lit(3)).as("gb"))
      .filter(size(col("gb")) > 0)
      .filter(graft.ops.Dedup.isIncrementalBatch(col("doc_id")))
      .select(col("doc_id"), col("gb"),
        posexplode(graft.functions.VectorExprs.minhashBands(col("gb"),
          Dedup.Perms, Dedup.Bands)).as(Seq("band_id", "band_key")))
      .join(index, Seq("band_id", "band_key"), "left_outer")
      .join(gramStore, Seq("cid"), "left_outer")
      .select(col("doc_id"), col("gb"), col("cid"), col("gc"))
      .as[IncProbe]
    val tauPpm = math.round(Dedup.JaccardTau * 1e6)
    probes.groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[IncProbe], state: GroupState[Long]) =>
          val rows = it.toVector
          if (rows.isEmpty) Iterator.empty
          else {
            val gbSet = rows.head.gb.toSet
            val scored = rows.flatMap(r => r.cid.map(c => c -> r.gc.get))
              .distinctBy(_._1)
              .map { case (c, gc) =>
                val inter = (gbSet & gc.toSet).size.toLong
                val uni = gbSet.size + gc.toSet.size - inter
                (c, math.round(inter * 1e6 / uni), inter == uni)
              }
            if (scored.isEmpty) Iterator.single((id, 0L, -1L, -1L, "keep"))
            else {
              val best = scored.minBy { case (c, j, _) => (-j, c) }
              val verdict = if (best._3) "exact_dup"
                else if (best._2 >= tauPpm) "near_dup" else "keep"
              Iterator.single((id, scored.size.toLong, best._1, best._2,
                verdict))
            }
          }
      }
      .toDF("doc_id", "n_candidates", "best_match", "best_j_ppm", "verdict")
  }
}
