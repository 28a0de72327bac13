package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A75 barrier resolution + A76 watermark aggregation invariants:
  * writer uniqueness, the three writer-selection arms, eventKey
  * identity, and the component-wise UpdateMin semantics. */
class BarrierSpec extends AnyFunSuite {

  test("A105: the overview is column-exact composition of its verified planes") {
    import org.apache.spark.sql.functions._
    val spark2 = graft.util.GraftSession.local(4)
    val dir2 = "/root/testdata/sf0.001"
    val cl = cdc.ChangeEvents.changelog(spark2, dir2)
    val fleet = Seq(
      cdc.Barrier.CfState("cf-a", Seq("db0.%"), "normal", None),
      cdc.Barrier.CfState("cf-fail", Seq("db1.%"), "failed",
        Some("CDC:ErrGCTTLExceeded")),
      cdc.Barrier.CfState("cf-empty", Seq("db9.%"), "pending", None))
    val ov = cdc.Barrier.changefeedOverview(cl, fleet).cache()
    assert(ov.count() == fleet.size)
    // every shared column equals the A78 frame verbatim
    val gc = cdc.Barrier.gcSafepoint(cl, fleet)
      .select("changefeed", "state", "n_spans", "checkpoint_ts",
        "blocks_gc", "safepoint_upper")
    assert(ov.select("changefeed", "state", "n_spans", "checkpoint_ts",
      "blocks_gc", "safepoint_upper").exceptAll(gc).count() == 0)
    // lag/resolved equal the A76 frame verbatim
    val wm = cdc.Barrier.watermarkAgg(cl,
        fleet.map(f => f.changefeed -> f.rules))
      .select("changefeed", "resolved_ts", "lag_ts")
    assert(ov.select("changefeed", "resolved_ts", "lag_ts")
      .exceptAll(wm).count() == 0)
    // hot counts recount against the A81 frame through the rules
    val hot = cdc.Scheduler.hotSpans(cl).filter(col("is_hot") === 1L)
      .select("span").collect().map(_.getString(0))
    fleet.foreach { f =>
      val expect = hot.filter(s =>
        f.rules.exists(r => s.matches(r.replace(".", "\\.").replace("%", ".*"))))
        .distinct.length.toLong
      val got = ov.filter(col("changefeed") === f.changefeed)
        .head().getAs[Long]("n_hot_spans")
      assert(got == expect, s"${f.changefeed}: hot $got != $expect")
    }
    // the empty changefeed surfaces with the MaxWatermark seed and 0 hot
    val empty = ov.filter(col("changefeed") === "cf-empty").head()
    assert(empty.getAs[Long]("n_spans") == 0L &&
      empty.getAs[Long]("n_hot_spans") == 0L)
    ov.unpersist()
  }
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  private def blockedDF(rows: Seq[(Long, Long, String, Int, Long)]) =
    rows.toDF("block_ts", "is_syncpoint", "event_tag", "sev", "dispatcher_id")

  test("A75: every barrier key resolves exactly one writer") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.Barrier.ddlBarrier(cl).cache()
    val perKey = frame.groupBy("block_ts", "is_syncpoint")
      .agg(sum("is_writer").as("writers"),
        count(lit(1)).as("n"),
        max("expected_reports").as("exp"),
        min("expected_reports").as("exp2"))
      .collect()
    assert(perKey.nonEmpty)
    perKey.foreach { r =>
      assert(r.getLong(2) == 1L,
        s"key (${r.get(0)},${r.get(1)}) has ${r.getLong(2)} writers")
      // expected_reports is the key's blocked-set size, constant per key
      assert(r.getLong(4) == r.getLong(5) && r.getLong(4) == r.getLong(3))
    }
    // the write action rides exactly on the writer row
    assert(frame.filter(col("is_writer") === 1 && col("action") =!= "write")
      .count() == 0)
    assert(frame.filter(col("is_writer") === 0 && col("action") =!= "pass")
      .count() == 0)
    frame.unpersist()
  }

  test("A75: derived stream — CREATE blocks only the trigger, syncpoints block everyone") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val nTables = cl.select("schema_name", "table_name").distinct().count()
    val frame = cdc.Barrier.ddlBarrier(cl).cache()
    // the v0 CREATEs all land at blockTs 0 under one barrier key whose
    // blocked set is just the trigger span (persist_storage.go:1504)
    val createKey = frame.filter(col("block_ts") === 0 && col("is_syncpoint") === 0)
      .collect()
    assert(createKey.length == 1)
    assert(createKey.head.getAs[Long]("dispatcher_id") == cdc.Barrier.TriggerDispatcher)
    assert(createKey.head.getAs[Long]("is_writer") == 1L)
    assert(createKey.head.getAs[Long]("n_blocking_events") == nTables)
    // every syncpoint barrier covers all table dispatchers + the trigger
    val sync = frame.filter(col("is_syncpoint") === 1)
    assert(sync.count() > 0)
    assert(sync.filter(col("expected_reports") =!= (nTables + 1)).count() == 0)
    assert(sync.filter(col("influence") =!= "all").count() == 0)
    // db/all influence always writes through the trigger
    assert(sync.filter(col("is_writer") === 1 &&
      col("dispatcher_id") =!= cdc.Barrier.TriggerDispatcher).count() == 0)
    frame.unpersist()
  }

  test("A75: normal influence without the trigger selects the last reporter") {
    val f = cdc.Barrier.frame(blockedDF(Seq(
      (5L, 0L, "e1", 0, 1001L), (5L, 0L, "e1", 0, 2002L), (5L, 0L, "e1", 0, 7L))))
      .collect().map(r => r.getAs[Long]("dispatcher_id") ->
        (r.getAs[Long]("is_writer"), r.getAs[String]("action"))).toMap
    // report order is dispatcher-id order, so the last reporter is the max
    assert(f(2002L) == (1L, "write"))
    assert(f(1001L) == (0L, "pass"))
    assert(f(7L) == (0L, "pass"))
  }

  test("A75: trigger-related normal and db influence both write through the trigger") {
    // tableTriggerDispatcherRelated: trigger blocked => trigger writes
    val related = cdc.Barrier.frame(blockedDF(Seq(
      (5L, 0L, "e1", 0, 1001L), (5L, 0L, "e1", 0, -1L))))
      .filter(col("is_writer") === 1).collect()
    assert(related.length == 1 &&
      related.head.getAs[Long]("dispatcher_id") == -1L)
    // db influence (the blocked set includes the trigger, as the
    // reference's db/all checkers always append the DDL span)
    val db = cdc.Barrier.frame(blockedDF(Seq(
      (9L, 0L, "drop_db0", 1, 1001L), (9L, 0L, "drop_db0", 1, 1002L),
      (9L, 0L, "drop_db0", 1, -1L))))
    assert(db.filter(col("influence") =!= "db").count() == 0)
    val dbWriter = db.filter(col("is_writer") === 1).collect()
    assert(dbWriter.length == 1 &&
      dbWriter.head.getAs[Long]("dispatcher_id") == -1L)
  }

  test("A75: eventKey merges same-ts DDLs but keeps syncpoints distinct") {
    // two DDLs at ts 10 merge under one barrier (barrier.go:43-47); the
    // syncpoint at the same ts is its own event key
    val f = cdc.Barrier.frame(blockedDF(Seq(
      (10L, 0L, "ddl_a", 0, 1001L), (10L, 0L, "ddl_a", 0, -1L),
      (10L, 0L, "ddl_b", 0, 2002L), (10L, 0L, "ddl_b", 0, -1L),
      (10L, 1L, "syncpoint", 2, 1001L), (10L, 1L, "syncpoint", 2, 2002L),
      (10L, 1L, "syncpoint", 2, -1L)))).cache()
    val ddlKey = f.filter(col("is_syncpoint") === 0)
    assert(ddlKey.count() == 3) // {-1, 1001, 2002} merged
    assert(ddlKey.filter(col("expected_reports") =!= 3).count() == 0)
    // the trigger is blocked by BOTH merged events
    assert(ddlKey.filter(col("dispatcher_id") === -1L).head
      .getAs[Long]("n_blocking_events") == 2L)
    assert(ddlKey.filter(col("is_writer") === 1).count() == 1)
    // the syncpoint barrier resolved independently
    val syncKey = f.filter(col("is_syncpoint") === 1)
    assert(syncKey.count() == 3)
    assert(syncKey.filter(col("is_writer") === 1).count() == 1)
    f.unpersist()
  }

  test("A76: component-wise min watermark + empty-changefeed sentinel") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val cfs = Seq(
      "cf-a" -> Seq("db0.%"),
      "cf-b" -> Seq("db1.t1", "db1.t2"),
      "cf-empty" -> Seq("db9.%"))
    val agg = cdc.Barrier.watermarkAgg(cl, cfs)
      .collect().map(r => r.getAs[String]("changefeed") -> r).toMap

    // empty changefeed reports the NewMaxWatermark seed
    val empty = agg("cf-empty")
    assert(empty.getAs[Long]("n_spans") == 0L)
    assert(empty.getAs[Long]("checkpoint_ts") == cdc.Barrier.MaxWatermark)
    assert(empty.getAs[Long]("resolved_ts") == cdc.Barrier.MaxWatermark)
    assert(empty.getAs[Long]("lag_ts") == 0L)
    assert(empty.getAs[String]("slowest_span") == null)

    // recompute cf-a's watermark from the span frontier independently
    val step = cdc.Materialize.SyncStep
    val spans = cdc.Materialize.spanFrontier(cl)
      .filter(col("schema_name") === "db0")
      .select(col("table_name"), col("frontier_ts"),
        expr(s"(frontier_ts div $step) * $step").as("cp"))
      .collect()
    assert(agg("cf-a").getAs[Long]("n_spans") == spans.length.toLong)
    assert(agg("cf-a").getAs[Long]("resolved_ts") ==
      spans.map(_.getAs[Long]("frontier_ts")).min)
    assert(agg("cf-a").getAs[Long]("checkpoint_ts") ==
      spans.map(_.getAs[Long]("cp")).min)
    // slowest span: argmin checkpoint, ties to the first span name
    val minCp = spans.map(_.getAs[Long]("cp")).min
    val slowest = spans.filter(_.getAs[Long]("cp") == minCp)
      .map(r => s"db0.${r.getAs[String]("table_name")}").min
    assert(agg("cf-a").getAs[String]("slowest_span") == slowest)
    assert(agg("cf-a").getAs[Long]("lag_ts") ==
      agg("cf-a").getAs[Long]("resolved_ts") - agg("cf-a").getAs[Long]("checkpoint_ts"))
  }

  test("A78: NeedBlockGC arms and the fleet safepoint bound") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val fleet = Seq(
      cdc.Barrier.CfState("live", Seq("db0.%"), "normal", None),
      cdc.Barrier.CfState("held", Seq("db1.%"), "stopped", None),
      cdc.Barrier.CfState("crashed", Seq("db0.t1"), "failed",
        Some("CDC:ErrExecDDLFailed")),
      cdc.Barrier.CfState("gc-lost", Seq("db0.%"), "failed",
        Some("CDC:ErrGCTTLExceeded")),
      cdc.Barrier.CfState("done", Seq("db1.%"), "finished", None),
      cdc.Barrier.CfState("idle", Seq("db9.%"), "pending", None))
    val rows = cdc.Barrier.gcSafepoint(cl, fleet)
      .collect().map(r => r.getAs[String]("changefeed") -> r).toMap
    // blocking verdicts per state arm
    assert(rows("live").getAs[Long]("blocks_gc") == 1L)
    assert(rows("held").getAs[Long]("blocks_gc") == 1L)
    assert(rows("crashed").getAs[Long]("blocks_gc") == 1L) // non-GC failure
    assert(rows("gc-lost").getAs[Long]("blocks_gc") == 0L) // failed BY gc
    assert(rows("done").getAs[Long]("blocks_gc") == 0L)
    assert(rows("idle").getAs[Long]("blocks_gc") == 1L) // empty but pending
    // the safepoint bound is min blocking checkpoint - 1, fleet-wide
    val minBlocking = rows.values.filter(_.getAs[Long]("blocks_gc") == 1L)
      .map(_.getAs[Long]("checkpoint_ts")).min
    rows.values.foreach(r =>
      assert(r.getAs[Long]("safepoint_upper") == minBlocking - 1L))
    // the empty pending changefeed carries the seed but never binds
    assert(rows("idle").getAs[Long]("checkpoint_ts") == cdc.Barrier.MaxWatermark)
    assert(minBlocking < cdc.Barrier.MaxWatermark)
    // an all-non-blocking fleet leaves the seed: the PD-time fallback arm
    val none = cdc.Barrier.gcSafepoint(cl,
      Seq(cdc.Barrier.CfState("done", Seq("db0.%"), "finished", None)))
      .head
    assert(none.getAs[Long]("safepoint_upper") == cdc.Barrier.MaxWatermark - 1L)
  }

  test("A76: a span matching two rules of one changefeed counts once") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val once = cdc.Barrier.watermarkAgg(cl, Seq("cf-x" -> Seq("db0.%")))
    val twice = cdc.Barrier.watermarkAgg(cl,
      Seq("cf-x" -> Seq("db0.%", "db0.t0")))
    assert(once.head.getAs[Long]("n_spans") == twice.head.getAs[Long]("n_spans"))
  }

  // ---- A91 ----

  /** Backoff.CheckStatus/HandleError + ChangefeedDB.Resume as written
    * (backoff.go:91-199, changefeed_db.go:208-224), over the virtual
    * tick clock: failed is sticky and checked first; checkpoint
    * advance while retrying resets; an error takes the next
    * exponential interval (10·2^k capped 600) and fails past
    * MaxElapsedTime; a fast-fail code fails immediately; Resume
    * clears everything. Returns (tick, state, k, interval, ns, run). */
  private def seqBackoff(evs: Seq[(Long, Long, String)])
      : Seq[(Long, String, Long, Long, Long, Long)] = {
    var failed = false; var retrying = false
    var k = 0L; var rs = 0L; var ns = -1L; var cp = -1L
    val out = collection.mutable.Buffer.empty[(Long, String, Long, Long, Long, Long)]
    for ((tick, ecp, kind) <- evs.sortBy(_._1)) {
      val now = tick * 60L
      if (kind == "RESUME") {
        failed = false; retrying = false; k = 0; rs = now; ns = -1
        out += ((tick, "resumed", 0L, 0L, -1L, 1L))
      } else if (failed) out += ((tick, "failed", k, 0L, ns, 0L))
      else if (kind == "ERR_FASTFAIL") {
        failed = true; out += ((tick, "failed", k, 0L, ns, 0L))
      } else if (kind == "ERR") {
        if (!retrying) { k = 0; rs = now; retrying = true }
        val itv = math.min(10L * (1L << math.min(k, 6L)), 600L)
        k += 1; ns = now + itv
        if (now - rs > 600L) { failed = true; out += ((tick, "failed", k, itv, ns, 0L)) }
        else out += ((tick, "warning", k, itv, ns, 0L))
      } else if (ecp > cp) {
        cp = ecp
        if (retrying) { retrying = false; k = 0; rs = now; ns = -1
          out += ((tick, "normal", 0L, 0L, -1L, 1L))
        } else out += ((tick, "normal", k, 0L, ns, if (now > ns) 1L else 0L))
      } else out += ((tick, if (retrying) "warning" else "normal", k, 0L, ns,
        if (now > ns) 1L else 0L))
    }
    out.toSeq
  }

  test("A91: Catalyst fold equals the transcribed backoff machine on every arm") {
    // one trace per arm family: clean advance; error burst cleared by
    // an advance; a long burst through the interval cap into
    // max-elapsed failure, then Resume, then re-retry; fast-fail; an
    // idle feed whose checkpoint never moves after the first report
    def hb(t: Long, cp: Long) = (t, cp, "HB")
    def err(t: Long) = (t, -999L, "ERR")
    val traces = Map(
      "ok" -> (0L to 20L).map(t => hb(t, t * 10)),
      "warn" -> (Seq(hb(0, 5)) ++ (1L to 3L).map(err) ++
        (4L to 8L).map(t => hb(t, t * 7))),
      "stuck" -> (Seq(hb(0, 1)) ++ (1L to 13L).map(err) ++
        Seq((14L, -999L, "RESUME")) ++ (15L to 20L).map(err)),
      "fastfail" -> (Seq(hb(0, 1), hb(1, 2), (2L, -999L, "ERR_FASTFAIL")) ++
        (3L to 6L).map(t => hb(t, t * 5))),
      "idle" -> (0L to 10L).map(t => hb(t, 0L)))
    val trace = traces.toSeq.flatMap { case (cf, evs) =>
      evs.map { case (t, cp, kind) => (cf, t, cp, kind) }
    }.toDF("changefeed", "tick", "cp", "kind")
    val got = cdc.ChangefeedBackoff.backoffFrame(trace)
      .select("changefeed", "tick", "state", "retry_k", "interval_s",
        "next_retry_s", "should_run")
      .as[(String, Long, String, Long, Long, Long, Long)]
      .collect().groupBy(_._1)
      .map { case (cf, rs) => cf ->
        rs.sortBy(_._2).map(r => (r._2, r._3, r._4, r._5, r._6, r._7)).toSeq }
    traces.foreach { case (cf, evs) =>
      assert(got(cf) == seqBackoff(evs), s"$cf: ${got(cf)} != ${seqBackoff(evs)}")
    }
  }

  test("A91: production fleet hits failure, cap, resume and recovery arms") {
    val cl = cdc.ChangeEvents.changelog(spark, "/root/testdata/sf0.01")
    val fleet = Seq(
      cdc.ChangefeedBackoff.BackoffCf("cf-stuck", Seq("db1.t1"),
        errFrom = 1, errTo = 99, resumeTick = 15),
      cdc.ChangefeedBackoff.BackoffCf("cf-backoff", Seq("db0.t1"),
        errFrom = 5, errTo = 11))
    val rows = cdc.ChangefeedBackoff.backoff(cl, fleet)
      .collect().map(r => (r.getString(0), r.getAs[Long]("tick")) -> r).toMap
    // the 7th consecutive error rides the 600s interval cap
    assert(rows(("cf-backoff", 11L)).getAs[Long]("interval_s") == 600L)
    // max-elapsed kills the stuck feed exactly when elapsed > 600s
    assert(rows(("cf-stuck", 11L)).getAs[String]("state") == "warning")
    assert(rows(("cf-stuck", 12L)).getAs[String]("state") == "failed")
    assert(rows(("cf-stuck", 13L)).getAs[String]("state") == "failed")
    // Resume reschedules and the next error restarts at 10s
    assert(rows(("cf-stuck", 15L)).getAs[String]("state") == "resumed")
    assert(rows(("cf-stuck", 15L)).getAs[Long]("should_run") == 1L)
    assert(rows(("cf-stuck", 16L)).getAs[Long]("interval_s") == 10L)
  }
}
