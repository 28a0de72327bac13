package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A77 scan-task decision invariants: per-class arm correspondence,
  * range arithmetic, and independent recount of the scan ranges. */
class EventServiceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  test("A104: fixed-width big-endian keys sort as their tuples; unpadded hex would not") {
    import spark.implicits._
    // ts values crossing hex-width boundaries (9 -> '9', 16 -> '10':
    // unpadded string order inverts) + a same-ts DML pair where the
    // 2-byte discriminator must pin delete < insert
    val cl = Seq(
      ("db0", "t0", "I", 1L, 9L, 0L),
      ("db0", "t0", "I", 2L, 16L, 10L),
      ("db0", "t0", "I", 3L, 255L, 250L),
      ("db0", "t0", "I", 4L, 256L, 250L),
      ("db0", "t0", "D", 5L, 300L, 290L),
      ("db0", "t0", "I", 6L, 300L, 290L),
      ("db1", "t1", "U", 7L, 16L, 10L),
      ("db1", "t1", "I", 8L, 9L, 0L))
      .toDF("schema_name", "table_name", "op", "pk", "commit_ts", "start_ts")
    val f = cdc.EventService.eventstoreKey(cl).cache()
    // the invariant the layout exists for: byte order == tuple order
    assert(f.filter(col("order_preserved") =!= 1L).count() == 0)
    // the same-ts pair drains delete first (format.go getDMLOrder)
    val sameTs = f.filter(col("commit_ts") === 300L)
      .orderBy(col("pos_bykey")).select("op").as[String].collect()
    assert(sameTs.toSeq == Seq("D", "I"))
    // counter-demonstration: UNPADDED hex concat breaks string order
    // exactly where ts crosses a hex width (16 sorts before 9)
    val unpadded = cl.filter(col("table_name") === "t0")
      .withColumn("k", concat(lower(hex(col("commit_ts"))),
        lower(hex(col("pk")))))
      .orderBy(col("k")).select("commit_ts").as[Long].collect()
    assert(unpadded.toSeq != unpadded.toSeq.sorted,
      "unpadded hex must NOT preserve numeric order — else this spec proves nothing")
    f.unpersist()
  }

  test("A104: out-of-domain pk fails loudly (NULL keys, nulls-last), like its A88 twin") {
    import spark.implicits._
    val cl = Seq(
      ("db0", "t0", "I", 1L, 9L, 0L),
      ("db0", "t0", "I", -2L, 16L, 10L),          // negative pk
      ("db0", "t0", "I", 1L << 61, 255L, 250L),   // pk >= 2^60
      ("db0", "t0", "D", 5L, 300L, 290L))
      .toDF("schema_name", "table_name", "op", "pk", "commit_ts", "start_ts")
    val f = cdc.EventService.eventstoreKey(cl).cache()
    val bad = f.filter(col("pk") < 0L || col("pk") >= (1L << 60))
    assert(bad.count() == 2L)
    // the 15-nibble encode must NOT silently truncate: NULL key, not a
    // structurally plausible key for a different handle
    assert(bad.filter(col("sort_key").isNotNull).count() == 0)
    // ...and the failure is LOUD: a NULL key sorts nulls-last by byte
    // order but keeps its commit-ts slot in tuple order, so the rank
    // pair splits — order_preserved flags the tamper instead of a
    // silently-plausible position
    assert(bad.filter(col("order_preserved") =!= 0L).count() == 0)
    // tampered rows land after every valid key (nulls-last, pk tiebreak
    // keeps the order total and deterministic)
    val lastTwo = f.orderBy(col("pos_bykey").desc).limit(2)
      .select("pk").as[Long].collect().toSet
    assert(lastTwo == Set(-2L, 1L << 61))
    // in-domain rows still replay in tuple order relative to each other
    val good = f.filter(col("sort_key").isNotNull)
      .orderBy(col("pos_bykey")).select("commit_ts").as[Long].collect()
    assert(good.toSeq == good.toSeq.sorted)
    f.unpersist()
  }

  test("A77: decision arms follow the dispatcher classes and ranges are sound") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val tasks = cdc.EventService.scanTasks(cl).cache()
    val rows = tasks.collect()
    assert(rows.nonEmpty)
    val byClass = rows.groupBy(r => r.getAs[Long]("region_id") % 4)
    // class 1 (caught up): always no_range
    byClass.get(1L).foreach(_.foreach(r =>
      assert(r.getAs[String]("decision") == "no_range", r.toString)))
    // class 0 (lagging): scans unless its frontier sits on a boundary
    byClass.get(0L).foreach(_.foreach { r =>
      val d = r.getAs[String]("decision")
      assert(d == "scan" || d == "no_range", r.toString)
      if (d == "scan") assert(r.getAs[Long]("n_events") >= 1L,
        s"lagging scan range must contain the frontier event: $r")
    })
    // class 2 (idle-advanced): watermark fast path or a DDL-pending scan
    // whose range lies beyond the last commit (empty scan)
    byClass.get(2L).foreach(_.foreach { r =>
      val d = r.getAs[String]("decision")
      assert(d == "watermark_only" || d == "scan", r.toString)
      if (d == "scan") assert(r.getAs[Long]("n_events") == 0L, r.toString)
    })
    // class 3 (ddl-stalled): the clamp cancels the scan
    byClass.get(3L).foreach(_.foreach { r =>
      val d = r.getAs[String]("decision")
      assert(d == "ddl_clamped" || d == "no_range", r.toString)
    })
    // non-scan rows never count events; ranges respect the store frontier
    rows.foreach { r =>
      if (r.getAs[String]("decision") != "scan")
        assert(r.getAs[Long]("n_events") == 0L, r.toString)
      assert(r.getAs[Long]("end_ts") <= r.getAs[Long]("store_resolved_ts") ||
        r.getAs[String]("decision") == "no_range", r.toString)
    }
    tasks.unpersist()
  }

  test("A77: scan counts equal an independent recount of (start, end]") {
    val cl = cdc.ChangeEvents.changelog(spark, dir).cache()
    val scans = cdc.EventService.scanTasks(cl)
      .filter(col("decision") === "scan").collect()
    assert(scans.nonEmpty, "no scan decisions at this SF")
    val events = cl.withColumn("region_id",
        graft.functions.Portable.bucket(col("pk").cast("string"), 8))
      .select("schema_name", "table_name", "region_id", "commit_ts").collect()
    scans.foreach { t =>
      val n = events.count(e =>
        e.getAs[String]("schema_name") == t.getAs[String]("schema_name") &&
          e.getAs[String]("table_name") == t.getAs[String]("table_name") &&
          e.getAs[Long]("region_id") == t.getAs[Long]("region_id") &&
          e.getAs[Long]("commit_ts") > t.getAs[Long]("start_ts") &&
          e.getAs[Long]("commit_ts") <= t.getAs[Long]("end_ts"))
      assert(n.toLong == t.getAs[Long]("n_events"), s"recount $n != $t")
    }
    cl.unpersist()
  }

  test("A87: scan emission — shared dense seq, strict DDL interleave, watermark closes") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val em = cdc.EventService.scanEmit(cl).cache()
    val tasks = cdc.EventService.scanTasks(cl).filter(col("decision") === "scan")
    assert(em.count() > 0)
    // exactly one watermark per scan task, always the last message, at end_ts
    val wm = em.filter(col("kind") === "WATERMARK")
    assert(wm.count() == tasks.count())
    val lastPos = em.groupBy("schema_name", "table_name", "region_id")
      .agg(max("pos").as("mx"))
    assert(wm.join(lastPos, Seq("schema_name", "table_name", "region_id"))
      .filter(col("pos") =!= col("mx")).count() == 0, "watermark must close the task")
    assert(wm.join(tasks, Seq("schema_name", "table_name", "region_id"))
      .filter(col("ts") =!= col("end_ts")).count() == 0)
    // DML and DDL share one dense seq counter; the watermark carries none
    val seqs = em.filter(col("kind") =!= "WATERMARK")
    assert(seqs.groupBy("schema_name", "table_name", "region_id")
      .agg(count(lit(1)).as("n"), max("seq").as("mx"), min("seq").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1L).count() == 0,
      "seq must be dense 1..n over DML+DDL")
    assert(wm.filter(col("seq") =!= 0L).count() == 0)
    // the strict interleave rule: a DDL never precedes a DML at equal ts
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("schema_name", "table_name", "region_id").orderBy("pos")
    val viol = em.withColumn("pk_kind", lag("kind", 1).over(w))
      .withColumn("pk_ts", lag("ts", 1).over(w))
      .filter(col("pk_kind") === "DDL" && col("kind") === "DML" &&
        col("pk_ts") === col("ts"))
    assert(viol.count() == 0, "DDL must tie AFTER a DML at the same ts")
  }

  test("A88: record keys round-trip byte-exactly; tampered keys reject") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val k = cdc.EventService.kvKeyCodec(cl).cache()
    // every production key round-trips
    assert(k.count() > 0)
    assert(k.filter(col("valid") =!= 1L).count() == 0)
    assert(k.filter(col("dec_table_id") =!= col("table_id") ||
      col("dec_handle") =!= col("pk")).count() == 0)
    // the memcomparable layout: 't'(74) + sign-flipped BE int64 +
    // '_r'(5f72) + sign-flipped BE int64 = 38 hex chars
    assert(k.filter(length(col("key_hex")) =!= 38).count() == 0)
    assert(k.filter(!col("key_hex").startsWith("74")).count() == 0)
    // tamper arms: wrong table prefix, wrong separator, truncation —
    // each must decode to the -1 sentinel
    import spark.implicits._
    val good = k.head.getAs[String]("key_hex")
    val tampered = Seq(
      "75" + good.drop(2),                    // not a table key
      good.take(18) + "5f69" + good.drop(22), // '_i' index key, not '_r'
      good.take(30))                          // truncated
      .toDF("key_hex")
    val dec = tampered.select(
      when(substring(col("key_hex"), 1, 2) === "74" &&
           substring(col("key_hex"), 3, 1) === "8" &&
           substring(col("key_hex"), 19, 4) === "5f72" &&
           substring(col("key_hex"), 23, 1) === "8" &&
           length(col("key_hex")) === 38,
        conv(substring(col("key_hex"), 4, 15), 16, 10).cast("long"))
        .otherwise(lit(-1L)).as("t"))
    assert(dec.filter(col("t") =!= -1L).count() == 0, "tampered keys must reject")
  }

  test("A89: only record keys decode; image counts follow old/new presence") {
    val cl = cdc.ChangeEvents.changelog(spark, dir).cache()
    val f = cdc.EventService.rawKeyFilter(cl).cache()
    // non-record keys never decode an image
    assert(f.filter(col("kind") =!= "record" && col("n_images_decoded") =!= 0L)
      .count() == 0)
    assert(f.filter((col("decision") === "decode") =!= (col("kind") === "record"))
      .count() == 0)
    // per table: decoded images == updates*2 + inserts + deletes
    val want = cl.groupBy("schema_name", "table_name")
      .agg(sum(when(col("op") === "U", 2L).otherwise(1L)).as("want_imgs"),
        count(lit(1)).as("want_keys"))
    val rec = f.filter(col("kind") === "record")
    val j = rec.join(want, Seq("schema_name", "table_name"))
    assert(j.filter(col("n_images_decoded") =!= col("want_imgs") ||
      col("n_keys") =!= col("want_keys")).count() == 0)
    // the skip arms fire somewhere
    assert(f.filter(col("kind") === "index").count() > 0)
    assert(f.filter(col("kind") === "meta").count() > 0)
    cl.unpersist()
  }

  test("A86: candidate ranking excludes the requester, honors cp <= startTs, ranks by rts") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val cand = cdc.EventService.logCandidates(cl).cache()
    assert(cand.count() > 0)
    // the requester (n0) never bids; ranks are 1..k dense per request
    assert(cand.filter(col("node") === "n0").count() == 0)
    val ranks = cand.groupBy("schema_name", "table_name", "start_ts")
      .agg(count(lit(1)).as("k"), max("rnk").as("mx"), min("rnk").as("mn"))
    assert(ranks.filter(col("mx") =!= col("k") || col("mn") =!= 1L).count() == 0)
    // resolved_ts is non-increasing in rank within a request
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("schema_name", "table_name", "start_ts").orderBy("rnk")
    assert(cand.withColumn("prev", lag("resolved_ts", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("resolved_ts"))
      .count() == 0)
    // the `!ok` arm: at least one (table, node) pair holds no
    // subscription, so some node is absent from some table's candidates
    val perTable = cand.select("schema_name", "table_name", "node").distinct()
      .groupBy("schema_name", "table_name").agg(countDistinct("node").as("n"))
    assert(perTable.filter(col("n") < 3).count() > 0,
      "the absent-subscription arm must drop a node somewhere")
  }

  test("A85: closed-form outcomes equal the reference fold, every arm fires") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val trace = cdc.EventService.seqCheck(cl).cache()
    // every protocol arm must appear in the production trace
    val arms = trace.select("outcome").distinct()
      .collect().map(_.getString(0)).toSet
    assert(arms == Set("accept", "accept_handshake", "ignore_wrong_server",
      "ignore_out_of_order", "ignore_wait_handshake", "ignore_stale"),
      s"missing arms: $arms")
    // transcription of event_collector.go:461-525: reset / waitHandshake
    // / lastEventSeq (incremented by the check itself) / sendCommitTs
    case class Ev(pos: Long, kind: String, seq: Long, ts: Long, src: String,
                  outcome: String)
    val byDisp = trace.collect().map(r => (
        (r.getAs[String]("schema_name"), r.getAs[String]("table_name")),
        Ev(r.getAs[Long]("pos"), r.getAs[String]("kind"), r.getAs[Long]("seq"),
          r.getAs[Long]("commit_ts"), r.getAs[String]("src"),
          r.getAs[String]("outcome"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.pos)).toMap
    assert(byDisp.nonEmpty)
    for ((disp, evs) <- byDisp) {
      var lastSeq = 0L; var wait = true; var sendTs = 0L
      def checkSeq(seq: Long): Boolean = {
        lastSeq += 1
        if (seq != lastSeq) {
          if (!wait) { lastSeq = 0; wait = true } // reset()
          false
        } else true
      }
      for (e <- evs) {
        val got =
          if (e.src != "srv-0") "ignore_wrong_server"
          else if (e.kind == "HANDSHAKE") {
            if (checkSeq(e.seq)) { wait = false; "accept_handshake" }
            else "handshake_rejected"
          } else if (wait) "ignore_wait_handshake"
          else if (!checkSeq(e.seq)) "ignore_out_of_order"
          else if (e.ts < sendTs) "ignore_stale"
          else { sendTs = e.ts; "accept" }
        assert(got == e.outcome,
          s"$disp pos=${e.pos} $e: fold says $got, frame says ${e.outcome}")
      }
    }
  }

  /** RangeLock at region granularity as written
    * (region_range_lock.go:244-263 ResolvedTs, :169-233 UnlockRange,
    * :292-335 IterAll; range_ts_map.go:33-41 startTs coverage):
    * replay the deterministic lock/migrate schedule sequentially with
    * a locked map + an unlocked-ts map and recompute every output. */
  test("A96: range-lock frame equals the sequential lock/unlock replay") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val R = cdc.Scheduler.NRegions
    val W = cdc.RangeLock.TickW
    val maxTick = cdc.RangeLock.MaxTick
    def bucket(s: String, n: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % n
    }
    // per (table, region, tick) max commit_ts below the boundary
    val perTick = cl.collect().map { r =>
      val t = (r.getAs[Long]("commit_ts") / W) + 1
      ((r.getAs[String]("schema_name"), r.getAs[String]("table_name"),
        bucket(r.getAs[Long]("pk").toString, R), t),
        r.getAs[Long]("commit_ts"))
    }.filter(_._1._4 <= maxTick)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val tables = perTick.keySet.map(k => (k._1, k._2))
    val got = cdc.RangeLock.rangeLockStats(cl).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10))).toMap
    for ((s, t) <- tables) {
      // sequential replay: locked map region -> rts; unlocked map
      // region -> frozen ts (whole-region set/unset on the grid)
      val locked = collection.mutable.Map[Long, Long]()
      val unlockedTs = collection.mutable.Map[Long, Long]()
      val pending = collection.mutable.Set((0L until R.toLong): _*)
      val cum = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for (tick <- 0L to maxTick) {
        for (r <- 0L until R.toLong)
          cum(r) = math.max(cum(r), perTick.getOrElse((s, t, r, tick), 0L))
        for (r <- 0L until R.toLong) {
          if (pending(r) && tick >= r % 3) { pending -= r; locked(r) = 0L }
          if (r % 4 == 1 && tick == cdc.RangeLock.UnlockFrom &&
            locked.contains(r)) {
            unlockedTs(r) = cum(r); locked -= r
          }
          if (r % 4 == 1 && tick == cdc.RangeLock.RelockAt &&
            unlockedTs.contains(r)) {
            unlockedTs -= r; locked(r) = 0L
          }
        }
        locked.keys.foreach(r => locked(r) = cum(r))
        val effAll = (0L until R.toLong).map { r =>
          if (pending(r)) 0L
          else if (unlockedTs.contains(r)) unlockedTs(r)
          else locked(r)
        }
        val lockedTs = locked.toSeq.sortBy(_._1)
        val resolved = effAll.min
        val (sr, st2) = if (lockedTs.isEmpty) (-1L, -1L)
          else { val m = lockedTs.map(_._2).min
            (lockedTs.filter(_._2 == m).map(_._1).min, m) }
        val (fr, ft) = if (lockedTs.isEmpty) (-1L, -1L)
          else { val m = lockedTs.map(_._2).max
            (lockedTs.filter(_._2 == m).map(_._1).min, m) }
        val want = (locked.size.toLong, pending.size.toLong,
          unlockedTs.size.toLong, resolved, sr, st2, fr, ft)
        assert(got((s, t, tick)) == want,
          s"$s.$t tick $tick: ${got((s, t, tick))} != $want")
      }
    }
    // the staggered capture pins resolvedTs at startTs until covered
    for ((s, t) <- tables; tick <- 0L until 2L)
      assert(got((s, t, tick))._4 == 0L, "uncaptured hole must pin resolvedTs")
    // the migration window really unlocks and relocking drains it
    assert(tables.forall(k =>
      got((k._1, k._2, cdc.RangeLock.UnlockFrom))._3 == 2L))
    assert(tables.forall(k =>
      got((k._1, k._2, cdc.RangeLock.RelockAt))._3 == 0L))
  }

  /** region_event_handler.go:160-283 transcribed per region: a cache
    * for commits whose prewrite the snapshot race delayed (flushed at
    * INITIALIZED), stale-skip at startTs, resolved entries ignored
    * until init and dropped on regression. */
  test("A97: region-init outcomes equal the sequential handler replay") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    def bucket(s: String, n: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % n
    }
    val W = cdc.RegionInit.TickW
    val got = cdc.RegionInit.regionInit(cl).collect().map(r =>
      (r.getAs[String]("schema_name"), r.getAs[String]("table_name"),
        r.getAs[Long]("region_id"), r.getAs[String]("kind"),
        r.getAs[Long]("ts"), r.getAs[String]("detail")) ->
        r.getAs[String]("outcome")).toMap
    assert(got.nonEmpty)
    val commits = cl.collect().map { r =>
      (r.getAs[String]("schema_name"), r.getAs[String]("table_name"),
        bucket(r.getAs[Long]("pk").toString, cdc.Scheduler.NRegions),
        r.getAs[Long]("commit_ts"), r.getAs[Long]("pk"))
    }
    val byRegion = commits.groupBy(c => (c._1, c._2, c._3))
    for (((s, t, r), evs) <- byRegion) {
      val initTs = (r % 3 + 1) * W
      val startTs = (r % 2) * cdc.RegionInit.Stale
      val race = r % 2 == 1
      var lastResolved = startTs
      var initialized = false
      // ARRIVAL order, not ts order: the resolved stream arrives on
      // the tick cadence (tick*W), and the planted regression is a
      // late entry whose ts sits BELOW the already-advanced watermark
      val merged: Seq[(Long, Long, String, String)] =
        (evs.map(e => (e._4, e._4, "COMMIT", e._5.toString)) ++
          (1L to cdc.RegionInit.MaxTick).map { k =>
            val ts = if (k == cdc.RegionInit.RegressTick) (k - 2) * W else k * W
            (k * W, ts, "RESOLVED", k.toString)
          }).sortBy(e => (e._1, e._3))
      for ((arrival, ts, kind, detail) <- merged) {
        if (!initialized && arrival >= initTs) initialized = true
        val want =
          if (kind == "COMMIT") {
            if (ts <= startTs) "stale_skip"
            else if (ts >= initTs) "emit"
            else if (race) "cached_then_init_emit"
            else "emit_pre_init"
          } else {
            if (ts < initTs) "resolved_ignored_uninit"
            else if (ts < lastResolved) { "resolved_regressed_skip" }
            else { lastResolved = ts; "resolved_advance" }
          }
        assert(got((s, t, r, kind, ts, detail)) == want,
          s"$s.$t r$r $kind@$ts: ${got((s, t, r, kind, ts, detail))} != $want")
      }
    }
    // every arm of the taxonomy appears on the production universe
    val outcomes = got.values.toSet
    for (o <- Seq("emit", "emit_pre_init", "cached_then_init_emit",
      "stale_skip", "resolved_advance", "resolved_ignored_uninit",
      "resolved_regressed_skip"))
      assert(outcomes(o), s"arm $o never exercised")
  }

  test("A107: persist keys sort as tuples and the validity rule partitions the DDL log") {
    import org.apache.spark.sql.functions._
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val rows = cdc.SchemaStore.schemaPersistKey(cl).collect()
    assert(rows.nonEmpty)
    // byte order == tuple order for EVERY key (the LSM invariant)
    rows.foreach(r => assert(r.getAs[Long]("order_preserved") == 1L,
      s"${r.getAs[String]("key_hex")}"))
    // an unpadded-hex layout would break it: re-rank with unpadded keys
    val unpadded = rows.map { r =>
      val hex = r.getAs[String]("key_hex")
      // strip leading zeros of each 16-nibble word after the prefix
      (hex.take(6) + hex.drop(6).grouped(16)
        .map(_.dropWhile(_ == '0')).mkString, r.getAs[Long]("pos_bytuple"))
    }
    val byUnpadded = unpadded.sortBy(_._1).map(_._2).toSeq
    assert(byUnpadded != unpadded.sortBy(_._2).map(_._2).toSeq,
      "unpadded keys would accidentally sort correctly — the check is vacuous")
    // validity: ddl jobs partition into the three reference arms around
    // the (gc, upper] window; snapshot and meta rows are always live
    val ddl = rows.filter(_.getAs[String]("key_kind") == "ddl_job")
    val reasons = ddl.map(_.getAs[String]("reason")).toSet
    assert(reasons == Set("covered_by_snapshot", "live", "beyond_upper"))
    ddl.foreach { r =>
      assert((r.getAs[Long]("valid") == 1L) ==
        (r.getAs[String]("reason") == "live"))
    }
    val gc = rows.filter(_.getAs[String]("key_kind") == "meta_gc").head
      .getAs[String]("value_hex")
    val gcTs = java.lang.Long.parseLong(gc, 16)
    ddl.foreach { r =>
      val ts = r.getAs[Long]("ts")
      if (r.getAs[String]("reason") == "covered_by_snapshot")
        assert(ts <= gcTs)
      else assert(ts > gcTs)
    }
    rows.filterNot(_.getAs[String]("key_kind") == "ddl_job")
      .foreach(r => assert(r.getAs[Long]("valid") == 1L))
    // snapshot rows all carry the gc snapshot ts
    rows.filter(r => r.getAs[String]("key_kind").startsWith("snapshot"))
      .foreach(r => assert(r.getAs[Long]("ts") == gcTs))
  }

  test("A107 degenerate span: colliding DDL finished-ts keeps the rank pair deterministic") {
    import spark.implicits._
    // The finished-ts formula ts = lo + j*(hi-lo)/4 + base is injective
    // only while #tables < span/4. Force the degenerate case — span = 4
    // (per-j stride 1) with 6 tables — so ddl_job key_hex values
    // genuinely collide, and prove the (schema_name, table_name)
    // tie-break (not engine luck) pins both rankings.
    val cl = (0 until 6).flatMap { t =>
      Seq(("db0", s"t$t", 100L), ("db0", s"t$t", 104L))
    }.toDF("schema_name", "table_name", "commit_ts")
    val rows = cdc.SchemaStore.schemaPersistKey(cl).collect()
    val ddl = rows.filter(_.getAs[String]("key_kind") == "ddl_job")
    val byHex = ddl.groupBy(_.getAs[String]("key_hex"))
    assert(byHex.values.exists(_.length > 1),
      "fixture not degenerate: no colliding ddl_job key_hex — the guard test is vacuous")
    // within every collided key group, BOTH positions order by the
    // declared tie-break, so the pair is a pure function of row content
    for ((hex, g) <- byHex if g.length > 1) {
      val byTie = g.sortBy(r =>
        (r.getAs[String]("schema_name"), r.getAs[String]("table_name")))
      assert(byTie.map(_.getAs[Long]("pos_bykey")).toSeq ==
        g.map(_.getAs[Long]("pos_bykey")).sorted.toSeq, s"pos_bykey tie-break broken at $hex")
      assert(byTie.map(_.getAs[Long]("pos_bytuple")).toSeq ==
        g.map(_.getAs[Long]("pos_bytuple")).sorted.toSeq, s"pos_bytuple tie-break broken at $hex")
    }
    // and the full pair is still a permutation (no rank dup/skip)
    assert(rows.map(_.getAs[Long]("pos_bykey")).sorted.toSeq ==
      (1L to rows.length).toSeq)
    assert(rows.map(_.getAs[Long]("pos_bytuple")).sorted.toSeq ==
      (1L to rows.length).toSeq)
  }

  test("A106 sweep: randomized registration storms equal the transcription fold") {
    import org.apache.spark.sql.functions._
    // 20 random traces of 14 ticks sweep interleavings the scripted
    // spec cannot enumerate: REG at random ts (onlyReuse ~1/4), ADV
    // to random ts, UNREG of a random live dispatcher. The generator
    // tracks liveness so UNREG stays well-formed (the reference
    // ignores unknown dispatchers :505-507 — not modeled). Fixed
    // seed: deterministic per build.
    val rnd = new scala.util.Random(7)
    case class Ev(tick: Long, kind: String, disp: Long, ts: Long, or: Long)
    val traces = (1 to 20).map { t =>
      var live = Set.empty[Long]; var nextDisp = 0L
      val evs = (0L until 14L).map { tick =>
        val roll = rnd.nextInt(10)
        if (roll < 5 || live.isEmpty) {
          val d = nextDisp; nextDisp += 1
          val or = if (rnd.nextInt(4) == 0) 1L else 0L
          // liveness bookkeeping is conservative: an onlyReuse REG may
          // fail, but treating it as live only risks UNREG of an
          // unknown dispatcher — so only non-onlyReuse REGs count
          if (or == 0L) live += d
          Ev(tick, "REG", d, rnd.nextInt(200).toLong, or)
        } else if (roll < 8) {
          Ev(tick, "ADV", -1L, rnd.nextInt(250).toLong, 0L)
        } else {
          val d = live.toSeq.sorted(Ordering.Long)(rnd.nextInt(live.size))
          live -= d
          Ev(tick, "UNREG", d, -1L, 0L)
        }
      }
      (s"db$t", "t0", evs)
    }
    val spk = spark
    import spk.implicits._
    val traceDf = traces.flatMap { case (sn, tn, evs) =>
      evs.map(e => (sn, tn, e.tick, e.kind, e.disp, e.ts, e.or))
    }.toDF("schema_name", "table_name", "tick", "kind", "disp", "ts",
      "only_reuse")
    val got = cdc.SubRegistry.subRegistryFrame(traceDf).collect()
      .map(r => ((r.getAs[String]("schema_name"), r.getAs[Long]("tick")),
        (r.getAs[String]("decision"), r.getAs[Long]("sid"),
          r.getAs[Long]("n_subs"), r.getAs[Long]("n_disp"),
          r.getAs[Long]("died")))).toMap
    // the same transcription fold as the scripted spec
    case class Sub(sid: Long, cp: Long, var rts: Long, var nd: Long)
    traces.foreach { case (sn, _, evs) =>
      var subs = Vector.empty[Sub]; var asg = Map.empty[Long, Long]
      var nsid = 1L
      evs.foreach { e =>
        val (decision, sid, died) = e.kind match {
          case "ADV" =>
            subs.foreach(x => x.rts = math.max(x.rts, e.ts))
            ("advance", -1L, 0L)
          case "REG" =>
            val cands = subs.filter(x => x.cp <= e.ts && e.ts <= x.rts)
            if (cands.nonEmpty) {
              val r = cands.minBy(_.sid); r.nd += 1; asg += e.disp -> r.sid
              ("reuse", r.sid, 0L)
            } else if (e.or == 1L) ("fail_only_reuse", -1L, 0L)
            else {
              subs :+= Sub(nsid, e.ts, e.ts, 1L); asg += e.disp -> nsid
              nsid += 1; ("new", nsid - 1, 0L)
            }
          case _ =>
            val usid = asg(e.disp); asg -= e.disp
            val u = subs.find(_.sid == usid).get
            u.nd -= 1
            if (u.nd == 0L) {
              subs = subs.filterNot(_.sid == usid); ("unreg_close", usid, 1L)
            } else ("unreg", usid, 0L)
        }
        val want = (decision, sid, subs.length.toLong, subs.map(_.nd).sum, died)
        assert(got((sn, e.tick)) == want,
          s"$sn tick ${e.tick} ${e.kind}: ${got((sn, e.tick))} != $want")
      }
    }
    // the sweep really hit every decision arm somewhere
    val ds = got.values.map(_._1).toSet
    Seq("new", "reuse", "advance", "unreg").foreach(d =>
      assert(ds(d), s"arm $d never exercised across 20 random traces"))
  }

  test("A106: the registry fold equals a direct transcription of RegisterDispatcher") {
    import org.apache.spark.sql.functions._
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val trace = cdc.SubRegistry.subTrace(cl).collect()
      .map(r => ((r.getAs[String]("schema_name"), r.getAs[String]("table_name")),
        (r.getAs[Long]("tick"), r.getAs[String]("kind"), r.getAs[Long]("disp"),
          r.getAs[Long]("ts"), r.getAs[Long]("only_reuse"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    val got = cdc.SubRegistry.subReuse(cl).collect()
      .map(r => ((r.getAs[String]("schema_name"), r.getAs[String]("table_name"),
        r.getAs[Long]("tick")),
        (r.getAs[String]("decision"), r.getAs[Long]("sid"),
          r.getAs[Long]("n_subs"), r.getAs[Long]("n_disp"),
          r.getAs[Long]("died")))).toMap
    // direct transcription of event_store.go:367-536 per table
    case class Sub(sid: Long, cp: Long, var rts: Long, var nd: Long)
    trace.foreach { case ((s, t), evs) =>
      var subs = Vector.empty[Sub]
      var asg = Map.empty[Long, Long]
      var nsid = 1L
      evs.foreach { case (tick, kind, disp, ts, onlyReuse) =>
        val (decision, sid, died) = kind match {
          case "ADV" =>
            subs.foreach(x => x.rts = math.max(x.rts, ts)) // :475-482
            ("advance", -1L, 0L)
          case "REG" =>
            val cands = subs.filter(x => x.cp <= ts && ts <= x.rts) // :409
            if (cands.nonEmpty) {
              val r = cands.minBy(_.sid) // determinized map scan :395-401
              r.nd += 1; asg += disp -> r.sid
              ("reuse", r.sid, 0L)
            } else if (onlyReuse == 1L) ("fail_only_reuse", -1L, 0L) // :430
            else {
              subs :+= Sub(nsid, ts, ts, 1L); asg += disp -> nsid // :440-455
              nsid += 1; ("new", nsid - 1, 0L)
            }
          case _ =>
            val usid = asg(disp); asg -= disp
            val u = subs.find(_.sid == usid).get
            u.nd -= 1 // :517
            if (u.nd == 0L) { // :518-523 refcount teardown
              subs = subs.filterNot(_.sid == usid); ("unreg_close", usid, 1L)
            } else ("unreg", usid, 0L)
        }
        val want = (decision, sid, subs.length.toLong,
          subs.map(_.nd).sum, died)
        assert(got((s, t, tick)) == want,
          s"$s.$t tick $tick: ${got((s, t, tick))} != $want")
      }
    }
    // the script exercises every arm on every table
    val byTable = got.keys.groupBy(k => (k._1, k._2))
    byTable.keys.foreach { tb =>
      val ds = (0L to 7L).map(tk => got((tb._1, tb._2, tk))._1)
      assert(ds == Seq("new", "advance", "reuse", "new", "fail_only_reuse",
        "unreg", "unreg_close", "new"), s"$tb decisions $ds")
      // the onlyReuse failure left no trace in the registry gauges
      assert(got((tb._1, tb._2, 4L))._3 == got((tb._1, tb._2, 3L))._3)
      // the teardown really killed the shared sub: d4 gets a NEW sid
      assert(got((tb._1, tb._2, 7L))._2 > got((tb._1, tb._2, 3L))._2)
    }
  }

  test("A108: resolve pass equals the sequential scan-loop replay; live locks pin") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val limit = cdc.LockResolver.ScanLimit
    // independent census replay from the raw changelog
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val R = cdc.Scheduler.NRegions
    case class Lock(ts: Long, key: Long, status: String)
    val rows = cl.select("schema_name", "table_name", "pk", "start_ts",
      "commit_ts").collect()
    val locks = rows.groupBy(r => (r.getString(0), r.getString(1),
        h60(r.getLong(2).toString) % R, r.getLong(3)))
      .filter { case ((s, t, g, st), _) =>
        h60(s"lockpick:$s.$t#$g@$st") % cdc.LockResolver.LockMod == 0L }
      .toSeq
      .map { case ((s, t, g, st), grp) =>
        val status = (h60(s"lock:$s.$t#$g@$st") % 3L) match {
          case 0L => "committed"; case 1L => "rolled_back"; case _ => "live" }
        (s, t, g) -> Lock(st, grp.map(_.getLong(2)).min, status)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val maxV = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues { g =>
        val ts = g.map(_.getLong(4)); ts.min + (ts.max - ts.min) / 2 }.toMap
    val got = cdc.LockResolver.resolvePass(cl).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getLong(8), r.getLong(9), r.getLong(10), r.getLong(11),
          r.getString(14))).toMap
    assert(got.nonEmpty)
    var sawMultiScan = false; var sawClean = false; var sawPinned = false
    for (((s, t, g), (mv, nLocks, nScanned, nScans, nC, nR, nL, mlt, trt, pin))
         <- got) {
      assert(mv == maxV((s, t)))
      val all = locks.getOrElse((s, t, g), Seq.empty)
      val scanned = all.filter(_.ts <= mv).sortBy(l => (l.key, l.ts))
      assert(nLocks == all.size && nScanned == scanned.size)
      // the Go cursor loop, replayed sequentially (lock_resolver.go:91-142)
      var idx = 0; var rounds = 0L; var done = false
      while (!done) {
        rounds += 1
        val batch = scanned.slice(idx, idx + limit.toInt)
        idx += batch.size
        if (batch.size < limit) done = true
      }
      assert(nScans == rounds, s"$s.$t#$g scans $nScans != replay $rounds")
      if (rounds > 1) sawMultiScan = true
      // resolution census + the live pin
      assert(nC == scanned.count(_.status == "committed"))
      assert(nR == scanned.count(_.status == "rolled_back"))
      assert(nL == scanned.count(_.status == "live"))
      val live = scanned.filter(_.status == "live")
      if (live.isEmpty) {
        assert(mlt == -1L && trt == mv); sawClean = true
      } else {
        assert(mlt == live.map(_.ts).min && trt == mlt - 1 && trt < mv)
        sawPinned = true
      }
      assert(Set("lock", "range", "none")(pin))
    }
    assert(sawMultiScan, "no region exercised the batched cursor")
    assert(sawClean, "no region resolved clean to maxVersion")
    assert(sawPinned, "no region exercised the live-lock pin")
    // composition: resolved_ts is the min of the two bounds everywhere
    cdc.LockResolver.resolvePass(cl)
      .filter(col("resolved_ts") =!= least(col("txn_resolved_ts"),
        col("range_eff_ts"))).count() == 0
  }
}
