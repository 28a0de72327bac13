package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A79/A80/A81 scheduler-plane invariants: the heap→layer duality of
  * both schedulers proven against direct sequential heap folds (the
  * reference algorithms transcribed as specs, with the documented
  * deterministic tie-breaks), the Lindley closed form of the hot-span
  * score walk, and the production-frame balance postconditions. */
class SchedulerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  // ---- sequential reference folds (basic.go / balance.go semantics) ----

  /** BasicSchedule as written: each absent task to the current
    * min-loaded node, ties by node id asc. */
  private def seqBasic(loads: Map[Long, Long], absent: Seq[String],
                       batch: Int): Seq[(String, Long, Long, Long)] = {
    val l = collection.mutable.Map(loads.toSeq: _*)
    absent.sorted.take(batch).zipWithIndex.map { case (sp, i) =>
      val (node, load) = l.toSeq.minBy { case (n, ld) => (ld, n) }
      l(node) = load + 1
      (sp, i + 1L, node, load + 1)
    }
  }

  /** Balance + schedulerGroup as written: per group (sorted), two
    * heaps, min target filled from max victim until the lower limit;
    * per-group cap min(batch, deficit); a group is skipped once the
    * cumulative moved count reaches the batch. Victim's donated task =
    * lowest span key (the shuffle stand-in); heap ties node id asc. */
  private def seqBalance(tasks: Seq[(String, Long, String)], nodes: Seq[Long],
                         batch: Int): Seq[(String, Long, String, Long, Long, Long, Long)] = {
    val out = collection.mutable.Buffer.empty[(String, Long, String, Long, Long, Long, Long)]
    var moved = 0
    for (grp <- tasks.map(_._1).distinct.sorted if moved < batch) {
      val gTasks = tasks.filter(_._1 == grp)
      val loads = collection.mutable.Map(
        nodes.map(n => n -> gTasks.count(_._2 == n).toLong): _*)
      val lower = loads.values.sum / nodes.size
      val deficit = loads.values.map(l => math.max(0L, lower - l)).sum
      if (deficit > 0) {
        val queues = collection.mutable.Map(nodes.map(n =>
          n -> collection.mutable.Queue(
            gTasks.filter(_._2 == n).map(_._3).sorted: _*)): _*)
        var grpMoved = 0L
        var done = false
        while (!done) {
          val (tgt, tLoad) = loads.filter(_._2 < lower) match {
            case m if m.isEmpty => (-1L, -1L)
            case m => m.toSeq.minBy { case (n, l) => (l, n) }
          }
          if (tgt < 0 || grpMoved >= math.min(batch.toLong, deficit)) done = true
          else {
            val (vic, vLoad) = loads.toSeq.maxBy { case (n, l) => (l, -n) }
            val span = queues(vic).dequeue()
            grpMoved += 1
            out += ((grp, grpMoved, span, vic, vLoad, tgt, tLoad + 1))
            loads(vic) = vLoad - 1
            loads(tgt) = tLoad + 1
          }
        }
        moved += grpMoved.toInt
      }
    }
    out.toSeq
  }

  /** splitRegionsByWrittenKeysV1 as written
    * (write_bytes_splitter.go:123-255): normalize (+1/region), limit =
    * totalNorm/spansNum, greedy pack with the one-span-left
    * absorb/re-expand arms, the regions<=spans tail, and the
    * weight/regionLimit emit arms. Returns (st, en, cnt, w) spans. */
  private def seqSplit(regions: Seq[(Long, Long)], spansNum: Long,
                       threshold: Long, spanRegionLimit: Long): Seq[(Long, Long, Long, Long)] = {
    val rs = regions.sortBy(_._1)
    val n = rs.size
    val totalWrite = rs.map(_._2).sum
    val norm = rs.map { case (rid, wk) => (rid, wk + 1) }
    val totalNorm = totalWrite + n
    if (totalWrite < threshold)
      return Seq((rs.head._1, rs.last._1, n.toLong, totalNorm))
    val limit = totalNorm / spansNum
    val out = collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
    var sw = 0L; var stIdx = 0; var restSpans = spansNum
    var rc = 0L; var restWeight = totalNorm
    var i = 0; var break = false
    while (i < n && !break) {
      val restRegions = n - i
      rc += 1
      sw += norm(i)._2
      if (restSpans == 1) {
        if (restWeight < limit) {
          out += ((norm(stIdx)._1, norm(n - 1)._1, (n - stIdx).toLong, restWeight))
          break = true
        } else restSpans = restWeight / limit
      }
      if (!break && (restRegions <= restSpans || sw > limit || rc >= spanRegionLimit)) {
        out += ((norm(stIdx)._1, norm(i)._1, rc, sw))
        restSpans -= 1; restWeight -= sw
        sw = 0L; rc = 0L; stIdx = i + 1
      }
      i += 1
    }
    out.toSeq
  }

  /** updateHotSpan as written: score +1 / −1-floored-at-0 / unchanged. */
  private def seqWalk(deltas: Seq[Long]): (Long, Long) = {
    var s = 0L; var peak = 0L
    deltas.foreach { d => s = math.max(0L, s + d); peak = math.max(peak, s) }
    (s, peak)
  }

  // ---- A79 ----

  test("A79: slot-fill frame equals the sequential min-heap fold") {
    val loads = Map(0L -> 5L, 1L -> 0L, 2L -> 2L, 3L -> 2L)
    val absent = Seq("s01", "s02", "s03", "s04", "s05", "s06", "s07", "s08", "s09")
    val got = cdc.Scheduler.basicFrame(
        loads.toSeq.toDF("node", "load"), absent.toDF("span"), 1000)
      .as[(String, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got == seqBasic(loads, absent, 1000))
    // the fold crosses the node-2/3 tie; the over-loaded node 0 (its
    // first slot sits at height 6, above every filled slot) gets nothing
    assert(!got.map(_._3).contains(0L))
  }

  test("A79: batch cap schedules exactly the first availableSize spans") {
    val loads = Map(0L -> 1L, 1L -> 3L)
    val absent = Seq("b", "a", "d", "c")
    val got = cdc.Scheduler.basicFrame(
        loads.toSeq.toDF("node", "load"), absent.toDF("span"), 3)
      .as[(String, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got == seqBasic(loads, absent, 3))
    assert(got.map(_._1) == Seq("a", "b", "c")) // span order, capped at 3
  }

  test("A79: production frame schedules every absent span onto the min-loaded nodes") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.Scheduler.basicSchedule(cl).cache()
    val n = frame.count()
    assert(n > 0)
    // assignment sequence is dense 1..n and spans are distinct
    assert(frame.select("assign_seq").as[Long].collect().sorted.toSeq
      == (1L to n).toSeq)
    assert(frame.select("span").distinct().count() == n)
    frame.unpersist()
  }

  // ---- A80 ----

  test("A80: layer-duality frame equals the sequential two-heap fold") {
    // g1: skewed victim; g2: already balanced (CheckBalanceStatus
    // fast-path); g3: two victims with a height tie
    val tasks = Seq(
      ("g1", 0L, "g1-a"), ("g1", 0L, "g1-b"), ("g1", 0L, "g1-c"),
      ("g1", 0L, "g1-d"), ("g1", 0L, "g1-e"), ("g1", 1L, "g1-f"),
      ("g2", 0L, "g2-a"), ("g2", 1L, "g2-b"),
      ("g3", 1L, "g3-a"), ("g3", 1L, "g3-b"), ("g3", 2L, "g3-c"),
      ("g3", 2L, "g3-d"), ("g3", 3L, "g3-e"), ("g3", 0L, "g3-f"))
    val nodes = Seq(0L, 1L, 2L, 3L)
    val got = cdc.Scheduler.balanceFrame(
        tasks.toDF("grp", "node", "span"), nodes.toDF("node"), 1000)
      .select("grp", "move_seq", "span", "from_node", "from_height",
        "to_node", "to_height")
      .as[(String, Long, String, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val want = seqBalance(tasks, nodes, 1000)
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7))
    assert(got == want)
    // g2 balanced -> no moves
    assert(!got.exists(_._1 == "g2"))
  }

  test("A80: cross-group batch gate skips whole groups once the cap is hit") {
    val tasks = (1 to 8).map(i => ("g1", 0L, f"g1-$i%02d")) ++
      (1 to 8).map(i => ("g2", 0L, f"g2-$i%02d"))
    val nodes = Seq(0L, 1L)
    // g1 alone produces 4 moves (lower=4); batch 3 caps g1 at 3 and
    // the cumulative gate then skips g2 entirely (balance.go:104-107)
    val got3 = cdc.Scheduler.balanceFrame(
        tasks.toDF("grp", "node", "span"), nodes.toDF("node"), 3)
      .as[(String, Long, String, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val want3 = seqBalance(tasks, nodes, 3)
    assert(got3.map(r => (r._1, r._2, r._3)) == want3.map(r => (r._1, r._2, r._3)))
    assert(got3.size == 3 && got3.forall(_._1 == "g1"))
    // batch 5: g1 runs its full 4 moves, cumulative 4 < 5 admits g2
    val got5 = cdc.Scheduler.balanceFrame(
        tasks.toDF("grp", "node", "span"), nodes.toDF("node"), 5)
      .as[(String, Long, String, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val want5 = seqBalance(tasks, nodes, 5)
    assert(got5.map(r => (r._1, r._2, r._3)) == want5.map(r => (r._1, r._2, r._3)))
    assert(got5.count(_._1 == "g1") == 4 && got5.count(_._1 == "g2") == 4)
  }

  test("A80: production frame reaches the lower limit and never drains a victim below it") {
    // sf0.01: the full 6x8-span universe is populated, so the skewed
    // assignment leaves real deficits (sf0.001 drops regions and can
    // land balanced — those groups still emit their CheckBalanceStatus
    // row with deficit 0 and null move columns)
    val cl = cdc.ChangeEvents.changelog(spark, "/root/testdata/sf0.01")
    val frame = cdc.Scheduler.groupBalance(cl).cache()
    // status totality: every table group reports its verdict
    assert(frame.select("grp").distinct().count() == 6)
    val moves = frame.filter(col("move_seq").isNotNull)
    assert(moves.count() > 0)
    // balanced groups carry no move columns
    assert(frame.filter(col("deficit") === 0L && col("move_seq").isNotNull)
      .count() == 0)
    // every move lands at or below the limit and drains from above it
    assert(moves.filter(col("to_height") > col("grp_lower")).count() == 0)
    assert(moves.filter(col("from_height") <= col("grp_lower")).count() == 0)
    // post-state: every target fills exactly to the lower limit
    // (batch unbounded, so the loop runs to completion)
    val lastFill = moves.groupBy("grp", "to_node", "grp_lower")
      .agg(max("to_height").as("final_h"))
    assert(lastFill.filter(col("final_h") =!= col("grp_lower")).count() == 0,
      "every target fills exactly to the lower limit")
    // sf0.001's sparse universe: the status arm alone keeps the frame
    // non-empty even when every group lands balanced
    assert(cdc.Scheduler.groupBalance(
      cdc.ChangeEvents.changelog(spark, dir)).count() > 0)
    frame.unpersist()
  }

  // ---- A82 ----

  private def runSplit(regions: Seq[(String, Long, Long)], spansNum: Int,
                       threshold: Long, spanRegionLimit: Long = 50000L) =
    cdc.Scheduler.splitFrame(
        regions.toDF("grp", "rid", "wk"), spansNum, threshold, spanRegionLimit)
      .as[(String, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("A82: packing fold equals the sequential splitter on every arm") {
    // t1: weight packing (hot skewed regions force the sw>limit arm and
    // the one-span-left re-expansion); t2: below threshold -> whole;
    // t3: fewer regions than spans -> one region per span; t4: uniform
    // weights land the absorb (break) arm on the remainder
    val t1 = (0L until 20L).map(r => ("t1", r, if (r % 5 == 0) 400L else 10L))
    val t2 = (0L until 8L).map(r => ("t2", r, 10L))
    val t3 = Seq(("t3", 3L, 900L), ("t3", 7L, 900L))
    val t4 = (0L until 16L).map(r => ("t4", r, 100L))
    for ((tag, regs, spansNum) <- Seq(
        ("t1", t1, 4), ("t2", t2, 4), ("t3", t3, 4), ("t4", t4, 3))) {
      val got = runSplit(regs, spansNum, 150L)
        .map(r => (r._3, r._4, r._5, r._6))
      val want = seqSplit(regs.map(r => (r._2, r._3)), spansNum, 150L, 50000L)
      assert(got == want, s"$tag: $got != $want")
      // seq numbering is dense 1..k
      assert(runSplit(regs, spansNum, 150L).map(_._2) == (1L to got.size).toSeq, tag)
    }
  }

  test("A82: packing fold equals the sequential splitter on 120 random region lists") {
    // bulk property sweep: scalacheck-style randomized tables, ONE
    // Spark job per parameter set (each random table is a grp row) —
    // the fixed-case fold-equality test pins the known arms, this
    // sweeps the space between them. Seeded: deterministic per build.
    val rnd = new scala.util.Random(4242L)
    val paramSets = Seq((4L, 40L, 50000L), (6L, 1L, 50000L), (3L, 40L, 4L))
    for (((spansNum, threshold, regionLimit), pi) <- paramSets.zipWithIndex) {
      val tables = (0 until 40).map { t =>
        val n = 1 + rnd.nextInt(30)
        val rids = new scala.util.Random(pi * 1000 + t)
          .shuffle((0L until 200L).toList).take(n).sorted
        val wks = rids.map(_ => rnd.nextInt(40).toLong)
        (s"t$t", rids.zip(wks))
      }
      val rows = tables.flatMap { case (g, rs) =>
        rs.map { case (rid, wk) => (g, rid, wk) } }
      import spark.implicits._
      val got = cdc.Scheduler.splitFrame(
          rows.toDF("grp", "rid", "wk"), spansNum.toInt, threshold, regionLimit)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(x => (x._3, x._4, x._5, x._6)).toSeq)
        .toMap
      tables.foreach { case (g, rs) =>
        val want = seqSplit(rs, spansNum, threshold, regionLimit)
        assert(got(g) == want,
          s"params=($spansNum,$threshold,$regionLimit) $g rs=$rs:\n" +
            s" got  ${got(g)}\n want $want")
      }
    }
  }

  test("A82: spanRegionLimit caps a span's region count before its weight fills") {
    val regs = (0L until 12L).map(r => ("t", r, 1L))
    val got = runSplit(regs, 2, 1L, 3L).map(r => (r._3, r._4, r._5, r._6))
    val want = seqSplit(regs.map(r => (r._2, r._3)), 2, 1L, 3L)
    assert(got == want)
    // every span but the tail is clamped at exactly 3 regions
    assert(got.dropRight(1).forall(_._3 == 3L))
  }

  test("A82: production frame partitions every region exactly once with contiguous spans") {
    val cl = cdc.ChangeEvents.changelog(spark, "/root/testdata/sf0.01")
    val frame = cdc.Scheduler.spanSplitBytes(cl).cache()
    val regions = cl.select(
        concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        graft.functions.Portable.bucket(
          col("pk").cast("string"), cdc.Scheduler.SplitScanRegions).as("rid"))
      .distinct().groupBy("grp").agg(count(lit(1)).as("n_regions"))
    // per group: region counts sum to the region universe (no region
    // dropped or double-packed), spans are rid-contiguous in seq order
    val sums = frame.groupBy("grp").agg(sum("region_cnt").as("packed"))
      .join(regions, "grp")
    assert(sums.filter(col("packed") =!= col("n_regions")).count() == 0)
    val gaps = frame.withColumn("prev_end",
        lag("end_rid", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("grp")
            .orderBy("span_seq")))
      .filter(col("prev_end").isNotNull && col("start_rid") <= col("prev_end"))
    assert(gaps.count() == 0, "spans overlap or run backwards")
    frame.unpersist()
  }

  // ---- A90 ----

  /** regionCountSplitter.split + evenlySplitStepper as written
    * (region_count_splitter.go:44-131 loop, :140-171 stepper): stepper
    * state (regionPerSpan, extraRegionPerSpan, remain) consumed per
    * Step(); the loop emits [start, end) windows over the sorted
    * region list, clamping the final step at n. */
  private def seqRegionSplit(rids: Seq[Long], captureNum: Int, maxSpanNum: Int,
                             regionThreshold: Int): Seq[(Long, Long, Long)] = {
    val rs = rids.sorted
    val n = rs.size
    if (n <= regionThreshold || captureNum == 0)
      return Seq((rs.head, rs.last, n.toLong))
    val pages0 = cdc.Scheduler.spansNumber(n, captureNum, maxSpanNum)
    var regionPerSpan = n / pages0
    var remain = n % pages0
    var extra = 0
    if (regionPerSpan == 0) { regionPerSpan = 1; extra = 0 }
    else if (remain != 0) extra = math.ceil(remain.toDouble / pages0).toInt
    def step(): Int =
      if (remain <= 0) regionPerSpan
      else { remain -= extra; regionPerSpan + extra }
    val out = collection.mutable.Buffer.empty[(Long, Long, Long)]
    var start = 0
    var end = step()
    var break = false
    while (!break) {
      out += ((rs(start), rs(end - 1), (end - start).toLong))
      if (end == n) break = true
      else {
        start = end
        val s = step()
        end = if (end + s < n) end + s else n
      }
    }
    out.toSeq
  }

  private def runRegionSplit(regs: Seq[(String, Long)], captureNum: Int,
                             maxSpanNum: Int, regionThreshold: Int) =
    cdc.Scheduler.splitRegionsFrame(
        regs.toDF("grp", "rid"), captureNum, maxSpanNum, regionThreshold)
      .as[(String, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("A90: closed form equals the sequential stepper on every arm") {
    // t1: rem=0 (48 = 12*4, even spans); t2: rem>0 (50 -> first 2
    // spans carry the extra region); t3: regionPerSpan=0 (fewer
    // regions than pages -> one region per span); t4: threshold arm
    // (whole span); t5: sparse non-contiguous region ids
    val cases = Seq(
      ("t1", (0L until 48L).toSeq, 4, 100, 0),
      ("t2", (0L until 50L).toSeq, 4, 100, 0),
      ("t3", (0L until 7L).toSeq, 4, 100, 0),
      ("t4", (0L until 7L).toSeq, 4, 100, 16),
      ("t5", (0L until 40L).map(_ * 7L + 3L), 4, 100, 0),
      ("t6", (0L until 64L).toSeq, 2, 5, 0))   // maxSpanNum cap binds
    for ((tag, rids, cap, maxSpan, thr) <- cases) {
      val got = runRegionSplit(rids.map(("t", _)), cap, maxSpan, thr)
        .map(r => (r._3, r._4, r._5))
      val want = seqRegionSplit(rids, cap, maxSpan, thr)
      assert(got == want, s"$tag: $got != $want")
      // dense 1..k numbering and exact partition of the region set
      assert(got.map(_._3).sum == rids.size.toLong, tag)
    }
  }

  test("A90: closed form equals the sequential stepper on 150 random region sets") {
    // the A82-sweep discipline: randomized region sets, one Spark job
    // per parameter regime, each random table a grp row; regimes hit
    // the maxSpanNum cap, the one-region-per-span degenerate, and the
    // threshold boundary. Seeded — deterministic per build.
    val rnd = new scala.util.Random(90210L)
    val regimes = Seq((4, 100, 20), (2, 5, 0), (4, 100, 0))
    for (((cap, maxSpan, thr), pi) <- regimes.zipWithIndex) {
      val tables = (0 until 50).map { t =>
        val n = 1 + rnd.nextInt(120)
        val rids = new scala.util.Random(pi * 7000 + t)
          .shuffle((0L until 500L).toList).take(n).sorted
        (s"t$t", rids)
      }
      val rows = tables.flatMap { case (g, rs) => rs.map(g -> _) }
      val got = runRegionSplit(rows, cap, maxSpan, thr)
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(x => (x._3, x._4, x._5)).toSeq).toMap
      tables.foreach { case (g, rs) =>
        val want = seqRegionSplit(rs, cap, maxSpan, thr)
        assert(got(g) == want,
          s"regime=($cap,$maxSpan,$thr) $g n=${rs.size}:\n" +
            s" got  ${got(g)}\n want $want")
        assert(got(g).map(_._3).sum == rs.size.toLong, s"$g partition")
      }
    }
  }

  test("A90: production frame partitions every occupied region exactly once") {
    val cl = cdc.ChangeEvents.changelog(spark, "/root/testdata/sf0.01")
    val frame = cdc.Scheduler.spanSplitRegions(cl).cache()
    val regions = cl.select(
        concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        graft.functions.Portable.bucket(
          col("pk").cast("string"), cdc.Scheduler.SplitScanRegions).as("rid"))
      .distinct().groupBy("grp").agg(count(lit(1)).as("n_occupied"))
    val sums = frame.groupBy("grp").agg(
        sum("region_cnt").as("packed"), max("n_regions").as("reported"))
      .join(regions, "grp")
    assert(sums.filter(col("packed") =!= col("n_occupied")).count() == 0)
    assert(sums.filter(col("reported") =!= col("n_occupied")).count() == 0)
    val gaps = frame.withColumn("prev_end",
        lag("end_rid", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("grp")
            .orderBy("span_seq")))
      .filter(col("prev_end").isNotNull && col("start_rid") <= col("prev_end"))
    assert(gaps.count() == 0, "spans overlap or run backwards")
    frame.unpersist()
  }

  // ---- A101 ----

  test("A101: chooser takes write first, region second, whole last (splitter.go:80-95)") {
    // hot: total write >= threshold and packs into >1 span -> 'write';
    // wide: under the write threshold but >20 occupied buckets ->
    // 'region'; tiny: under both thresholds -> 'none' (whole span)
    val rows = Seq.tabulate(2000)(i => ("db0", "hot", (i % 200).toLong)) ++
      Seq.tabulate(100)(i => ("db0", "wide", 10000L + i)) ++
      Seq.tabulate(10)(i => ("db0", "tiny", 20000L + (i % 4)))
    val cl = rows.toDF("schema_name", "table_name", "pk")
    val got = cdc.Scheduler.spanSplitChoose(cl).cache()
    val byGrp = got.select("grp", "chosen").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byGrp == Map("db0.hot" -> "write", "db0.wide" -> "region",
      "db0.tiny" -> "none"), byGrp.toString)
    // the chosen arm's rows ARE the source splitter's rows, verbatim
    val wb = cdc.Scheduler.spanSplitBytes(cl)
      .select("grp", "span_seq", "start_rid", "end_rid", "region_cnt")
    val rc = cdc.Scheduler.spanSplitRegions(cl)
      .select("grp", "span_seq", "start_rid", "end_rid", "region_cnt")
    val picked = got.select("grp", "span_seq", "start_rid", "end_rid", "region_cnt")
    assert(picked.filter(col("grp") === "db0.hot")
      .exceptAll(wb.filter(col("grp") === "db0.hot")).count() == 0)
    assert(picked.filter(col("grp") === "db0.wide")
      .exceptAll(rc.filter(col("grp") === "db0.wide")).count() == 0)
    assert(got.filter(col("grp") === "db0.tiny").count() == 1)
    // no-split verdicts expose both candidate counts = 1
    val tiny = got.filter(col("grp") === "db0.tiny").head()
    assert(tiny.getAs[Long]("n_write_spans") == 1L &&
      tiny.getAs[Long]("n_region_spans") == 1L)
    got.unpersist()
  }

  test("A101: production frame — one verdict per table, chosen rows partition the regions") {
    val cl = cdc.ChangeEvents.changelog(spark, "/root/testdata/sf0.01")
    val frame = cdc.Scheduler.spanSplitChoose(cl).cache()
    // exactly one chosen label per table
    assert(frame.select("grp", "chosen").distinct().groupBy("grp")
      .count().filter(col("count") =!= 1L).count() == 0)
    // whichever splitter won, its spans partition the occupied regions
    val occupied = cl.select(
        concat_ws(".", col("schema_name"), col("table_name")).as("grp"),
        graft.functions.Portable.bucket(
          col("pk").cast("string"), cdc.Scheduler.SplitScanRegions).as("rid"))
      .distinct().groupBy("grp").agg(count(lit(1)).as("n_occupied"))
    val sums = frame.groupBy("grp").agg(sum("region_cnt").as("packed"))
      .join(occupied, "grp")
    assert(sums.filter(col("packed") =!= col("n_occupied")).count() == 0)
    frame.unpersist()
  }

  // ---- A81 ----

  test("A81: Lindley closed form equals the sequential floored walk") {
    // walk with floor bounces, a 0-delta stretch, and a late surge
    val cases = Seq(
      "w1" -> Seq(-1L, -1L, 1L, 1L, -1L, -1L, -1L, 1L, 1L, 1L),
      "w2" -> Seq(1L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),
      "w3" -> Seq(0L, 0L, -1L, 0L, 1L, -1L, 1L, 1L, -1L, 1L),
      "w4" -> Seq(-1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
    // encode deltas as (bytes, coeff): thr=10, coeff=3 ->
    // +1 at 30, 0 at 15, -1 at 0
    val ticks = cases.flatMap { case (sp, ds) =>
      ds.zipWithIndex.map { case (d, t) =>
        (sp, t.toLong, d match { case 1L => 30L; case 0L => 15L; case _ => 0L }, 3L)
      }
    }.toDF("span", "tick", "bytes", "coeff")
    val got = cdc.Scheduler.hotWalkFrame(ticks, 10L, 3, 100L, 12)
      .select("span", "final_score", "peak_score")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    cases.foreach { case (sp, ds) =>
      assert(got(sp) == seqWalk(ds), s"$sp: ${got(sp)} != ${seqWalk(ds)}")
    }
  }

  test("A81: staleness clears a hot span whose last increment is outside the window") {
    // hot early (score 3 by tick 2), then 0-deltas keep the score but
    // age the entry past clearTicks=3 -> cleared, not returned
    val ds = Seq(1L, 1L, 1L) ++ Seq.fill(7)(0L)
    val ticks = ds.zipWithIndex.map { case (d, t) =>
      ("stale", t.toLong, if (d == 1L) 30L else 15L, 3L)
    }.toDF("span", "tick", "bytes", "coeff")
    val row = cdc.Scheduler.hotWalkFrame(ticks, 10L, 3, 3L, 12)
      .select("final_score", "is_stale", "is_hot", "split_spans")
      .as[(Long, Long, Long, Long)].head()
    assert(row == ((3L, 1L, 0L, 0L)))
    // same walk inside the window stays hot with the split hint
    val fresh = cdc.Scheduler.hotWalkFrame(ticks, 10L, 3, 100L, 12)
      .select("final_score", "is_stale", "is_hot", "split_spans")
      .as[(Long, Long, Long, Long)].head()
    assert(fresh == ((3L, 0L, 1L, 12L)))
  }

  test("A81: getSpansNumber arms match region_count_splitter.go:173-180") {
    import cdc.Scheduler.spansNumber
    assert(spansNumber(1, 4) == 1)            // single region never splits
    assert(spansNumber(8, 4) == 12)           // captures*max(captures-1,3)
    assert(spansNumber(8, 2) == 6)            // coefficient floors at 3
    // regionNum/spanRegionLimit dominates huge tables
    assert(spansNumber(1000000, 4, 1000) == 20)
    assert(spansNumber(5000000, 4, 1000) == 100)
    assert(spansNumber(5000000, 4, 50) == 50)  // maxSpanNum cap
  }

  test("A81: production frame — default-group spans run hot, split groups hold at coefficient 3") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.Scheduler.hotSpans(cl).cache()
    assert(frame.filter(col("coeff") === 1L).count() > 0)
    assert(frame.filter(col("coeff") === 3L).count() > 0)
    // split hint rides exactly on the hot rows
    assert(frame.filter(col("is_hot") === 1L && col("split_spans") === 0L)
      .count() == 0)
    assert(frame.filter(col("is_hot") === 0L && col("split_spans") =!= 0L)
      .count() == 0)
    frame.unpersist()
  }

  // ---- A100 ----

  test("A100: coverage verdicts equal the sequential range-checker replay") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val nScan = cdc.Scheduler.SplitScanRegions
    val got = cdc.Coverage.spanCoverage(cl).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got.nonEmpty)
    // rebuild the same perturbed report set from the A90 spans
    val ridx = cl.selectExpr("concat(schema_name, '.', table_name) AS grp",
        s"pmod(conv(substring(md5(cast(cast(pk AS string) AS binary)),1,15),16,10), $nScan) AS rid")
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(_._2).sorted.zipWithIndex.map { case (rid, i) => rid -> i.toLong }.toMap }
    val spans = cdc.Scheduler.spanSplitRegions(cl).collect().map { r =>
      val g = r.getString(0)
      (g, r.getLong(1), ridx(g)(r.getAs[Long]("start_rid")),
        ridx(g)(r.getAs[Long]("end_rid")))
    }
    for ((g, ss) <- spans.groupBy(_._1)) {
      val base = ss.filter(_._2 % 5 != 2).map(s => (s._3, s._4)) ++
        ss.filter(_._2 % 7 == 3).map(s => (s._3, s._4)) ++
        (if (ss.count(_._2 <= 2) == 2) {
          val fst = ss.filter(_._2 <= 2)
          Seq((fst.map(_._3).min, fst.map(_._4).max))
        } else Nil)
      // SpanCoverageChecker.AddSubRange transcribed: merge on overlap
      // OR touch, exactly the sorted-union fold
      val sorted = base.sortBy(identity)
      val mergedIslands = sorted.foldLeft(List.empty[(Long, Long)]) {
        case (acc, (s, e)) => acc match {
          case (ps, pe) :: rest if s <= pe + 1 =>
            (ps, math.max(pe, e)) :: rest
          case _ => (s, e) :: acc
        }
      }.reverse
      val n = ridx(g).size.toLong
      val covered = mergedIslands.map { case (s, e) => e - s + 1 }.sum
      val fully = mergedIslands.size == 1 &&
        mergedIslands.head == (0L, n - 1L)
      val firstGap: (Long, Long) =
        if (mergedIslands.head._1 > 0L) (0L, mergedIslands.head._1 - 1L)
        else mergedIslands.sliding(2).collectFirst {
          case List((_, pe), (s2, _)) => (pe + 1L, s2 - 1L)
        }.getOrElse((-1L, -1L))
      assert(got(g) == (n, base.length.toLong, mergedIslands.size.toLong,
        covered, if (fully) 1L else 0L, firstGap._1, firstGap._2),
        s"$g: ${got(g)}")
    }
    // whole tables are fully covered; a holed table appears exactly
    // when some split table lost a report the stale pre-split span
    // does not paper over (true at the driver sf0.01; sf0.001 tables
    // are all single-span)
    assert(got.values.exists(_._5 == 1L), "no fully covered table")
    val expectHoled = spans.exists(s => s._2 % 5 == 2 && s._2 > 2)
    assert(got.values.exists(_._5 == 0L) == expectHoled,
      s"holed-table presence must track dropped reports ($expectHoled)")
  }

  // ---- A92 ----

  /** MoveMaintainerOperator as written (operator_move.go:55-173):
    * Check marks the origin stopped on a non-Working origin heartbeat
    * and finishes on a Working dest heartbeat once stopped;
    * OnNodeRemove checks the dest first (absent-cancel after stop,
    * swap-to-add before); OnTaskRemoved cancels; Schedule polls
    * remove-from-origin until stopped, then binds once and polls
    * add-to-dest; finished/canceled operators ignore everything.
    * Returns (tick, dest, stopped, bind, fin, can, msg, target, mark). */
  private def seqMove(origin: Long, dest0: Long, evs: Seq[(Long, String, Long)])
      : Seq[(Long, Long, Long, Long, Long, Long, String, Long, String)] = {
    def b(x: Boolean) = if (x) 1L else 0L
    var stopped = false; var bind = false; var fin = false; var can = false
    var dest = dest0
    val out = collection.mutable.Buffer
      .empty[(Long, Long, Long, Long, Long, Long, String, Long, String)]
    for ((tick, kind, node) <- evs.sortBy(_._1)) {
      var msg = "none"; var target = -1L; var mark = ""
      if (!fin && !can) {
        kind match {
          case "TASK_REMOVED" => can = true
          case "NODE_REMOVE" if node == dest && stopped =>
            can = true; mark = "absent"
          case "NODE_REMOVE" if node == dest =>
            dest = origin; bind = true; stopped = true
          case "NODE_REMOVE" if node == origin => stopped = true
          case "CHECK_STOPPED" if node == origin => stopped = true
          case "CHECK_WORKING" if node == dest && stopped =>
            fin = true; mark = "replicating"
          case _ =>
        }
        if (!fin && !can) {
          if (stopped) { bind = true; msg = "add"; target = dest }
          else { msg = "remove"; target = origin }
        }
      }
      if (tick == 0) mark = "scheduling"
      out += ((tick, dest, b(stopped), b(bind), b(fin), b(can), msg, target, mark))
    }
    out.toSeq
  }

  test("A92: Catalyst fold equals the transcribed move machine on every arm") {
    // the coordinator's move machine is the move arm of the span fold:
    // one trace per arm family, plus the ignored-event edges: a
    // premature dest-Working heartbeat (not yet stopped), events after
    // finish/cancel, and a removal of an unrelated node
    def hb(t: Long) = (t, "HB", -1L)
    val traces: Map[String, Seq[(Long, String, Long)]] = Map(
      "clean" -> Seq(hb(0), (1L, "CHECK_STOPPED", 0L), hb(2),
        (3L, "CHECK_WORKING", 1L), hb(4)),
      "early_working" -> Seq(hb(0), (1L, "CHECK_WORKING", 1L),
        (2L, "CHECK_STOPPED", 0L), (3L, "CHECK_WORKING", 1L), hb(4)),
      "origin_crash" -> Seq(hb(0), (1L, "NODE_REMOVE", 0L),
        (2L, "CHECK_WORKING", 1L), hb(3), hb(4)),
      "swap" -> Seq(hb(0), (1L, "NODE_REMOVE", 1L),
        (2L, "CHECK_WORKING", 0L), hb(3), hb(4)),
      "dest_crash_absent" -> Seq(hb(0), (1L, "CHECK_STOPPED", 0L),
        (2L, "NODE_REMOVE", 1L), hb(3), (4L, "CHECK_WORKING", 1L)),
      "task_removed" -> Seq(hb(0), (1L, "TASK_REMOVED", -1L),
        (2L, "CHECK_STOPPED", 0L), hb(3), hb(4)),
      "stall" -> Seq(hb(0), (1L, "CHECK_STOPPED", 0L), hb(2), hb(3), hb(4)),
      "other_node" -> Seq(hb(0), (1L, "NODE_REMOVE", 3L), hb(2), hb(3), hb(4)))
    val trace = traces.toSeq.flatMap { case (op, evs) =>
      evs.map { case (t, kind, node) => ("move", op, 0L, 1L, t, kind, node) }
    }.toDF("op_type", "op_id", "origin", "dest0", "tick", "kind", "node")
    val got = cdc.SpanLifecycle.spanFrame(trace)
      .select("op_id", "tick", "cur", "origin_stopped", "bound", "finished",
        "canceled", "msg", "msg_target", "db_mark")
      .as[(String, Long, Long, Long, Long, Long, Long, String, Long, String)]
      .collect().groupBy(_._1)
      .map { case (op, rs) => op ->
        rs.sortBy(_._2).map(r =>
          (r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10)).toSeq }
    traces.foreach { case (op, evs) =>
      assert(got(op) == seqMove(0L, 1L, evs),
        s"$op: ${got(op)} != ${seqMove(0L, 1L, evs)}")
    }
  }

  /** AddMaintainerOperator (operator_add.go:49-99) and
    * StopChangefeedOperator (operator_stop.go:55-112) as written.
    * Returns (tick, cur, fin, can, msg, target, mark). */
  private def seqAddStop(opType: String, removed: Long, dest0: Long,
                         evs: Seq[(Long, String, Long)])
      : Seq[(Long, Long, Long, Long, String, Long, String)] = {
    def b(x: Boolean) = if (x) 1L else 0L
    var fin = false; var can = false; var cur = dest0
    val out = collection.mutable.Buffer
      .empty[(Long, Long, Long, Long, String, Long, String)]
    for ((tick, kind, node) <- evs.sortBy(_._1)) {
      var msg = "none"; var target = -1L; var mark = ""
      if (!fin) {
        if (opType == "add") kind match {
          case "CHECK_WORKING" if node == cur =>
            fin = true; mark = "replicating"
          case "NODE_REMOVE" if node == cur =>
            fin = true; can = true; mark = "absent"
          case "TASK_REMOVED" => fin = true; can = true; mark = "absent"
          case _ => msg = "add"; target = cur
        } else kind match {
          case "CHECK_NONWORKING" | "TASK_REMOVED" =>
            fin = true
            mark = if (removed == 1L) "deleted" else "progress_none"
          case "NODE_REMOVE" if node == cur =>
            cur = 0L; msg = "remove"; target = 0L
          case _ => msg = "remove"; target = cur
        }
      }
      if (tick == 0 && opType == "add") mark = "bound"
      out += ((tick, cur, b(fin), b(can), msg, target, mark))
    }
    out.toSeq
  }

  test("A94: Catalyst fold equals the transcribed add/stop machines on every arm") {
    def hb(t: Long) = (t, "HB", -1L)
    // (opType, removed, traces): adds on dest 2, stops on node 1
    val cases: Seq[(String, String, Long, Seq[(Long, String, Long)])] = Seq(
      ("add_clean", "add", -1L, Seq(hb(0), hb(1), (2L, "CHECK_WORKING", 2L), hb(3))),
      ("add_wrong_node", "add", -1L,
        Seq(hb(0), (1L, "CHECK_WORKING", 3L), (2L, "NODE_REMOVE", 2L), hb(3))),
      ("add_task_rm", "add", -1L,
        Seq(hb(0), (1L, "TASK_REMOVED", -1L), (2L, "CHECK_WORKING", 2L), hb(3))),
      ("add_stall", "add", -1L, Seq(hb(0), hb(1), hb(2), hb(3))),
      ("stop_clean_del", "stop", 1L,
        Seq(hb(0), hb(1), (2L, "CHECK_NONWORKING", -1L), hb(3))),
      ("stop_redirect", "stop", 0L,
        Seq(hb(0), (1L, "NODE_REMOVE", 2L), hb(2), (3L, "CHECK_NONWORKING", -1L))),
      ("stop_task_rm", "stop", 0L,
        Seq(hb(0), (1L, "TASK_REMOVED", -1L), hb(2), hb(3))))
    val trace = cases.flatMap { case (id, op, rem, evs) =>
      evs.map { case (t, k, n) => (op, id, rem, 2L, t, k, n) }
    }.toDF("op_type", "op_id", "removed", "dest0", "tick", "kind", "node")
    val got = cdc.OperatorLifecycle.addStopFrame(trace)
      .select("op_id", "tick", "cur", "finished", "canceled", "msg",
        "msg_target", "db_mark")
      .as[(String, Long, Long, Long, Long, String, Long, String)]
      .collect().groupBy(_._1)
      .map { case (id, rs) => id ->
        rs.sortBy(_._2).map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq }
    cases.foreach { case (id, op, rem, evs) =>
      assert(got(id) == seqAddStop(op, rem, 2L, evs),
        s"$id: ${got(id)} != ${seqAddStop(op, rem, 2L, evs)}")
    }
  }

  test("A94: production frame — every A79 assignment gets an add op, every feed a stop op") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.OperatorLifecycle.operatorAddStop(cl).cache()
    val nAdds = cdc.Scheduler.basicSchedule(cl).count()
    val nStops = cl.select("schema_name").distinct().count()
    assert(frame.filter(col("op_type") === "add")
      .select("op_id").distinct().count() == nAdds)
    assert(frame.filter(col("op_type") === "stop")
      .select("op_id").distinct().count() == nStops)
    // add ops bind at start; stop PostFinish marks are removed-parity
    assert(frame.filter(col("op_type") === "add" && col("tick") === 0L &&
      col("db_mark") =!= "bound").count() == 0)
    assert(frame.filter(col("db_mark") === "deleted" &&
      col("removed") =!= 1L).count() == 0)
    assert(frame.filter(col("db_mark") === "progress_none" &&
      col("removed") =!= 0L).count() == 0)
    // a redirected stop polls the coordinator node afterward
    val redirected = frame.filter(col("op_type") === "stop" &&
      col("kind") === "NODE_REMOVE").cache()
    if (redirected.count() > 0)
      assert(redirected.filter(col("msg") =!= "remove" ||
        col("msg_target") =!= 0L).count() == 0)
    redirected.unpersist(); frame.unpersist()
  }

  test("A92: production frame — lifecycle postconditions over the balance moves") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.OperatorLifecycle.operatorMove(cl).cache()
    val nOps = frame.select("grp", "span").distinct().count()
    assert(nOps > 0)
    // the full tick grid per operator, Start marked exactly at tick 0
    assert(frame.count() == nOps * (cdc.SpanLifecycle.MoveMaxTick + 1))
    assert(frame.filter(col("db_mark") === "scheduling").count() == nOps)
    assert(frame.filter(col("db_mark") === "scheduling" && col("tick") =!= 0L)
      .count() == 0)
    // finished and canceled are absorbing and mutually exclusive
    assert(frame.filter(col("finished") === 1L && col("canceled") === 1L)
      .count() == 0)
    val finals = frame.filter(col("tick") === cdc.SpanLifecycle.MoveMaxTick).cache()
    // a finished op was marked replicating exactly once; a canceled-by-
    // dest-loss op was marked absent exactly once; a stalled op is
    // still re-scheduling the Add to its dest
    val fin = finals.filter(col("finished") === 1L).select("grp", "span")
    assert(frame.join(fin, Seq("grp", "span"))
      .filter(col("db_mark") === "replicating")
      .groupBy("grp", "span").count().filter(col("count") =!= 1L).count() == 0)
    assert(frame.filter(col("db_mark") === "absent" && col("canceled") === 0L)
      .count() == 0)
    assert(finals.filter(col("finished") === 0L && col("canceled") === 0L &&
      !(col("msg") === "add" && col("origin_stopped") === 1L)).count() == 0)
    // the swap arm really swapped: some operator ends bound to its origin
    assert(finals.filter(col("dest") === col("origin")).count() > 0)
    finals.unpersist(); frame.unpersist()
  }

  // ---- A109 ----

  /** The maintainer span machines as written (operator_add.go:48-127,
    * operator_remove.go:37-103, operator_move.go:54-186). Returns
    * (tick, cur, stopped, bind, fin, removed, can, msg, target, mark). */
  private def seqSpan(opType: String, origin: Long, dest0: Long,
                      evs: Seq[(Long, String, Long)])
      : Seq[(Long, Long, Long, Long, Long, Long, Long, String, Long, String)] = {
    def b(x: Boolean) = if (x) 1L else 0L
    var stopped = false; var bind = false; var fin = false
    var removed = false; var can = false; var cur = dest0
    val out = collection.mutable.Buffer
      .empty[(Long, Long, Long, Long, Long, Long, Long, String, Long, String)]
    for ((tick, kind, node) <- evs.sortBy(_._1)) {
      var msg = "none"; var target = -1L; var mark = ""
      if (!fin && !can) opType match {
        case "move" =>
          kind match {
            case "TASK_REMOVED" => can = true
            case "NODE_REMOVE" if node == cur && stopped =>
              can = true; mark = "absent"
            case "NODE_REMOVE" if node == cur =>
              cur = origin; bind = true; stopped = true
            case "NODE_REMOVE" if node == origin => stopped = true
            case "CHECK_STOPPED" if node == origin => stopped = true
            case "CHECK_WORKING" if node == cur && stopped =>
              fin = true; mark = "replicating"
            case _ =>
          }
          if (!fin && !can) {
            if (stopped) { bind = true; msg = "add"; target = cur }
            else { msg = "remove"; target = origin }
          }
        case "add" =>
          bind = true // Start bound the span to the dest
          kind match {
            case "CHECK_WORKING" if node == cur =>
              fin = true; mark = "replicating"
            case "CHECK_REMOVED" if node == cur =>
              fin = true; removed = true; mark = "absent"
            case "NODE_REMOVE" if node == cur =>
              fin = true; removed = true; mark = "absent"
            case "TASK_REMOVED" => fin = true; removed = true
            case _ => msg = "add"; target = cur // CHECK_STOPPED ignored
          }
        case _ =>
          kind match {
            case "CHECK_NONWORKING" if node == cur => fin = true
            case "NODE_REMOVE" if node == cur => fin = true
            case _ => msg = "remove"; target = cur
          }
      }
      if (tick == 0) mark = opType match {
        case "add" => "bound"; case "move" => "scheduling"; case _ => "dropped" }
      out += ((tick, cur, b(stopped), b(bind), b(fin), b(removed), b(can),
        msg, target, mark))
    }
    out.toSeq
  }

  test("A109: Catalyst fold equals the transcribed span machines on every arm") {
    def hb(t: Long) = (t, "HB", -1L)
    // (id, opType, trace): adds/removes on node 2, moves 0 -> 1
    val cases: Seq[(String, String, Seq[(Long, String, Long)])] = Seq(
      ("add_clean", "add", Seq(hb(0), hb(1), (2L, "CHECK_WORKING", 2L), hb(3))),
      ("add_removed_report", "add",
        Seq(hb(0), hb(1), (2L, "CHECK_REMOVED", 2L), hb(3))),
      ("add_stopped_ignored", "add",
        Seq(hb(0), (1L, "CHECK_STOPPED", 2L), (2L, "CHECK_WORKING", 2L), hb(3))),
      ("add_dest_crash", "add",
        Seq(hb(0), (1L, "CHECK_WORKING", 3L), (2L, "NODE_REMOVE", 2L), hb(3))),
      ("add_task_drop", "add",
        Seq(hb(0), (1L, "TASK_REMOVED", -1L), (2L, "CHECK_WORKING", 2L), hb(3))),
      ("add_stall", "add", Seq(hb(0), hb(1), hb(2), hb(3))),
      ("rm_clean", "remove",
        Seq(hb(0), hb(1), (2L, "CHECK_NONWORKING", 2L), hb(3))),
      ("rm_wrong_node_ack", "remove",
        Seq(hb(0), (1L, "CHECK_NONWORKING", 3L), (2L, "NODE_REMOVE", 2L), hb(3))),
      ("rm_stall", "remove", Seq(hb(0), hb(1), hb(2), hb(3))),
      ("mv_clean", "move", Seq(hb(0), (1L, "CHECK_STOPPED", 0L), hb(2),
        (3L, "CHECK_WORKING", 1L), hb(4), hb(5))),
      ("mv_early_working", "move", Seq(hb(0), (1L, "CHECK_WORKING", 1L),
        (2L, "CHECK_STOPPED", 0L), (3L, "CHECK_WORKING", 1L), hb(4), hb(5))),
      ("mv_origin_crash", "move", Seq(hb(0), (1L, "NODE_REMOVE", 0L),
        (2L, "CHECK_WORKING", 1L), hb(3), hb(4), hb(5))),
      ("mv_swap", "move", Seq(hb(0), (1L, "NODE_REMOVE", 1L),
        (2L, "CHECK_WORKING", 0L), hb(3), hb(4), hb(5))),
      ("mv_dest_crash_absent", "move", Seq(hb(0), (1L, "CHECK_STOPPED", 0L),
        (2L, "NODE_REMOVE", 1L), hb(3), (4L, "CHECK_WORKING", 1L), hb(5))),
      ("mv_task_removed", "move", Seq(hb(0), (1L, "TASK_REMOVED", -1L),
        (2L, "CHECK_STOPPED", 0L), hb(3), hb(4), hb(5))),
      ("mv_stall", "move", Seq(hb(0), (1L, "CHECK_STOPPED", 0L), hb(2),
        hb(3), hb(4), hb(5))),
      ("mv_other_node", "move", Seq(hb(0), (1L, "NODE_REMOVE", 3L), hb(2),
        hb(3), hb(4), hb(5))))
    val trace = cases.flatMap { case (id, op, evs) =>
      val (origin, dest0) = if (op == "move") (0L, 1L) else (-1L, 2L)
      evs.map { case (t, k, n) => (op, id, origin, dest0, t, k, n) }
    }.toDF("op_type", "op_id", "origin", "dest0", "tick", "kind", "node")
    val got = cdc.SpanLifecycle.spanFrame(trace)
      .select("op_id", "tick", "cur", "origin_stopped", "bound", "finished",
        "removed", "canceled", "msg", "msg_target", "db_mark")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, String, Long,
        String)]
      .collect().groupBy(_._1)
      .map { case (id, rs) => id ->
        rs.sortBy(_._2).map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8,
          r._9, r._10, r._11)).toSeq }
    cases.foreach { case (id, op, evs) =>
      val (origin, dest0) = if (op == "move") (0L, 1L) else (-1L, 2L)
      assert(got(id) == seqSpan(op, origin, dest0, evs),
        s"$id: ${got(id)} != ${seqSpan(op, origin, dest0, evs)}")
    }
  }

  test("A109 sweep: randomized event storms equal the transcribed machines") {
    // 60 random traces (20 per machine) over the full event alphabet,
    // arbitrary nodes and event ticks — the A106 storm-sweep
    // discipline: the Catalyst fold must equal the Go transcription on
    // traces no scenario grid would generate
    val rnd = new scala.util.Random(20260814L)
    val kinds = Seq("HB", "CHECK_WORKING", "CHECK_STOPPED", "CHECK_REMOVED",
      "CHECK_NONWORKING", "NODE_REMOVE", "TASK_REMOVED")
    val cases = (0 until 60).map { i =>
      val op = Seq("add", "remove", "move")(i % 3)
      val (origin, dest0) = if (op == "move") (0L, 1L) else (-1L, 2L)
      val evs = (0L to 5L).map { t =>
        val kind0 = if (t == 0) "HB" else kinds(rnd.nextInt(kinds.length))
        // remove machines never receive TASK_REMOVED (panic-unreachable)
        val kind = if (op == "remove" && kind0 == "TASK_REMOVED") "HB" else kind0
        val node = if (kind == "HB" || kind == "TASK_REMOVED") -1L
          else Seq(0L, 1L, 2L, 3L)(rnd.nextInt(4))
        (t, kind, node)
      }
      (s"storm$i", op, origin, dest0, evs)
    }
    val trace = cases.flatMap { case (id, op, origin, dest0, evs) =>
      evs.map { case (t, k, n) => (op, id, origin, dest0, t, k, n) }
    }.toDF("op_type", "op_id", "origin", "dest0", "tick", "kind", "node")
    val got = cdc.SpanLifecycle.spanFrame(trace)
      .select("op_id", "tick", "cur", "origin_stopped", "bound", "finished",
        "removed", "canceled", "msg", "msg_target", "db_mark")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, String, Long,
        String)]
      .collect().groupBy(_._1)
      .map { case (id, rs) => id ->
        rs.sortBy(_._2).map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8,
          r._9, r._10, r._11)).toSeq }
    cases.foreach { case (id, op, origin, dest0, evs) =>
      assert(got(id) == seqSpan(op, origin, dest0, evs), s"$id ($op)")
    }
  }

  test("A109: production frame — both controllers' postconditions hold") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.SpanLifecycle.spanOperators(cl).cache()
    // population: adds = A79 assignments, removes = dropped tables'
    // spans, moves = A80 default-group moves
    val nAdds = cdc.Scheduler.basicSchedule(cl).count()
    assert(frame.filter(col("op_type") === "add")
      .select("op_id").distinct().count() == nAdds)
    assert(frame.filter(col("op_type") === "remove").count() > 0)
    assert(frame.filter(col("op_type") === "move").count() > 0)
    // Start marks: add binds, move schedules, remove's span was
    // already dropped from the db by TryRemoveByTableIDs
    Seq(("add", "bound"), ("move", "scheduling"), ("remove", "dropped"))
      .foreach { case (op, mark) =>
        assert(frame.filter(col("op_type") === op && col("tick") === 0L &&
          col("db_mark") =!= mark).count() == 0, s"$op start mark")
      }
    // a REMOVED add (dest crash / removed report) marks the span
    // absent for rescheduling; a task-dropped add leaves no mark
    assert(frame.filter(col("op_type") === "add" &&
      col("db_mark") === "absent" && col("removed") =!= 1L).count() == 0)
    assert(frame.filter(col("op_type") === "add" &&
      col("kind") === "TASK_REMOVED" && col("db_mark") =!= "").count() == 0)
    // remove machines never cancel and never mark the db after start
    assert(frame.filter(col("op_type") === "remove" &&
      (col("canceled") === 1L || col("removed") === 1L)).count() == 0)
    assert(frame.filter(col("op_type") === "remove" && col("tick") > 0L &&
      col("db_mark") =!= "").count() == 0)
    // finished is absorbing: no messages after finish
    assert(frame.filter(col("finished") === 1L && col("msg") =!= "none")
      .count() == 0)
    frame.unpersist()
  }

  // ---- A110 ----

  test("A110: scripted trace equals the transcribed replication group on every arm") {
    import spark.implicits._
    // synthetic spans probed onto every arm (the arm is a span-name
    // hash; pick one name per arm by search), two groups so the
    // group-census windows and the empty-group drop are both visible
    def armOfName(s: String): Long =
      math.max(graft.functions.Portable.hash60Long("rdb:" + s) % 8L - 3L, 0L)
    val byArm = (0 to 4).map { a =>
      (0 to 200).map(i => s"g${a}srch$i").find(armOfName(_) == a).get
    }
    // group gB holds ONLY a dropped-arm span -> its group must go dead
    val gbSpan = (0 to 400).map(i => s"lone$i").find(armOfName(_) == 4L).get
    val spans = (byArm.map(("gA", _)) :+ (("gB", gbSpan)))
      .toDF("grp", "span")
    val got = cdc.ReplicationDb.spanStatesFrom(spans).collect().map(r =>
      (r.getAs[String]("grp"), r.getAs[String]("span"),
        r.getAs[Long]("tick")) ->
        (r.getAs[String]("action"), r.getAs[String]("state"),
          r.getAs[Long]("node"), r.getAs[Long]("g_absent"),
          r.getAs[Long]("g_scheduling"), r.getAs[Long]("g_replicating"),
          r.getAs[Long]("group_live"))).toMap
    assert(got.size == 6 * (cdc.ReplicationDb.MaxTick + 1).toInt)
    // transcription of pkg/scheduler/replica/replication_group.go
    // :74-188 — three state maps + the node binding, per group
    class Group {
      val absent = collection.mutable.Set[String]()
      val scheduling = collection.mutable.Set[String]()
      val replicating = collection.mutable.Set[String]()
      val nodeOf = collection.mutable.Map[String, Long]()
      def addAbsent(s: String): Unit = absent += s
      def bind(s: String, n: Long): Unit = { // BindReplicaToNode:130-146
        nodeOf(s) = n; absent -= s; replicating -= s; scheduling += s
      }
      def markReplicating(s: String): Unit = { // :118-127
        absent -= s; scheduling -= s; replicating += s
      }
      def markAbsent(s: String): Unit = { // :74-89 — node binding cleared
        scheduling -= s; replicating -= s; absent += s; nodeOf -= s
      }
      def remove(s: String): Unit = { // :174-188
        absent -= s; scheduling -= s; replicating -= s; nodeOf -= s
      }
      def stateOf(s: String): String =
        if (absent(s)) "absent" else if (scheduling(s)) "scheduling"
        else if (replicating(s)) "replicating" else "removed"
      def live: Boolean = absent.nonEmpty || scheduling.nonEmpty ||
        replicating.nonEmpty
    }
    val groups = collection.mutable.Map[String, Group]()
    val members = Seq(("gA", byArm), ("gB", Seq(gbSpan)))
    for (tick <- 0L to cdc.ReplicationDb.MaxTick) {
      // apply this tick's actions (from the frame itself — the script
      // is WHAT we replay; the transcription checks the EFFECTS)
      for ((g, ss) <- members; s <- ss) {
        val grp = groups.getOrElseUpdate(g, new Group)
        val (action, _, node, _, _, _, _) = got((g, s, tick))
        action match {
          case "add_absent" => grp.addAbsent(s)
          case "bind" => grp.bind(s, node)
          case "mark_replicating" => grp.markReplicating(s)
          case "mark_absent" => grp.markAbsent(s)
          case "remove" => grp.remove(s)
          case "none" =>
        }
      }
      // every span's post-tick state, node and group census must match
      for ((g, ss) <- members; s <- ss) {
        val grp = groups(g)
        val (_, state, node, ga, gs, gr, live) = got((g, s, tick))
        assert(state == grp.stateOf(s), s"$g/$s t$tick state")
        assert(node == grp.nodeOf.getOrElse(s, -1L), s"$g/$s t$tick node")
        assert(ga == grp.absent.size && gs == grp.scheduling.size &&
          gr == grp.replicating.size, s"$g t$tick census")
        assert(live == (if (grp.live) 1L else 0L), s"$g t$tick live")
      }
    }
    // the dropped arm really drops its group: gB dies at the remove
    // tick (maybeRemoveGroup), while gA stays live throughout
    assert(got(("gB", gbSpan, cdc.ReplicationDb.MaxTick))._7 == 0L)
    assert(got(("gA", byArm.head, cdc.ReplicationDb.MaxTick))._7 == 1L)
    // a crashed span's binding is CLEARED (MarkReplicaAbsent), a moved
    // span ends on its second node
    val crashed = byArm(1); val moved = byArm(2)
    assert(got(("gA", crashed, 4L))._3 == -1L)
    assert(got(("gA", moved, 4L))._3 ==
      (got(("gA", moved, 2L))._3 + 1L) % cdc.Scheduler.NNodes)
  }

  test("A110: the schedulers consume the machine's finals") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val fin = cdc.ReplicationDb.finalStates(cl).cache()
    // A79's absent set IS the machine's absent surface
    val absent = fin.filter(col("state") === "absent")
      .select("span").as[String].collect().toSet
    val scheduled = cdc.Scheduler.basicSchedule(cl)
      .select("span").as[String].collect().toSet
    assert(scheduled == absent)
    // A80's task census IS the machine's replicating surface
    val repl = fin.filter(col("state") === "replicating").count()
    val balTotal = cdc.Scheduler.groupBalance(cl)
      .select("grp", "grp_total").distinct()
      .agg(sum("grp_total")).as[Long].head()
    assert(balTotal == repl)
    // removed spans appear on NO scheduler surface
    val removed = fin.filter(col("state") === "removed")
      .select("span").as[String].collect().toSet
    assert(removed.nonEmpty && scheduled.intersect(removed).isEmpty)
    fin.unpersist()
  }
}
