package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-2 operators, beyond the driver's
  * DuckDB oracle: recall/equivalence properties and branch coverage
  * that a row-count smoke test can't see. */
class OperatorSemanticsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  test("prefix-filtered ngram jaccard equals the naive all-pairs join") {
    // The prefix-filter lemma promises 100% recall; check it against a
    // from-scratch quadratic implementation on the small SF.
    val g = graft.util.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), ops.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), expr(ops.Text.gramsExpr).as("grams"))
      .filter(size(col("grams")) > 0)
    val a = g.select(col("lang"), col("doc_id").as("doc_a"), col("grams").as("ga"))
    val b = g.select(col("lang"), col("doc_id").as("doc_b"), col("grams").as("gb"))
    val naive = a.join(b, Seq("lang")).filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("ga")) + size(col("gb")) - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(_.toSeq).toSet
    val fast = ops.Dedup.ngramJaccard(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(fast == naive, s"prefix filter lost or invented pairs: ${fast.diff(naive)} / ${naive.diff(fast)}")
  }

  test("topic expression expansion sanitizes, truncates, and falls back") {
    import spark.implicits._
    val df = Seq(("my db!", "t@1")).toDF("schema_name", "table_name")
    val topic = df.select(cdc.Routing.topicExpr("pre_{schema}_x_{table}.end").as("t"))
      .head.getString(0)
    assert(topic == "pre_my_db__x_t_1.end")
    // rule chain: no matcher hits -> static default topic
    val routed = df.select(cdc.Routing.topicFor(
      Seq(Seq("nope.%") -> "cdc_{schema}"), "fallback").as("t")).head.getString(0)
    assert(routed == "fallback")
  }

  test("claim check splits exactly at the byte threshold") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    // 843 splits the sf0.001 payload distribution (now 822-848 bytes:
    // the r12 GEOMETRY/NULL dispatch arms grew every message by ~84
    // bytes over the r11 shape — type-map entries + two null values)
    val cc = cdc.Sinks.claimCheck(cl, n = 16, maxBytes = 843).cache()
    assert(cc.filter(col("claimed")).count() > 0, "no claimed rows at this threshold")
    assert(cc.filter(!col("claimed")).count() > 0, "no passthrough rows at this threshold")
    assert(cc.filter(col("claimed") =!= (col("payload_bytes") > 843)).count() == 0)
    // claimed rows carry a location and a stub value; others carry the payload
    assert(cc.filter(col("claimed") && col("claim_location").isNull).count() == 0)
    assert(cc.filter(!col("claimed") && col("claim_location").isNotNull).count() == 0)
    assert(cc.filter(col("claimed") && !col("value").contains("claimCheckLocation")).count() == 0)
  }

  test("mysql statement frame conserves rows and batches correctly") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val st = cdc.Sinks.mysqlStmts(cl, maxTxnRow = 2).cache()
    assert(st.agg(sum(col("n_stmts"))).head.getLong(0) == cl.count())
    assert(st.filter(col("n_batches") =!=
      ceil(col("n_stmts").cast("double") / 2.0).cast("long")).count() == 0)
  }

  /** tidb-tools table-filter semantics as written (filter.go
    * ShouldIgnoreTable): ordered rules, last match wins, no-match
    * drops, leading exclusion prepends the implicit accept-all.
    * Returns (keep, deciderIdx into the effective list, -1 no match). */
  private def seqPolarity(rules: Seq[String], schema: String,
                          table: String): (Boolean, Long) = {
    val parsed = rules.map(r =>
      if (r.startsWith("!")) (r.drop(1), false) else (r, true))
    val eff = if (parsed.headOption.exists(!_._2)) ("%.%", true) +: parsed
      else parsed
    val q = s"$schema.$table".toLowerCase
    def like(pat: String): Boolean = {
      val re = java.util.regex.Pattern.quote(pat.toLowerCase)
        .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")
      q.matches(re)
    }
    var keep = false; var idx = -1L
    for (((pat, pos), i) <- eff.zipWithIndex if like(pat)) {
      keep = pos; idx = i
    }
    (keep, idx)
  }

  test("A95: polarity table filter equals the sequential last-match-wins matcher") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val rules = Seq("!%.t1", "db1.t1", "!db0.%", "db0.t0")
    val got = cdc.Filters.tableFilterPolarity(cl, rules)
      .select("schema_name", "table_name", "decided_by").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val universe = cl.select("schema_name", "table_name").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(universe.nonEmpty)
    universe.foreach { case (s, t) =>
      val (keep, idx) = seqPolarity(rules, s, t)
      assert(got.contains((s, t)) == keep, s"$s.$t keep mismatch")
      if (keep) assert(got((s, t)) == idx, s"$s.$t decider")
    }
    // the demo rules exercise the interesting arms on the real universe:
    // a re-included table after exclusion, and a wildcard-excluded one
    assert(got.contains(("db1", "t1")), "re-inclusion arm missing")
    assert(!got.contains(("db0", "t1")), "exclusion arm missing")
    assert(got.contains(("db0", "t0")), "re-inclusion after db-wildcard missing")
    // no leading exclusion -> NO implicit accept-all: unmatched drops
    val strict = cdc.Filters.tableFilterPolarity(cl, Seq("db0.t0"))
      .select("schema_name", "table_name").distinct().collect()
    assert(strict.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("db0", "t0")))
  }

  test("A99: the block verdict follows shouldBlock's decision table on every arm") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val f = cdc.DispatcherBlock.dispatcherBlock(cl).cache()
    val rows = f.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getString(3), r.getString(4), r.getLong(5),
      r.getString(6), r.getString(7)))
    assert(rows.nonEmpty)
    // dispatcher.go:372-401 transcribed
    rows.foreach { case (span, split, _, ddlType, infl, blocked, verdict, reason) =>
      val (wantV, wantR) =
        if (infl == "syncpoint") ("block", "syncpoint")
        else if (infl == "db" || infl == "all") ("block", "influence_scope")
        else if (blocked > 1L) ("block", "multi_table")
        else if (split == 1L) ("block", "split_span")
        else if (ddlType == "CREATE") ("write_direct", "direct_notify_added")
        else ("write_direct", "single_complete")
      assert((verdict, reason) == (wantV, wantR), s"$span $ddlType $infl")
    }
    // the production universe exercises every arm of the table,
    // including both dispatcher split states
    val reasons = rows.map(_._8).toSet
    for (r <- Seq("syncpoint", "influence_scope", "multi_table",
      "split_span", "direct_notify_added"))
      assert(reasons(r), s"arm $r never exercised")
    // single_complete needs an ALTER on an unsplit table — present at
    // the driver SFs with multiple schema versions; assert it exactly
    // when the data carries one
    val hasUnsplitAlter = rows.exists(r =>
      r._4 == "ALTER" && r._2 == 0L && r._6 == 1L)
    assert(reasons("single_complete") == hasUnsplitAlter,
      s"single_complete presence must track unsplit ALTERs ($hasUnsplitAlter)")
    assert(rows.map(_._2).toSet == Set(0L, 1L), "need split AND complete spans")
    // scope fan-out: the flashback reaches every dispatcher, a drop-db
    // only its schema's, a normal DDL only its own table
    val nDisp = rows.map(_._1).distinct.length
    assert(rows.count(_._4 == "FLASHBACK") == nDisp)
    rows.filter(_._4 == "DROP_DATABASE").foreach { r =>
      assert(r._1.startsWith(r._1.split("\\.")(0)))
    }
    val perTableDdl = rows.filter(r => r._4 == "CREATE")
    assert(perTableDdl.map(_._1).distinct.length == nDisp,
      "every table's dispatcher sees its own CREATE")
    f.unpersist()
  }

  test("A98: the pause ladder pauses exactly the top-k largest paths per band") {
    val f = cdc.Backpressure.memBackpressure(
      cdc.ChangeEvents.changelog(spark, dir)).cache()
    val rows = f.collect().map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(rows.nonEmpty)
    // memory_control.go:32-37 transcribed
    def ratio(usagePpm: Long): Long =
      if (usagePpm >= 950000L) 100L else if (usagePpm >= 900000L) 80L
      else if (usagePpm >= 850000L) 50L else if (usagePpm >= 800000L) 20L
      else 0L
    for (((area, pct), grp) <- rows.groupBy(r => (r._1, r._2))) {
      val n = grp.length.toLong
      val total = grp.map(_._4).sum
      val maxBytes = total * 100L / pct
      val usage = total * 1000000L / maxBytes
      val want = ratio(usage)
      assert(grp.forall(_._5 == usage), s"$area@$pct usage")
      assert(grp.forall(_._6 == want), s"$area@$pct ratio")
      val stopMax = n * want / 100L
      assert(grp.forall(_._7 == stopMax))
      // the paused set is exactly the stop_max largest paths
      val sorted = grp.sortBy(r => (-r._4, r._3))
      assert(sorted.zipWithIndex.forall { case (r, i) =>
        r._9 == (if (i < stopMax) 1L else 0L) },
        s"$area@$pct paused set")
      assert(grp.count(_._9 == 1L).toLong == stopMax)
    }
    // the sweep exercises every rule band including both extremes
    val byPct = rows.groupBy(_._2).view.mapValues(_.head._6).toMap
    assert(byPct(70L) == 0L && byPct(100L) == 100L)
    assert(Set(20L, 50L, 80L).subsetOf(rows.map(_._6).toSet))
    // all-paths pause really empties the area; the 70% arm pauses none
    assert(rows.filter(r => r._2 == 100L && r._9 == 0L).isEmpty)
    assert(rows.filter(r => r._2 == 70L && r._9 == 1L).isEmpty)
    f.unpersist()
  }

  test("A102: closed-form drain equals the sequential two-level-heap popEvents loop") {
    // event_queue.go:239-310 transcribed: per stream, pre-filled
    // per-path FIFOs drain by "globally minimal front event" (the
    // two-level heap under the documented arrival/tie stand-ins);
    // a batch takes up to B same-kind batchable events; DDLs travel
    // alone; a signal-first batch of size >1 returns only its last.
    type Ev = (Long, String, String, Long, Long, String, String)
    def seqDrain(events: Seq[Ev], batchSize: Int)
        : Seq[(String, Long, Long, Long, Long, Long, Long)] = {
      val out = collection.mutable.Buffer
        .empty[(String, Long, Long, Long, Long, Long, Long)]
      for (stream <- events.map(_._1).distinct.sorted) {
        val queues = collection.mutable.Map(
          events.filter(_._1 == stream).groupBy(_._3).view.mapValues(es =>
            collection.mutable.Queue(
              es.sortBy(e => (e._4, e._5, e._7)): _*)).toSeq: _*)
        var seq = 0L
        while (queues.values.exists(_.nonEmpty)) {
          val path = queues.filter(_._2.nonEmpty).minBy { case (p, q) =>
            val f = q.front; (f._4, f._5, f._7, p)
          }._1
          val q = queues(path)
          val first = q.dequeue()
          val batch = collection.mutable.Buffer(first)
          while (batch.length < batchSize && q.nonEmpty &&
            q.front._6 == first._6 && q.front._6 != "DDL")
            batch += q.dequeue()
          seq += 1
          val n = batch.length.toLong
          batch.zipWithIndex.foreach { case (e, i) =>
            val emitted = if (first._6 == "SIGNAL" && n > 1 && i + 1 < n) 0L else 1L
            out += ((e._3, e._4, e._5, seq, i + 1L, n, emitted))
          }
        }
      }
      out.toSeq
    }
    // synthetic fleet: 2 streams x 2 areas x 4 paths; a 6-DML run
    // (batch cap), kind changes, DDL singletons, signal runs (collapse
    // arm), and cross-path ts ties on grid events
    val fleet: Seq[(Long, String, String, Long, Long, String, String)] = Seq(
      (0L, "a0", "a0#p1", 1L, 0L, "DML", "k1"),
      (0L, "a0", "a0#p1", 2L, 0L, "DML", "k2"),
      (0L, "a0", "a0#p1", 3L, 0L, "DML", "k3"),
      (0L, "a0", "a0#p1", 4L, 0L, "DML", "k4"),
      (0L, "a0", "a0#p1", 5L, 0L, "DML", "k5"),
      (0L, "a0", "a0#p1", 6L, 0L, "DML", "k6"),
      (0L, "a0", "a0#p1", 10L, 1L, "DDL", "v1"),
      (0L, "a0", "a0#p1", 10L, 2L, "SIGNAL", ""),
      (0L, "a0", "a0#p1", 20L, 2L, "SIGNAL", ""),
      (0L, "a0", "a0#p1", 30L, 2L, "SIGNAL", ""),
      (0L, "a1", "a1#p2", 1L, 0L, "DML", "k7"),
      (0L, "a1", "a1#p2", 10L, 1L, "DDL", "v1"),
      (0L, "a1", "a1#p2", 10L, 2L, "SIGNAL", ""),
      (0L, "a1", "a1#p2", 11L, 0L, "DML", "k8"),
      (1L, "a0", "a0#p3", 10L, 2L, "SIGNAL", ""),
      (1L, "a0", "a0#p3", 20L, 2L, "SIGNAL", ""),
      (1L, "a1", "a1#p4", 15L, 0L, "DML", "k9"),
      (1L, "a1", "a1#p4", 16L, 0L, "DML", "k10"))
    import spark.implicits._
    val queue = fleet.toDF("stream", "area", "path", "ts", "tie", "kind", "detail")
    val got = cdc.DynStreamQueue.drainFrame(queue)
      .select("path", "ts", "tie", "batch_seq", "pos_in_batch", "batch_size",
        "emitted")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val want = seqDrain(fleet, 4).toSet
    assert(got == want, s"\ngot  ${got.toSeq.sorted}\nwant ${want.toSeq.sorted}")
    // the collapse arm fired and kept exactly the last signal
    val collapsed = seqDrain(fleet, 4).filter(r => r._6 > 1 && r._7 == 0L)
    assert(collapsed.nonEmpty)
  }

  test("A102: production drain — dense per-stream batch seqs, batches in order, collapse only on signal runs") {
    val f = cdc.DynStreamQueue.queueDrain(
      cdc.ChangeEvents.changelog(spark, dir)).cache()
    // every event lands in exactly one batch slot
    assert(f.groupBy("path", "batch_seq", "pos_in_batch").count()
      .filter(col("count") =!= 1L).count() == 0)
    // batch seqs are dense 1..N per stream
    val seqs = f.groupBy("stream").agg(
      countDistinct("batch_seq").as("n"), max("batch_seq").as("mx"))
    assert(seqs.filter(col("n") =!= col("mx")).count() == 0)
    // batches drain in first-ts order within a stream
    val heads = f.filter(col("pos_in_batch") === 1L)
    val disorder = heads.withColumn("prev_ts",
        lag("ts", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("stream").orderBy("batch_seq")))
      .filter(col("prev_ts").isNotNull && col("ts") < col("prev_ts"))
    assert(disorder.count() == 0)
    // batch sizes respect the cap; DDLs travel alone; only signal
    // batches collapse, keeping exactly their last event
    assert(f.filter(col("batch_size") > cdc.DynStreamQueue.BatchCount).count() == 0)
    assert(f.filter(col("kind") === "DDL" && col("batch_size") =!= 1L).count() == 0)
    assert(f.filter(col("emitted") === 0L && col("kind") =!= "SIGNAL").count() == 0)
    assert(f.filter(col("emitted") === 0L &&
      col("pos_in_batch") === col("batch_size")).count() == 0)
    // the collapse arm runs on the real fleet (quiet-gap signal runs)
    assert(f.filter(col("emitted") === 0L).count() > 0)
    f.unpersist()
  }

  test("changefeed facade equals manual operator composition") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val cfg = cdc.Changefeed.Config(
      tableRules = Seq("db0.%"), ignoreOps = Seq("D"),
      protocol = cdc.Changefeed.Protocol.CanalJson)
    val manual = cdc.Codecs.canalJson(
      cdc.Filters.eventTypeFilter(cdc.Filters.tableFilter(cl, Seq("db0.%")), Seq("D")))
    val facade = cdc.Changefeed.kafka(cl, cfg).select("commit_ts", "value")
    assert(facade.exceptAll(manual).isEmpty && manual.exceptAll(facade).isEmpty)
    // the snapshot facade filters identically
    assert(cdc.Changefeed.snapshot(cl, cfg).count() ==
      cdc.Materialize.snapshot(
        cdc.Filters.eventTypeFilter(cdc.Filters.tableFilter(cl, Seq("db0.%")), Seq("D"))).count())
  }

  test("IVF ANN recalls a usable fraction of the exact top-k") {
    // ann_ivf is approximate by design (nProbe of ~sqrt(n) lists); its
    // value is recall-per-work. Compare against the brute-force exact
    // top-k on the same queries: every IVF hit must be a real neighbor
    // ranking no better than exact search allows, and recall must stay
    // above the floor that makes probing worthwhile.
    val nq = 6
    val exact = ops.Similarity.annTopK(spark, dir, nQueries = nq, k = 3)
      .select(col("query_id"), col("vec_id"))
      .collect().map(_.toSeq).toSet
    val ivf = ops.Similarity.annIvf(spark, dir, nQueries = nq)
      .select(col("query_id"), col("vec_id"))
      .collect().map(_.toSeq).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF recall $recall%.2f below 0.5 floor")
  }

  // from-scratch Avro-binary reader — the independent side of the
  // wire-format round-trip tests below
  case class AvroDecoded(schemaId: Long, schemaName: String, tableName: String,
                         op: String, pk: Long, ts: Long,
                         before: Option[Long], after: Option[Long],
                         cDate: String, cDt: String, cDec: String,
                         cEnum: String, cDecPrec: Long)
  private def parseAvro(hexStr: String): AvroDecoded = {
    val bytes = hexStr.grouped(2).map(Integer.parseInt(_, 16)).toArray
    var p = 0
    def varint(): Long = {
      var shift = 0; var acc = 0L; var b = 0
      do { b = bytes(p); p += 1; acc |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      (acc >>> 1) ^ -(acc & 1) // un-zigzag
    }
    def str(): String = {
      val n = varint().toInt
      val s = new String(bytes.slice(p, p + n).map(_.toByte), "UTF-8"); p += n; s
    }
    def money(): Option[Long] = varint() match {
      case 0 => None
      case 1 =>
        val n = varint().toInt
        var acc = if ((bytes(p) & 0x80) != 0) -1L else 0L // sign-extend
        (0 until n).foreach { i => acc = (acc << 8) | bytes(p + i) }
        p += n; Some(acc)
      case other => fail(s"bad union index $other")
    }
    // r11 precise-decimal: plain (non-union) bytes.decimal — varint
    // length + minimal big-endian two's-complement unscaled value
    def bytesDecimal(): Long = {
      val n = varint().toInt
      // mirror the production decoder's guard: a zero-length (or
      // absurd) decimal in a corrupted wire must fail the parse, not
      // sign-extend off whatever byte follows
      if (n < 1 || n > 8) fail(s"bad decimal len $n")
      var acc = if ((bytes(p) & 0x80) != 0) -1L else 0L // sign-extend
      (0 until n).foreach { i => acc = (acc << 8) | bytes(p + i) }
      p += n; acc
    }
    assert(bytes(0) == 0, "confluent magic byte")
    val schemaId = bytes.slice(1, 5).foldLeft(0L)((a, b) => (a << 8) | b)
    p = 5
    val d = AvroDecoded(schemaId, str(), str(), str(), varint(), varint(),
      money(), money(), str(), str(), str(), str(), bytesDecimal())
    assert(p == bytes.length, "full consumption")
    d
  }

  test("avro binary messages round-trip through an independent decoder") {
    // decode the wire hex and compare against the source changelog —
    // proves the bytes are real Avro, independent of the SQL oracle
    def parse(hexStr: String): AvroDecoded = parseAvro(hexStr)
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val rows = cdc.AvroBinary.messages(cl).join(cl, "commit_ts")
      .select("value", "schema_name", "table_name", "op", "pk", "commit_ts",
        "before_value", "after_value")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = parse(r.getString(0))
      assert(d.schemaId == 2L && d.schemaName == r.getString(1) &&
        d.tableName == r.getString(2) && d.op == r.getString(3))
      assert(d.pk == r.getLong(4) && d.ts == r.getLong(5))
      def cents(i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(math.round(r.getDouble(i) * 100.0))
      assert(d.before == cents(6), s"before image ts=${d.ts}")
      assert(d.after == cents(7), s"after image ts=${d.ts}")
      // the precise-decimal bytes decode to the canonical unscaled e4
      assert(d.cDecPrec ==
        java.lang.Math.floorMod(r.getLong(4), 1000000000000L) * 137L +
          java.lang.Math.floorMod(r.getLong(5), 10000L),
        s"precise decimal ts=${d.ts}")
    }
  }

  test("avro binary encoders are exact at every length boundary") {
    // the flat-data round trip never leaves 1-2-byte varints; drive the
    // encoders across every varint/two's-complement length boundary
    // (the silent-truncation class a bounded CASE chain invites)
    import spark.implicits._
    val varintEdges = (1 to 8).flatMap { k =>
      val h = 1L << (7 * k); Seq(h / 2 - 1, h / 2, h - 1, h)
    } :+ 0L :+ (Long.MaxValue / 2 - 1)
    val centsEdges = (1 to 7).flatMap { k =>
      val h = 1L << (8 * k - 1); Seq(h - 1, h, -h, -h - 1)
    } ++ Seq(0L, 1L, -1L, 127L, -128L, Long.MaxValue / 200, Long.MinValue / 200)
    val rows = varintEdges.zipAll(centsEdges, 1L, 0L).zipWithIndex.map {
      case ((pkv, cents), i) => (i.toLong, pkv, cents / 100.0)
    }
    val frame = rows.toDF("commit_ts", "pk", "money").select(
      lit("db0").as("schema_name"), lit("t0").as("table_name"), lit("U").as("op"),
      col("pk"), col("commit_ts"), col("money").as("before_value"),
      col("money").as("after_value"), lit("{}").as("props"),
      lit("x").as("event_type"), lit(0L).as("start_ts"),
      lit(null).cast("timestamp").as("event_time"))
    val out = cdc.AvroBinary.messages(frame)
      .join(frame.select(col("pk"), col("commit_ts"), col("before_value")),
        Seq("commit_ts"))
      .collect()
    assert(out.length == rows.length)
    out.foreach { r => // commit_ts, key, value, pk, before_value
      val d = parseAvro(r.getString(2))
      assert(d.pk == r.getLong(3), s"pk boundary ${r.getLong(3)}")
      assert(d.ts == r.getLong(0))
      val want = math.round(r.getDouble(4) * 100.0)
      assert(d.before.contains(want) && d.after.contains(want),
        s"cents boundary $want decoded ${d.before}")
    }
  }

  test("A53: avro decode operator inverts the encoder at every boundary and flags tampering") {
    import spark.implicits._
    // boundary frame (same edges as the encoder-boundary test): the
    // operator-level decoder must agree with the encoder on negative
    // cents (sign extension) and every varint length class
    val centsEdges = (1 to 7).flatMap { k =>
      val h = 1L << (8 * k - 1); Seq(h - 1, h, -h, -h - 1)
    } ++ Seq(0L, 1L, -1L, 127L, -128L, Long.MaxValue / 200, Long.MinValue / 200)
    val rows = centsEdges.zipWithIndex.map { case (c, i) => (i.toLong, c / 100.0) }
    val frame = rows.toDF("commit_ts", "money").select(
      lit("db0").as("schema_name"), lit("t0").as("table_name"), lit("U").as("op"),
      col("commit_ts").as("pk"), col("commit_ts"), col("money").as("before_value"),
      col("money").as("after_value"), lit("{}").as("props"),
      lit("x").as("event_type"), lit(0L).as("start_ts"),
      lit(null).cast("timestamp").as("event_time"))
    val decoded = cdc.AvroBinary.decode(cdc.AvroBinary.messages(frame))
      .collect().map(r => r.getAs[Long]("commit_ts") -> r).toMap
    assert(decoded.size == rows.length)
    for ((ts, cents) <- centsEdges.zipWithIndex.map { case (c, i) => (i.toLong, c) }) {
      val r = decoded(ts)
      val want = math.round((cents / 100.0) * 100.0) // round-trip through the double
      assert(r.getAs[Long]("valid") == 1L, s"ts=$ts not valid")
      assert(r.getAs[Long]("key_schema_id") == 1L && r.getAs[Long]("val_schema_id") == 2L)
      assert(r.getAs[Long]("key_pk") == ts && r.getAs[Long]("pk") == ts)
      assert(r.getAs[Long]("before_cents") == want && r.getAs[Long]("after_cents") == want,
        s"cents boundary $cents decoded ${r.getAs[Long]("after_cents")} want $want")
    }
    // tamper: drop the final byte of every value message — the parser
    // must hit EOF or leave bytes unconsumed, never return valid=1
    val tampered = cdc.AvroBinary.messages(frame)
      .withColumn("value", expr("substring(value, 1, length(value) - 2)"))
    val flags = cdc.AvroBinary.decode(tampered).select("valid").collect()
    assert(flags.nonEmpty && flags.forall(_.getLong(0) == 0L),
      "a truncated message decoded as valid")
  }

  test("A34: bootstrap re-send cadence lets a mid-stream consumer resolve schemas") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val every = 40
    val msgs = cdc.SimpleProtocol.messages(cl, resendEvery = every).cache()
    val resends = msgs
      .filter(col("msg_type") === "BOOTSTRAP" && col("commit_ts") > 0).cache()
    assert(resends.count() > 0, "cadence produced no re-sent bootstraps")
    // every re-sent bootstrap carries the AS-OF schema version (the
    // reference re-sends the table's CURRENT tableInfo), commitTs 0,
    // and buildTs = the triggering position
    val bad = resends.filter(
      get_json_object(col("value"), "$.tableSchema.version").cast("long")
        =!= expr(s"commit_ts div ${cdc.SchemaStore.step}") ||
      get_json_object(col("value"), "$.commitTs").cast("long") =!= 0L ||
      get_json_object(col("value"), "$.buildTs").cast("long") =!= col("commit_ts"))
    assert(bad.count() == 0, "re-sent bootstrap with wrong version/commitTs/buildTs")

    // consumer joins mid-stream at a re-send boundary T
    val ts = resends.select("commit_ts").collect().map(_.getLong(0)).sorted
    val t = ts(ts.length / 2)
    def unresolved(stream: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      cdc.SimpleProtocol.decodeFrom(stream.filter(col("commit_ts") >= t))
        .filter(col("msg_kind") === "ROW" && col("schema_cols") === -1L)
        .select(col("commit_ts"), col("schema_version"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    val withCadence = unresolved(msgs)
    val withoutCadence = unresolved(cdc.SimpleProtocol.messages(cl, resendEvery = 0))
    // without re-sends, every current-window DML of every table is
    // stranded (its DDL predates T); the cadence strictly shrinks that
    assert(withoutCadence.nonEmpty, "probe window has no stranded DMLs — move T")
    assert(withCadence.length < withoutCadence.length,
      s"cadence did not recover stranded DMLs (${withCadence.length} vs ${withoutCadence.length})")
    // staleness is confined to the join window: any still-unresolved DML
    // can only be a current-version one whose table had no in-window
    // re-send after T — never a later version (its DDL is in the suffix)
    assert(withCadence.forall(_._2 == t / cdc.SchemaStore.step),
      "a post-window DML failed to resolve despite its DDL being in the suffix")
  }

  test("canal-json decode inverts the encoder at codec precision") {
    // the codec renders money as %.4f, so the round trip is exact at 4
    // decimals (a computed image like value-1.0 sits 1 ULP off the
    // decimal grid; the re-parsed double is the grid-nearest one)
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      col("commit_ts"), col("start_ts"), col("schema_name"),
      col("table_name"), col("op"), col("pk"),
      round(col("after_value"), 4).as("after_value"),
      round(col("before_value"), 4).as("before_value"))
    val src = canon(cl)
    val dec = canon(cdc.Codecs.canalJsonDecode(cl))
    assert(dec.count() == src.count())
    assert(dec.exceptAll(src).isEmpty && src.exceptAll(dec).isEmpty,
      "decode(encode(changelog)) must reproduce the changelog")
  }

  test("debezium decode inverts the encoder; open decode preserves upsert semantics") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    // debezium is fully invertible (both images + 3-way op on the wire)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      col("commit_ts"), col("schema_name"), col("table_name"), col("op"),
      col("pk"), round(col("before_value"), 4).as("b"),
      round(col("after_value"), 4).as("a"))
    val src = canon(cl)
    val dec = canon(cdc.Codecs.debeziumDecode(cl))
    assert(dec.exceptAll(src).isEmpty && src.exceptAll(dec).isEmpty)
    // open protocol erases I-vs-U by design; the decoded upsert/delete
    // split must still match the source ops
    val open = cdc.Codecs.openProtocolDecode(cl).cache()
    assert(open.filter(col("msg_type") === "delete").count() ==
      cl.filter(col("op") === "D").count())
    assert(open.filter(col("msg_type") === "upsert").count() ==
      cl.filter(col("op") =!= "D").count())
  }

  test("simple-protocol decode inverts the encoder and resolves every ROW's schema") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val dec = cdc.SimpleProtocol.decode(cl).cache()
    // ROW rows reproduce the changelog at codec precision (%.4f wire)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      col("commit_ts"), col("schema_name"), col("table_name"), col("op"),
      col("pk"), round(col("before_value"), 4).as("b"),
      round(col("after_value"), 4).as("a"))
    val src = canon(cl)
    val rows = canon(dec.filter(col("msg_kind") === "ROW"))
    assert(rows.exceptAll(src).isEmpty && src.exceptAll(rows).isEmpty,
      "decode(encode(changelog)) ROW stream must reproduce the changelog")
    // the memoryTableInfoProvider analogue: every ROW's (schema, table,
    // schemaVersion) hits the cache the BOOTSTRAP/DDL messages built —
    // nothing takes the reference's park-until-DDL path in batch
    assert(dec.filter(col("msg_kind") === "ROW")
      .filter(col("schema_cols") =!= 3L).count() == 0,
      "every DML must resolve its 3-column schema by exact version")
    // schemaVersion is the as-of version of the event's commitTs
    assert(dec.filter(col("msg_kind") === "ROW")
      .filter(col("schema_version") =!=
        expr(s"commit_ts div ${cdc.SchemaStore.step}")).count() == 0)
    // exactly one RESOLVED message, carrying the stream's high watermark
    val res = dec.filter(col("msg_kind") === "RESOLVED").collect()
    assert(res.length == 1)
    assert(res.head.getAs[Long]("commit_ts") ==
      cl.agg(max(col("commit_ts"))).head.getLong(0))
    // watermark is the only cache miss (it names no table)
    assert(dec.filter(col("schema_cols") === -1L).count() == 1)
  }

  test("graft_simple_decode honors the from_json whitespace contract") {
    import graft.functions.{CanalScan, DebeziumScan, OpenScan, SimpleScan, WireKernels}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.unsafe.types.UTF8String.{fromString => utf}
    // every JSON scanner: a compact message and its pretty-printed copy
    // (whitespace at every structural position, none inside a string)
    // decode field for field alike
    def rendered(format: Int, op: String): String = WireKernels.render(format, false, 42L,
      false, 41L, utf("d b"), utf("t:1"), utf(op), false, 7L, false, 1.5, false, -2.25,
      utf("""{"x": [1, 2]}"""), utf("view")).toString
    val simple = """{"database":"d b","table":"t","type":"UPDATE","commitTs":42,""" +
      """"schemaVersion":4,"data":{"pk":7,"value":1.5000,"props":{"x":[1,2]}},""" +
      """"old":{"pk":7,"value":null},"tableSchema":{"schema":"d b","table":"t",""" +
      """"version":4,"columns":[{"name":"pk"},{"name":"v"},{"name":"w"}]},"tableID":9}"""
    val cases: Seq[(String, String, UTF8String => InternalRow, StructType)] = Seq(
      ("simple", simple, SimpleScan.decode, SimpleScan.Struct),
      ("canal", rendered(WireKernels.Canal, "U"), CanalScan.decode, CanalScan.Struct),
      ("canal tidb", rendered(WireKernels.CanalTidb, "D"), CanalScan.decode, CanalScan.Struct),
      ("debezium", rendered(WireKernels.Debezium, "U"), DebeziumScan.decode, DebeziumScan.Struct),
      ("debezium envelope", rendered(WireKernels.DebeziumEnvelope, "U"),
        DebeziumScan.decodeEnvelope, DebeziumScan.EnvelopeStruct),
      ("open key", """{"ts":42,"scm":"d b","tbl":"t:1","t":1}""", OpenScan.decodeKey,
        OpenScan.KeyStruct),
      ("open value", """{"u":{"pk":7,"value":1.5000,"props":{"x":[1,2]}}}""",
        OpenScan.decodeValue, OpenScan.ValueStruct))
    /** Whitespace around every structural char outside strings. */
    def pretty(m: String): String = {
      val b = new StringBuilder("  \n")
      var inString = false
      var i = 0
      while (i < m.length) {
        val c = m.charAt(i)
        if (inString) {
          b += c
          if (c == '\\') { b += m.charAt(i + 1); i += 1 }
          else if (c == '"') inString = false
        } else c match {
          case '"' => b += c; inString = true
          case '{' | '[' => b ++= s"$c \n\t "
          case '}' | ']' => b ++= s" \r\n$c"
          case ':' | ',' => b ++= s" $c\n  "
          case _ => b += c
        }
        i += 1
      }
      b ++= " \n"
      b.toString
    }
    for ((name, compact, decode, struct) <- cases) {
      val a = decode(utf(compact))
      val b = decode(utf(pretty(compact)))
      assert(a != null, s"$name: compact wire must decode")
      assert(b != null, s"$name: pretty-printed wire must decode (from_json contract)")
      val differ = struct.fields.indices.filterNot { i =>
        val (x, y) = (a.get(i, struct(i).dataType), b.get(i, struct(i).dataType))
        if (x == null) y == null else x == y
      }.map(struct(_).name)
      assert(differ.isEmpty, s"$name: pretty-printed decode differs in ${differ.mkString(", ")}")
    }
    // a value with a space survives
    assert(SimpleScan.decode(utf(simple)).getUTF8String(0).toString == "d b")
  }

  test("row checksum verifies clean streams and catches a single flipped byte") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val msgs = cdc.Checksum.messages(cl).cache()
    // clean stream: every row verifies
    val clean = cdc.Checksum.verifyMessages(msgs)
    assert(clean.filter(col("verified") =!= "ok").count() == 0)
    // checksums cover both images: inserts carry cur only, deletes prev
    // only (0 = the reference's "not enabled, skip" sentinel)
    assert(clean.filter(col("op") === "I")
      .filter(col("current_checksum") === 0L || col("previous_checksum") =!= 0L)
      .count() == 0)
    assert(clean.filter(col("op") === "D")
      .filter(col("previous_checksum") === 0L || col("current_checksum") =!= 0L)
      .count() == 0)
    // tamper: flip one digit inside the after-image value payload of
    // every message that has one; exactly those rows must flag corrupt
    val tampered = msgs.withColumn("value",
      regexp_replace(col("value"), "\"data\":\\{\"pk\":(\\d)", "\"data\":{\"pk\":9$1"))
    val ver = cdc.Checksum.verifyMessages(tampered).cache()
    val nWithData = cl.filter(col("op") =!= "D").count()
    assert(ver.filter(col("verified") === "corrupt").count() == nWithData,
      "every tampered after-image must be caught")
    // the before-image digest stays valid: deletes (untouched) verify
    assert(ver.filter(col("op") === "D").filter(col("verified") =!= "ok").count() == 0)
  }

  test("fused checksum digest is byte-identical to the composed chain") {
    // the ChecksumImage native expression must reproduce the
    // lpad/hex/format_string/octet_length/concat + hash60 pipeline —
    // and therefore the DuckDB oracle — on every row, including the
    // NULL-value (signup/error) and op-gated arms
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val both = cl.select(
      cdc.Checksum.current.as("cur_fused"),
      cdc.Checksum.currentComposed.as("cur_composed"),
      cdc.Checksum.previous.as("prev_fused"),
      cdc.Checksum.previousComposed.as("prev_composed"))
    assert(both.filter(col("cur_fused") =!= col("cur_composed") ||
      col("prev_fused") =!= col("prev_composed")).count() == 0)
    // null-props arm is exercised by `previous`; assert a non-trivial mix
    assert(both.filter(col("cur_fused") =!= 0L).count() > 0)
    assert(both.filter(col("cur_fused") === 0L).count() > 0)
  }

  test("fused craft sizes are identical to the composed layered pipeline") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val fused = cdc.Craft.frame(cl)
    val composed = cdc.Craft.frameComposed(cl)
    assert(fused.columns.toSeq == composed.columns.toSeq)
    // column-for-column equality over the full changelog (exceptAll is
    // bag semantics — any diverging row in either direction survives)
    assert(fused.exceptAll(composed).count() == 0)
    assert(composed.exceptAll(fused).count() == 0)
  }

  test("craft decode recovers the envelope and catches a corrupted size table") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val frame = cdc.Craft.frame(cl).cache()
    val dec = cdc.Craft.decode(frame).cache()
    // clean frame: every structural invariant holds
    assert(dec.filter(col("verified") =!= "ok").count() == 0)
    // the envelope round-trips: op and identity columns match the source
    val src = cl.select(col("schema_name"), col("table_name"),
      col("commit_ts"), col("op"))
    val got = dec.select(col("schema_name"), col("table_name"),
      col("commit_ts"), col("op"))
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty)
    // offsets tile the message exactly: sizes section ends at msg_size
    assert(dec.join(frame.select(col("schema_name"), col("table_name"),
        col("commit_ts"), col("msg_size"), col("size_tables_size")),
        Seq("schema_name", "table_name", "commit_ts"))
      .filter(col("sizes_offset") + col("size_tables_size") =!= col("msg_size"))
      .count() == 0)
    // tamper: shrink one section size; the slice no longer tiles
    val bad = cdc.Craft.decode(
      frame.withColumn("body_size", col("body_size") - 1))
    assert(bad.filter(col("verified") =!= "corrupt").count() == 0,
      "every row with a corrupted body size must fail verification")
  }

  test("compression model shrinks every payload and gates the claim check") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val c = cdc.Sinks.compressedClaimCheck(cl, 16, 75).cache()
    assert(c.filter(col("compressed_bytes") >= col("payload_bytes")).count() == 0,
      "the model must always shrink codec JSON")
    assert(c.filter(col("ratio_pct") < 100L || col("ratio_pct") > 1000L).count() == 0,
      "modeled ratio should stay in a plausible LZ range")
    // claim decision is taken on the COMPRESSED size (reference applies
    // Compress before the size checks), and the stub location follows it
    assert(c.filter(col("claimed") =!= (col("compressed_bytes") > 75L)).count() == 0)
    assert(c.filter(col("claimed") && col("claim_location").isNull).count() == 0)
    assert(c.filter(!col("claimed") && col("claim_location").isNotNull).count() == 0)
  }

  test("large-star/small-star components equal union-find on adversarial graphs") {
    import spark.implicits._
    // a long chain (worst case for naive label propagation), a triangle
    // joined to it nowhere, a separate pair, and ids in hostile order
    val edges = Seq(
      (9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L), (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (20L, 30L), (30L, 40L), (40L, 20L),
      (101L, 100L)).toDF("u", "v")
    val got = ops.Curation.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every chain node roots at 1, triangle at 20, pair at 100
    for (n <- 2L to 9L) assert(got(n) == 1L, s"node $n")
    assert(got(30L) == 20L && got(40L) == 20L)
    assert(got(101L) == 100L)
    // roots never appear as non-root nodes in the star forest
    assert(!got.contains(1L) && !got.contains(20L) && !got.contains(100L))
  }

  test("dedup clusters cover exact-dup groups and near-dup pairs transitively") {
    val cl = ops.Curation.dedupClusters(spark, dir)
    val byDoc = cl.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact dups land in one cluster with the min doc id as the root
    val exactGroups = ops.Dedup.exact(spark, dir)
      .filter(col("n_copies") > 1).collect()
    // near-dup pairs land in the same cluster
    val pairs = ops.Dedup.ngramJaccard(spark, dir).collect()
    for (p <- pairs) {
      val (a, b) = (p.getLong(0), p.getLong(1))
      assert(byDoc(a)._1 == byDoc(b)._1, s"pair ($a,$b) split across clusters")
      assert(byDoc(a)._2 >= 2L)
    }
    // cluster_size is consistent: each cluster id's size equals its row count
    val sizes = byDoc.values.groupBy(_._1).map { case (cid, vs) => cid -> vs.size }
    for ((cid, n) <- sizes) assert(byDoc(cid)._2 == n.toLong, s"cluster $cid size")
    assert(exactGroups.forall { g =>
      byDoc(g.getLong(1))._1 == g.getLong(1) || byDoc(g.getLong(1))._2 >= g.getLong(2)
    })
  }

  test("pii redaction counts and scrubs emails, ipv4s, and phone numbers") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    Seq(
      (1L, "contact bob@example.com or +12345678901 from 10.0.0.1 today", "en", "src1", 55L),
      (2L, "no pii here at all just words", "en", "src1", 29L),
      (3L, "two mails a@b.io c@d.org and ip 192.168.1.255", "en", "src2", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = ops.Curation.piiRedact(spark, tmp)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 1 && got(1L).getLong(2) == 1 && got(1L).getLong(3) == 1)
    assert(got(2L).getLong(1) == 0 && got(2L).getLong(2) == 0 && got(2L).getLong(3) == 0)
    assert(got(3L).getLong(1) == 2 && got(3L).getLong(2) == 1 && got(3L).getLong(3) == 0)
    // fingerprint of doc 1 equals md5 of the hand-redacted text
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest("contact <EMAIL> or <PHONE> from <IP> today".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(1L).getString(4) == want)
    // a doc without pii keeps its original fingerprint
    val orig = java.security.MessageDigest.getInstance("MD5")
      .digest("no pii here at all just words".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(2L).getString(4) == orig)
  }

  test("debezium envelope parses as JSON and round-trips payload + schema blocks") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val n = cl.count()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "payload STRUCT<source STRUCT<db: STRING, `table`: STRING, commit_ts: BIGINT, " +
        "connector: STRING, version: STRING>, op STRING, ts_ms BIGINT, " +
        "before STRUCT<pk: BIGINT, value: DOUBLE>, after STRUCT<pk: BIGINT, value: DOUBLE>>, " +
        "schema STRUCT<name: STRING, version: BIGINT, optional: BOOLEAN>")
    val parsed = cdc.Codecs.debeziumEnvelope(cl)
      .select(from_json(col("value"), schema).as("m"))
    // malformed JSON parses to null - none may
    assert(parsed.filter(col("m").isNull || col("m.payload").isNull ||
      col("m.schema").isNull).count() == 0)
    assert(parsed.count() == n)
    // payload round-trips the event identity; schema block is the Envelope
    val m = parsed.select(
      col("m.payload.source.db"), col("m.payload.source.table"),
      col("m.payload.source.commit_ts"), col("m.payload.op"),
      col("m.payload.source.connector"), col("m.schema.name"))
    assert(m.filter(col("connector") =!= "TiCDC").count() == 0)
    assert(m.filter(!col("name").endsWith(".Envelope")).count() == 0)
    val back = m.select(col("db").as("schema_name"), col("table").as("table_name"),
      col("commit_ts"),
      when(col("op") === "c", "I").when(col("op") === "d", "D").otherwise(lit("U")).as("op"))
    val orig = cl.select(col("schema_name"), col("table_name"), col("commit_ts"), col("op"))
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    // image rules: inserts carry no before, deletes no after, updates both
    val imgs = parsed.select(col("m.payload.op").as("op"),
      col("m.payload.before").isNotNull.as("b"), col("m.payload.after").isNotNull.as("a"))
    assert(imgs.filter(col("op") === "c" && (col("b") || !col("a"))).count() == 0)
    assert(imgs.filter(col("op") === "d" && (col("a") || !col("b"))).count() == 0)
    assert(imgs.filter(col("op") === "u" && (!col("a") || !col("b"))).count() == 0)
  }

  test("txn matcher drops rollbacks and orphan commits and defeats fake prewrites") {
    val clf = cdc.ChangeEvents.changelog(spark, dir)
    val m = cdc.TxnMatcher.matched(clf)
    val arms = m.select("arm").distinct().collect().map(_.getLong(0)).toSet
    // rolled-back txns (arm 0) and orphan commits (arm 1) never emit
    assert(!arms.contains(0L) && !arms.contains(1L))
    // the fake-prewrite arm emits with the REAL payload, never the fake's
    val fakeArm = m.filter(col("arm") === 2L)
    assert(fakeArm.count() > 0, "arm 2 must occur at sf0.001")
    assert(fakeArm.filter(col("value") === "").count() == 0)
    // conservation: every commit outside arms 0/1 matches exactly once
    val expected = clf.withColumn("arm",
        pmod(graft.functions.Portable.hash60(concat_ws("|", lit("txn-arm-v1:"),
          col("schema_name"), col("table_name"), col("pk").cast("string"),
          col("start_ts").cast("string"))), lit(12L)))
      .filter(col("arm") =!= 0L && col("arm") =!= 1L).count()
    assert(m.count() == expected)
  }

  test("gc trim conserves events and derives its watermark from the span frontier") {
    val clf = cdc.ChangeEvents.changelog(spark, dir)
    val totals = clf.groupBy(col("schema_name"), col("table_name"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val frontier = cdc.Materialize.spanFrontier(clf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    // a retention shorter than the frontier actually trims at sf0.001
    val got = cdc.Materialize.gcTrim(clf, retention = 500L).collect()
    assert(got.exists(_.getLong(3) > 0), "retention 500 must trim something")
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == math.max(frontier(key) - 500L, 0L), "gc_ts from frontier")
      assert(r.getLong(3) + r.getLong(4) == totals(key), "trim conserves events")
      assert(r.getLong(4) == 0L || r.getLong(5) > r.getLong(2),
        "low watermark must clear the gc horizon")
    }
  }

  test("span frontier is bounded by the region extremes and agrees with the table max") {
    val clf = cdc.ChangeEvents.changelog(spark, dir)
    val got = cdc.Materialize.spanFrontier(clf).collect()
    assert(got.nonEmpty)
    val tableMax = clf.groupBy(col("schema_name"), col("table_name"))
      .agg(max(col("commit_ts")).as("m")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(3) <= r.getLong(5), "frontier cannot pass the fastest region")
      // the fastest region's ts IS the table max (max over regions)
      assert(r.getLong(5) == tableMax(key))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 8L, "region count within the bucket knob")
    }
  }

  test("schema snapshot returns exactly the filtered tables alive at the probe ts") {
    val snap = cdc.SchemaStore.schemaSnapshot(spark, dir).collect()
    assert(snap.nonEmpty)
    val lc = cdc.SchemaStore.tableLifecycle(spark, dir).collect()
      .map(r => r.getLong(2) -> r).toMap
    snap.foreach { r =>
      val (id, ts) = (r.getLong(2), r.getLong(5))
      // matcher rules hold
      val q = s"${r.getString(0)}.${r.getString(1)}"
      assert(q.startsWith("db0.") || q == "db1.t1", q)
      // the generation's validity interval contains the snapshot ts
      val g = lc(id)
      assert(g.getLong(4) <= ts && (g.getLong(5) == -1L || ts < g.getLong(5)))
      // as-of version count is bounded by the generation's final count
      assert(r.getLong(6) >= 1L && r.getLong(6) <= g.getLong(6))
    }
    // completeness: every filtered lifecycle generation alive at ts is present
    val ts = snap.head.getLong(5)
    val expected = lc.values.filter { g =>
      val q = s"${g.getString(0)}.${g.getString(1)}"
      (q.startsWith("db0.") || q == "db1.t1") &&
        g.getLong(4) <= ts && (g.getLong(5) == -1L || ts < g.getLong(5))
    }.map(_.getLong(2)).toSet
    assert(snap.map(_.getLong(2)).toSet == expected)
  }

  test("C57: dim stats equal a driver-side integer recount; a constant dim reads dead") {
    val f = ops.Similarity.embeddingDimStats(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(f.size == 64)
    val vecs = ops.Similarity.corpus(spark, dir)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    (0 until 64).foreach { d =>
      val qs = vecs.map(v => math.round(v(d) * 1000000d))
      val n = qs.length.toLong
      val sum = qs.sum; val ss = qs.map(q => q * q).sum
      val mean = java.lang.Math.floorDiv(sum, n)
      val varE12 = ss / n - mean * mean
      val (gn, gm, gv, _) = f(d.toLong)
      assert(gn == n && gm == mean && gv == varE12,
        s"dim $d: got ($gn,$gm,$gv) want ($n,$mean,$varE12)")
    }
    // real embeddings carry signal in every dimension here, and the
    // dead verdict mirrors the variance threshold exactly
    assert(f.values.forall { case (_, _, v, dead) =>
      dead == (if (v < 1000000L) 1L else 0L) })
    assert(f.values.forall(_._4 == 0L), "no dead dims in this corpus")
  }

  test("C73: measured banding recall tracks the S-curve on controlled-overlap pairs") {
    val spk = spark
    import spk.implicits._
    // 40 doc pairs per similarity level; grams are namespaced per pair
    // so truth exists only within pairs. 100-gram docs sharing s grams
    // have jaccard s/(200-s).
    val levels = Seq( // (shared grams, expected jband)
      (40, 2L), (62, 4L), (79, 6L), (92, 8L))
    val docs = for {
      ((s, _), li) <- levels.zipWithIndex
      p <- 0 until 40
      side <- 0 to 1
    } yield {
      val ns = s"L${li}P$p"
      val grams = if (side == 0) (0 until 100).map(i => s"$ns-a$i")
        else (0 until s).map(i => s"$ns-a$i") ++
          (0 until (100 - s)).map(i => s"$ns-b$i")
      (li.toLong * 1000 + p * 2 + side, grams)
    }
    val gramsFrame = docs.toDF("doc_id", "grams")
    // 320 docs < the 1200-doc sample target, so the derived modulus is
    // 1 and the truth join sees every pair (no sampling noise here)
    val got = ops.Dedup.lshRecallAuditFrom(gramsFrame)
      .collect().map(r => r.getAs[Long]("jband") -> r).toMap
    assert(got.keySet == (2L to 9L).toSet)
    levels.foreach { case (_, jb) =>
      val r = got(jb)
      assert(r.getAs[Long]("n_true_pairs") == 40L, s"band $jb truth")
      val recall = r.getAs[Long]("recall_ppm")
      val expected = r.getAs[Long]("expected_recall_ppm")
      // binomial noise over 40 pairs: allow a generous window but pin
      // the curve's SHAPE — near-zero at the bottom, near-one on top
      jb match {
        case 2L => assert(recall <= 150000L, s"band 2 recall $recall")
        case 4L => assert(recall <= 400000L, s"band 4 recall $recall")
        case 6L => assert(recall >= 100000L && recall <= 850000L,
          s"band 6 recall $recall vs expected $expected")
        case _ => assert(recall >= 850000L, s"band 8 recall $recall")
      }
    }
    // untested bands carry the -1 sentinel, never fake zeros
    Seq(3L, 5L, 7L, 9L).foreach { jb =>
      assert(got(jb).getAs[Long]("n_true_pairs") == 0L)
      assert(got(jb).getAs[Long]("recall_ppm") == -1L)
    }
    // the curve is monotone in the measured bands
    val measured = levels.map(l => got(l._2).getAs[Long]("recall_ppm"))
    assert(measured == measured.sorted, s"recall not monotone: $measured")
    // real-corpus arm: exact dups always collide (identical signatures)
    val real = ops.Dedup.lshRecallAudit(spark, dir).collect()
      .map(r => r.getAs[Long]("jband") -> r).toMap
    val top = real(9L)
    if (top.getAs[Long]("n_true_pairs") > 0L)
      assert(top.getAs[Long]("recall_ppm") == 1000000L)
  }

  test("C79: incremental verdicts equal the signature/probe/verify replay") {
    import graft.functions.Portable.hash60Long
    val P = 2147483647L
    def isBatch(id: Long) = hash60Long(s"inc:$id") % 4L == 0L
    // pick ids on each side of the deterministic split
    val corpusIds = (0L to 400L).filter(!isBatch(_))
    val batchIds = (0L to 400L).filter(isBatch)
    val g1 = (0 until 12).map(i => s"shared gram $i")
    val g2 = g1.drop(1) :+ "changed gram x" // J = 11/13 with g1
    val docs = Seq(
      (corpusIds(0), g1),                      // the index doc
      (corpusIds(1), (0 until 12).map(i => s"other corpus $i")),
      (batchIds(0), g1),                       // exact dup of the index doc
      (batchIds(1), g2),                       // near dup
      (batchIds(2), (0 until 12).map(i => s"disjoint batch $i"))) // keep
    val spk = spark
    import spk.implicits._
    val frame = docs.toDF("doc_id", "grams")
    val got = ops.Dedup.dedupIncrementalFrom(frame).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    assert(got.keySet == batchIds.take(3).toSet)
    // independent replay of the full pipeline: portable signatures,
    // band keys, batch-vs-index candidates, exact-Jaccard verify
    def h(s: String) = hash60Long(s) % P
    def sig(grams: Seq[String]): Seq[Long] = {
      val hs = grams.map(h)
      (0 until 128).map { pp =>
        val a = ((2L * pp + 1L) * 1000003L) % P
        val b = (pp.toLong * 7919L + 104729L) % P
        hs.map(x => (x * a + b) % P).min
      }
    }
    val bandsOf = docs.map { case (id, gs) =>
      id -> sig(gs).grouped(8).map(_.mkString(",")).zipWithIndex.toSet
    }.toMap
    val gramsOf = docs.map { case (id, gs) => id -> gs.toSet }.toMap
    for (bid <- batchIds.take(3)) {
      val cands = corpusIds.take(2).filter(cid =>
        (bandsOf(bid) & bandsOf(cid)).nonEmpty)
      val scored = cands.map { cid =>
        val inter = (gramsOf(bid) & gramsOf(cid)).size.toLong
        val uni = gramsOf(bid).size + gramsOf(cid).size - inter
        (cid, math.round(inter * 1e6 / uni), inter == uni)
      }
      val (nc, bm, bj, verdict) = got(bid)
      assert(nc == cands.size.toLong, s"doc $bid candidates")
      if (scored.isEmpty) assert((bm, bj, verdict) == (-1L, -1L, "keep"))
      else {
        val best = scored.minBy { case (cid, j, _) => (-j, cid) }
        assert(bm == best._1 && bj == best._2, s"doc $bid best")
        val want = if (best._3) "exact_dup"
          else if (best._2 >= 500000L) "near_dup" else "keep"
        assert(verdict == want, s"doc $bid verdict")
      }
    }
    // all three verdict arms fired
    assert(got.values.map(_._4).toSet == Set("exact_dup", "near_dup", "keep"))
    // the exact arm is set equality, not a rounded-1.0 artifact
    assert(got(batchIds(0))._3 == 1000000L && got(batchIds(1))._3 < 1000000L)
  }

  test("C73: the truth join's size prune is lossless on size-diverse docs") {
    val spk = spark
    import spk.implicits._
    // size-DIVERSE corpus (the controlled-overlap test above is
    // all-100-gram, so the r15 lossless size prune never fires there):
    // - (big100, small15) share all 15 of small's grams: J = 15/100 =
    //   0.15 < jFloor 0.2 — the prune may (and does) drop the pair,
    //   and the truth must not contain it;
    // - (big100, mid50) share 45: J = 45/105 ≈ 0.4286 — band 4, size
    //   ratio 0.5 clears the prune, the truth MUST keep it;
    // - (small15, mid50) share 15: J = 15/50 = 0.30 — band 3, size
    //   ratio 0.3 clears the prune, the truth MUST keep it.
    val docs = Seq(
      (1L, (0 until 100).map(i => s"x$i")),
      (2L, (0 until 15).map(i => s"x$i")),
      (3L, (0 until 45).map(i => s"x$i") ++ (0 until 5).map(i => s"y$i")))
    val got = ops.Dedup.lshRecallAuditFrom(docs.toDF("doc_id", "grams"))
      .collect().map(r => r.getAs[Long]("jband") ->
        r.getAs[Long]("n_true_pairs")).toMap
    assert(got(4L) == 1L, "the size-compatible J=0.43 pair must be truth")
    assert(got(3L) == 1L, "the size-compatible J=0.30 pair must be truth")
    assert(got.filter(kv => kv._1 != 4L && kv._1 != 3L).values.forall(_ == 0L),
      "no other band may carry truth — the J=0.15 pair stays excluded")
  }

  test("C73: sorted_intersect_size == size(array_intersect) on every shape") {
    val spk = spark
    import spk.implicits._
    // adversarial shapes for the r16 merge intersect: duplicates (the
    // merge must count DISTINCT matches, like array_intersect), empty
    // sides, disjoint, identical, shared prefixes (byte-order ties),
    // multi-byte UTF-8, and a pseudo-random soup. Inputs arrive
    // UNSORTED and go through the same sort_array the audit applies.
    val cases = Seq(
      (Seq("b", "a", "c"), Seq("c", "b", "z")),
      (Seq("a", "a", "b", "b"), Seq("b", "a", "a")), // dups both sides
      (Seq.empty[String], Seq("a")),
      (Seq("a"), Seq.empty[String]),
      (Seq("x y", "x"), Seq("x", "x y z")), // prefix ties
      (Seq("é", "e", "ß"), Seq("ß", "é")), // multi-byte UTF-8
      (Seq("same"), Seq("same")),
      ((0 until 200).map(i => s"g${i * 7 % 97}"),
        (0 until 150).map(i => s"g${i * 13 % 83}")))
    val df = cases.toDF("a", "b")
      .withColumn("want", size(array_intersect(col("a"), col("b"))))
      .withColumn("got", graft.functions.VectorExprs.sortedIntersectSize(
        sort_array(col("a")), sort_array(col("b"))))
    df.collect().foreach { r =>
      assert(r.getAs[Int]("got") == r.getAs[Int]("want"),
        s"a=${r.getSeq[String](0)} b=${r.getSeq[String](1)}")
    }
  }

  test("C73: sorted_intersect_size rejects a non-binary collation and null elements") {
    val spk = spark
    import spk.implicits._
    val df = Seq((Seq("A", "b"), Seq("a", "B"))).toDF("a", "b")
    // byte order and equality differ under UTF8_LCASE: the merge would
    // count 0 where the collation says 2, so analysis must refuse it
    val lcase = (c: String) => sort_array(transform(col(c), x => collate(x, "UTF8_LCASE")))
    val err = intercept[org.apache.spark.sql.AnalysisException](
      df.select(graft.functions.VectorExprs.sortedIntersectSize(lcase("a"), lcase("b"))))
    assert(err.getMessage.contains("UTF8_BINARY"), err.getMessage)
    // a null element (sorted first) must not be miscounted or NPE
    val withNull = Seq((Seq("a", null), Seq("a"))).toDF("a", "b")
      .select(graft.functions.VectorExprs.sortedIntersectSize(
        sort_array(col("a")), sort_array(col("b"))))
    val thrown = intercept[Exception](withNull.collect())
    val causes = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[IllegalArgumentException]),
      causes.map(_.toString).mkString(" <- "))
  }

  test("C73: the truth sample is bounded at every corpus size") {
    val spk = spark
    import spk.implicits._
    // the modulus formula keeps the EXPECTED block inside (target/2,
    // target] for any n >= target, and degenerates to no-sampling below
    val target = 1200L
    Seq(1L, 499L, 1200L, 1201L, 5000L, 120000L, 1000000000L,
      1000000000000L).foreach { n =>
      val m = ops.Dedup.auditSampleMod(n, target)
      assert(m >= 1L, s"n=$n")
      if (n <= target) assert(m == 1L, s"n=$n m=$m")
      else {
        val block = n.toDouble / m
        assert(block <= target && block > target / 2.0 - 1,
          s"n=$n m=$m block=$block")
      }
    }
    // ...and the hash-mod filter delivers that block on a real frame:
    // 5000 docs -> smod 5 -> ~1000 sampled (binomial sd ~28)
    val ids = (0L until 5000L).map(i => (i, Seq(s"g$i"))).toDF("doc_id", "grams")
    val m = ops.Dedup.auditSampleMod(5000L, target)
    val sampledCount = ids.filter(pmod(
      graft.functions.Portable.hash60(concat(lit("graft-audit-v1:"),
        col("doc_id").cast("string"))), lit(m)) === 0L).count()
    assert(sampledCount >= 800L && sampledCount <= 1200L,
      s"sampled $sampledCount of 5000 at mod $m")
  }

  test("C62: hard negatives recount from raw vectors and margins close") {
    val nQ = 8; val k = 5
    val rows = ops.Similarity.hardNegatives(spark, dir, nQ, k).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == (0L until nQ.toLong).toSet)
    val raw = ops.Similarity.corpus(spark, dir)
      .select("vec_id", "label", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
    val byId = raw.map(r => r._1 -> r).toMap
    def cos(a: Long, b: Long): Double = {
      val (_, _, va, na) = byId(a); val (_, _, vb, nb) = byId(b)
      BigDecimal(va.zip(vb).map { case (x, y) => x * y }.sum / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (0L until nQ.toLong).foreach { qid =>
      val qlabel = byId(qid)._2
      val others = raw.filter(_._1 != qid)
      val negs = others.filter(_._2 != qlabel)
        .map(o => (o._1, cos(qid, o._1)))
        .sortBy { case (id, c) => (-c, id) }.take(k)
      val posBest = others.filter(_._2 == qlabel)
        .map(o => cos(qid, o._1)).maxOption.getOrElse(-2.0)
      val got = byQ(qid).sortBy(_.getAs[Long]("neg_rank"))
      assert(got.map(_.getAs[Long]("neg_vec_id")).toSeq ==
        negs.map(_._1).toSeq, s"q$qid negative ids")
      got.zip(negs).zipWithIndex.foreach { case ((g, (_, c)), i) =>
        assert(g.getAs[Long]("neg_rank") == i + 1L)
        assert(g.getAs[Double]("neg_cosine") == c)
        assert(g.getAs[Double]("pos_best_cosine") == posBest)
        assert(g.getAs[Double]("margin") ==
          BigDecimal(posBest - c).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    // hard negatives are non-trivial at this SF: some query's best
    // negative must outscore its worst returned rank by a real gap,
    // and at least one margin should be tight or negative (the
    // boundary pairs the miner exists to surface)
    assert(rows.exists(_.getAs[Double]("margin") < 0.05),
      "no near-boundary negative found — the mining is vacuous here")
  }

  test("C56: matryoshka overlap equals a driver-side recount of both rankings") {
    val k = 10; val nQ = 8; val pd = 16
    val f = ops.Similarity.annMatryoshkaTopK(spark, dir, nQ, k, pd)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(f.size == nQ)
    // independent recount from raw vectors
    val vecs = ops.Similarity.corpus(spark, dir)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def topk(qid: Long, dims: Int): Seq[Long] = {
      val q = vecs(qid).take(dims)
      val qn = math.sqrt(q.map(x => x * x).sum)
      vecs.toSeq.filter(_._1 != qid).map { case (id, v0) =>
        val v = v0.take(dims)
        val cos = BigDecimal(
          q.zip(v).map { case (a, b) => a * b }.sum /
            (qn * math.sqrt(v.map(x => x * x).sum)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, cos)
      }.sortBy { case (id, cos) => (-cos, id) }.take(k).map(_._1)
    }
    (0L until nQ.toLong).foreach { qid =>
      val full = topk(qid, 64); val pre = topk(qid, pd)
      val overlap = full.toSet.intersect(pre.toSet).size.toLong
      val (gotOv, gotPpm, gotTop1) = f(qid)
      assert(gotOv == overlap, s"q$qid overlap $gotOv != $overlap")
      assert(gotPpm == overlap * 1000000L / k)
      assert(gotTop1 == (if (full.head == pre.head) 1L else 0L))
    }
    // truncation is not free on non-MRL embeddings: some query must
    // lose part of its top-k (else the audit is vacuous at this SF)
    assert(f.values.exists(_._1 < k.toLong))
  }

  test("C55: token offsets tile the normalized text exactly and self-verify") {
    val f = ops.TextAnalysis.tokenOffsets(spark, dir).cache()
    assert(f.count() > 0)
    // every span re-extracts to its own token (the in-frame check)
    assert(f.filter(col("verified") =!= 1L).count() == 0)
    // spans tile: first starts at 0, consecutive spans abut across the
    // single separator space, and nothing overlaps
    assert(f.filter(col("token_idx") === 0L && col("char_start") =!= 0L)
      .count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("token_idx")
    val gaps = f.withColumn("prev_end", lag("char_end", 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("char_start") =!= col("prev_end") + 1L)
    assert(gaps.count() == 0, "spans must abut across exactly one space")
    f.unpersist()
  }

  test("C54: bigram surprisal flags word salad that the unigram model scores fluent") {
    import spark.implicits._
    // five copies of a fixed 40-word sentence vs the SAME multiset in
    // a seeded random shuffle: identical unigram profile, opposite
    // transition profiles (a stride walk is NOT random enough — its
    // bigrams are as periodic as the prose's)
    val sentence = (1 to 40).map(i => s"word$i")
    val prose = (1 to 5).flatMap(_ => sentence)
    val salad = new scala.util.Random(42L).shuffle(prose)
    val docs = Seq(
      (1L, prose.mkString(" "), "en", "src1", 0L),
      (2L, salad.mkString(" "), "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = ops.TextAnalysis.bigramSurprisalFrom(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(f(2L) > f(1L),
      s"salad mean surprisal ${f(2L)} must exceed prose ${f(1L)}")
    // unigram profiles are identical by construction — C34's mean
    // cannot separate them
    assert(prose.sorted == salad.sorted)
  }

  test("A103: gc sweep equals the transcribed versionedTableInfoStore.gc on every store") {
    import org.apache.spark.sql.Row
    // multi_version.go:131-157 transcribed: removed when gcTs >=
    // deleteVersion; else slice infos[target-1:] where target = first
    // version > gcTs (target == 0 keeps all)
    def seqGc(versions: Seq[Long], deleteTs: Long, gcTs: Long)
        : (Long, Long, Long) = { // (removed, keptFrom, nKept)
      if (deleteTs != -1L && gcTs >= deleteTs) (1L, -1L, 0L)
      else {
        val sorted = versions.sorted
        val target = sorted.indexWhere(_ > gcTs) match {
          case -1 => sorted.length
          case i => i
        }
        if (target == 0) (0L, sorted.head, sorted.length.toLong)
        else (0L, sorted(target - 1), (sorted.length - (target - 1)).toLong)
      }
    }
    // sf0.01: vmax = 10 boundaries — the sweep hits every arm
    val gcDir = "/root/testdata/sf0.01"
    val f = cdc.SchemaStore.schemaGc(spark, gcDir).cache()
    val rows = f.collect().map { r: Row =>
      (r.getLong(0), r.getLong(3), (r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9)))
    }
    assert(rows.nonEmpty)
    // reconstruct each store's version list independently of the op
    val lc = cdc.SchemaStore.tableLifecycle(spark, gcDir).collect()
      .map(r => r.getLong(2) -> (r.getLong(4), r.getLong(5))).toMap
    val vers: Map[Long, Seq[Long]] = {
      // rebuild version ts values from the A67 job rule directly
      val cl = cdc.ChangeEvents.changelog(spark, gcDir)
      val mx = cl.agg(max(col("commit_ts"))).head().getLong(0)
      val step = cdc.SchemaStore.step
      val vmax = mx / step
      val bases = cl.select("schema_name", "table_name").distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(identity).zipWithIndex
        .map { case (st, i) => st -> i.toLong }.toMap
      val jobs = for {
        ((_, _), b) <- bases.toSeq
        v <- 1L to vmax
        a <- if ((b + v) % 5 == 0) Some("TRUNCATE")
             else if (v == vmax && b % 7 == 3) Some("DROP")
             else if ((b * 3 + v) % 4 == 0) Some("ALTER") else None
      } yield (b, v * step, a)
      lc.keys.toSeq.map { tid =>
        val (born, del) = lc(tid)
        val base = tid / 1048576L
        val alters = jobs.filter { case (b, ts, a) => b == base && a == "ALTER" &&
          born <= ts && (del == -1L || ts < del) }.map(_._2)
        tid -> (born +: alters)
      }.toMap
    }
    rows.foreach { case (gc, tid, (rem, keptFrom, nKept, nDropped, nHist, histRem)) =>
      val (born, del) = lc(tid)
      val vs = vers(tid)
      val (wRem, wFrom, wKept) = seqGc(vs, del, gc)
      assert((rem, keptFrom, nKept) == (wRem, wFrom, wKept),
        s"store $tid at gc=$gc: got ($rem,$keptFrom,$nKept) want ($wRem,$wFrom,$wKept)")
      assert(nDropped == vs.length - nKept)
      // the two-rule contrast: history never keeps the floor version
      assert(nHist == vs.count(_ > gc))
      assert(histRem == (if (nHist == 0) 1L else 0L))
    }
    // all three info-store arms occur across the sweep
    val arms = rows.map { case (gc, tid, (rem, _, nKept, nDropped, _, _)) =>
      if (rem == 1L) "removed"
      else if (nDropped > 0L) "trim" else "keep_all" }.toSet
    assert(arms == Set("removed", "trim", "keep_all"), arms.toString)
    f.unpersist()
  }

  test("table lifecycle generations tile time and events resolve to the live generation") {
    val lc = cdc.SchemaStore.tableLifecycle(spark, dir).collect()
    val byTable = lc.groupBy(r => (r.getString(0), r.getString(1)))
    // table_id injective across the whole frame
    assert(lc.map(_.getLong(2)).distinct.length == lc.length)
    byTable.foreach { case (_, gens) =>
      val sorted = gens.sortBy(_.getLong(3))
      // generations are dense from 0 and tile time: a generation closed
      // by TRUNCATE ends exactly where the next begins
      assert(sorted.map(_.getLong(3)).toSeq == sorted.indices.map(_.toLong))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(5) == b.getLong(4), "truncate must tile born/delete")
          assert(a.getLong(7) == 0L, "only the terminal generation can be dropped")
        case _ =>
      }
      // open or tombstoned, never born after death; at least one info version
      sorted.foreach { g =>
        assert(g.getLong(5) == -1L || g.getLong(5) > g.getLong(4))
        assert(g.getLong(6) >= 1L)
      }
    }
    // every event resolves; events at a truncate boundary land in the NEW
    // generation (multi_version.go: the new physical id owns finishedTs)
    val ev = cdc.SchemaStore.eventPhysicalTable(spark, dir)
    assert(ev.filter(col("table_id").isNull).count() == 0)
    val births = lc.filter(_.getLong(4) > 0)
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)) -> r.getLong(2)).toMap
    if (births.nonEmpty) {
      // each event whose commit_ts equals a birth ts of its table must
      // carry that generation's table_id
      val rows = ev.select("schema_name", "table_name", "commit_ts", "table_id").collect()
      rows.foreach { r =>
        births.get((r.getString(0), r.getString(1), r.getLong(2))).foreach { id =>
          assert(r.getLong(3) == id, s"boundary event must resolve to the new generation")
        }
      }
    }
  }

  test("pq codes are well-formed, non-degenerate, and on the data's error scale") {
    val rows = ops.Similarity.pqEncode(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(2).matches("[0-9a-f]{8}"), s"code ${r.getString(2)}")
      assert(r.getLong(3) >= 0L)
      // components are O(1), so per-subspace L2^2 is O(1): a blown-up
      // error means the codebook is on the wrong scale (the 1024x grid
      // bug class - cosine never notices scale, L2 does)
      assert(r.getLong(3) < 1000000L, s"err2_e4 ${r.getLong(3)} implies a mis-scaled codebook")
    }
    // the code must carry information: multiple distinct codes, and
    // each subspace nibble must use more than one centroid
    val codes = rows.map(_.getString(2)).distinct
    assert(codes.length > 1, "degenerate codebook: every vector got the same code")
    (0 until 8).foreach { s =>
      assert(codes.map(_.charAt(s)).distinct.length > 1,
        s"subspace $s collapsed to one centroid")
    }
  }

  test("ADC distance to a vector's own code reconstructs its PQ error exactly") {
    val err = ops.Similarity.pqEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val self = ops.Similarity.pqAdcScores(spark, dir, nQueries = 8)
      .filter(col("query_id") === col("vec_id")).collect()
    assert(self.nonEmpty)
    // ADC(q -> q's own code) sums the same e4 lookup entries the
    // encoder summed as reconstruction error - bit-equal by design
    self.foreach { r =>
      assert(r.getLong(2) == err(r.getLong(0)),
        s"query ${r.getLong(0)}: adc ${r.getLong(2)} != err ${err(r.getLong(0))}")
    }
    // and the served top-k never includes self, with dense ranks
    val served = ops.Similarity.pqAdcTopK(spark, dir).collect()
    assert(served.forall(r => r.getLong(0) != r.getLong(1)))
    served.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("knn graph ranks neighbors by cosine within the cell and flags mutual edges") {
    val e = ops.Similarity.knnGraph(spark, dir).collect()
    assert(e.nonEmpty)
    e.groupBy(_.getLong(0)).values.foreach { es =>
      val sorted = es.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length).toSeq,
        "ranks must be dense from 1")
      sorted.sliding(2).foreach {
        case Array(x, y) => assert(x.getDouble(3) >= y.getDouble(3),
          "cosine must be non-increasing with rank")
        case _ =>
      }
    }
    // the mutual flag is exactly reverse-edge membership
    val set = e.map(r => (r.getLong(0), r.getLong(1))).toSet
    e.foreach { r =>
      val expect = if (set.contains((r.getLong(1), r.getLong(0)))) 1L else 0L
      assert(r.getLong(4) == expect)
    }
  }

  test("random projection preserves high-similarity structure at 4x reduction") {
    import spark.implicits._
    val proj = ops.Similarity.projFrame(spark, dir, 16).collect()
      .map(r => r.getLong(0) -> (2 until 18).map(r.getDouble).toArray).toMap
    val full = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until a.length).foreach { i => d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      d / math.sqrt(na * nb)
    }
    // JL distortion at 16 dims is ~1/sqrt(16): generic weak-cosine
    // neighborhoods scramble on this corpus (spread < noise), but the
    // HIGH-similarity structure ANN cares about must survive — verified
    // near-dup pairs (64-dim cosine >= 0.4) must project to cosines far
    // above the random-pair baseline
    val dups = ops.Similarity.cosinePairs(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(dups.nonEmpty, "need near-dup pairs to probe preservation")
    val dupMean = dups.map { case (a, b) => cos(proj(a), proj(b)) }.sum / dups.length
    val ids = full.keys.toSeq.sorted
    val rnd = for (i <- ids.indices; j <- i + 1 until ids.length; if (i + j) % 7 == 0)
      yield cos(proj(ids(i)), proj(ids(j)))
    val rndMean = rnd.sum / rnd.length
    // expected signal: 64-dim cosine >= 0.4 carries through with
    // ~1/sqrt(16) JL distortion => mean ~ 0.25 above the ~0 baseline
    assert(dupMean > rndMean + 0.15,
      f"near-dup projected cosine $dupMean%.3f must clear the random baseline $rndMean%.3f")
  }

  test("unigram surprisal equals the hand-computed floor-log2 model") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
    def toks(t: String): Seq[String] =
      t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toSeq
    val all = docs.flatMap(r => toks(r.getString(1)))
    val n = all.length.toLong
    val dfm = all.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    def bits(w: String): Long = 63L - java.lang.Long.numberOfLeadingZeros(n / dfm(w))
    val want = docs.map { r =>
      val ts = toks(r.getString(1))
      r.getLong(0) -> ((ts.length.toLong, ts.map(bits).sum, ts.map(bits).max))
    }.toMap
    val got = ops.TextAnalysis.unigramSurprisal(spark, dir).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val (nt, tot, mx) = want(r.getLong(0))
      assert(r.getLong(1) == nt && r.getLong(2) == tot && r.getLong(4) == mx,
        s"doc ${r.getLong(0)}")
      assert(r.getLong(3) == tot * 1000L / nt)
    }
  }

  test("frame sampling is bounded, strided, and slices the payload bytes exactly") {
    val rows = ops.Multimodal.frameSamples(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach(fs => assert(fs.length <= 8))
    rows.foreach(r => assert(r.getInt(1) % 4 == 0, "sampled frames must be strided"))
    // recompute one clip's sampled digests by hand from the raw payload
    val doc = spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(3L)) === 2L)
      .select("doc_id", "text").head()
    val payload = doc.getString(1).getBytes("UTF-8")
    val stride = (64 + doc.getLong(0) % 8 * 32).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    val got = rows.filter(_.getLong(0) == doc.getLong(0))
    assert(got.nonEmpty)
    got.foreach { r =>
      val from = r.getInt(1) * stride
      val frame = java.util.Arrays.copyOfRange(
        payload, from, math.min(from + stride, payload.length))
      assert(r.getLong(3) == frame.length.toLong)
      md.reset()
      val hex = md.digest(frame).take(8).map(b => f"$b%02x").mkString
      assert(r.getLong(4) == java.lang.Long.parseLong(hex.substring(0, 15), 16),
        s"doc ${doc.getLong(0)} frame ${r.getInt(1)} digest mismatch")
    }
  }

  test("quality filter bank applies first-match rule precedence over real metrics") {
    val rows = ops.Curation.qualityFilterBank(spark, dir).collect()
    assert(rows.length == spark.read.parquet(s"$dir/documents.parquet").count())
    rows.foreach { r =>
      val (nTok, stopPpm, dupPpm, topPpm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val expect =
        if (nTok < 20 || nTok > 100000) "word_count"
        else if (stopPpm < 20000) "stopword"
        else if (dupPpm > 20000) "repetition"
        else if (topPpm > 100000) "top_gram"
        else "pass"
      assert(r.getString(6) == expect, s"doc ${r.getLong(0)} precedence")
      assert(r.getLong(5) == (if (expect == "pass") 1L else 0L))
    }
    // a tightened top-gram knob proves that arm fires too
    val tight = ops.Curation
      .qualityFilterBank(spark, dir, maxTopGramPpm = 30000L).collect()
    assert(tight.exists(_.getString(6) == "top_gram"))
  }

  test("vocab coverage counts exactly the tokens outside the fitted top-N") {
    val rows = ops.TextAnalysis.vocabCoverage(spark, dir, vocabSize = 4).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "oov cannot exceed the token total")
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1), "ppm consistency")
      assert(r.getLong(4) <= 4L, "cannot use more vocab words than exist")
    }
    // a vocab wider than the corpus' distinct words leaves nothing OOV
    val all = ops.TextAnalysis.vocabCoverage(spark, dir, vocabSize = 1000000)
    assert(all.agg(sum("oov_tokens")).collect()(0).getLong(0) == 0L)
  }

  test("line dedup keeps first occurrences only and reassembles the survivor text") {
    import spark.implicits._
    def fp(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tmp = java.nio.file.Files.createTempDirectory("lines").toString
    Seq(
      (1L, "a b c d e f", "en", "s", 11L),    // lines: "a b c", "d e f"
      (2L, "a b c x y z", "en", "s", 11L),    // "a b c" dup of doc1; "x y z" first
      (3L, "x y z d e f g", "en", "s", 13L),  // both 3-grams dup; "g" survives
      (4L, "a b c d e f", "en", "s", 11L))    // exact copy: every line drops
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = ops.Dedup.dedupLines(spark, tmp, width = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got(1L) == ((2L, 2L, 0L, 6L, fp("a b c\nd e f"))))
    assert(got(2L) == ((2L, 1L, 1L, 3L, fp("x y z"))))
    assert(got(3L) == ((3L, 1L, 2L, 1L, fp("g"))))
    assert(got(4L) == ((2L, 0L, 2L, 0L, fp(""))))
    // corpus-wide: every distinct line survives exactly once
    val totals = ops.Dedup.dedupLines(spark, tmp, width = 3)
      .agg(sum("kept_lines")).collect()(0).getLong(0)
    assert(totals == 4L) // {"a b c", "d e f", "x y z", "g"}
  }

  test("contamination flags exactly the docs sharing a 4-gram with the benchmark") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("contam").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "src0", 30L), // benchmark
      (2L, "xx alpha beta gamma delta yy", "en", "src1", 28L),   // contaminated (1 shared 4-gram)
      (3L, "alpha beta zeta gamma delta", "en", "src1", 27L),    // same words, no shared 4-gram
      (4L, "one two three", "en", "src1", 13L))                  // too short: 0 grams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = ops.Curation.contamination(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .map(t => t._1 -> t).toMap
    assert(got(2L)._3 == 1L && got(2L)._4 > 0L)
    assert(got(3L)._3 == 0L && got(3L)._4 == 0L)
    assert(got(4L)._2 == 0L && got(4L)._3 == 0L && got(4L)._4 == -1L)
    assert(!got.contains(1L), "benchmark docs are not scored")
  }

  test("csv decode inverts the encoder exactly at codec precision") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val decoded = cdc.Codecs.csvDecode(cdc.Codecs.csv(cl))
    // the csv line carries the after image at %.4f precision; quoting
    // round-trips the JSON props (every props value contains quotes)
    val expected = cl.select(col("commit_ts"), col("schema_name"),
      col("table_name"), col("op"), col("pk"),
      round(col("after_value"), 4).as("after_value"), col("props"))
    val got = decoded.select(col("commit_ts"), col("schema_name"),
      col("table_name"), col("op"), col("pk"),
      col("after_value"), col("props"))
    assert(got.count() == cl.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // the quote-escaping branch is exercised, not vacuous
    assert(cl.filter(col("props").contains("\"")).count() > 0)
  }

  test("encoder-group batches cap at maxBatch, conserve rows, and stay contiguous") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val f = cdc.Sinks.batchFrame(cl, 16, maxBatch = 4).collect()
    assert(f.forall(r => r.getLong(4) >= 1L && r.getLong(4) <= 4L))
    assert(f.map(_.getLong(4)).sum == cl.count())
    assert(f.forall(r => r.getLong(6) <= r.getLong(7))) // first_ts <= last_ts
    for ((_, batches) <- f.groupBy(r => (r.getString(0), r.getString(1), r.getLong(2)))) {
      val ids = batches.map(_.getLong(3)).sorted
      assert(ids.sameElements(0L until ids.length.toLong), "batch ids not contiguous")
      // only the LAST batch of a stream may be short
      val short = batches.filter(_.getLong(4) < 4L).map(_.getLong(3))
      assert(short.isEmpty || (short.length == 1 && short.head == ids.last))
    }
  }

  test("A111: ordered merge equals the sequential channel/future replay") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val conc = cdc.Sinks.EncoderConcurrency
    val got = cdc.Sinks.encoderGroup(cl, 16, maxBatch = 4).collect()
      .groupBy(_.getAs[String]("schema_name"))
    assert(got.nonEmpty)
    for ((_, rows) <- got) {
      val byArrival = rows.sortBy(_.getAs[Long]("batch_seq"))
      // the Go machinery replayed sequentially: a FIFO queue per
      // encoder (runEncoder), the atomic round-robin counter
      // (AddEvents: add-then-mod, first future -> encoder 1), the
      // output channel in arrival order, Ready awaited per future
      var counter = 0L
      val encClock = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      val encSeq = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      var outClock = 0L
      for (r <- byArrival) {
        counter += 1
        val idx = counter % conc
        assert(r.getAs[Long]("batch_seq") == counter)
        assert(r.getAs[Long]("enc_idx") == idx, s"round-robin at $counter")
        encSeq(idx) += 1
        assert(r.getAs[Long]("enc_seq") == encSeq(idx), "channel FIFO order")
        val cost = r.getAs[Long]("n_rows") * cdc.Sinks.EncCostPerRowUs +
          r.getAs[Long]("batch_bytes") / 100 * cdc.Sinks.EncCostPer100BytesUs
        assert(r.getAs[Long]("cost_us") == cost)
        encClock(idx) += cost
        assert(r.getAs[Long]("ready_us") == encClock(idx), "encoder clock")
        // the consumer awaits THIS future after all earlier ones
        outClock = math.max(outClock, encClock(idx))
        assert(r.getAs[Long]("consume_us") == outClock, "ordered merge")
        assert(r.getAs[Long]("hol_wait_us") == outClock - encClock(idx))
      }
      // the reorder invariant is the point: output order == arrival
      // order for every future, even when a later-arriving future on a
      // lightly-loaded encoder was ready earlier
      assert(rows.forall(_.getAs[Long]("order_preserved") == 1L))
      val overtaken = byArrival.sliding(2).exists { case Array(a, b) =>
        b.getAs[Long]("ready_us") < a.getAs[Long]("ready_us")
      }
      assert(overtaken, "fixture never exercised an out-of-order ready")
      // round-robin balance: encoder loads differ by at most one future
      val loads = byArrival.groupBy(_.getAs[Long]("enc_idx"))
        .view.mapValues(_.length.toLong).values
      assert(loads.max - loads.min <= 1L)
    }
  }

  test("byte-capped batches are greedy-maximal and respect both caps") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val f = cdc.Sinks.batchFrameBytes(cl, 16, maxBatch = 6, maxBytes = 300L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(f.map(_._5).sum == cl.count(), "row conservation")
    for ((_, _, _, _, rows, bytes, _, _) <- f) {
      assert(rows >= 1L && rows <= 6L)
      // the byte cap can only be exceeded by a singleton oversize event
      assert(bytes <= 300L || rows == 1L, s"batch of $rows rows at $bytes bytes")
    }
    for ((_, stream) <- f.groupBy(t => (t._1, t._2, t._3))) {
      val byId = stream.sortBy(_._4)
      assert(byId.map(_._4).sameElements(0L until byId.length.toLong),
        "batch ids not contiguous")
    }
    // both close reasons occur on this data: count-full and byte-capped
    assert(f.exists(_._5 == 6L), "no count-capped batch")
    assert(f.exists(b => b._5 < 6L && b._5 > 1L), "no byte-capped batch")
    // open/encoder.go pushMessage transcribed (no message head): the
    // three streams with the most batches, replayed sequentially, must
    // produce identical batch boundaries
    for ((key, stream) <- f.groupBy(t => (t._1, t._2, t._3)).toSeq
        .sortBy(kv => (-kv._2.length, kv._1.toString)).take(3)) {
      val evs = cl.filter(col("schema_name") === key._1 &&
          col("table_name") === key._2)
        .select(cdc.Dispatchers.indexValueBucket(16).as("p"), col("commit_ts"),
          octet_length(cdc.Codecs.openProtocolValue).cast("long"))
        .filter(col("p") === key._3)
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val batches = collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
      var i = 0
      while (i < evs.length) {
        val (t0, b0) = evs(i); var n = 1L; var acc = b0; var lastT = t0; i += 1
        while (i < evs.length && n < 6L && acc + evs(i)._2 <= 300L) {
          n += 1; acc += evs(i)._2; lastT = evs(i)._1; i += 1
        }
        batches += ((n, acc, t0, lastT))
      }
      val got = stream.sortBy(_._4).map(t => (t._5, t._6, t._7, t._8)).toSeq
      assert(got == batches.toSeq, s"$key: $got != $batches")
    }
  }

  test("flush-interval batches close on size, ticker, and eof exactly like the worker loop") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val f = cdc.Sinks.batchFrameFlush(cl, 16, maxBatch = 6, flushInterval = 60L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(6), r.getLong(7), r.getString(8)))
    assert(f.map(_._5).sum == cl.count(), "row conservation")
    for ((_, _, _, _, rows, first, last, reason) <- f) {
      assert(rows >= 1L && rows <= 6L)
      // every admitted event beat the ticker: the batch's ts span is
      // strictly inside the flush interval
      assert(last - first < 60L, s"batch spans $first..$last")
      assert(reason == "size" || reason == "flush" || reason == "eof")
      if (rows == 6L) assert(reason == "size")
    }
    // kafka_dml_worker.go batch() transcribed: one stream replayed
    // sequentially must produce identical batch boundaries
    for ((key, stream) <- f.groupBy(t => (t._1, t._2, t._3)).take(3)) {
      val ts = cl.filter(col("schema_name") === key._1 &&
          col("table_name") === key._2)
        .select(cdc.Dispatchers.indexValueBucket(16).as("p"), col("commit_ts"))
        .filter(col("p") === key._3)
        .collect().map(_.getLong(1)).sorted.toSeq
      val batches = collection.mutable.Buffer.empty[(Long, Long, Long)]
      var i = 0
      while (i < ts.length) {
        val t0 = ts(i); var n = 1L; var lastT = t0; i += 1
        while (i < ts.length && n < 6L && ts(i) - t0 < 60L) {
          n += 1; lastT = ts(i); i += 1
        }
        batches += ((n, t0, lastT))
      }
      val got = stream.sortBy(_._4).map(t => (t._5, t._6, t._7)).toSeq
      assert(got == batches.toSeq, s"$key: $got != $batches")
    }
    // all three close reasons occur on this data
    assert(f.exists(_._8 == "size"), "no size-closed batch")
    assert(f.exists(_._8 == "flush"), "no ticker-closed batch")
    assert(f.exists(_._8 == "eof"), "no eof-closed batch")
  }

  test("funnel stages are ordered and consistent with raw event timelines") {
    val rows = queries.Analytics.qFunnel(spark, dir).collect()
    for (r <- rows) {
      val (v, c, p, stage) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // strict ordering when reached; -1 propagates down the funnel
      if (c != -1L) assert(v != -1L && c > v)
      if (p != -1L) assert(c != -1L && p > c)
      assert(stage == Seq(v, c, p).count(_ != -1L).toLong)
    }
    // cross-check one user against a hand-computed funnel
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val u = rows.head.getLong(0)
    val mine = ev.filter(_._1 == u)
    val vw = mine.filter(_._2 == "view").map(_._3).minOption.getOrElse(-1L)
    val ck = if (vw == -1L) -1L
      else mine.filter(e => e._2 == "click" && e._3 > vw).map(_._3).minOption.getOrElse(-1L)
    val pu = if (ck == -1L) -1L
      else mine.filter(e => e._2 == "purchase" && e._3 > ck).map(_._3).minOption.getOrElse(-1L)
    val got = rows.find(_.getLong(0) == u).get
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((vw, ck, pu)))
  }

  test("retention cohort cells partition each user's active days") {
    val cells = queries.Analytics.qRetention(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // offset 0 exists for every cohort and no offset is negative
    val cohorts = cells.keys.map(_._1).toSet
    for (cd <- cohorts) assert(cells.contains((cd, 0L)), s"cohort $cd misses day 0")
    assert(cells.keys.forall(_._2 >= 0L))
    // total cell mass = number of distinct (user, day) pairs
    val userDays = graft.util.Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      .distinct().count()
    assert(cells.values.sum == userDays)
  }

  test("sequence packing tiles each shard stream exactly") {
    val rows = ops.Corpus.seqPack(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    for ((_, shard) <- rows.groupBy(t => (t._1, t._2))) {
      val ordered = shard.sortBy(_._3)
      var cum = 0L
      for ((_, _, _, n, bin, off) <- ordered) {
        assert(bin == cum / 2048L && off == cum % 2048L)
        cum += n
      }
    }
  }

  test("corpus stats totals equal per-document sums") {
    val stats = ops.Corpus.corpusStats(spark, dir).collect()
    val docs = graft.util.Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(ops.Text.tokens(col("text"))).cast("long").as("n"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    for (s <- stats) {
      val cell = docs.filter(d => d._1 == s.getString(0) && d._2 == s.getString(1))
      assert(s.getLong(2) == cell.length.toLong)
      assert(s.getLong(3) == cell.map(_._3).sum)
      assert(s.getLong(4) == cell.map(_._4).sum)
      // p50/p95 bracket the observed token range, scaled
      val (lo, hi) = (cell.map(_._3).min * 10000, cell.map(_._3).max * 10000)
      assert(s.getLong(5) >= lo && s.getLong(5) <= hi)
      assert(s.getLong(6) >= s.getLong(5) && s.getLong(6) <= hi)
    }
  }

  test("corpus manifest decisions agree with the component operators") {
    val m = ops.Curation.corpusManifest(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    val docs = graft.util.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == docs.size, "every document gets a manifest row")
    // keep flag mirrors the reason; benchmark docs are always excluded
    for ((id, (reason, split, keep)) <- m) {
      assert(keep == (if (reason == "keep") 1L else 0L))
      if (docs(id) == "src0") assert(reason == "benchmark")
      assert(Set("train", "val", "test")(split))
    }
    // non-canonical cluster members are dropped as duplicates
    val dups = ops.Curation.dedupClusters(spark, dir)
      .filter(col("canonical") === 0L).collect().map(_.getLong(0))
    for (d <- dups if docs(d) != "src0") assert(m(d)._1 == "duplicate")
  }

  test("C49: keep-best retains exactly the max-quality member of every cluster") {
    val kb = ops.Curation.dedupKeepBest(spark, dir).cache()
    val scores = ops.TextAnalysis.qualityModelFilter(spark, dir)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = kb.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty && rows.forall { case (id, _, _, s, _, _) =>
      s == scores(id) })
    rows.groupBy(_._2).foreach { case (cid, members) =>
      // exactly one survivor, and it is the (score desc, id asc) argmax
      assert(members.count(_._5 == 1L) == 1, s"cluster $cid keep count")
      val best = members.minBy(m => (-m._4, m._1))
      assert(best._5 == 1L, s"cluster $cid kept ${members.filter(_._5 == 1L)}")
      // why mirrors the decision
      members.foreach { m =>
        val expect = if (m._3 == 1L) "singleton"
          else if (m._5 == 1L) "best_quality" else "dominated"
        assert(m._6 == expect, s"doc ${m._1}: ${m._6} != $expect")
      }
    }
    kb.unpersist()
  }

  test("stratified sampling is deterministic and respects per-language rates") {
    val s1 = ops.Curation.stratifiedSample(spark, dir).collect()
    val s2 = ops.Curation.stratifiedSample(spark, dir).collect()
    assert(s1.map(_.getLong(0)).sorted.sameElements(s2.map(_.getLong(0)).sorted))
    // every kept row satisfies its own threshold
    assert(s1.forall(r => r.getLong(2) < r.getLong(3)))
    // a different salt produces a different (versioned) sample
    val s3 = ops.Curation.stratifiedSample(spark, dir, salt = "graft-strat-v2:").collect()
    assert(!s1.map(_.getLong(0)).sorted.sameElements(s3.map(_.getLong(0)).sorted))
  }

  test("A52: mysql ddl_ts blocked-table sets follow WriteBlockEvent influence semantics") {
    import spark.implicits._
    // universe: two schemas × three tables, ids per the tableID convention
    val uniCl = Seq(
      ("db0", "t0"), ("db0", "t1"), ("db0", "t2"),
      ("db1", "t0"), ("db1", "t1"), ("db1", "t2"))
      .toDF("schema_name", "table_name")
    val uni = cdc.MysqlDdl.universe(uniCl)
    // one DDL per influence arm of mysql_writer.go:258-281, plus both
    // drop shapes (:269-281, :329-363)
    val ddl = Seq(
      ("db0", "t1", 100L, "ALTER", "ALTER TABLE db0.t1 ADD COLUMN v1 BIGINT"),
      ("db0", "t2", 200L, "DROP_TABLE", "DROP TABLE db0.t2"),
      ("db1", "t0", 300L, "DROP_DATABASE", "DROP DATABASE db1"),
      ("db0", "t0", 400L, "FLASHBACK", "FLASHBACK CLUSTER TO TIMESTAMP '...'"))
      .toDF("schema_name", "table_name", "valid_from", "ddl_type", "query")
    val rows = cdc.MysqlDdl.frameFrom(ddl, uni, "cid", "cf")
      .collect().map(r => r.getString(3) -> r).toMap

    // normal influence: the DDL's own span only (db0.t1 -> id 1)
    val alter = rows("ALTER")
    assert(alter.getString(7) == "normal" && alter.getLong(8) == 1L)
    assert(alter.getString(9) == "1")
    assert(alter.getString(10) ==
      "INSERT INTO tidb_cdc.ddl_ts_v1 (ticdc_cluster_id, changefeed, ddl_ts, table_id) VALUES " +
        "('cid', 'cf', '100', 1) " +
        "ON DUPLICATE KEY UPDATE ddl_ts=VALUES(ddl_ts), created_at=CURRENT_TIMESTAMP;")
    assert(alter.getLong(11) == 0L && alter.isNullAt(12))

    // normal drop: bookkeeping upserts AND deletes its own id (db0.t2 -> 2)
    val dropT = rows("DROP_TABLE")
    assert(dropT.getString(7) == "normal" && dropT.getLong(8) == 1L)
    assert(dropT.getLong(11) == 1L)
    assert(dropT.getString(12) ==
      "DELETE FROM tidb_cdc.ddl_ts_v1 WHERE (ticdc_cluster_id, changefeed, table_id) IN " +
        "(('cid', 'cf', 2))")

    // db influence: every table of the schema (db1 -> ids 1000,1001,1002),
    // dropped too
    val dropDb = rows("DROP_DATABASE")
    assert(dropDb.getString(7) == "db" && dropDb.getLong(8) == 3L)
    assert(dropDb.getString(9) == "1000,1001,1002")
    assert(dropDb.getLong(11) == 3L)
    assert(dropDb.getString(12).contains(
      "(('cid', 'cf', 1000), ('cid', 'cf', 1001), ('cid', 'cf', 1002))"))

    // all influence: the whole changefeed universe, ordered by table id
    val flash = rows("FLASHBACK")
    assert(flash.getString(7) == "all" && flash.getLong(8) == 6L)
    assert(flash.getString(9) == "0,1,2,1000,1001,1002")
    assert(flash.getLong(11) == 0L && flash.isNullAt(12))

    // tableID injectivity: the convention must never merge two tables'
    // bookkeeping rows — the old x3 multiplier collided at 4 tables per
    // schema (db1.t0 vs db0.t3); assert over a wide universe
    val wide = (for (db <- 0 to 2; t <- 0 to 6) yield (s"db$db", s"t$t"))
      .toDF("schema_name", "table_name")
    val wideIds = cdc.MysqlDdl.universe(wide)
      .select(col("table_id").cast("long")).collect().map(_.getLong(0))
    assert(wideIds.distinct.length == wideIds.length, "tableID must be injective")

    // exec policy: sync + the reference's retry budget on every row
    assert(rows.values.forall(r => r.getString(5) == "sync" && r.getLong(6) == 20L))

    // TiDB downstream: ADD INDEX goes async (asyncExecAddIndexDDLIfTimeout,
    // mysql_writer.go:91), everything else stays sync
    val withIdx = ddl.union(Seq(
      ("db0", "t0", 500L, "ALTER", "ALTER TABLE db0.t0 ADD INDEX idx_v (v1)"))
      .toDF("schema_name", "table_name", "valid_from", "ddl_type", "query"))
    val modes = cdc.MysqlDdl.frameFrom(withIdx, uni, "cid", "cf", isTiDB = true)
      .select(col("exec_sql"), col("exec_mode")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(modes.filter(_._1.contains("ADD INDEX")).values.forall(_ == "async"))
    assert(modes.filterNot(_._1.contains("ADD INDEX")).values.forall(_ == "sync"))
  }

  test("A55: resume start-ts follows GetStartTsList semantics incl. drops and re-creates") {
    import spark.implicits._
    val uniCl = Seq(
      ("db0", "t0"), ("db0", "t1"), ("db0", "t2"),
      ("db1", "t0"), ("db1", "t1"), ("db1", "t2"))
      .toDF("schema_name", "table_name")
    val uni = cdc.MysqlDdl.universe(uniCl)
    val ddl = Seq(
      ("db0", "t0", 0L, "CREATE", "CREATE TABLE db0.t0 (...)"),
      ("db0", "t0", 100L, "ALTER", "ALTER TABLE db0.t0 ADD COLUMN v1 BIGINT"),
      ("db0", "t1", 0L, "CREATE", "CREATE TABLE db0.t1 (...)"),
      ("db0", "t1", 200L, "DROP_TABLE", "DROP TABLE db0.t1"),
      ("db0", "t2", 0L, "CREATE", "CREATE TABLE db0.t2 (...)"),
      ("db0", "t2", 150L, "DROP_TABLE", "DROP TABLE db0.t2"),
      ("db0", "t2", 300L, "CREATE", "CREATE TABLE db0.t2 (...)"), // re-created
      ("db1", "t0", 0L, "CREATE", "CREATE TABLE db1.t0 (...)"),
      ("db1", "t1", 0L, "CREATE", "CREATE TABLE db1.t1 (...)"),
      ("db1", "t0", 250L, "DROP_DATABASE", "DROP DATABASE db1"))
      .toDF("schema_name", "table_name", "valid_from", "ddl_type", "query")
    val rows = cdc.MysqlDdl.startTsFrom(ddl, uni).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.size == 6, "one resume row per universe table")
    assert(rows(("db0", "t0")) == (100L, 0L), "last upsert wins")
    assert(rows(("db0", "t1")) == (0L, 1L), "dropped table resumes as new")
    assert(rows(("db0", "t2")) == (300L, 0L), "re-create after drop resumes at the re-create")
    assert(rows(("db1", "t0")) == (0L, 1L), "db drop clears the whole schema")
    assert(rows(("db1", "t1")) == (0L, 1L), "db drop clears the whole schema")
    assert(rows(("db1", "t2")) == (0L, 1L), "never-touched table is new")
  }

  test("A54: syncpoint statements carry a monotone applied position and the cleanup cadence") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val sp = cdc.MysqlDdl.syncpointStmts(cl)
      .orderBy(col("primary_ts")).collect()
    assert(sp.nonEmpty)
    // the downstream position never exceeds the syncpoint's upstream ts
    // and never goes backwards (it is the applied max <= boundary)
    assert(sp.forall(r => r.getLong(1) <= r.getLong(0)))
    val secs = sp.map(_.getLong(1))
    assert(secs.zip(secs.tail).forall { case (a, b) => a <= b })
    // statements render the ts pair verbatim
    for (r <- sp) {
      assert(r.getString(2) == "insert ignore into tidb_cdc.syncpoint_v1 " +
        "(ticdc_cluster_id, changefeed, primary_ts, secondary_ts) VALUES " +
        s"('graft-cluster', 'cf-1', ${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getString(3) == s"set global tidb_external_ts = ${r.getLong(1)}")
    }
    // retention sweep fires exactly on the cadence (every 5th boundary)
    assert(sp.forall(r =>
      (r.getLong(4) == 1L) ==
        ((r.getLong(0) / cdc.Materialize.SyncStep) % 5L == 0L)))
    assert(sp.forall(r => (r.getLong(4) == 1L) == !r.isNullAt(5)))
  }

  test("as-of join equals the naive per-purchase latest-view recomputation") {
    val e = graft.util.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_us"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("view_us"),
        col("event_id").as("view_id"))
    // naive quadratic-per-user: every candidate pair, then argmax by
    // (view_us, view_id) — the semantics the one-pass window must match
    val naive = p.join(v, Seq("user_id"), "left")
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_us"))
      .agg(max(when(col("view_us") <= col("purchase_us"),
        struct(col("view_us"), col("view_id")))).as("best"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("best.view_id").as("asof_view_id"),
        col("best.view_us").as("asof_view_us"),
        (col("purchase_us") - col("best.view_us")).as("gap_us"))
    val got = queries.Analytics.qAsofJoin(spark, dir)
    assert(got.count() == p.count(), "every purchase must emit exactly one row")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
      "window as-of must equal the naive argmax recomputation")
  }

  test("mixture weights conserve shares and flatten toward small cells") {
    val rows = ops.Corpus.sourceMixWeights(spark, dir).collect()
    assert(rows.nonEmpty)
    val cells = rows.map(r => (r.getAs[Long]("tokens"), r.getAs[Long]("natural_ppm"),
      r.getAs[Long]("target_ppm"), r.getAs[Long]("weight_x1000"),
      r.getAs[Long]("oversampled")))
    // shares are ppm partitions of unity (floor-division slack < #cells)
    assert(math.abs(cells.map(_._2).sum - 1000000L) < cells.length)
    assert(math.abs(cells.map(_._3).sum - 1000000L) < cells.length)
    // integer recomputation from first principles
    val tot = cells.map(_._1).sum
    val smt = cells.map(c => math.sqrt(c._1.toDouble).toLong).sum
    for ((tk, nat, tgt, w, over) <- cells) {
      assert(nat == tk * 1000000L / tot && tgt == math.sqrt(tk.toDouble).toLong * 1000000L / smt)
      assert(w == tgt * 1000L / math.max(nat, 1L))
      assert((over == 1L) == (tgt > nat))
    }
    // temperature smoothing flattens: the smallest cell is oversampled
    // (weight > 1), the largest undersampled (weight < 1)
    val byTokens = cells.sortBy(_._1)
    assert(byTokens.head._4 > 1000L, s"smallest cell not oversampled: ${byTokens.head}")
    assert(byTokens.last._4 < 1000L, s"largest cell not undersampled: ${byTokens.last}")
  }

  test("semantic dedup drops exactly the docs with a lower-id cell neighbor above tau") {
    val tau = 0.4
    // naive recomputation from the shared IVF assignment: a doc drops
    // iff its cell holds a LOWER-id doc with cosine >= tau, keyed to
    // the smallest such keeper — quadratic within cells, like the
    // operator, but built from first principles on the test side
    val assigned = ops.Similarity.ivfIndex(spark, dir)._2
    val a = assigned.select(col("cent_id"), col("vec_id").as("keep_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("doc_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val naive = a.join(b, Seq("cent_id"))
      .filter(col("keep_id") < col("doc_id"))
      .withColumn("cosine",
        round(graft.functions.VectorExprs.dot("va", "vb") / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= tau)
      .groupBy(col("doc_id"))
      .agg(min(col("keep_id")).as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = ops.Similarity.dedupSemantic(spark, dir, tau).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dup_of"), r.getAs[Double]("cosine"))).toMap
    assert(got.keySet == naive.keySet,
      s"dropped sets differ: ${got.keySet.diff(naive.keySet)} / ${naive.keySet.diff(got.keySet)}")
    assert(got.forall { case (d, (k, _)) => naive(d) == k },
      "every dropped doc must key to its smallest qualifying keeper")
    assert(got.forall { case (d, (k, cos)) => k < d && cos >= tau })
  }

  test("semantic dedup pairs resolve through the C18 component machinery") {
    // the SURVEY contract: C25's dropped pairs feed C18's cluster
    // resolution exactly like the MinHash pair stream — run them
    // through the actual large-star/small-star CC and check closure
    val pairs = ops.Similarity.dedupSemantic(spark, dir, tau = 0.35)
      .select(col("doc_id").as("u"), col("dup_of").as("v")).cache()
    assert(pairs.count() > 0, "no semantic pairs at this tau — lower it")
    val assign = ops.Curation.connectedComponents(pairs)
      .select(col("u").as("node"), col("v").as("root")).cache()
    def rootOf(side: String) = assign
      .select(col("node").as(side), col("root").as(s"r_$side"))
    val joined = pairs
      .join(rootOf("u"), Seq("u"), "left")
      .join(rootOf("v"), Seq("v"), "left")
      .select(coalesce(col("r_u"), col("u")).as("ru"),
        coalesce(col("r_v"), col("v")).as("rv"))
    assert(joined.filter(col("ru") =!= col("rv")).count() == 0,
      "a semantic pair's endpoints resolved to different clusters")
    // roots are component minima (the canonical-keeper convention)
    assert(assign.filter(col("root") > col("node")).count() == 0)
  }

  test("simple-avro arm decodes to the JSON arm's exact frame and flags truncation") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    // the two wire formats of marshaller.go carry identical information:
    // decode(avro-binary stream) == decode(json stream), column for column
    val avroDec = cdc.SimpleAvro.decode(cl)
    val jsonDec = cdc.SimpleProtocol.decode(cl)
    assert(avroDec.count() == jsonDec.count())
    assert(avroDec.exceptAll(jsonDec).isEmpty && jsonDec.exceptAll(avroDec).isEmpty,
      "avro-arm decode must equal the JSON-arm decode frame exactly")
    // tamper: drop the final byte of every message — the sequential
    // parser must flag every frame CORRUPT, never return a stale decode
    val tampered = cdc.SimpleAvro.messages(cl)
      .withColumn("value", expr("substring(value, 1, length(value) - 2)"))
    val kinds = cdc.SimpleAvro.decodeFrom(tampered)
      .select("msg_kind").distinct().collect().map(_.getString(0))
    assert(kinds.sameElements(Array("CORRUPT")),
      s"truncated avro messages must all decode CORRUPT, got ${kinds.mkString(",")}")
  }

  test("open-wire batches respect the version+length framing and split back to A20 pairs") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val maxBatch = 4
    val msgs = cdc.OpenWire.messages(cl, n = 16, maxBatch = maxBatch).cache()
    val rowMsgs = msgs.filter(col("msg_type") === "ROW").cache()
    // batch membership: never above the cap, row-conserving, and every
    // stream's batches are full except possibly the last
    assert(rowMsgs.filter(col("n_rows") > maxBatch).count() == 0)
    assert(rowMsgs.agg(sum(col("n_rows"))).head.getLong(0) == cl.count())
    assert(rowMsgs.filter(col("n_rows") < maxBatch)
      .groupBy(col("schema_name"), col("table_name"), col("partition"))
      .count().filter(col("count") > 1).count() == 0,
      "at most one partial batch per (table, partition) stream")
    // wire framing: every key leads with the 8-byte BatchVersion1 head
    assert(msgs.filter(!col("key_wire").startsWith("0000000000000001")).count() == 0)
    // decode splits every message back into exactly the A20 (key, value)
    // pairs computed directly from the changelog — proof the length
    // prefixes tile the wire
    val pairs = cdc.OpenWire.decode(msgs)
      .filter(col("msg_type") === "ROW").select("key", "value")
    val direct = cl.select(cdc.Codecs.openProtocolKey.as("key"),
      cdc.Codecs.openProtocolValue.as("value"))
    assert(pairs.exceptAll(direct).isEmpty && direct.exceptAll(pairs).isEmpty,
      "decode(pushMessage(events)) must reproduce the per-event key/value JSONs")
    // a RESOLVED message is key-only: bare zero-length value segment
    assert(msgs.filter(col("msg_type") === "RESOLVED")
      .filter(col("value_wire") =!= "0000000000000000").count() == 0)
    // tamper: a flipped version head or a truncated segment fails the
    // parse (null array), never yields a partial split
    val badVer = rowMsgs.withColumn("key_wire",
      concat(lit("00000000000000FF"), expr("substring(key_wire, 17)")))
    assert(cdc.OpenWire.decode(badVer).count() == 0, "bad version must not decode")
    val cut = rowMsgs.withColumn("value_wire",
      expr("substring(value_wire, 1, length(value_wire) - 2)"))
    assert(cdc.OpenWire.decode(cut).count() == 0, "truncated segment must not decode")
  }

  test("byte-capped open-wire batches respect both caps, are greedy-maximal, and still decode") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val (maxBatch, maxBytes) = (6, 900L)
    val msgs = cdc.OpenWire.messagesByteCapped(cl, 16, maxBatch, maxBytes).cache()
    val rows = msgs.filter(col("msg_type") === "ROW").cache()
    // wire length per message: key_wire counts the 8-byte head + the
    // per-event 16 prefix bytes, so hex/2 over both sides IS the
    // reference's message Length() — never above the cap unless a
    // single oversized event forms a singleton
    val over = rows.filter(
      (length(col("key_wire")) + length(col("value_wire"))) / 2 > maxBytes &&
        col("n_rows") > 1)
    assert(over.count() == 0, "a multi-event message exceeded MaxMessageBytes")
    assert(rows.filter(col("n_rows") > maxBatch).count() == 0)
    assert(rows.agg(sum(col("n_rows"))).head.getLong(0) == cl.count())
    // both close rules fire at this threshold
    assert(rows.filter(col("n_rows") === maxBatch).count() > 0, "count cap never hit")
    assert(rows.filter(col("n_rows") < maxBatch).count() > 0, "byte cap never hit")
    // the framing still tiles: decode reproduces the per-event pairs
    val pairs = cdc.OpenWire.decode(msgs)
      .filter(col("msg_type") === "ROW").select("key", "value")
    val direct = cl.select(cdc.Codecs.openProtocolKey.as("key"),
      cdc.Codecs.openProtocolValue.as("value"))
    assert(pairs.exceptAll(direct).isEmpty && direct.exceptAll(pairs).isEmpty)
    // pushMessage transcribed: a message opens with the 8-byte version
    // head and admits an event (key + value + 16 prefix bytes) while it
    // holds fewer than maxBatch events and stays within maxBytes; the
    // three streams with the most messages, replayed sequentially, must
    // produce identical boundaries and wire lengths
    type Key = (String, String, Long)
    def messageLens(msgs: org.apache.spark.sql.DataFrame): Map[Key, Seq[(Long, Long)]] =
      msgs.filter(col("msg_type") === "ROW")
        .select(col("schema_name"), col("table_name"), col("partition"),
          col("batch_id"), col("n_rows"),
          ((length(col("key_wire")) + length(col("value_wire"))) / 2).cast("long"))
        .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
          (r.getLong(3), r.getLong(4), r.getLong(5))))
        .groupBy(_._1).map { case (k, ms) =>
          k -> ms.map(_._2).sortBy(_._1).map(m => (m._2, m._3)).toSeq }
    def eventLens(key: Key): Seq[Long] =
      cl.filter(col("schema_name") === key._1 && col("table_name") === key._2)
        .select(cdc.Dispatchers.indexValueBucket(16).as("p"), col("commit_ts"),
          (octet_length(cdc.Codecs.openProtocolKey) +
            octet_length(cdc.Codecs.openProtocolValue) + 16).cast("long"))
        .filter(col("p") === key._3)
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).map(_._2).toSeq
    def replay(evs: Seq[Long], cap: Long): Seq[(Long, Long)] = {
      val msgLens = collection.mutable.Buffer.empty[(Long, Long)]
      var i = 0
      while (i < evs.length) {
        var n = 1L; var len = 8L + evs(i); i += 1
        while (i < evs.length && n < maxBatch && len + evs(i) <= cap) {
          n += 1; len += evs(i); i += 1
        }
        msgLens += ((n, len))
      }
      msgLens.toSeq
    }
    val got = messageLens(msgs).toSeq
      .sortBy(kv => (-kv._2.length, kv._1.toString)).take(3)
    for ((key, byId) <- got) {
      val msgLens = replay(eventLens(key), maxBytes)
      assert(byId == msgLens, s"$key: $byId != $msgLens")
    }
    // the head decides a boundary: with the cap at S + 4, S the wire
    // bytes of a stream's first k events, the k events fit only in a
    // message without the 8-byte head, so the first message closes at
    // k - 1 (a fold that dropped the head would hold all k)
    val (key, _) = got.head
    val evs = eventLens(key)
    val k = 3
    val headCap = evs.take(k).sum + 4
    val capped = messageLens(cdc.OpenWire.rows(cl, 16, maxBatch, headCap))(key)
    assert(capped.head._1 == k - 1, s"$key at cap $headCap: $capped")
    assert(capped == replay(evs, headCap), s"$key at cap $headCap: $capped")
  }

  test("canal envelope carries _tidb extensions, DDL frames, and one watermark") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val env = cdc.Codecs.canalEnvelope(cl).cache()
    // DML: the A19 body + _tidb.commitTs, nothing else changed
    val dml = env.filter(col("msg_type") === "ROW").cache()
    assert(dml.count() == cl.count())
    assert(dml.filter(get_json_object(col("value"), "$._tidb.commitTs").cast("long")
      =!= col("commit_ts")).count() == 0)
    assert(dml.filter(get_json_object(col("value"), "$.isDdl") =!= "false").count() == 0)
    // DDL: one frame per schema event, isDdl=true, canal action word,
    // the query on board
    val ddlSrc = cdc.SchemaStore.ddlEvents(cl, Nil).cache()
    val ddl = env.filter(col("msg_type") === "DDL").cache()
    assert(ddl.count() == ddlSrc.count())
    assert(ddl.filter(get_json_object(col("value"), "$.isDdl") =!= "true").count() == 0)
    assert(ddl.filter(!get_json_object(col("value"), "$.type").isin("CREATE", "ALTER"))
      .count() == 0)
    assert(ddl.filter(get_json_object(col("value"), "$.sql").isNull).count() == 0)
    // exactly one TIDB_WATERMARK, riding the stream's high water mark
    val wm = env.filter(col("msg_type") === "WATERMARK").collect()
    assert(wm.length == 1)
    val rts = cl.agg(max(col("commit_ts"))).head.getLong(0)
    val wmJson = wm.head.getAs[String]("value")
    assert(wm.head.getAs[Long]("commit_ts") == rts)
    assert(wmJson.contains(s""""_tidb":{"watermarkTs":$rts}""") &&
      wmJson.contains(""""type":"TIDB_WATERMARK""""))
  }

  test("DDL routing pins canal DDLs to partition 0 and broadcasts elsewhere") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val rules = Seq(Seq("db0.%") -> "t_{schema}")
    val n = 8
    val open = cdc.Routing.ddlRouting(cl, rules, "changefeed", "open", n).cache()
    val canal = cdc.Routing.ddlRouting(cl, rules, "changefeed", "canal-json", n).cache()
    val nDdl = cdc.SchemaStore.ddlEvents(cl, Nil).count()
    // broadcast arm: every DDL delivered to ALL n partitions
    assert(open.filter(col("msg_kind") === "DDL").count() == nDdl * n)
    // canal arm: exactly one delivery per DDL, always partition 0
    val cd = canal.filter(col("msg_kind") === "DDL")
    assert(cd.count() == nDdl)
    assert(cd.filter(col("partition") =!= 0L).count() == 0)
    // checkpoints are protocol-independent: the max commit_ts broadcast
    // to every partition of every ACTIVE topic
    val topics = cl.select(cdc.Routing.topicFor(rules, "changefeed").as("t"))
      .distinct().count()
    for (arm <- Seq(open, canal)) {
      val ck = arm.filter(col("msg_kind") === "CHECKPOINT")
      assert(ck.count() == topics * n)
      assert(ck.filter(col("commit_ts") =!=
        cl.agg(max(col("commit_ts"))).head.getLong(0)).count() == 0)
    }
  }

  test("canal envelope decode inverts the envelope and routes all three message kinds") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    val dec = cdc.Codecs.canalEnvelopeDecode(cl).cache()
    // ROW rows reproduce the changelog at codec precision (%.4f wire)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      col("commit_ts"), col("schema_name"), col("table_name"), col("op"),
      col("pk"), round(col("before_value"), 4).as("b"),
      round(col("after_value"), 4).as("a"))
    val rows = canon(dec.filter(col("msg_kind") === "ROW"))
    val src = canon(cl)
    assert(rows.exceptAll(src).isEmpty && src.exceptAll(rows).isEmpty,
      "decoded ROW stream must reproduce the changelog")
    // DDL frames: one per schema event, carrying the query + action word
    val ddl = dec.filter(col("msg_kind") === "DDL")
    assert(ddl.count() == cdc.SchemaStore.ddlEvents(cl, Nil).count())
    assert(ddl.filter(col("ddl_sql").isNull ||
      !col("ddl_type").isin("CREATE", "ALTER")).count() == 0)
    // exactly one RESOLVED at the high watermark, db/table decoded NULL
    val res = dec.filter(col("msg_kind") === "RESOLVED").collect()
    assert(res.length == 1)
    assert(res.head.getAs[Long]("commit_ts") ==
      cl.agg(max(col("commit_ts"))).head.getLong(0))
    assert(res.head.isNullAt(res.head.fieldIndex("schema_name")))
  }

  test("handle-key-only degrades exactly the claim-check set, keeping only the pk") {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    // self-calibrating threshold: the compressed-size median always
    // splits the stream, whatever the message shape grows to
    val maxBytes = cdc.Sinks.compressedClaimCheck(cl, n = 16, maxBytes = 0)
      .stat.approxQuantile("compressed_bytes", Array(0.5), 0.0)(0).toInt
    val hk = cdc.Sinks.handleKeyOnly(cl, n = 16, maxBytes = maxBytes).cache()
    val ccSet = cdc.Sinks.compressedClaimCheck(cl, n = 16, maxBytes = maxBytes)
      .filter(col("claimed")).select("commit_ts")
    val hkSet = hk.filter(col("mode") === "handle_key").select("commit_ts")
    // the two large-message options share one gate: identical sets
    assert(hkSet.count() > 0 && hk.filter(col("mode") === "inline").count() > 0,
      "threshold must split the stream")
    assert(hkSet.exceptAll(ccSet).isEmpty && ccSet.exceptAll(hkSet).isEmpty,
      "handle-key degrade set must equal the claim-check set at the same threshold")
    // degraded frames: marked onlyHandleKey, data = just the pk, old dropped
    val deg = hk.filter(col("mode") === "handle_key")
    assert(deg.filter(get_json_object(col("value"), "$._tidb.onlyHandleKey")
      =!= "true").count() == 0)
    assert(deg.filter(get_json_object(col("value"), "$.data[0].value").isNotNull)
      .count() == 0, "degraded data must not carry the value column")
    assert(deg.filter(get_json_object(col("value"), "$.old") =!= lit(null))
      .filter(get_json_object(col("value"), "$.old").isNotNull).count() == 0)
    // inline frames are byte-identical to the plain canal-json value
    val inlineBad = hk.filter(col("mode") === "inline")
      .join(cdc.Codecs.canalJson(cl).withColumnRenamed("value", "want"),
        Seq("commit_ts"))
      .filter(col("value") =!= col("want"))
    assert(inlineBad.count() == 0, "inline frames must equal the A19 encoding")
  }

  test("C47: length histogram buckets are true power-of-2 ranges, cum closes at 1e6") {
    val h = ops.Corpus.seqLengthHistogram(spark, dir).orderBy("bucket").collect()
    assert(h.nonEmpty)
    assert(h.last.getAs[Long]("cum_token_ppm") == 1000000L)
    h.foreach { r =>
      assert(r.getAs[Long]("pad_waste_ppm") >= 0 &&
        r.getAs[Long]("pad_waste_ppm") < 1000000L, r.toString)
    }
    // recount one bucket from the raw token lengths
    val b = h.head.getAs[Long]("bucket")
    val docs = graft.util.Tables.documents(spark, dir)
      .select(size(ops.Text.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    val lo = 1L << b; val hi = (1L << (b + 1)) - 1
    val want = docs.filter(col("n") >= lo && col("n") <= hi)
      .agg(count(lit(1)).as("c"), sum("n").as("t")).head
    assert(h.head.getAs[Long]("n_docs") == want.getAs[Long]("c"))
    assert(h.head.getAs[Long]("n_tokens") == want.getAs[Long]("t"))
  }

  test("C46: the curation funnel conserves docs stage to stage") {
    val f = ops.Curation.curationFunnel(spark, dir)
      .orderBy("stage_no").collect()
    assert(f.length == 5)
    assert(f(0).getAs[Long]("n_in") ==
      graft.util.Tables.documents(spark, dir).count())
    f.foreach { r =>
      assert(r.getAs[Long]("n_in") - r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_out"), r.toString)
      assert(r.getAs[Long]("n_dropped") >= 0, r.toString)
    }
    f.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_out") == b.getAs[Long]("n_in"),
        s"stage handoff must conserve: $a -> $b")
    }
    assert(f.last.getAs[Long]("n_out") > 0, "the funnel must not drain the corpus")
  }

  test("C45: model filter — score is the declared dot product, keep is the threshold") {
    val f = ops.TextAnalysis.qualityModelFilter(spark, dir).cache()
    assert(f.count() > 0)
    // emitted score must equal the documented weight vector applied to
    // the emitted features (the "model" is auditable from its output)
    val recomputed = call_function("div",
      col("stop_ppm") * lit(200L) + col("len_sat_ppm") * lit(500L) -
        col("punct_ppm") * lit(300L) - col("digit_ppm") * lit(100L) +
        col("wordlen_e3") * lit(50L), lit(1000L))
    assert(f.filter(col("score") =!= recomputed).count() == 0)
    assert(f.filter((col("keep") === 1L) =!= (col("score") >= 290000L)).count() == 0)
    assert(f.filter(col("keep") === 1L).count() > 0)
    assert(f.filter(col("keep") === 0L).count() > 0)
  }

  test("C44: phash banding — pigeonhole recall at tau<=3, filtered and missed arms") {
    import spark.implicits._
    val base = 0x123456789ABCDL
    val hashes = Seq(
      (1L, base),                 // anchor
      (2L, base),                 // exact dup: hamming 0
      (3L, base ^ (1L << 20)),    // 1 flipped bit (band 1): hamming 1
      (4L, base ^ 0xFL),          // 4 flips inside band 0: candidate, hamming 4 > tau
      (5L, base ^ (1L << 5) ^ (1L << 20) ^ (1L << 35) ^ (1L << 50)))
      .toDF("doc_id", "phash")    // doc 5: one flip in EVERY band -> never a candidate
    val pairs = ops.Multimodal.phashPairsFrom(hashes)
      .as[(Long, Long, Long)].collect().toSet
    // hamming <= 3 pairs are guaranteed found (some band untouched)
    assert(pairs.contains((1L, 2L, 0L)) && pairs.contains((1L, 3L, 1L)),
      s"pigeonhole recall violated: $pairs")
    assert(pairs.contains((2L, 3L, 1L)))
    // doc 4 collides on 3 bands but hamming 4 fails the verify;
    // doc 5 differs from the ANCHOR in every band so it never pairs
    // with 1 or 2 (vs doc 3 it shares the flipped bit 20, so band 1
    // matches and the hamming-3 pair (3,5) is correctly found)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"tau filter leaked: $pairs")
    assert(!pairs.exists(p => (p._1 == 5L || p._2 == 5L) &&
      (p._1 <= 2L)), s"non-candidate leaked: $pairs")
    assert(pairs.contains((3L, 5L, 3L)))
    // production stats frame: per-image rows, dup counts consistent
    val stats = ops.Multimodal.phashDedup(spark, dir).cache()
    assert(stats.count() > 0)
    assert(stats.filter(col("n_dups") < 0).count() == 0)
    // band columns reconstruct the hash
    assert(stats.filter(col("band0") + col("band1") * 32768L +
      col("band2") * 32768L * 32768L +
      col("band3") * 32768L * 32768L * 32768L =!= col("phash")).count() == 0)
  }

  test("C43: cluster labels are dense ranked, score-monotone, and cover every cell") {
    val labels = ops.Similarity.clusterLabelTfidf(spark, dir).cache()
    assert(labels.count() > 0)
    // dense ranks 1..k per cell, score non-increasing in rank
    val per = labels.groupBy("cent_id")
      .agg(count(lit(1)).as("n"), max("rnk").as("mx"), min("rnk").as("mn"))
    assert(per.filter(col("mx") =!= col("n") || col("mn") =!= 1L).count() == 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cent_id").orderBy("rnk")
    assert(labels.withColumn("prev", lag("score", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("score")).count() == 0)
    // naive recount of one cell's winning term: tf of the rank-1 term
    // must equal the raw token count of that term over the cell's docs
    val row = labels.filter(col("rnk") === 1L).orderBy("cent_id").head
    val cell = row.getAs[Long]("cent_id")
    val term = row.getAs[String]("term")
    val docsInCell = ops.Similarity.ivfIndex(spark, dir)._2
      .filter(col("cent_id") === cell).select(col("vec_id").as("doc_id"))
    val n = graft.util.Tables.documents(spark, dir)
      .join(docsInCell, "doc_id")
      .select(explode(ops.Text.tokens(col("text"))).as("t"))
      .filter(col("t") === term).count()
    assert(n == row.getAs[Long]("tf"), s"tf mismatch for cell $cell term $term")
  }

  test("C41: BPE pair counts, tie-break, and merge application match a hand trace") {
    import spark.implicits._
    val docs = Seq((1L, "banana banana bandana aaa")).toDF("doc_id", "text")
    val got = ops.Corpus.bpePairMergeFrom(docs, topK = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_._1)
    // hand trace: banana x2, bandana, aaa; overlapping pair counts
    // (a,n)=6 (n,a)=5 (b,a)=3 (a,a)=2 (d,a)=1 (n,d)=1 — the count-1 tie
    // resolves lexicographically; winner "an" applies 2x in banana
    // (left-to-right non-overlap), 2x in bandana -> 6 applications over
    // 22 symbols
    assert(got(0) == (1L, "a", "n", 6L, 3L, 6L, 22L, 16L), got(0).toString)
    assert(got(1) == (2L, "n", "a", 5L, 0L, 0L, 0L, 0L))
    assert(got(2) == (3L, "b", "a", 3L, 0L, 0L, 0L, 0L))
    assert(got(3) == (4L, "a", "a", 2L, 0L, 0L, 0L, 0L))
    assert(got(4) == (5L, "d", "a", 1L, 0L, 0L, 0L, 0L))
    assert(got(5) == (6L, "n", "d", 1L, 0L, 0L, 0L, 0L))
    // the a==b run case: overlapping counts but non-overlapping apply
    val runs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val w = ops.Corpus.bpePairMergeFrom(runs, topK = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(5), r.getLong(6), r.getLong(7))).head
    // pairs (a,a): 3+2=5 counted with overlap; applications floor the
    // runs: aaaa -> 2, aaa -> 1
    assert(w == ("a", "a", 5L, 3L, 7L, 4L), w.toString)
  }

  test("C40: perplexity buckets are exact discrete terciles and keep drops the tail") {
    val b = ops.TextAnalysis.perplexityBucket(spark, dir).cache()
    val n = b.count()
    val head = b.filter(col("bucket") === "head")
    val mid = b.filter(col("bucket") === "middle")
    val tail = b.filter(col("bucket") === "tail")
    // discrete tercile minimality: head reaches ceil(n/3) docs, but
    // removing its boundary value drops it below; same for head+middle
    // at ceil(2n/3)
    val b1 = head.agg(max("mean_millibits")).head.getLong(0)
    val b2 = mid.agg(max("mean_millibits")).head.getLong(0)
    assert(head.count() >= (n + 2) / 3)
    assert(head.filter(col("mean_millibits") < b1).count() < (n + 2) / 3)
    assert(head.count() + mid.count() >= (2 * n + 2) / 3)
    assert(b.filter(col("mean_millibits") < b2).count() < (2 * n + 2) / 3)
    // buckets are value-ordered and keep == not tail
    assert(b1 <= mid.agg(min("mean_millibits")).head.getLong(0))
    assert(b2 < tail.agg(min("mean_millibits")).head.getLong(0))
    assert(b.filter((col("keep") === 1L) =!= (col("bucket") =!= "tail")).count() == 0)
  }

  test("A84: dispatcher checkpoint arms — never-sent, drained, and pending") {
    import spark.implicits._
    // handcrafted progress frame drives all three dispatcher.go arms,
    // including the never-sent (checkpoint 0 -> resolvedTs) arm that a
    // changelog-derived frame cannot reach
    val tp = Seq(
      ("db0", "t0", "f0",   0L, 0L),   // never sent: cp 0 -> resolved 500
      ("db0", "t1", "f100", 300L, 1L), // drained, frontier ahead -> 500
      ("db0", "t2", "f100", 900L, 1L), // drained, sink ahead -> 900
      ("db0", "t3", "f50",  200L, 0L)) // pending -> its own cp 200
      .toDF("schema_name", "table_name", "scenario", "checkpoint_ts", "is_empty")
    val frontier = Seq(("db0", "t0", 500L), ("db0", "t1", 500L),
      ("db0", "t2", 500L), ("db0", "t3", 500L))
      .toDF("schema_name", "table_name", "resolved_ts")
    val got = cdc.Materialize.dispatcherCheckpointFrom(tp, frontier)
      .select("table_name", "final_ts").as[(String, Long)].collect().toMap
    assert(got == Map("t0" -> 500L, "t1" -> 500L, "t2" -> 900L, "t3" -> 200L),
      s"arm mismatch: $got")
    // real-data invariant: final_ts >= checkpoint_ts always, and the
    // pending scenarios never exceed their own checkpoint
    val real = cdc.Materialize.dispatcherCheckpoint(
      cdc.ChangeEvents.changelog(spark, dir)).cache()
    assert(real.filter(col("final_ts") < col("checkpoint_ts")).count() == 0)
    assert(real.filter(col("is_empty") === 0L && col("checkpoint_ts") =!= 0L &&
      col("final_ts") =!= col("checkpoint_ts")).count() == 0)
  }

  test("A83: table-progress checkpoints follow GetCheckpointTs incl. the Pass arm") {
    import spark.implicits._
    // step=1000 -> pass boundary (2900 div 1000)*1000 = 2000: t1's only
    // DML (800) flushes below it, so its f100 checkpoint must come from
    // the PASSED block event (1999), not its own max DML — the Pass arm.
    // sz = 16 + len("click") + len("{}") = 23 per event.
    val hand = Seq(
      ("db0", "t0", 1500L, "click", "{}"),
      ("db0", "t0", 1700L, "click", "{}"),
      ("db0", "t0", 2900L, "click", "{}"),
      ("db0", "t1", 800L,  "click", "{}"))
      .toDF("schema_name", "table_name", "commit_ts", "event_type", "props")
    val got = cdc.Materialize.tableProgress(hand)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSet
    val want = Set(
      ("db0", "t0", "f0",   3L, 0L, 1499L, 0L, 0L),
      ("db0", "t0", "f50",  3L, 1L, 1699L, 0L, 23L),
      ("db0", "t0", "f100", 3L, 3L, 2899L, 1L, 69L),
      ("db0", "t1", "f0",   1L, 0L, 799L,  0L, 0L),
      ("db0", "t1", "f50",  1L, 0L, 799L,  0L, 0L),
      ("db0", "t1", "f100", 1L, 1L, 1999L, 1L, 23L))
    assert(got == want, s"unexpected rows: ${got.diff(want)} missing: ${want.diff(got)}")
    // real-changelog invariants: checkpoints advance monotonically with
    // the flushed fraction, and only the drained scenario reports empty
    val tp = cdc.Materialize.tableProgress(
      cdc.ChangeEvents.changelog(spark, dir)).cache()
    val wide = tp.groupBy("schema_name", "table_name").agg(
      min(when(col("scenario") === "f0", col("checkpoint_ts"))).as("c0"),
      min(when(col("scenario") === "f50", col("checkpoint_ts"))).as("c50"),
      min(when(col("scenario") === "f100", col("checkpoint_ts"))).as("c100"))
    assert(wide.filter(col("c0") > col("c50") || col("c50") > col("c100"))
      .count() == 0, "checkpoint must be monotone in the flushed fraction")
    assert(tp.filter((col("is_empty") === 1L) =!= (col("scenario") === "f100"))
      .count() == 0, "exactly the fully-flushed scenario is empty")
  }
}
