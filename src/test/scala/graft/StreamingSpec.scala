package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CdcStream

/** A26–A28: the streaming pipeline must agree with its batch twins —
  * micro-batch execution of the same expressions, so results are
  * checked against the batch operators on the same data. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
                              name: String, mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  test("Bench.streamParts sizes from .parquet files only, top level and sliced") {
    val mib = 1024L * 1024L
    def sized(f: java.io.File, bytes: Long): Unit = {
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close()
    }
    val top = java.nio.file.Files.createTempDirectory("parts").toFile
    sized(new java.io.File(top, "events.parquet"), 2 * mib) // 8 x 256 KiB
    assert(Bench.streamParts(top.getPath, None, 32) == 8)
    // a stray temp file next to it is not input and must not count
    sized(new java.io.File(top, "events.parquet.tmp"), 6 * mib)
    assert(Bench.streamParts(top.getPath, None, 32) == 8)
    // the directory branch applies the same rule
    val sliced = java.nio.file.Files.createTempDirectory("parts").toFile
    val slices = new java.io.File(sliced, "events.parquet")
    slices.mkdir()
    sized(new java.io.File(slices, "part-0.parquet"), 3 * mib)
    sized(new java.io.File(slices, "part-0.parquet.crc"), 6 * mib)
    assert(Bench.streamParts(sliced.getPath, None, 32) == 12)
  }

  test("A26: streaming changefeed pipeline matches batch filter+route+encode") {
    val rules = Seq("db0.%", "db1.t1")
    val topicRules = Seq(Seq("db0.%") -> "cdc_{schema}_{table}")
    runToCompletion(
      CdcStream.pipeline(spark, dir, rules, topicRules = topicRules), "a26", "append")
    val streamed = spark.table("a26")
    val cl = graft.cdc.Filters.tableFilter(
      graft.cdc.ChangeEvents.changelog(spark, dir), rules)
    val batch = graft.cdc.Codecs.openProtocol(cl)
      .join(cl.select(col("commit_ts"),
        graft.cdc.Routing.topicFor(topicRules, "changefeed").as("topic"),
        graft.cdc.Dispatchers.indexValueBucket(16).as("partition")), "commit_ts")
      .select("commit_ts", "topic", "partition", "key", "value")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // routing exercised: both dynamic and default topics present
    assert(streamed.select("topic").distinct().count() > 1)
    // partition dispatch exercised: multiple buckets, all within range
    assert(streamed.select("partition").distinct().count() > 1)
    assert(streamed.filter(col("partition") < 0 || col("partition") >= 16).count() == 0)
  }

  test("A31s: streaming claim-check frame equals the batch claim-check sink") {
    runToCompletion(
      CdcStream.pipeline(spark, dir, claimCheckMaxBytes = Some(843)), "a31s", "append")
    val streamed = spark.table("a31s")
    val cl = graft.cdc.Filters.tableFilter(
      graft.cdc.ChangeEvents.changelog(spark, dir), Seq("db%.%"))
    val batch = graft.cdc.Sinks.claimCheck(cl, 16, 843)
    val streamedCc = streamed.drop("topic")
    assert(streamedCc.count() == batch.count())
    assert(streamedCc.exceptAll(batch).isEmpty && batch.exceptAll(streamedCc).isEmpty)
    // both branches of the splitter fire in streaming mode too
    assert(streamed.filter(col("claimed")).count() > 0)
    assert(streamed.filter(!col("claimed")).count() > 0)
  }

  test("A27: flatMapGroupsWithState snapshot equals batch materialization") {
    import spark.implicits._
    val cl = graft.cdc.ChangeEvents.changelog(spark, dir)
    val events = cl
      .withColumn("before_value", col("before_value").cast("double"))
      .as[CdcStream.ChangeEvent]
    // single-batch streaming equivalence: the state fold over one batch
    // must equal the batch max_by materialization (deletes kept as
    // tombstone state rows here; batch snapshot drops them)
    val stateDf = CdcStream.snapshotState(events).toDF()
    val live = stateDf.filter(col("last_op") =!= "D")
      .select(col("schema_name"), col("table_name"), col("pk"),
        col("last_ts"), col("value"), col("props"))
    val batch = graft.cdc.Materialize.snapshot(cl)
      .select(col("schema_name"), col("table_name"), col("pk"),
        col("last_ts"), col("value"), col("props"))
    assert(live.exceptAll(batch).isEmpty && batch.exceptAll(live).isEmpty)
    assert(live.count() == batch.count())
  }

  test("A27b: snapshot state carries across multiple commit-ordered micro-batches") {
    import spark.implicits._
    // replay the event file as three commit_ts-ordered micro-batches
    // (the B15s2 technique): per-key state must survive batch
    // boundaries and the FINAL state per key must equal the batch
    // max_by materialization over the whole log
    val tmp = java.nio.file.Files.createTempDirectory("a27b").toString
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val cuts = raw.stat.approxQuantile("event_id", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      raw.filter(col("event_id") <= cuts(0)),
      raw.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      raw.filter(col("event_id") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = graft.cdc.ChangeEvents.fromEvents(
        spark.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*"))
      .withColumn("before_value", col("before_value").cast("double"))
      .as[CdcStream.ChangeEvent]
    runToCompletion(CdcStream.snapshotState(stream).toDF(), "a27b", "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("schema_name", "table_name", "pk").orderBy(col("last_ts").desc)
    val finalState = spark.table("a27b")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val live = finalState.filter(col("last_op") =!= "D")
      .select(col("schema_name"), col("table_name"), col("pk"),
        col("last_ts"), col("value"), col("props"))
    val batch = graft.cdc.Materialize
      .snapshot(graft.cdc.ChangeEvents.changelog(spark, dir))
      .select(col("schema_name"), col("table_name"), col("pk"),
        col("last_ts"), col("value"), col("props"))
    assert(spark.table("a27b").count() > batch.count(),
      "expected re-emissions across micro-batches")
    assert(live.exceptAll(batch).isEmpty && batch.exceptAll(live).isEmpty)
  }

  test("A35: streaming dedup keeps exactly one row per fingerprint") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    runToCompletion(graft.streaming.DataOps.streamDedup(stream), "a35", "append")
    val streamed = spark.table("a35")
    val batchFps = graft.ops.Dedup.exact(spark, dir).select("fingerprint")
    // one survivor per distinct fingerprint, same fingerprint set as batch
    assert(streamed.count() == batchFps.count())
    assert(streamed.select("fingerprint").exceptAll(batchFps).isEmpty)
  }

  test("A35b: watermark-bounded dedup path resolves and dedupes within the horizon") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
      // +1 day: a row at exactly the initial epoch watermark is
      // treated as late and dropped
      .withColumn("ingest_time", expr("timestamp_micros((doc_id + 86400) * 1000000)"))
    runToCompletion(
      graft.streaming.DataOps.streamDedup(stream, Some("10 minutes")), "a35b", "append")
    val streamed = spark.table("a35b")
    // within one micro-batch the horizon covers everything: exact dedup
    assert(streamed.count() == graft.ops.Dedup.exact(spark, dir).count())
  }

  test("A69s: the streaming frontier advances monotonically to the batch frontier") {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = graft.cdc.ChangeEvents.fromEvents(
        spark.readStream.schema(schema).parquet(s"$dir/events.parquet*"))
      .withColumn("before_value", col("before_value").cast("double"))
      .as[graft.streaming.CdcStream.ChangeEvent](
        org.apache.spark.sql.Encoders.product[graft.streaming.CdcStream.ChangeEvent])
    runToCompletion(graft.streaming.CdcStream.spanFrontier(stream).toDF(), "a69s", "append")
    val adv = spark.table("a69s").collect()
    assert(adv.nonEmpty)
    // strictly increasing advancement sequence per table
    adv.groupBy(r => (r.getString(0), r.getString(1))).values.foreach { as =>
      val seq = as.map(_.getLong(2)).toSeq
      assert(seq == seq.sorted && seq.distinct.length == seq.length,
        "frontier must only move forward")
    }
    // the last advancement equals the batch operator's frontier
    val batch = graft.cdc.Materialize.spanFrontier(
        graft.cdc.ChangeEvents.changelog(spark, dir)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getLong(2))).toMap
    adv.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (k, as) =>
      val last = as.maxBy(_.getLong(2))
      assert(last.getLong(2) == batch(k)._1, s"$k frontier")
      assert(last.getLong(3) == batch(k)._2, s"$k region count")
    }
  }

  test("A72s: streaming txn matcher equals the batch matcher over an ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CdcStream.RawKv
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cl = graft.cdc.ChangeEvents.changelog(spark, dir)
    val raw = graft.cdc.TxnMatcher.rawStream(cl).as[RawKv].collect()
    // replay in three start_ts ranges (groups never split: all rows of
    // a (key, startTs) pair share its start_ts)
    val cuts = raw.map(_.start_ts).distinct.sorted
    val (c1, c2) = (cuts((cuts.length - 1) / 3), cuts(2 * (cuts.length - 1) / 3))
    val in = MemoryStream[RawKv]
    val q = graft.streaming.CdcStream.txnMatch(in.toDS()).toDF()
      .writeStream.format("memory").queryName("a72s").outputMode("append").start()
    try {
      in.addData(raw.filter(_.start_ts <= c1).toIndexedSeq)
      q.processAllAvailable()
      in.addData(raw.filter(r => r.start_ts > c1 && r.start_ts <= c2).toIndexedSeq)
      q.processAllAvailable()
      in.addData(raw.filter(_.start_ts > c2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("a72s")
    val batch = graft.cdc.TxnMatcher.matched(cl)
      .select("schema_name", "table_name", "pk", "start_ts", "commit_ts",
        "op", "value", "old_value")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed matches must equal the batch matcher frame")
  }

  test("C27s: streaming line dedup keeps one occurrence per line and covers the corpus") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    runToCompletion(graft.streaming.DataOps.streamLineDedup(stream), "c27s", "append")
    val streamed = spark.table("c27s")
    // exactly one survivor per distinct line, total kept equals batch
    assert(streamed.count() == streamed.select("lh").distinct().count())
    val batchKept = graft.ops.Dedup.dedupLines(spark, dir)
      .agg(sum("kept_lines")).collect()(0).getLong(0)
    assert(streamed.count() == batchKept)
    // the watermark-bounded arm resolves and dedupes within the horizon
    val wmStream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
      .withColumn("ingest_time", expr("timestamp_micros((doc_id + 86400) * 1000000)"))
    runToCompletion(
      graft.streaming.DataOps.streamLineDedup(wmStream, Some("10 minutes")),
      "c27sw", "append")
    assert(spark.table("c27sw").count() == batchKept)
  }

  test("A36: streaming session windows equal batch lag+cumsum sessions") {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/events.parquet*")
    runToCompletion(graft.streaming.DataOps.streamSessionize(stream), "a36", "append")
    val streamed = spark.table("a36")
      .select(col("user_id"),
        expr("unix_micros(session_start)").as("session_start_us"),
        col("n_events"), col("sum_value_cents"))
    val batch = graft.queries.Analytics.qSessionize(spark, dir)
      .select(col("user_id"), col("session_start_us"), col("n_events"), col("sum_value_cents"))
    // append mode emits only watermark-closed sessions; each must match
    // its batch twin exactly, and nearly all sessions close on sf0.001
    val joined = streamed.as("s").join(batch.as("b"), Seq("user_id", "session_start_us"))
    assert(streamed.count() > 0, "no sessions emitted")
    assert(joined.count() == streamed.count(), "streamed session missing from batch")
    assert(joined.filter(col("s.n_events") =!= col("b.n_events") ||
      col("s.sum_value_cents") =!= col("b.sum_value_cents")).count() == 0)
  }

  test("B15s: stateful streaming funnel equals the batch stacked-window funnel") {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = graft.util.Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(s"$dir/events.parquet*"))
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .as[graft.streaming.DataOps.UserEvent]
    runToCompletion(
      graft.streaming.DataOps.streamFunnel(stream).toDF(), "b15s", "update")
    // update mode re-emits a user's state each batch; keep the final one
    val streamed = spark.table("b15s")
      .groupBy(col("user_id"))
      .agg(max(col("stage")).as("stage"),
        max(col("t_view_us")).as("t_view_us"),
        max(col("t_click_us")).as("t_click_us"),
        max(col("t_purchase_us")).as("t_purchase_us"))
      .select("user_id", "t_view_us", "t_click_us", "t_purchase_us", "stage")
    val batch = graft.queries.Analytics.qFunnel(spark, dir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("B15s2: funnel state persists across multiple time-ordered micro-batches") {
    import spark.implicits._
    // split events into three time-terciles, one parquet file each,
    // with strictly increasing modification times so the file source
    // replays them as THREE micro-batches in event-time order —
    // cross-batch state is genuinely exercised, unlike a single
    // AvailableNow batch
    val tmp = java.nio.file.Files.createTempDirectory("b15s2").toString
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val schema = parts.head.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
      .as[graft.streaming.DataOps.UserEvent]
    runToCompletion(
      graft.streaming.DataOps.streamFunnel(stream).toDF(), "b15s2", "update")
    // several emissions per user across batches; the final (max-stage)
    // state must equal the batch funnel over the full event set
    val streamed = spark.table("b15s2")
      .groupBy(col("user_id"))
      .agg(max(col("stage")).as("stage"),
        max(col("t_view_us")).as("t_view_us"),
        max(col("t_click_us")).as("t_click_us"),
        max(col("t_purchase_us")).as("t_purchase_us"))
      .select("user_id", "t_view_us", "t_click_us", "t_purchase_us", "stage")
    val batch = graft.queries.Analytics.qFunnel(spark, dir)
    assert(spark.table("b15s2").count() > batch.count(),
      "expected multiple emissions per user across micro-batches")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("B16s: streaming retention pairs across day-ordered micro-batches equal batch cohorts") {
    import spark.implicits._
    // three day-tercile micro-batches (the B15s2 replay technique):
    // cohort + emitted-day state must survive batch boundaries, and the
    // cell counts over the emitted pair stream must equal batch B16
    val tmp = java.nio.file.Files.createTempDirectory("b16s").toString
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))
    val cuts = ev.stat.approxQuantile("day", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      ev.filter(col("day") <= cuts(0)),
      ev.filter(col("day") > cuts(0) && col("day") <= cuts(1)),
      ev.filter(col("day") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
      .as[graft.streaming.DataOps.DayEvent]
    runToCompletion(
      graft.streaming.DataOps.streamRetention(stream).toDF(), "b16s", "append")
    val pairs = spark.table("b16s")
    // exactly-once pair emission across batches
    assert(pairs.count() == pairs.distinct().count(), "a pair was emitted twice")
    // the stateless cell aggregation over the pair stream = batch B16
    val streamedCells = pairs
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val batch = graft.queries.Analytics.qRetention(spark, dir)
    assert(streamedCells.count() == batch.count())
    assert(streamedCells.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamedCells).isEmpty)
  }

  test("B16s: an earlier day arriving late is dropped, never re-bases the locked cohort") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DataOps.DayEvent
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[DayEvent]
    val q = graft.streaming.DataOps.streamRetention(in.toDS()).toDF()
      .writeStream.format("memory").queryName("b16s_ooo")
      .outputMode("append").start()
    try {
      in.addData(DayEvent(1L, 10L), DayEvent(1L, 12L))
      q.processAllAvailable()
      // day 8 < the locked cohort 10: dropped (not emitted, not re-based);
      // day 13 still emits against cohort 10
      in.addData(DayEvent(1L, 8L), DayEvent(1L, 13L))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("b16s_ooo")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L, 0L), (1L, 10L, 2L), (1L, 10L, 3L)),
      s"cohort must stay locked at 10 and day 8 must be dropped, got $pairs")
  }

  test("C59s: streaming span marking against the published gram index equals batch") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    // the static side: the corpus's own df>=2 gram index — with it,
    // the arriving-doc marking must reproduce batch C59 row-for-row
    val index = graft.ops.Retrieval.dupGramSet(
      graft.util.Tables.documents(spark, dir)).localCheckpoint()
    runToCompletion(
      graft.streaming.DataOps.streamSubstringSpans(stream, index),
      "c59s", "append")
    val got = spark.table("c59s")
    val batch = graft.ops.Retrieval.dedupSubstringSpans(spark, dir)
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("C79s: streaming batch-vs-index probe equals batch incremental dedup") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    // the static side: the published corpus band index + gram store —
    // with them, arriving-doc verdicts must reproduce batch C79
    val index = graft.ops.Dedup.incrementalIndex(spark, dir).localCheckpoint()
    val store = graft.ops.Dedup.corpusGramStore(spark, dir).localCheckpoint()
    runToCompletion(
      graft.streaming.DataOps.streamDedupIncremental(stream, index, store),
      "c79s", "append")
    val got = spark.table("c79s")
    val batch = graft.ops.Dedup.dedupIncremental(spark, dir)
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("C60s: the streaming cap equals batch in one shot and never exceeds quota across batches") {
    import spark.implicits._
    // one-batch arrival: the micro-batch pre-sort makes the online
    // gate pick exactly the batch op's priority winners
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    runToCompletion(graft.streaming.DataOps.streamSourceCap(stream),
      "c60s", "append")
    val got = spark.table("c60s")
    val batch = graft.ops.Curation.sourceCap(spark, dir)
      .select("doc_id", "source", "cap_rank", "kept")
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // multi-batch replay: the cap is spent incrementally and admission
    // is first-come — a later batch cannot evict an admitted doc
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DataOps.CapDoc
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val cap = 3
    val q = graft.streaming.DataOps.streamSourceCap(
        in.toDF().toDF("doc_id", "source", "text"), cap)
      .writeStream.format("memory").queryName("c60s_multi")
      .outputMode("append").start()
    try {
      in.addData((1L, "s", "x"), (2L, "s", "x"))
      q.processAllAvailable()
      in.addData((3L, "s", "x"), (4L, "s", "x"), (5L, "s", "x"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("c60s_multi")
      .as[(Long, String, Long, Long)].collect()
    // batch 1 had quota 3 for 2 docs: both admitted (ranks 1, 2);
    // batch 2 spends the last slot on its best-priority candidate
    assert(rows.count(_._4 == 1L) == cap)
    assert(rows.filter(_._1 <= 2L).forall(_._4 == 1L),
      "early arrivals must stay admitted")
    assert(rows.map(_._3).filter(_ >= 0L).sorted.toSeq == (1L to cap.toLong),
      s"admission ordinals must be dense: ${rows.toSeq}")
    val batch2Kept = rows.filter(r => r._1 >= 3L && r._4 == 1L)
    assert(batch2Kept.length == 1)
    // the admitted batch-2 doc is its batch's (prio, id) minimum
    val prios = Seq(3L, 4L, 5L).map(id => id -> graft.functions.Portable
      .hash60Long(s"graft-cap-v1:$id")).sortBy { case (id, p) => (p, id) }
    assert(batch2Kept.head._1 == prios.head._1)
  }

  test("B17s: streaming as-of pairs across ts-ordered micro-batches equal batch attribution") {
    import spark.implicits._
    // three ts-tercile micro-batches: the one-view state must survive
    // batch boundaries; the emitted pair stream must equal batch B17
    val tmp = java.nio.file.Files.createTempDirectory("b17s").toString
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .filter(col("event_type").isin("view", "purchase"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      ev.filter(col("ts_us") <= cuts(0)),
      ev.filter(col("ts_us") > cuts(0) && col("ts_us") <= cuts(1)),
      ev.filter(col("ts_us") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
      .as[graft.streaming.DataOps.AsofEvent]
    runToCompletion(
      graft.streaming.DataOps.streamAsof(stream).toDF(), "b17s", "append")
    val got = spark.table("b17s").select(
      col("purchase_id"), col("user_id"), col("purchase_us"),
      col("asof_view_id"), col("asof_view_us"), col("gap_us"))
    val batch = queries.Analytics.qAsofJoin(spark, dir)
    assert(got.count() == batch.count(), "one pair per purchase")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streamed as-of pairs must equal the batch window attribution")
  }

  test("A85s: incremental seq-check protocol equals the batch closed form") {
    import spark.implicits._
    // dispatcher state (lastSeq/wait/sendTs) must survive micro-batch
    // boundaries: replay the production trace in 3 pos-tercile batches
    val tmp = java.nio.file.Files.createTempDirectory("a85s").toString
    val trace = cdc.EventService.seqCheck(
      cdc.ChangeEvents.changelog(spark, dir)).cache()
    val in = trace.select("schema_name", "table_name", "pos", "kind",
      "seq", "commit_ts", "src")
    val cuts = in.stat.approxQuantile("pos", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      in.filter(col("pos") <= cuts(0)),
      in.filter(col("pos") > cuts(0) && col("pos") <= cuts(1)),
      in.filter(col("pos") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
      .as[graft.streaming.CdcStream.SeqEvent]
    runToCompletion(
      graft.streaming.CdcStream.streamSeqCheck(stream).toDF(), "a85s", "append")
    val got = spark.table("a85s")
    val want = trace.select("schema_name", "table_name", "pos", "outcome")
    assert(got.count() == want.count(), "one outcome per trace item")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed outcomes must equal the batch closed form")
  }

  test("A92s: incremental move-operator machine equals the batch Catalyst fold") {
    import spark.implicits._
    // operator state (stopped/bind/fin/can/dest) must survive
    // micro-batch boundaries: replay the production move trace in 3
    // tick-range batches (0-1 / 2-3 / 4-5) — every arm's decisive
    // event lands in a different batch than its Start
    val tmp = java.nio.file.Files.createTempDirectory("a92s").toString
    val cl = graft.cdc.ChangeEvents.changelog(spark, dir)
    val events = graft.cdc.SpanLifecycle.moveTrace(
      graft.cdc.Scheduler.defaultGroupMoves(cl))
      .select(substring_index(col("op_id"), ".", 1).as("grp"),
        col("op_id").as("span"), col("origin"), col("dest0"), col("tick"),
        col("kind"), col("node")).cache()
    val parts = Seq(
      events.filter(col("tick") <= 1L),
      events.filter(col("tick").between(2L, 3L)),
      events.filter(col("tick") >= 4L))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
      .as[graft.streaming.CdcStream.MoveEvent]
    runToCompletion(
      graft.streaming.CdcStream.streamOperatorMove(stream).toDF(),
      "a92s", "append")
    val got = spark.table("a92s")
    val want = graft.cdc.OperatorLifecycle.operatorMove(cl)
    assert(got.count() == want.count(), "one outcome per trace tick")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed outcomes must equal the batch Catalyst fold")
    events.unpersist()
  }

  test("B18s: stream-stream interval join pairs across micro-batches equal batch B18") {
    // the native stream-stream inner join must buffer the in-range
    // window of BOTH sides across micro-batch boundaries; over a
    // complete 3-tercile replay the aggregated pair stream must equal
    // the batch bucketed range join exactly
    val tmp = java.nio.file.Files.createTempDirectory("b18s").toString
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .filter(col("event_type").isin("view", "purchase"))
    val cuts = ev.stat.approxQuantile("event_id", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      ev.filter(col("event_id") <= cuts(0)),
      ev.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      ev.filter(col("event_id") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
    runToCompletion(
      graft.streaming.DataOps.streamRangeJoin(stream), "b18s", "append")
    val got = spark.table("b18s")
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_us"))
      .agg(count(lit(1)).as("n_views_24h"), max(col("view_us")).as("last_view_us"))
    val batch = queries.Analytics.qRangeJoin(spark, dir)
    assert(got.count() > 0, "no pairs emitted")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streamed interval-join pairs must aggregate to the batch range join")
  }

  test("B33s: the streaming HLL sketch merges across micro-batches inside the tolerance") {
    // the sketch state must MERGE correctly across batch boundaries:
    // replay the events as three micro-batches and require the final
    // running estimate per group to meet the same 5% contract the
    // batch B33 oracle states — against the exact batch distincts
    val tmp = java.nio.file.Files.createTempDirectory("b33s").toString
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "event_type")
    val cuts = raw.stat.approxQuantile("event_id", Array(0.34, 0.67), 0.0)
    val parts = Seq(
      raw.filter(col("event_id") <= cuts(0)),
      raw.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      raw.filter(col("event_id") > cuts(1)))
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
    runToCompletion(
      graft.streaming.DataOps.streamApproxDistinct(stream), "b33s", "update")
    // update mode re-emits rows per batch: the LAST estimate per group
    // is the full-stream sketch
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    val finalEst = spark.table("b33s")
      .withColumn("rn", monotonically_increasing_id())
      .withColumn("mx", max("rn").over(w)).filter(col("rn") === col("mx"))
      .select("event_type", "n_approx").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = raw.select("event_type", "user_id").distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finalEst.keySet == exact.keySet)
    finalEst.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)) * 1000000L <= exact(k) * 50000L,
        s"$k: streamed sketch $est vs exact ${exact(k)} outside 5%")
    }
  }

  test("B32s: stream-stream left outer emits unmatched purchases once the watermark clears them") {
    val tmp = java.nio.file.Files.createTempDirectory("b32s").toString
    val ev = graft.util.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .filter(col("event_type").isin("view", "purchase"))
    val cuts = ev.stat.approxQuantile("event_id", Array(0.34, 0.67), 0.0)
    // a far-future flush view (impossible user) pushes the watermark
    // past every purchase's candidate window so ALL unmatched left
    // rows are evicted with nulls before the stream drains
    val maxUs = graft.util.Tables.normalizeTs(ev)
      .agg(max(expr("ts div 1000"))).head().getLong(0)
    // BOTH sides need a far-future row: the global watermark is the
    // MIN across inputs, so flushing only the views side leaves the
    // purchases watermark (and the last purchases) stuck behind it;
    // the impossible user matches nothing and the flush purchase
    // itself stays inside its own watermark, so neither row surfaces
    // ev's ts is the normalized LONG-NANOS contract — write the flush
    // in the same unit (a timestamp->long cast would yield SECONDS)
    val flush = spark.createDataFrame(Seq(
        (-1L, (maxUs + 5000000000000L) * 1000L, -1L, "view"),
        (-2L, (maxUs + 5000000000000L) * 1000L, -3L, "purchase")))
      .toDF("event_id", "ns", "user_id", "event_type")
      .select(col("event_id"),
        col("ns").cast(ev.schema("ts").dataType).as("ts"),
        col("user_id"), col("event_type"))
    val parts = Seq(
      ev.filter(col("event_id") <= cuts(0)),
      ev.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      ev.filter(col("event_id") > cuts(1)),
      flush)
    val t0 = java.lang.System.currentTimeMillis() - 60000
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = s"$tmp/f$i"
      p.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(t0 + i * 10000))
    }
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/f*")
    // AvailableNow stops at file exhaustion WITHOUT the no-data
    // eviction batch that emits outer-join nulls — run the default
    // trigger and poll for the outer arm (the B16s deadline pattern)
    val q = graft.streaming.DataOps.streamLeftOuterJoin(stream)
      .writeStream.format("memory").queryName("b32s")
      .outputMode("append").start()
    q.processAllAvailable()
    val deadline = System.currentTimeMillis + 60000
    var last = -1L
    var cur = spark.table("b32s").filter(col("matched") === 0L).count()
    while ((cur == 0 || cur != last) && System.currentTimeMillis < deadline) {
      last = cur; Thread.sleep(1000)
      cur = spark.table("b32s").filter(col("matched") === 0L).count()
    }
    q.processAllAvailable()
    q.stop()
    val out = spark.table("b32s").cache()
    // matched pairs aggregate exactly to the batch range join (B18)
    val got = out.filter(col("matched") === 1L)
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_us"))
      .agg(count(lit(1)).as("n_views_24h"), max(col("view_us")).as("last_view_us"))
    val batch = queries.Analytics.qRangeJoin(spark, dir)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "matched arm must equal the batch range join")
    // the outer arm: purchases with no in-range view emit EXACTLY ONCE
    // with both view columns at the -1 sentinel
    val e2 = graft.util.Tables.normalizeTs(ev)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
    val purch = e2.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us"))
    val views = e2.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("vus"))
    val unmatchedBatch = purch.join(views,
        Seq("user_id"), "left_outer")
      .withColumn("inr", col("vus").isNotNull &&
        col("vus") > col("us") - 86400000000L && col("vus") <= col("us"))
      .groupBy(col("purchase_id"), col("user_id"), col("us"))
      .agg(max(when(col("inr"), 1L).otherwise(0L)).as("has"))
      .filter(col("has") === 0L)
      .select(col("purchase_id"), col("user_id"), col("us").as("purchase_us"))
    val unmatchedGot = out.filter(col("matched") === 0L)
    assert(unmatchedGot.filter(col("view_id") =!= -1L || col("view_us") =!= -1L)
      .count() == 0, "sentinel discipline on the absent side")
    val ug = unmatchedGot.select("purchase_id", "user_id", "purchase_us")
    assert(ug.exceptAll(unmatchedBatch).isEmpty && unmatchedBatch.exceptAll(ug).isEmpty,
      "unmatched purchases must emit exactly once each")
    assert(unmatchedGot.count() > 0, "the outer arm must actually fire")
    out.unpersist()
  }

  test("B15s/B16s TTL arm: expired state is reclaimed and users re-admit as new") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DataOps.{DayEvent, UserEvent}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // NOTE: with ProcessingTimeTimeout the state operator's
    // shouldRunAnotherBatch keeps the engine constructing timer batches
    // forever, so `noNewData` is never signaled and processAllAvailable
    // HANGS — poll the memory sink with a deadline instead.
    def await(cond: => Boolean, msg: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(cond, msg)
    }
    // retention: after the TTL fires, the user's next event starts a
    // NEW cohort (without TTL the second event would be day-offset 90)
    val rin = MemoryStream[DayEvent]
    val rq = graft.streaming.DataOps
      .streamRetention(rin.toDS(), ttl = Some("1 millisecond")).toDF()
      .writeStream.format("memory").queryName("b16s_ttl")
      .outputMode("append").start()
    def rPairs = spark.table("b16s_ttl").as[(Long, Long, Long)].collect().toSet
    try {
      rin.addData(DayEvent(7L, 100L))
      await(rPairs.contains((7L, 100L, 0L)), s"cohort day never emitted: $rPairs")
      // the 1 ms TTL expires on the wall clock; the continuously-running
      // timer batches reclaim user 7's state well inside this sleep
      Thread.sleep(2000)
      rin.addData(DayEvent(7L, 190L)) // re-admits as a fresh cohort
      await(rPairs.contains((7L, 190L, 0L)),
        s"user 7 must re-admit as a new cohort after TTL expiry, got $rPairs")
    } finally rq.stop()
    assert(!rPairs.contains((7L, 100L, 90L)), s"stale cohort survived TTL: $rPairs")

    // funnel: the expired state is emitted once more, then the user
    // restarts at stage 0 — the view after expiry begins a fresh funnel
    val fin = MemoryStream[UserEvent]
    val fq = graft.streaming.DataOps
      .streamFunnel(fin.toDS(), ttl = Some("1 millisecond")).toDF()
      .writeStream.format("memory").queryName("b15s_ttl")
      .outputMode("update").start()
    def fStates = spark.table("b15s_ttl")
      .filter(col("user_id") === 7L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    try {
      fin.addData(UserEvent(7L, "view", 1000L), UserEvent(7L, "click", 2000L))
      await(fStates.contains((7L, 1000L, 2000L, -1L, 2L)),
        s"pre-expiry state never emitted: $fStates")
      Thread.sleep(2000) // TTL fires: final emission + reclaim
      fin.addData(UserEvent(7L, "view", 4000L))
      await(fStates.contains((7L, 4000L, -1L, -1L, 1L)),
        s"user 7 must restart at a fresh stage-1 funnel after TTL expiry, got $fStates")
    } finally fq.stop()
  }

  test("C19s/C20s: curation ops run on a document stream and equal batch") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    // C20s — row-local sampling: identical in micro-batch execution
    runToCompletion(
      ops.Curation.stratifiedSampleFrom(stream, "graft-strat-v1:"), "c20s", "append")
    val s20 = spark.table("c20s")
    val b20 = ops.Curation.stratifiedSample(spark, dir)
    assert(s20.count() == b20.count() && s20.count() > 0)
    assert(s20.exceptAll(b20).isEmpty && b20.exceptAll(s20).isEmpty)
    // C19s — stream-static join: streamed corpus grams against the
    // static benchmark gram set, per-doc counts in update mode
    runToCompletion(
      ops.Curation.contaminationFrom(stream, ops.Curation.benchGrams(spark, dir)),
      "c19s", "update")
    val s19 = spark.table("c19s")
      .groupBy("doc_id").agg(max("n_grams").as("n_grams"),
        max("n_contaminated").as("n_contaminated"), max("contam_ppm").as("contam_ppm"))
    val b19 = ops.Curation.contamination(spark, dir)
    assert(s19.count() == b19.count())
    assert(s19.exceptAll(b19).isEmpty && b19.exceptAll(s19).isEmpty)
  }

  test("C12s: streaming multimodal feature extraction equals the batch path") {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    runToCompletion(graft.ops.Multimodal.featuresFrom(stream), "c12s", "append")
    val streamed = spark.table("c12s")
    val batch = graft.ops.Multimodal.features(spark, dir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // C33s — the frame sampler is stateless per clip: same equality
    val fstream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    runToCompletion(graft.ops.Multimodal.frameSamplesFrom(fstream), "c33s", "append")
    val fs = spark.table("c33s")
    val fb = graft.ops.Multimodal.frameSamples(spark, dir)
    assert(fs.count() == fb.count() && fs.count() > 0)
    assert(fs.exceptAll(fb).isEmpty && fb.exceptAll(fs).isEmpty)
    // C64s — the audio segmenter is stateless per clip: same equality
    val astream = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
    runToCompletion(graft.ops.Multimodal.audioSegmentsFrom(astream), "c64s", "append")
    val as = spark.table("c64s")
    val ab = graft.ops.Multimodal.audioSegments(spark, dir)
    assert(as.count() == ab.count() && as.count() > 0)
    assert(as.exceptAll(ab).isEmpty && ab.exceptAll(as).isEmpty)
  }

  test("A28: watermarked windowed agg matches batch time-bucket totals") {
    val cl = graft.cdc.ChangeEvents.changelog(spark, dir)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = graft.cdc.ChangeEvents.fromEvents(
      spark.readStream.schema(schema).parquet(s"$dir/events.parquet*"))
    runToCompletion(CdcStream.windowedAgg(stream), "a28", "append")
    val streamed = spark.table("a28")
    val batch = cl.groupBy(
        date_trunc("HOUR", col("event_time")).as("window_start"),
        col("schema_name"), col("table_name"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Money.sumCents(col("after_value")).as("sum_value_cents"))
    // append mode only emits windows closed by the watermark; every
    // emitted window must match its batch value and most windows close
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("window_start", "schema_name", "table_name"))
    assert(streamed.count() > 0, "no windows emitted")
    assert(joined.filter(col("s.n_events") =!= col("b.n_events") ||
      col("s.sum_value_cents") =!= col("b.sum_value_cents")).count() == 0)
    assert(joined.count() == streamed.count(), "streamed window missing from batch")
  }

  test("B28s: sliding-window gauge windows equal the half-open interval recount") {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = graft.cdc.ChangeEvents.fromEvents(
      spark.readStream.schema(schema).parquet(s"$dir/events.parquet*"))
    runToCompletion(
      graft.streaming.DataOps.streamConcurrencyGauge(stream), "b28s", "append")
    val streamed = spark.table("b28s").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getLong(2)))
    assert(streamed.nonEmpty, "no windows emitted")
    // dur/slide = 5 overlapping windows per event; every emitted
    // window's count must equal the [start, end) recount
    val times = graft.cdc.ChangeEvents.changelog(spark, dir)
      .select(unix_millis(col("event_time")).as("t")).collect()
      .map(_.getLong(0))
    streamed.foreach { case (s0, e0, n) =>
      assert((e0 - s0) == 300000L, "window length must be the 5m duration")
      val want = times.count(t => t >= s0 && t < e0).toLong
      assert(n == want, s"window [$s0,$e0): $n != $want")
    }
    // the windows really overlap on the slide grid (empty windows are
    // never emitted, so neighbors may skip grid points — but every
    // start sits on the 1m grid and some pair is exactly 1m apart)
    val starts = streamed.map(_._1).distinct.sorted
    assert(starts.forall(_ % 60000L == 0L))
    if (starts.length > 1) {
      val diffs = starts.sliding(2).map { case Array(a, b) => b - a }.toSeq
      assert(diffs.forall(_ % 60000L == 0L))
      assert(diffs.contains(60000L), "no adjacent overlapping windows")
    }
  }

  test("A81s: incremental hot-span walk across tick-ordered micro-batches equals the Lindley closed form") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CdcStream.SpanTick
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cl = graft.cdc.ChangeEvents.changelog(spark, dir)
    val ticks = graft.cdc.Scheduler.hotTicks(cl)
      .as[(String, Long, Long, Long)].collect()
      .map(t => SpanTick(t._1, t._2, t._3, t._4)).sortBy(_.tick)
    // three tick-tercile micro-batches: score/staleness state must
    // survive batch boundaries
    val mx = ticks.map(_.tick).max
    val parts = Seq(
      ticks.filter(_.tick <= mx / 3),
      ticks.filter(t => t.tick > mx / 3 && t.tick <= 2 * mx / 3),
      ticks.filter(_.tick > 2 * mx / 3))
    val in = MemoryStream[SpanTick]
    val q = graft.streaming.CdcStream.streamHotSpans(in.toDS()).toDF()
      .writeStream.format("memory").queryName("a81s")
      .outputMode("update").start()
    try {
      parts.foreach { p => in.addData(p.toSeq); q.processAllAvailable() }
    } finally q.stop()
    // the last summary per span (all ticks folded) = the batch frame
    val finals = spark.table("a81s")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("span")
          .orderBy(col("n_ticks").desc)))
      .filter(col("rn") === 1)
      .select("span", "coeff", "n_ticks", "peak_score", "final_score",
        "last_inc_tick", "is_stale", "is_hot", "split_spans")
    val batch = graft.cdc.Scheduler.hotSpans(cl)
      .select("span", "coeff", "n_ticks", "peak_score", "final_score",
        "last_inc_tick", "is_stale", "is_hot", "split_spans")
    assert(finals.count() == batch.count())
    assert(finals.exceptAll(batch).isEmpty && batch.exceptAll(finals).isEmpty)
    // every span reported a mid-stream verdict too (one per batch)
    assert(spark.table("a81s").count() == 3 * batch.count())
  }
}
