package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The cached/checkpointed frames the signature pipelines pin must be
  * releasable: a long-lived session composing many operators would
  * otherwise accumulate executor storage forever (one localCheckpoint
  * per self-join pipeline per run, plus the shared gram cache). */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  private def pinnedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Ids of the checkpointed RDDs behind memo frames. */
  private def checkpointIds(dfs: Seq[DataFrame]): Set[Int] =
    dfs.flatMap(_.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }).toSet

  test("each memo clear drops its checkpoint blocks along with the entry") {
    val memos: Seq[(String, () => Seq[DataFrame], () => Unit)] = Seq(
      ("winnow", () => Seq(ops.Retrieval.winnowHashesCached(spark, dir, 4)),
        () => ops.Retrieval.clearWinnowMemo()),
      ("repetition", () => Seq(ops.Corpus.textRepetition(spark, dir)),
        () => ops.Corpus.clearRepetitionMemo()),
      ("ivf", () => { val (c, cent, _) = ops.Similarity.ivfIndexInputs(spark, dir); Seq(c, cent) },
        () => ops.Similarity.clearIvfMemo()),
      ("pq", () => { val (c, book, a) = ops.Similarity.pqIndexParts(spark, dir); Seq(c, book, a) },
        () => ops.Similarity.clearIvfMemo()),
      ("pairs", () => Seq(ops.Dedup.ngramPairsCached(spark, dir, 0.5)),
        () => ops.Dedup.clearPairsMemo()),
      ("spans", () => Seq(ops.Retrieval.substringSpansCached(spark, dir, 8)),
        () => ops.Retrieval.clearSpansMemo()))
    for ((name, build, clear) <- memos) {
      graft.util.GraftSession.releaseCaches(spark)
      val ids = checkpointIds(build())
      def pinned = ids.intersect(spark.sparkContext.getPersistentRDDs.keySet)
      assert(ids.nonEmpty && pinned == ids, s"$name memo should pin its checkpoints")
      clear()
      assert(pinned.isEmpty, s"$name clear left pinned RDDs ${pinned.mkString(",")}")
    }
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("releaseCaches frees every pinned frame and operators still rerun") {
    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == 0, "release must start from a clean slate")

    // minhash pins the gram cache + checkpointed signature/band frames
    val r1 = ops.Dedup.minhashLsh(spark, dir).count()
    assert(pinnedRdds > 0, "operator should pin frames while composing")

    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == 0, s"release left $pinnedRdds pinned RDDs")

    // a second run after release recomputes from scratch, yields the
    // same result, and pins no more than the first run did
    val before = pinnedRdds
    val r2 = ops.Dedup.minhashLsh(spark, dir).count()
    assert(r2 == r1)
    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == before, "cache entry count grew across runs")
  }

  test("ivf index memo shares one build and releases with the caches") {
    graft.util.GraftSession.releaseCaches(spark)
    val (c1, cent1, k1) = ops.Similarity.ivfIndexInputs(spark, dir)
    val (c2, cent2, k2) = ops.Similarity.ivfIndexInputs(spark, dir)
    assert((c1 eq c2) && (cent1 eq cent2) && k1 == k2,
      "second lookup should reuse the memoized build")
    val n1 = cent1.count()
    graft.util.GraftSession.releaseCaches(spark)
    val (c3, cent3, _) = ops.Similarity.ivfIndexInputs(spark, dir)
    assert(!(c3 eq c1), "release must drop the ivf memo")
    // the rebuilt frames must be live (their blocks exist) and identical
    assert(cent3.count() == n1)
    assert(c3.count() > 0)
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("repetition-profile and winnow-fingerprint memos share one build and release") {
    graft.util.GraftSession.releaseCaches(spark)
    val rep = ops.Corpus.textRepetition(spark, dir)
    assert(ops.Corpus.textRepetition(spark, dir) eq rep,
      "second C14 call should reuse the memoized profile")
    val nRep = rep.count()
    // C39 and C42 must share ONE fingerprint frame (win=4 default)
    val d1 = ops.Retrieval.decontaminateWinnow(spark, dir).count()
    val pinnedAfterDeco = pinnedRdds
    val c1 = ops.Retrieval.dedupContainment(spark, dir).count()
    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == 0, s"release left $pinnedRdds pinned RDDs")
    // rebuilt frames are live and identical after release
    val rep2 = ops.Corpus.textRepetition(spark, dir)
    assert(!(rep2 eq rep), "release must drop the C14 memo")
    assert(rep2.count() == nRep)
    assert(ops.Retrieval.decontaminateWinnow(spark, dir).count() == d1)
    assert(ops.Retrieval.dedupContainment(spark, dir).count() == c1)
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("dedup cluster memo shares one frame per (dir, tau) and releases") {
    graft.util.GraftSession.releaseCaches(spark)
    val a = ops.Curation.dedupClusters(spark, dir)
    assert(ops.Curation.dedupClusters(spark, dir) eq a,
      "second call should reuse the memoized frame")
    val n1 = a.count()
    graft.util.GraftSession.releaseCaches(spark)
    val c = ops.Curation.dedupClusters(spark, dir)
    assert(!(c eq a), "release must drop the memo")
    assert(c.count() == n1)
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("docTokens cache equals a raw tokenize and releases with the caches") {
    import org.apache.spark.sql.functions._
    graft.util.GraftSession.releaseCaches(spark)
    val cached = ops.Text.docTokens(spark, dir)
    val raw = graft.util.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        ops.Text.tokens(col("text")).as("toks"))
    // set equality on a stable rendering (token arrays joined)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        array_join(col("toks"), "\u0001").as("t"))
        .collect().map(_.toString).sorted.toSeq
    assert(canon(cached) == canon(raw))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "docTokens must pin through the CacheManager")
    graft.util.GraftSession.releaseCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseCaches must free the token cache")
    // rebuilds fresh after release
    assert(ops.Text.docTokens(spark, dir).count() == raw.count())
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("C4 pair-ledger memo shares one frame, equals the fresh query, and releases") {
    graft.util.GraftSession.releaseCaches(spark)
    val a = ops.Dedup.ngramPairsCached(spark, dir, 0.5)
    assert(ops.Dedup.ngramPairsCached(spark, dir, 0.5) eq a,
      "second lookup should reuse the memoized ledger")
    // the ledger IS the declared C4 pair set (dropping only the score
    // column) — the consumers (C18/C71/C78) must see identical edges
    val fresh = ops.Dedup.ngramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    assert(a.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
    val b = ops.Dedup.ngramPairsCached(spark, dir, 0.5)
    assert(!(b eq a), "release must drop the pair memo")
    assert(b.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("C59 span-ledger memo shares one frame, equals the fresh query, and releases") {
    graft.util.GraftSession.releaseCaches(spark)
    val a = ops.Retrieval.substringSpansCached(spark, dir, 8)
    assert(ops.Retrieval.substringSpansCached(spark, dir, 8) eq a,
      "second lookup should reuse the memoized ledger")
    val fresh = ops.Retrieval.dedupSubstringSpans(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
    val b = ops.Retrieval.substringSpansCached(spark, dir, 8)
    assert(!(b eq a), "release must drop the span memo")
    assert(b.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("changelog dimension + span census memos share one build and release") {
    graft.util.GraftSession.releaseCaches(spark)
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    // identity reuse across calls — including a SEPARATELY BUILT
    // changelog frame for the same dir (the memo keys on the
    // canonicalized plan, which is what every query registration builds)
    val t1 = cdc.ClDims.tables(cl)
    val t2 = cdc.ClDims.tables(cdc.ChangeEvents.changelog(spark, dir))
    assert(t1 eq t2, "same-plan lookup should reuse the memoized tables")
    val m1 = cdc.ClDims.maxTs(cl)
    assert(cdc.ClDims.maxTs(cl) eq m1)
    assert(pinnedRdds > 0)
    val nTables = t1.count() // released checkpoints can't recompute
    // the census memo layers on top (scheduler family)
    val s1 = cdc.Scheduler.basicSchedule(cl).count()
    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == 0, s"release left $pinnedRdds pinned RDDs")
    // rebuilt frames are live and identical after release
    val t3 = cdc.ClDims.tables(cdc.ChangeEvents.changelog(spark, dir))
    assert(!(t3 eq t1), "release must drop the dims memo")
    assert(t3.count() == nTables)
    assert(cdc.Scheduler.basicSchedule(
      cdc.ChangeEvents.changelog(spark, dir)).count() == s1)
    graft.util.GraftSession.releaseCaches(spark)
  }

  private def tempDir(): java.io.File =
    java.nio.file.Files.createTempDirectory("graft-cache").toFile

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** (rows, bit_xor of a row hash) over every column. */
  private def digest(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("changelog store is one frame per session and listing, and releases") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel.NONE
    graft.util.GraftSession.releaseCaches(spark)
    val store = cdc.ChangeEvents.changelog(spark, dir)
    assert(store.storageLevel == NONE, "a first read must not build the store")
    assert(cdc.ChangeEvents.changelog(spark, dir) eq store,
      "repeated calls should return the same frame")
    assert(store.storageLevel != NONE, "a second read must pin the store")
    assert(digest(store) ==
      digest(cdc.ChangeEvents.fromEvents(graft.util.Tables.events(spark, dir))))
    // every transaction lives in one partition of the store
    assert(store.select(col("start_ts"), spark_partition_id().as("part"))
      .groupBy("start_ts").agg(countDistinct("part").as("n"))
      .filter(col("n") > 1).count() == 0)
    // the store is the only frame pinned since the release above
    val ids = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.nonEmpty, "the store must be pinned")

    // a part file added under a copied events directory is picked up
    // without releaseCaches
    val tmp = tempDir()
    try {
      val events = new java.io.File(tmp, "events.parquet")
      events.mkdir()
      val src = new java.io.File(s"$dir/events.parquet").toPath
      java.nio.file.Files.copy(src, new java.io.File(events, "part-0.parquet").toPath)
      val one = cdc.ChangeEvents.changelog(spark, tmp.getPath)
      assert(cdc.ChangeEvents.changelog(spark, tmp.getPath) eq one)
      val n = one.count()
      java.nio.file.Files.copy(src, new java.io.File(events, "part-1.parquet").toPath)
      val two = cdc.ChangeEvents.changelog(spark, tmp.getPath)
      assert(!(two eq one), "a changed listing must rebuild the store")
      assert(one.storageLevel == NONE, "a changed listing must drop the old store")
      assert(two.count() == 2 * n)
      assert(cdc.ChangeEvents.changelog(spark, tmp.getPath) eq two)
      assert(two.storageLevel != NONE)
      assert(two.count() == 2 * n)
    } finally deleteTree(tmp)

    graft.util.GraftSession.releaseCaches(spark)
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains),
      "releaseCaches left the store pinned")
    assert(pinnedRdds == 0, s"release left $pinnedRdds pinned RDDs")
    assert(!(cdc.ChangeEvents.changelog(spark, dir) eq store),
      "release must drop the store")
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("a table rewritten at the same path is read with its new schema") {
    import spark.implicits._
    val tmp = tempDir()
    try {
      val path = s"${tmp.getPath}/t.parquet"
      Seq(1L, 2L).toDF("a").write.parquet(path)
      assert(graft.util.Tables(spark, tmp.getPath, "t").schema.fieldNames.toSeq == Seq("a"))
      Seq(("x", 1)).toDF("a", "b").write.mode("overwrite").parquet(path)
      val t = graft.util.Tables(spark, tmp.getPath, "t")
      assert(t.schema.map(f => f.name -> f.dataType.typeName) ==
        Seq("a" -> "string", "b" -> "integer"))
      assert(t.collect().map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("x", 1)))
    } finally deleteTree(tmp)
  }
}
