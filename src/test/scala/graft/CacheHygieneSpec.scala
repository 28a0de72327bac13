package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Every frame the engine pins must be releasable: a long-lived
  * session composing many operators would otherwise accumulate
  * executor storage forever (the registry entries, plus the
  * checkpoint the few operators that still take one at build time pin
  * per run). A frame whose operator takes no checkpoint must still
  * collect after a release. */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  private def pinnedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Ids of the checkpointed RDDs behind memo frames. */
  private def checkpointIds(dfs: Seq[DataFrame]): Set[Int] =
    dfs.flatMap(_.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }).toSet

  /** Ids of the RDDs holding the blocks of materialized registry
    * frames: the checkpointed RDDs and the cached column buffers. */
  private def blockIds(dfs: Seq[DataFrame]): Set[Int] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    checkpointIds(dfs) ++ dfs.flatMap(df =>
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id))
  }

  test("each memo clear drops its checkpoint blocks along with the entry") {
    def cl = cdc.ChangeEvents.changelog(spark, dir)
    val kinds: Seq[(String, () => Seq[DataFrame])] = Seq(
      "winnow" -> (() => Seq(ops.Retrieval.winnowHashesCached(spark, dir))),
      "repetition" -> (() => Seq(ops.Corpus.textRepetition(spark, dir))),
      "ivf" -> (() => { val (cent, lists) = ops.Similarity.ivfIndex(spark, dir); Seq(cent, lists) }),
      "pq" -> (() => { val (c, book, a) = ops.Similarity.pqIndexParts(spark, dir); Seq(c, book, a) }),
      "pairs" -> (() => Seq(ops.Dedup.ngramPairsCached(spark, dir))),
      "spans" -> (() => Seq(ops.Retrieval.substringSpansCached(spark, dir))),
      "clusters" -> (() => Seq(ops.Curation.dedupClusters(spark, dir))),
      "census" -> (() => Seq(cdc.Scheduler.spanFrame(cl))),
      "dims" -> (() => Seq(cdc.ClDims.tables(cl), cdc.ClDims.maxTs(cl))),
      "tokens" -> (() => Seq(ops.Text.docTokens(spark, dir))),
      "grams" -> (() => Seq(ops.Dedup.gramsCached(spark, dir))),
      "changelog" -> (() => { cl; Seq(cl) })) // pinned at its second read
    for ((name, build) <- kinds) {
      graft.util.GraftSession.releaseCaches(spark)
      val frames = build()
      frames.foreach(_.count())
      val ids = blockIds(frames)
      def pinned = ids.intersect(spark.sparkContext.getPersistentRDDs.keySet)
      assert(ids.nonEmpty && pinned == ids, s"$name entry should pin its blocks")
      graft.util.Tables.clear()
      assert(pinned.isEmpty, s"$name clear left pinned RDDs ${pinned.mkString(",")}")
    }
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("ivf and pq builds leave only their returned frames pinned") {
    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == 0, "the check must start from a clean slate")
    val (cent, lists) = ops.Similarity.ivfIndex(spark, dir)
    val (pc, book, assigned) = ops.Similarity.pqIndexParts(spark, dir)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet ==
      checkpointIds(Seq(cent, lists, pc, book, assigned)))
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("a dedupClusters build leaves only registry entries pinned") {
    graft.util.GraftSession.releaseCaches(spark)
    assert(pinnedRdds == 0, "the check must start from a clean slate")
    val clusters = ops.Curation.dedupClusters(spark, dir)
    // the registry entries the build reads or makes; the calls below
    // return the frames it already built
    val entries = Seq(clusters, ops.Dedup.ngramPairsCached(spark, dir),
      ops.Text.docTokens(spark, dir), ops.Dedup.gramsCached(spark, dir))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == blockIds(entries),
      "connected-components scratch checkpoints stayed pinned")
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("releaseCaches unpersists each RDD once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerUnpersistRDD}
    graft.util.GraftSession.releaseCaches(spark)
    def cl = cdc.ChangeEvents.changelog(spark, dir)
    Seq(ops.Curation.dedupClusters(spark, dir), cdc.ClDims.tables(cl), cl, cl)
      .foreach(_.count())
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.add(e.rddId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.util.GraftSession.releaseCaches(spark)
      // one queue delivers in order: once this job's end arrives, every
      // unpersist event of the release has been delivered too
      val marker = spark.sparkContext.parallelize(Seq(1), 1)
      marker.count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (ended.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!ended.isEmpty, "the marker job's end never arrived")
      import scala.jdk.CollectionConverters._
      val ids = unpersisted.asScala.toSeq
      assert(ids.nonEmpty, "the release unpersisted nothing")
      val twice = ids.groupBy(identity).collect { case (id, n) if n.size > 1 => id }
      assert(twice.isEmpty, s"RDDs unpersisted more than once: ${twice.mkString(",")}")
    } finally spark.sparkContext.removeSparkListener(listener)
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

  test("frames built without a checkpoint still collect after a release") {
    graft.util.GraftSession.releaseCaches(spark)
    val built = Seq(
      "annMatryoshkaTopK" -> (() => ops.Similarity.annMatryoshkaTopK(spark, dir)),
      "dedupLines" -> (() => ops.Dedup.dedupLines(spark, dir)))
    val frames = built.map { case (name, build) => name -> build() }
    graft.util.GraftSession.releaseCaches(spark)
    for (((name, df), (_, build)) <- frames.zip(built))
      assert(df.collect().toSet == build().collect().toSet, s"$name changed across the release")
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("ivf index memo shares one build and releases with the caches") {
    graft.util.GraftSession.releaseCaches(spark)
    val (cent1, lists1) = ops.Similarity.ivfIndex(spark, dir)
    val (cent2, lists2) = ops.Similarity.ivfIndex(spark, dir)
    assert((cent1 eq cent2) && (lists1 eq lists2),
      "second lookup should reuse the memoized build")
    val n1 = cent1.count()
    graft.util.GraftSession.releaseCaches(spark)
    val (cent3, lists3) = ops.Similarity.ivfIndex(spark, dir)
    assert(!(lists3 eq lists1), "release must drop the ivf memo")
    // the rebuilt frames must be live (their blocks exist) and identical
    assert(cent3.count() == n1)
    assert(lists3.count() > 0)
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
    val a = ops.Dedup.ngramPairsCached(spark, dir)
    assert(ops.Dedup.ngramPairsCached(spark, dir) eq a,
      "second lookup should reuse the memoized ledger")
    // the ledger IS the declared C4 pair set (dropping only the score
    // column) — the consumers (C18/C71/C78) must see identical edges
    val fresh = ops.Dedup.ngramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    assert(a.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
    val b = ops.Dedup.ngramPairsCached(spark, dir)
    assert(!(b eq a), "release must drop the pair memo")
    assert(b.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
  }

  test("C59 span-ledger memo shares one frame, equals the fresh query, and releases") {
    graft.util.GraftSession.releaseCaches(spark)
    val a = ops.Retrieval.substringSpansCached(spark, dir)
    assert(ops.Retrieval.substringSpansCached(spark, dir) eq a,
      "second lookup should reuse the memoized ledger")
    val fresh = ops.Retrieval.dedupSubstringSpans(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a.collect().map(_.toSeq).toSet == fresh)
    graft.util.GraftSession.releaseCaches(spark)
    val b = ops.Retrieval.substringSpansCached(spark, dir)
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

  /** Copy `table` of the test data into `into` as one part file and
    * return the part file's path. */
  private def copyPart(table: String, into: java.io.File, part: String): java.io.File = {
    val d = new java.io.File(into, s"$table.parquet")
    d.mkdirs()
    val f = new java.io.File(d, part)
    java.nio.file.Files.copy(new java.io.File(s"$dir/$table.parquet").toPath, f.toPath)
    f
  }

  /** Write `df` as one more part file `part` of the table at `table`. */
  private def addPart(df: DataFrame, table: java.io.File, part: String): Unit = {
    val out = tempDir()
    try {
      df.coalesce(1).write.mode("overwrite").parquet(s"${out.getPath}/p")
      val f = new java.io.File(out, "p").listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, new java.io.File(table, part).toPath)
    } finally deleteTree(out)
  }

  test("a changelog dimension follows a part file added under its events directory") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir()
    try {
      val first = copyPart("events", tmp, "part-0.parquet")
      val one = cdc.ChangeEvents.changelog(spark, tmp.getPath)
      assert(cdc.ClDims.maxTs(one).head().getLong(0) ==
        one.agg(max(col("commit_ts"))).head().getLong(0))
      addPart(spark.read.parquet(first.getPath)
        .withColumn("event_id", col("event_id") + lit(1000000000L)),
        first.getParentFile, "part-1.parquet")
      val two = cdc.ChangeEvents.changelog(spark, tmp.getPath)
      val newMax = two.agg(max(col("commit_ts"))).head().getLong(0)
      assert(newMax >= 1000000000L)
      val dim = cdc.ClDims.maxTs(two)
      assert(dim.head().getLong(0) == newMax)
      // the dimension and the store it reads agree on the listing, so
      // neither lookup drops the other's entry
      assert(cdc.ChangeEvents.changelog(spark, tmp.getPath) eq two)
      assert(cdc.ClDims.maxTs(two) eq dim)
    } finally deleteTree(tmp)
  }

  test("a repetition profile follows a part file added under its documents directory") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir()
    try {
      val first = copyPart("documents", tmp, "part-0.parquet")
      val n = ops.Corpus.textRepetition(spark, tmp.getPath).count()
      assert(n == ops.Text.docTokens(spark, tmp.getPath).count())
      addPart(spark.read.parquet(first.getPath)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L)),
        first.getParentFile, "part-1.parquet")
      val profile = ops.Corpus.textRepetition(spark, tmp.getPath)
      val tokens = ops.Text.docTokens(spark, tmp.getPath)
      assert(tokens.count() == 2 * n)
      assert(profile.count() == tokens.count())
      assert(ops.Corpus.textRepetition(spark, tmp.getPath) eq profile)
      assert(ops.Text.docTokens(spark, tmp.getPath) eq tokens)
    } finally deleteTree(tmp)
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
