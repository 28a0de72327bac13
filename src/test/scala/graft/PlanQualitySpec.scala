package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the scale properties SURVEY.md §5 promises,
  * checked as contracts so a refactor can't silently regress them. */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("ts filter pushes down to the parquet scan") {
    // other suites may have read the changelog twice, which pins it;
    // a session's first read plans over the scan
    graft.util.GraftSession.releaseCaches(spark)
    val p = plan(cdc.Filters.tsFilter(cdc.ChangeEvents.changelog(spark, dir), 100L))
    // the commit_ts predicate is on event_id; pushdown must reach the scan
    assert(p.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)]"), p)
  }

  test("column selector prunes the scan schema") {
    graft.util.GraftSession.releaseCaches(spark)
    val p = plan(cdc.ChangeEvents.changelog(spark, dir)
      .select("schema_name", "table_name", "pk", "commit_ts", "op", "after_value"))
    // props/ts must not be read for this projection
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), readSchema)
  }

  test("q3 and q5 broadcast their dimension sides") {
    assert(plan(queries.Analytics.q3JoinTopN(spark, dir)).contains("BroadcastHashJoin"))
    val q5 = plan(queries.Analytics.q5MultiJoin(spark, dir))
    assert(q5.contains("BroadcastHashJoin"), q5)
  }

  test("no query plans a cartesian product or broadcast nested loop join") {
    // BNLJ is legitimate only where the build side is deliberately tiny:
    // the 1-row scalar-subquery broadcast, and the schema-version
    // dimension (a handful of rows) that the schema store cross-joins
    // against the table list by construction.
    // ann_topk_bruteforce: broadcast of nQueries rows against a single
    // corpus scan via a non-equi (!=) condition IS the brute-force design.
    // cdc_syncpoint: tables x boundary-grid broadcast cross is the
    // telescoping-delta design (boundaries are max_ts/step rows).
    // ann_ivf: corpus x k-centroid broadcast cross for list assignment
    // is the IVF index build (centroids are k rows).
    // doc_tfidf: the 1-row corpus-size scalar broadcast (same shape as
    // q_scalar_subquery).
    // codec_simple_decode re-plans the codec_simple stream and inherits
    // its schema-version-grid broadcast; its own schema-cache join is a
    // BroadcastHashJoin.
    // sink_mysql_ddl re-plans the DDL stream (same version-grid
    // broadcast) and its influence='all' arm is a deliberate broadcast
    // cross against the tables-×-1 universe frame.
    // codec_simple_avro(_decode), codec_open_wire(_decode) and
    // codec_canal_envelope embed the same DDL stream (SchemaStore
    // .ddlEvents) and inherit its version-grid broadcast.
    val tinyBroadcastByDesign = Set("q_scalar_subquery",
      "cdc_dynstream_path_assign", // 1-row handoff-midpoint broadcast
      "cdc_event_seq_check", // 1-row ts-bounds broadcast (chunk grid)
      "cdc_schema_asof", "cdc_ddl_events", "cdc_ddl_filter_rich", "codec_simple",
      "codec_simple_decode", "sink_mysql_ddl", "sink_startts_resume",
      "sink_syncpoint_stmts", "codec_simple_avro", "codec_simple_avro_decode",
      "codec_open_wire", "codec_open_wire_bytes", "codec_open_wire_decode",
      "sink_ddl_routing", // DDL grid + the 1-row checkpoint x topics cross
      "codec_canal_envelope", "codec_canal_envelope_decode",
      "ann_topk_bruteforce", "ann_matryoshka_topk", "cdc_syncpoint",
      "ann_ivf", "doc_tfidf",
      "dedup_semantic", // shares ann_ivf's corpus x k-centroid broadcast cross
      "source_mix_weights", // 1-row totals broadcast (q_scalar_subquery shape)
      "mix_epoch_plan",     // embeds C26's totals cross + its own 1-row budget cross
      "knn_graph", // shares the ann_ivf corpus x k-centroid assignment cross
      // the shared assignment cross + its 1-row n_cells broadcast
      "cluster_label_tfidf",
      // the deliberate dimension x salt-range replication cross (R rows)
      "q_salted_skew_join",
      // table universe x boundary grid broadcast cross (dimension-scale),
      // the same shape as cdc_syncpoint's telescoping grid
      "cdc_table_lifecycle", "cdc_event_physical",
      // lifecycle grid cross + its own 1-row snapshot-ts broadcast
      "cdc_schema_snapshot",
      // 1-row corpus-total broadcast (q_scalar_subquery shape)
      "text_unigram_surprisal",
      // 1-row feature-totals broadcast over the B-bucket grid (C85)
      "quality_dsir",
      // 1-row token-total broadcast over the bigram candidates (C86)
      "corpus_phrases",
      // 1-row vocab-size broadcast (the C34 shape, bigram arm)
      "text_bigram_surprisal",
      // C34's corpus-total cross + its own 1-row tercile-bounds cross
      "perplexity_bucket",
      // 1-row winner-merge + 1-row stats broadcasts over the vocab table
      "bpe_pair_merge",
      // embeds C40's tercile cross + C34's corpus-total cross
      "curation_funnel",
      // the 10-row-per-prio decile position grid broadcast-range-joined
      // to the value cells it intersects (the B39 distributed-rank
      // rewrite; the grid is 50 rows at any corpus size)
      "q_ntile_cume",
      // 1-row token-total broadcast (q_scalar_subquery shape)
      "seq_length_histogram",
      // 1-row totals + 3-row mass-pct grid broadcast crosses over the
      // distinct-frequency value grid (C81)
      "vocab_concentration",
      // universe x boundary-grid broadcast cross (cdc_syncpoint shape)
      "cdc_ddl_barrier",
      // changefeed-rule LIKE match over the dimension-scale span frame
      "cdc_watermark_agg", "cdc_gc_safepoint", "cdc_changefeed_backoff",
      "cdc_changefeed_overview", // composes A76/A78/A81's crosses
      // 1-row ddl-grid broadcast (q_scalar_subquery shape)
      "cdc_scan_tasks",
      // embeds cdc_scan_tasks' crosses + the table x DDL-grid cross
      "cdc_scan_emit",
      // 1-row pass-boundary broadcast (q_scalar_subquery shape)
      "cdc_table_progress", "cdc_dispatcher_checkpoint",
      // table-stats x node/request grid broadcast crosses (dimension-scale)
      "cdc_log_candidates",
      // scheduler frames: 1-row absent-count cross (A79), group x
      // node-universe cross (A80), span x tick-grid cross (A81) —
      // all dimension-scale
      "cdc_sched_basic", "cdc_sched_balance", "cdc_hot_span",
      // embeds cdc_hot_span's grid cross + global-scope event fan-out
      "cdc_dispatcher_block",
      // embeds cdc_sched_balance's group x node-universe cross
      "cdc_operator_move",
      // embeds cdc_sched_basic's 1-row absent-count cross
      "cdc_operator_addstop",
      // embeds A79's absent-count cross + A80's group x node cross
      "cdc_span_lifecycle",
      // 1-row day-bounds broadcast trimming the unrolled window ends
      "q_rolling_distinct",
      // 1-row corpus-scalars broadcast (q_scalar_subquery shape)
      "bm25_topk",
      // embeds bm25_topk's scalar cross + the 1-row query-vector cross
      "hybrid_rrf_topk",
      // 1-row max-ts broadcast building the signal tick grid (A81 shape)
      "cdc_event_queue_drain",
      // A67 lifecycle grid cross + the 3-row gc-sweep broadcast
      "cdc_schema_gc",
      // corpus x bounded-query-block broadcast (the ann_topk shape)
      "hard_negatives",
      // 1-row (min, width) id-span broadcast bucketing the token stream
      "vocab_growth",
      // 1-row merge-table broadcast over the vocab table (C41 shape)
      "bpe_segment",
      // 1-row (gc, upper) bounds cross over the dimension-scale universe
      "cdc_schema_persist_key",
      // embeds bpe_segment's 1-row merge-table cross
      "tokenizer_fertility",
      // 1-row total-pairs broadcast over the 6-cell grid
      "split_leakage",
      // 1-row (min, width) span broadcast bucketing the value stream
      "q_histogram",
      // the DECLARED sampled-quadratic truth join (sample x sample,
      // bounded to ~sampleTarget docs by the corpus-derived modulus —
      // an audit, not a pipeline stage)
      "lsh_recall_audit",
      // embeds hybrid_rrf_topk's scalar + query-vector crosses
      "rag_context_pack")
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!tinyBroadcastByDesign(name)) {
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested loop join")
      }
    }
  }

  test("no corpus-scale frame flows through an unpartitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    // An unpartitioned Window pulls its whole input into ONE task — a
    // scale-killer when the input is corpus-sized (the r7 bm25_topk
    // verdict). It is admissible only when the frame is bounded by
    // construction: a post-limit top-k (a GlobalLimit below the
    // window), or one of the dimension/grid-scale frames listed here,
    // whose row count is fixed by the schema universe or an integer
    // grid, never by data volume.
    val boundedGridByDesign = Set(
      // table-universe row_number assigns table ids (SchemaStore:99,
      // EventService:423/:567) — rows = #tables
      "cdc_table_lifecycle", "cdc_event_physical", "cdc_schema_snapshot",
      "cdc_kv_key_codec", "cdc_log_candidates", "cdc_eventstore_key",
      // node/span scheduling frames (Scheduler:136) — rows = nodes x spans
      "cdc_sched_basic", "cdc_sched_balance",
      // embeds the A80 balance frame; its own fold is per-move grouped
      "cdc_operator_move",
      // embeds the A79 slot frame + the changefeed-universe stop rank
      "cdc_operator_addstop",
      // embeds the A79/A80 frames + the dropped-span/move round-robin
      // ranks (rows = span census / move batch)
      "cdc_span_lifecycle",
      // changefeed-fleet x boundary grid (Barrier) — rows = fleet size
      "cdc_gc_safepoint", "cdc_changefeed_overview",
      // syncpoint boundary grid (MysqlDdl:168) — rows = max_ts / step
      "sink_syncpoint_stmts",
      // embeds the A67 table-universe row_number (rows = #tables)
      "cdc_schema_gc",
      // integer value/bucket grids (TextAnalysis:317, Corpus:379)
      "perplexity_bucket", "seq_length_histogram",
      // global share window over the 25-row nation grid
      "q_share_of_total",
      // embeds C40's tercile grid
      "curation_funnel",
      // cumulative window over the 10-row corpus-decile grid
      "vocab_growth",
      // cumulative window over the distinct-frequency value grid
      // (O(sqrt N) rows by the sum-of-distinct-counts bound)
      "vocab_concentration",
      // alphabet^2-bounded pair-vocab ranking (the bpe_pair_merge grid)
      "bpe_segment",
      // key-universe rank pair over the dimension-scale persist keyspace
      "cdc_schema_persist_key",
      // table-universe subscription rank (rows = #tables)
      "cdc_sub_range_tasks",
      // embeds bpe_segment's pair-vocab ranking grid
      "tokenizer_fertility",
      // budget window over the <=k-row broadcast-joined ranking
      "rag_context_pack",
      // lag windows over the bounded month grid (pre-aggregated)
      "q_period_over_period")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!boundedGridByDesign(name)) {
        val lp = fn(spark, dir).queryExecution.optimizedPlan
        val bad = lp.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst { case _: GlobalLimit => () }.isEmpty => w
        }
        assert(bad.isEmpty,
          s"$name plans ${bad.size} unpartitioned corpus-scale window(s)")
      }
    }
  }

  test("dimension-keyed rank queries keep their windows off corpus-scale rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // The r9 q_ntile_cume lesson: a window PARTITIONED by a
    // dimension-bounded key (5 order priorities, 25 nations) is as
    // much a scale-killer as an unpartitioned one — parallelism is
    // the key's cardinality, so one task sorts corpus/|dim| rows.
    // The rewrites keep every single-key window on a bounded frame:
    // B37/B39 window single-key only over the (part, bucket) TOTALS
    // aggregate (dimension-scale rows) and cumulate within buckets at
    // (part × bucket) parallelism; B38 cuts candidates to ≤5 per
    // (nation × salt) group before the single-key global rank.
    for (name <- Seq("q_ntile_cume", "q_percentile_exact")) {
      val lp = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      val wins = lp.collect { case w: LWindow => w }
      assert(wins.exists(_.partitionSpec.length >= 2),
        s"$name lost its within-bucket (part, bkt) window")
      wins.filter(_.partitionSpec.length == 1).foreach { w =>
        assert(w.child.collectFirst { case _: Aggregate => () }.nonEmpty,
          s"$name plans a single-key window over a non-aggregated " +
            "(corpus-scale) frame")
      }
    }
    val sa = SparkEntry.queries("q_string_agg")(spark, dir)
      .queryExecution.optimizedPlan
    sa.collect { case w: LWindow => w }
      .filter(_.partitionSpec.length == 1).foreach { w =>
        assert(w.child.collectFirst {
          case inner: LWindow if inner.partitionSpec.length >= 2 => ()
        }.nonEmpty,
          "q_string_agg's global top-5 window is not fed by the " +
            "salted candidate cut")
      }
  }

  test("funnel stacks its stage windows on one user-keyed shuffle") {
    val p = queries.Analytics.qFunnel(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1, p)
  }

  /** Exchanges a query PAYS per run: the printed plan embeds each
    * cached relation's one-time build plan (the r16 docTokens /
    * gramsCached repartitions, materialized once per session), so the
    * count skips everything indented under an InMemoryRelation line.
    * (Tree collect cannot be used instead: executedPlan is an
    * AdaptiveSparkPlanExec leaf wrapper, and the pre-AQE sparkPlan has
    * not run EnsureRequirements yet, so it carries no exchanges.) */
  private def paidExchanges(df: org.apache.spark.sql.DataFrame): Int =
    exchangeLines(df)._1.size

  /** Exchange lines of the printed executed plan: (paid per run, inside
    * a cached relation's one-time build). */
  private def exchangeLines(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    def ind(l: String): Int = math.max(l.indexWhere(_.isLetter), 0)
    var skip = -1
    val paid = Seq.newBuilder[String]; val built = Seq.newBuilder[String]
    for (l <- df.queryExecution.executedPlan.toString.linesIterator) {
      val i = ind(l)
      if (skip >= 0 && i <= skip) skip = -1
      if (skip < 0 && l.contains("InMemoryRelation")) skip = i
      else if (l.contains("Exchange")) (if (skip < 0) paid else built) += l.trim
    }
    (paid.result(), built.result())
  }

  /** The changelog store: a second read in the session pins the frame
    * that every read returns. */
  private def store: org.apache.spark.sql.DataFrame = {
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    assert(cdc.ChangeEvents.changelog(spark, dir) eq cl)
    cl
  }

  /** The changelog store's one-time build is its start_ts repartition
    * and nothing else. */
  private def assertStoreBuild(df: org.apache.spark.sql.DataFrame): Unit = {
    val built = exchangeLines(df)._2
    assert(built.forall(_.contains("Exchange hashpartitioning(start_ts")),
      s"unexpected exchange in the changelog store build:\n${built.mkString("\n")}")
  }

  test("new aggregation ops hold their probed shuffle budgets") {
    // tree-collect, NOT string count: the r16 docTokens cache nests its
    // one-time build plan (with its repartition exchange) inside the
    // printed InMemoryRelation; executed-tree exchanges are the ones a
    // query actually pays per run
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      paidExchanges(df)
    // seq_pack: one (lang, shard) window shuffle; corpus_stats: one
    // cell-keyed aggregation; retention: user window + cohort cell
    assert(exchanges(ops.Corpus.seqPack(spark, dir)) == 1)
    assert(exchanges(ops.Corpus.corpusStats(spark, dir)) == 1)
    assert(exchanges(queries.Analytics.qRetention(spark, dir)) == 2)
    // the full ranking-window family shares one keyed shuffle
    assert(exchanges(queries.Analytics.qWindowRanks(spark, dir)) == 1)
  }

  test("minhash banding is row-local: no aggregate, no shuffle beyond the scan repartition") {
    // the r1-r8 shape exploded grams into a 128-min groupBy — a
    // corpus-scale shuffle; the fused MinhashBandKeys expression must
    // keep banding a pure projection (the only exchange is the shared
    // gram cache's single-split repartition)
    val banded = ops.Dedup.gramFrame(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.posexplode(
          graft.functions.VectorExprs.minhashBands(
            org.apache.spark.sql.functions.col("grams"), 128, 16))
          .as(Seq("band_id", "band_key")))
    val p = banded.queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate"), p)
    // the banding subtree is Generate directly over the cached gram
    // scan — any Exchange lines in the plan text belong to the cached
    // relation's own materialization (the single-split repartition),
    // not to banding
    assert(p.linesIterator.take(3).mkString("\n").contains("posexplode"), p)
    // executed-tree count: the printed plan also embeds the token/gram
    // caches' one-time build plans (their exchanges run once a session)
    assert(paidExchanges(banded) == 0, p)
  }

  test("line dedup is windowless partial aggregation on the line key") {
    val df = ops.Dedup.dedupLines(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // boilerplate lines are hot keys: first-occurrence resolution must
    // be a map-side-combined aggregate, never a window over the line
    assert(!p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).length <= 3,
      s"line agg + occurrence probe + doc reassembly expected, got:\n$p")
  }

  test("salted skew join spreads hot keys and keeps the two-stage aggregation") {
    val df = queries.Analytics.qSaltedSkewJoin(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the join must be the salted shuffle join (no broadcast collapse
    // erasing the demonstration) with salt in the join keys
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("salt"), p)
    // partial (type, salt) aggregate below the final per-type one
    assert("HashAggregate\\(keys=\\[event_type[^\\]]*salt".r
      .findFirstIn(p).isDefined, p)
  }

  test("txn matcher shuffles each leg once on the matcher key, nothing twice") {
    val cl = store
    val m = cdc.TxnMatcher.matched(cl)
    val p = m.queryExecution.executedPlan.toString
    // every leg (prewrite dedup, rollback anti, commit probe) hashes
    // its own arm-filtered SLICE of the changelog on (table, key,
    // startTs) — total shuffled bytes ~ one pass of the data, and the
    // anti/inner joins must ride the dedup agg's partitioning rather
    // than re-shuffling it. Paid per run: each leg's scan of the
    // changelog store prints the store's one-time build as well.
    assertStoreBuild(m)
    val fresh = exchangeLines(m)._1.count(_.contains("Exchange hashpartitioning"))
    assert(fresh <= 4, s"expected <=4 keyed exchanges (one per input leg), got $fresh:\n$p")
    assert(!p.contains("SortMergeJoin") || fresh <= 4, p)
  }

  test("vocab membership is a broadcast join, not a corpus shuffle") {
    val p = ops.TextAnalysis.vocabCoverage(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("new wire ops hold their shuffle budgets") {
    // paid per run: the printed plan also embeds the changelog store's
    // one-time start_ts repartition under its InMemoryRelation
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      assertStoreBuild(df)
      paidExchanges(df)
    }
    val cl = store
    // the Avro arm emits the same legs as the JSON arm (DML row-local,
    // bootstrap distinct, cadence window, DDL grid, watermark agg) —
    // the wire format must not change the shuffle structure
    assert(exchanges(cdc.SimpleAvro.messages(cl)) ==
      exchanges(cdc.SimpleProtocol.messages(cl)),
      "avro arm must match the JSON arm's shuffle budget")
    // handle-key degrade is a pure projection over the changelog
    assert(exchanges(cdc.Sinks.handleKeyOnly(cl, 16, 75)) == 0)
    // open-wire ROW batching is ONE window shuffle whose (table,
    // partition) hash partitioning the batch groupBy reuses (its keys
    // are a superset), so the ROW leg contributes exactly one exchange
    val ow = cdc.OpenWire.messages(cl, 16, 4)
    val p = ow.queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(p).length == 1, p)
    val ddlLeg = exchanges(cdc.SchemaStore.ddlEvents(cl, Nil))
    assert(exchanges(ow) <= 1 + ddlLeg + 1,
      s"open-wire exchanges ${exchanges(ow)} vs ROW 1 + ddl $ddlLeg + watermark 1")
  }

  test("as-of and range joins are equi-planned, never per-pair") {
    // the union-tag as-of: no join operator AT ALL — one user-keyed
    // window over the unioned stream is the whole operator
    val asof = queries.Analytics.qAsofJoin(spark, dir)
    val pa = asof.queryExecution.executedPlan.toString
    assert(!pa.contains("Join"), s"as-of must be join-free:\n$pa")
    assert("Window".r.findAllIn(pa).length == 1, pa)
    // the bucketed range join: an EQUI hash/sort-merge join on
    // (user, bucket) — the generic no-cartesian assertion already
    // covers it, this pins that the range predicate stayed a filter
    val rj = queries.Analytics.qRangeJoin(spark, dir)
    val pr = rj.queryExecution.executedPlan.toString
    assert(pr.contains("SortMergeJoin") || pr.contains("ShuffledHashJoin") ||
      pr.contains("BroadcastHashJoin"), s"range join must be equi-planned:\n$pr")
  }

  test("snapshot materialization is a partial aggregation, not a global sort window") {
    val p = plan(cdc.Materialize.snapshot(cdc.ChangeEvents.changelog(spark, dir)))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("Window"), "snapshot should not use a window function")
  }

  test("dispatchers and codecs add no shuffle beyond the scan") {
    val cl = store
    for ((name, df) <- Seq(
      "dispatch_table" -> cdc.Dispatchers.byTable(cl, 16),
      "canal" -> cdc.Codecs.canalJson(cl),
      // topic_router is asserted separately below: its per-table topic
      // dimension join adds a BroadcastExchange (6 rows), not a shuffle
      "claim_check" -> cdc.Sinks.claimCheck(cl, 16, 180),
      "craft" -> cdc.Craft.frame(cl),
      "craft_decode" -> cdc.Craft.decode(cdc.Craft.frame(cl)),
      "avro_binary" -> cdc.AvroBinary.messages(cl),
      "canal_decode" -> cdc.Codecs.canalJsonDecode(cl),
      "checksum_verify" -> cdc.Checksum.verify(cl),
      "compression" -> cdc.Sinks.compressedClaimCheck(cl, 16, 75),
      "data_split" -> ops.Corpus.dataSplit(spark, dir),
      "stratified_sample" -> ops.Curation.stratifiedSample(spark, dir),
      "pii_redact" -> ops.Curation.piiRedact(spark, dir))) {
      // paid per run: the cached changelog store and token frame print
      // their one-time repartition under an InMemoryRelation
      assert(paidExchanges(df) == 0,
        s"$name introduces a shuffle:\n${df.queryExecution.executedPlan}")
    }
    assertStoreBuild(cl)
    assert(exchangeLines(cl)._2.nonEmpty, cl.queryExecution.executedPlan.toString)
    // A30: the rule-match + sanitize chain runs once per distinct table
    // (the reference's own per-table topic cache); events pick their
    // topic via a broadcast hash join — a BroadcastExchange of the
    // table dimension is the design, a shuffle of the events is not.
    val routed = cdc.Routing.route(cl, Seq(Seq("db0.%") -> "t_{schema}"), "d")
    val router = plan(routed)
    assert(router.contains("BroadcastHashJoin"), router)
    assertStoreBuild(routed)
    assert(exchangeLines(routed)._1.forall(_.contains("BroadcastExchange")),
      s"topic_router shuffles the event stream:\n$router")
  }

  test("sinks keyed on start_ts reuse the changelog's partitioning") {
    // no transaction spans two changelog partitions, so the per-txn
    // sinks group within a partition. On the first read the changelog's
    // own repartition is their only exchange; over the store they pay
    // none. The cached plan reports its partitioning once it is built.
    val cfg = cdc.Changefeed.Config(tableRules = Seq("db0.%", "db1.t1"), ignoreOps = Seq("D"))
    def sinks(cl: org.apache.spark.sql.DataFrame) = Seq(
      "mysql" -> cdc.Changefeed.mysql(cl, cfg),
      "txn_atomicity" -> cdc.Sinks.txnAtomicity(cdc.Changefeed.filtered(cl, cfg), cfg.maxTxnRow))
    graft.util.GraftSession.releaseCaches(spark)
    for ((name, df) <- sinks(cdc.ChangeEvents.changelog(spark, dir))) {
      val paid = exchangeLines(df)._1
      assert(paid.size == 1 && paid.head.contains("Exchange hashpartitioning(start_ts"),
        s"$name on the first read:\n${df.queryExecution.executedPlan}")
    }
    val cl = store
    cl.count()
    for ((name, df) <- sinks(cl)) {
      assertStoreBuild(df)
      assert(paidExchanges(df) == 0, s"$name over the store:\n${df.queryExecution.executedPlan}")
    }
  }

  test("large-message sinks render the canal payload exactly once per row") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // The dual-render disease (r11 ADVICE, three sites by now): a
    // conditional reference to the rendered value plus an
    // octet_length over it is invisible to CSE and duplicated by
    // CollapseProject, so every inline message pays the full canal
    // concat twice. Contract: across the whole optimized plan, the
    // canal render marker literal ("sqlType" — the metadata block only
    // the FULL payload carries; the degraded handle-key stub shares
    // "pkNames" but not it) appears in exactly one expression tree.
    val cl = cdc.ChangeEvents.changelog(spark, dir)
    for ((name, df) <- Seq(
      "claim_check" -> cdc.Sinks.claimCheck(cl, 16, 758),
      "compression" -> cdc.Sinks.compressedClaimCheck(cl, 16, 465),
      "handle_key_only" -> cdc.Sinks.handleKeyOnly(cl, 16, 465))) {
      val lp = df.queryExecution.optimizedPlan
      val renders = lp.map(node => node.expressions.map(_.collect {
        case l: Literal if l.value != null &&
          l.value.toString.contains("\"sqlType\"") => l
      }.size).sum).sum
      assert(renders == 1,
        s"$name renders the canal payload $renders times:\n$lp")
    }
  }

  test("containment verify ships no array column into a join or aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.types.ArrayType
    // The r10 regression: joining BOTH docs' full gram arrays onto
    // every candidate pair shipped pair x array bytes through the
    // shuffle (judge: 52 s / 477 s pass-to-pass at docs10). The fixed
    // plan counts shared grams from the exploded (doc, gram) frame, so
    // every shuffle producer — joins, the distinct, the pair count —
    // must see scalar columns only. Arrays may exist row-locally
    // (explode's input), never at a shuffle boundary.
    val lp = SparkEntry.queries("dedup_containment")(spark, dir)
      .queryExecution.optimizedPlan
    val offenders = lp.collect {
      case j: Join if j.children.exists(
        _.output.exists(_.dataType.isInstanceOf[ArrayType])) => j.nodeName
      case a: Aggregate if a.child.output.exists(
        _.dataType.isInstanceOf[ArrayType]) => a.nodeName
    }
    assert(offenders.isEmpty,
      s"dedup_containment ships array columns into shuffle-bound " +
        s"node(s): ${offenders.mkString(", ")}")
  }
}
