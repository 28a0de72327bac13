package graft.util

import org.apache.spark.sql.SparkSession

/** Shared SparkSession defaults for the graft engine.
  *
  * - UTC session time zone (oracle parity with DuckDB).
  * - `nanosAsLong`: the driver's events.parquet carries TIMESTAMP(NANOS)
  *   which Spark 4 cannot map natively; we read nanos as long and convert
  *   with `timestamp_micros(ts div 1000)` (identical to DuckDB's
  *   ns->us cast truncation for positive epochs).
  * - AQE on: runtime coalescing + skew-join splitting matter at scale.
  */
object GraftSession {

  /** WindowExec warns "No Partition Defined … moving all data to a
    * single partition" for ANY unpartitioned window. Every
    * unpartitioned window in this engine is bounded BY CONSTRUCTION
    * (audited r16, all 25 sites route through
    * [[graft.util.Windows.bounded]]): post-`limit(k)` top-k re-ranks,
    * value grids (O(√N) distinct frequencies, ≤1000·max_bits millibit
    * values, power-of-two buckets), or dimension tables (schemas,
    * spans, months). Corpus-scale rankings never reach WindowExec —
    * they go through orderBy+limit (TakeOrderedAndProject) first.
    * The explicit constant partition key that Windows.bounded sets to
    * make this self-evident is stripped by Spark 4's
    * EliminateWindowPartitions optimizer rule before execution, so the
    * warning cannot be silenced at the query level — demote this one
    * logger instead. A future genuinely-unbounded window would be a
    * bug in any case at any log level: PlanQualitySpec's plan pins and
    * the Windows.bounded discipline (SourceLintSpec fails on a plain
    * `Window.orderBy` anywhere else) are the real guards. */
  private def quietBoundedWindowWarning(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** WARN log level + the bounded-window demotion above. MUST be used
    * instead of a bare `setLogLevel("WARN")`: SparkContext.setLogLevel
    * calls log4j's setAllLevels(root), which resets EVERY logger and
    * wipes per-logger levels set earlier. */
  def quietLogs(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    quietBoundedWindowWarning()
  }

  /** The session builder every graft entry point uses.
    *
    * Shared generated code: every session of one context (each
    * `newSession()` and each streaming clone) reuses the classes the
    * first one compiled. Spark's generated-class cache keys on (thread
    * context classloader, source text), and two defaults make a fresh
    * session miss it for every class; both are turned off here.
    *
    * - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
    *   every job carries its session's UUID and the executor runs it
    *   under a per-session classloader, so each `newSession()` recompiles
    *   (and re-JITs) every stage. Isolation only scopes jars, files and
    *   archives added to a session; graft adds none (no `addJar`,
    *   `addArtifact` or `addFile` anywhere), so every session already
    *   sees the same classes and turning it off changes no result.
    * - `spark.sql.codegen.useIdInClassName=false`: AQE numbers codegen
    *   stages in an order that varies between runs, so a byte-identical
    *   stage arrives as `GeneratedIteratorForCodegenStage<N>` under a new
    *   N and misses the cache. The id only names the class (it still
    *   appears in plan strings and in the code's comments); each
    *   generated class is compiled alone, so a constant name cannot
    *   clash.
    *
    * CodegenReuseSpec pins the effect: a third fresh session compiles
    * nothing. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    quietBoundedWindowWarning()
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.functions.VectorExprs.register)
      .withExtensions(graft.functions.WireExprs.register)
      .withExtensions(graft.functions.WireRender.register)
      .withExtensions(graft.functions.WireScanExprs.register)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Scan parallelism: the row-local codec family deliberately
      // inherits scan partitioning (PlanQualitySpec pins "no shuffle
      // beyond the scan") — on a real cluster the source arrives in
      // many splits and the work spreads for free. Locally two things
      // must cooperate for that to happen: the file needs multiple
      // row groups (a split only processes row groups STARTING inside
      // its byte range — the driver's single-row-group files are
      // unsplittable at any setting, measured: 24 nominal splits, one
      // did all the work) and maxPartitionBytes must be below the
      // file size. The splittable tiers are sf1x/sf10 (scaleprobe.py
      // writes 100k-row groups, ~1.3-2.7 MB): 4m puts ~1-2 row groups
      // per split (sf1x ~34 splits = 32-way; sf10 ~325). The previous
      // 512k created ~2600 sf10 splits of which ~2000 started inside a
      // row group and processed ZERO rows — but each still re-parsed
      // the 600-row-group footer, a measured 10x scan tax (2.5 s vs
      // 0.43 s warm scan of sf10 lineitem). Single-row-group files
      // (driver SFs, emb/docs/skew tiers) do all work in one split at
      // any setting; 4m just wastes fewer no-op footer parses there.
      // The engine spreads that work itself: the changelog
      // (cdc.ChangeEvents.changelog) and the token frame
      // (ops.Text.docTokens) repartition after their scan.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // ~100 queries x several codegen stages each far exceeds the
      // default 100-entry generated-class cache: a pass-interleaved
      // bench (or any long-lived session composing many operators)
      // would recompile + re-JIT every stage on every revisit. Static
      // conf — must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // One compiled-code cache for every session of this context (each
      // newSession() and each streaming clone) — see the scaladoc above.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      // HotSpot never JIT-compiles a method above 8000 bytecodes
      // (-XX:-DontCompileHugeMethods) while Spark's whole-stage
      // fallback only trips at 65535, so a fused stage landing in
      // 8k..64k runs INTERPRETED with no warning (WSCG cannot split
      // methods: inputs are local variables). Probed both settings on
      // the full sf10 board: forcing the fallback at 8000 fixed the
      // one over-limit stage (changefeed 12.4 -> 3.8 s) but cost MORE
      // broadly where fused-interpreted still beat per-operator row
      // materialization over big strings (session_transcripts 4.2 ->
      // 28 s, q_window_running 2 -> 10 s, the decode family +6 s each;
      // board total 642 -> 698 s). The default stays; over-limit
      // stages get fixed at the EXPRESSION level instead (the codec
      // wire formats are native kernels over plain column refs).
  }

  /** Test/dev session. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    quietLogs(s)
    s
  }

  /** Release every frame the engine pinned: the CacheManager entries,
    * every checkpointed RDD (the registry's checkpoint entries and the
    * operator checkpoints named below) and the session-cache registry
    * ([[Tables.clear]]). One-shot mains (Verify, Bench) never need
    * this — executor storage dies with the session — but a long-lived
    * session composing many operators should call it between
    * pipelines or executor memory/disk accumulates one checkpoint per
    * operator run.
    *
    * CAUTION: this invalidates some DataFrames RETURNED by earlier
    * operator calls, not just the internal caches. A `localCheckpoint`
    * truncates lineage, so a released checkpoint cannot recompute, and
    * re-collecting a pre-release frame that reads one throws. Those
    * frames are the ones over a [[Tables.checkpointed]] entry (winnow
    * fingerprints, repetition profile, IVF and PQ indexes, pair and
    * span ledgers, dedup clusters, changelog census and dimensions)
    * and the results of the operators that checkpoint when they are
    * built: `dedup_minhash_lsh`, `lsh_recall_audit`, `dedup_simhash`,
    * `quality_dsir`, `corpus_phrases`, `q_percentile_exact` and
    * `q_ntile_cume`. Cache-backed and checkpoint-free frames merely
    * recompute. Collect or write results you still need first; after
    * release, re-invoke the operator for a fresh frame. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // the registry first: the sweep then finds only what it missed, so
    // no RDD is unpersisted twice
    Tables.clear()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }
}
