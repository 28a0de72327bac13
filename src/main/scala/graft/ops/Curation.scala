package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.{Checkpoints, Tables}
import graft.functions.Portable

/** Corpus-curation operators that sit between candidate generation and
  * the final training set: dedup-cluster resolution (connected
  * components), benchmark-contamination detection, deterministic
  * stratified sampling, and PII redaction.
  *
  * Scale notes: connected components is the alternating
  * large-star/small-star algorithm from the public MapReduce CC
  * literature — O(log n) rounds, each one shuffle on the star center,
  * with `localCheckpoint` truncating the iterative lineage so the plan
  * does not grow with rounds. Contamination is an explode → semi-join
  * on the gram key (AQE turns it into a broadcast join when the
  * benchmark gram set is small — the realistic case: benchmark suites
  * are fixed-size while the corpus grows). Stratified sampling and PII
  * redaction are pure row-local expressions — zero shuffle at any
  * scale.
  */
object Curation {

  /** [[connectedComponents]]' round cap. */
  val MaxCcRounds = 20
  /** [[stratifiedSample]]'s salt. */
  val StratSalt = "graft-strat-v1:"
  /** [[sourceCap]]'s per-source cap and its salt fan-out. */
  val SourceCap = 10
  val SourceCapSalts = 4
  /** [[qualityFilterBank]]'s thresholds. */
  val MinTokens = 20L
  val MaxTokens = 100000L
  val MinStopPpm = 20000L
  val MaxDupGramPpm = 20000L
  val MaxTopGramPpm = 100000L
  /** [[qualityDsir]]'s target source and hash buckets. */
  val DsirTarget = "src0"
  val DsirBuckets = 1024

  // ---------------------------------------------------------------- C18

  /** Near-dup edges that seed the dedup graph: exact-fingerprint
    * cliques (star edges to the group min) unioned with verified
    * n-gram Jaccard near-dup pairs. Oriented (u > v). */
  private def dupEdges(spark: SparkSession, dir: String): DataFrame = {
    val exact = Tables.documents(spark, dir)
      .select(md5(Text.norm(col("text")).cast("binary")).as("fp"), col("doc_id"))
      .withColumn("root", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("u"), col("root").as("v"))
    // fuzzy edges come from the memoized C4 pair ledger — C18, C71 and
    // C78 all consume the same verified edge set; re-running the PPJoin
    // candidate generation per consumer tripled the corpus-scale work
    val fuzzy = Dedup.ngramPairsCached(spark, dir)
      .select(col("doc_b").as("u"), col("doc_a").as("v"))
    exact.union(fuzzy)
  }

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the minimum of its neighborhood (incl. itself).
    * Output edges are oriented (u > v) by construction (m ≤ center <
    * emitted neighbor). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy("u")
    sym.withColumn("mn", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("mn").as("v"))
      .distinct()
  }

  /** One small-star round over (u > v)-oriented edges: every center
    * points itself and all its smaller neighbors at the neighborhood
    * minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val withMn = e.withColumn("mn", min(col("v")).over(Window.partitionBy("u")))
    withMn.select(col("v").as("u"), col("mn").as("v"))
      .union(withMn.select(col("u"), col("mn").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components of an (u,v) edge frame via alternating
    * large-star/small-star (public MapReduce-CC algorithm): converges
    * to a star forest in O(log n) rounds. Returns (node, root) for
    * every non-root node that appears in an edge. */
  private[graft] def connectedComponents(edges0: DataFrame): DataFrame = {
    var edges = edges0.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    def sig(e: DataFrame): (Long, Long) = {
      // order-independent, overflow-free edge-set fingerprint (XOR of
      // per-edge hashes over a distinct set; ANSI-safe unlike SUM)
      val r = e.agg(count(lit(1)),
        coalesce(call_function("bit_xor", xxhash64(col("u"), col("v"))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = sig(edges)
    var round = 0
    var converged = false
    while (round < MaxCcRounds && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val cur = sig(next)
      // the checkpoint is eager: the round's input is scratch now
      Checkpoints.drop(edges)
      edges = next
      converged = cur == prev
      prev = cur
      round += 1
    }
    // a partially-contracted edge set would silently mislabel clusters
    // downstream (wrong cluster_id, wrong keep/drop in the manifest) —
    // fail loudly instead: diameter > 2^maxRounds is a data anomaly a
    // pipeline must see, not paper over
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxCcRounds " +
          "large-star/small-star rounds (graph diameter > 2^maxRounds); " +
          "raise maxRounds or investigate the edge set")
    edges
  }

  /** C18 — dedup-cluster resolution: the survivor-selection step after
    * candidate generation. Exact-dup cliques + verified near-dup pairs
    * form a graph; each document gets its connected component's min
    * doc_id as `cluster_id` (singletons are their own cluster), the
    * component size, and a 0/1 `canonical` flag marking the one row
    * per cluster a pipeline would keep.
    *
    * Kept per (session, documents, tau) by [[Tables.checkpointed]]:
    * C24, C49 and C78 consume this frame, and the CC loop
    * checkpoints every round, so two builds are distinct plans the
    * CacheManager cannot share. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Tables.checkpointed(spark, "clusters", dir, "documents", ()) {
      val cc = connectedComponents(dupEdges(spark, dir))
      val assign = cc.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      val clusters = Tables.documents(spark, dir).select(col("doc_id"))
        .join(assign, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("canonical",
          (col("doc_id") === col("cluster_id")).cast("long"))
        .localCheckpoint()
      Checkpoints.drop(cc)
      clusters
    }

  def dedupClustersSql(): String =
    s"""WITH RECURSIVE fp AS (
       |  SELECT doc_id, md5(${Text.normSql("text")}) AS fp FROM documents
       |), exact_e AS (
       |  SELECT doc_id AS u, root AS v FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS root FROM fp)
       |  WHERE doc_id <> root
       |), fuzzy_e AS (
       |  SELECT doc_b AS u, doc_a AS v FROM (${Dedup.ngramJaccardSql()})
       |), edges AS (
       |  SELECT u, v FROM exact_e UNION SELECT u, v FROM fuzzy_e
       |  UNION SELECT v, u FROM exact_e UNION SELECT v, u FROM fuzzy_e
       |), reach(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.node
       |), cc AS (
       |  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
       |)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  CAST(doc_id = cluster_id AS BIGINT) AS canonical
       |FROM cc""".stripMargin

  // ---------------------------------------------------------------- C49

  /** C49 — quality-aware survivor selection: the step production
    * pipelines run INSTEAD of C18's min-id canonical — within each
    * dedup cluster keep the highest-quality member (the C45 model
    * score; ties to the lowest doc_id), drop the rest. Gopher/CCNet
    * lineage: near-dup groups keep their cleanest representative, not
    * an arbitrary one, so dedup never degrades corpus quality.
    *
    * Composition of two verified frames — the memoized C18 cluster
    * assignment and the row-local C45 scores — plus ONE
    * cluster-partitioned rank window (bounded by the cluster, never
    * the corpus; hot clusters are exactly-duplicated boilerplate and
    * stay far below a partition). `why` makes the decision auditable:
    * singleton / best_quality / dominated. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val scores = TextAnalysis.qualityModelFilter(spark, dir)
      .select(col("doc_id"), col("score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    clusters.join(scores, Seq("doc_id"))
      .withColumn("pick", row_number().over(w).cast("long"))
      .withColumn("keep", (col("pick") === 1L).cast("long"))
      .withColumn("why",
        when(col("cluster_size") === 1L, "singleton")
          .when(col("pick") === 1L, "best_quality")
          .otherwise("dominated"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("score"), col("keep"), col("why"))
  }

  def dedupKeepBestSql(): String = {
    val cc = dedupClustersSql().linesIterator.map("    " + _).mkString("\n")
    val qm = TextAnalysis.qualityModelFilterSql()
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH clusters AS (
       |  SELECT doc_id, cluster_id, cluster_size FROM (
       |$cc
       |  ) c
       |), scores AS (
       |  SELECT doc_id, score FROM (
       |$qm
       |  ) q
       |), ranked AS (
       |  SELECT c.doc_id, c.cluster_id, c.cluster_size, s.score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY s.score DESC, c.doc_id) AS BIGINT) AS pick
       |  FROM clusters c JOIN scores s ON s.doc_id = c.doc_id
       |)
       |SELECT doc_id, cluster_id, cluster_size, score,
       |  CAST(pick = 1 AS BIGINT) AS keep,
       |  CASE WHEN cluster_size = 1 THEN 'singleton'
       |       WHEN pick = 1 THEN 'best_quality'
       |       ELSE 'dominated' END AS why
       |FROM ranked""".stripMargin
  }

  // ---------------------------------------------------------------- C19

  /** Benchmark source whose grams define the contamination set. */
  private val BenchSource = "src0"

  /** distinct word 4-grams of `toks` — the decontamination shingle
    * (train/test overlap checks use longer grams than near-dup's 3).
    * DuckDB lists are 1-based; the Spark side shingles with the native
    * compiled-loop `graft_word_ngrams`, set-identical to this. */
  private val grams4Sql =
    """list_distinct(CASE WHEN len(toks) >= 4
      |  THEN list_transform(range(1, len(toks) - 2),
      |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
      |  ELSE [] END)""".stripMargin

  /** C19 — benchmark-contamination check (train/test overlap): for
    * every non-benchmark document, how many of its distinct word
    * 4-grams also occur anywhere in the benchmark source's documents.
    * Corpus-side grams semi-join the benchmark gram set on the gram
    * key; a doc with any hit is a decontamination candidate.
    * contam_ppm is a truncating integer division (non-negative → equal
    * to DuckDB `//`); gram-free docs carry the -1 sentinel, keeping
    * the column non-null BIGINT. */
  /** Shingle a documents frame into distinct word 4-grams with the
    * native compiled-loop expression (the declarative transform-lambda
    * runs interpreted at ~ms/doc). */
  private def shingle4(docs: DataFrame): DataFrame =
    Text.withToks(docs).select(col("doc_id"), col("source"), col("toks"))
      .select(col("doc_id"), col("source"),
        call_function("graft_word_ngrams", col("toks"), lit(4)).as("grams"))

  /** The distinct benchmark gram set (the static side: benchmark
    * suites are fixed-size while the corpus grows, so this frame
    * broadcasts — and in streaming mode it is the static side of a
    * stream-static join). */
  private[graft] def benchGrams(spark: SparkSession, dir: String): DataFrame =
    shingle4(Text.docTokens(spark, dir))
      .filter(col("source") === BenchSource)
      .select(explode(col("grams")).as("gram")).distinct()

  /** Score a (possibly streaming) documents frame against a benchmark
    * gram set. One shingling pass: n_grams rides along the exploded
    * rows (explode_outer keeps gram-free docs; a null gram joins
    * nothing), so the corpus side is scanned and shingled exactly
    * once. */
  private[graft] def contaminationFrom(docs: DataFrame, bench: DataFrame): DataFrame = {
    val ex = shingle4(docs).filter(col("source") =!= BenchSource)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode_outer(col("grams")).as("gram"))
    ex.join(bench.withColumn("hit", lit(1)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("contam_ppm",
        when(col("n_grams") > 0, call_function("div",
          col("n_contaminated").cast("decimal(38,0)") * lit(1000000L),
          col("n_grams")))
          .otherwise(lit(-1L)))
  }

  def contamination(spark: SparkSession, dir: String): DataFrame =
    // repartition off the single parquet split (shingling is CPU-bound)
    contaminationFrom(Text.docTokens(spark, dir), benchGrams(spark, dir))

  val contaminationSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, source, $grams4Sql AS grams FROM t
       |), bench AS (
       |  SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE source = '$BenchSource'
       |), ev AS (
       |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM g
       |  WHERE source <> '$BenchSource'
       |), hits AS (
       |  SELECT doc_id, COUNT(*) AS hits FROM (
       |    SELECT doc_id, UNNEST(grams) AS gram FROM g WHERE source <> '$BenchSource')
       |  WHERE gram IN (SELECT gram FROM bench)
       |  GROUP BY doc_id
       |)
       |SELECT ev.doc_id, ev.n_grams,
       |  CAST(COALESCE(hits.hits, 0) AS BIGINT) AS n_contaminated,
       |  CAST(CASE WHEN ev.n_grams > 0
       |    THEN (COALESCE(hits.hits, 0) * 1000000) // ev.n_grams
       |    ELSE -1 END AS BIGINT) AS contam_ppm
       |FROM ev LEFT JOIN hits USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- C20

  /** Per-language keep rates in parts-per-million: down-sample the
    * over-represented languages, keep all of the rare ones. */
  private val StratRates: Seq[(String, Long)] =
    Seq("en" -> 200000L, "de" -> 500000L, "fr" -> 500000L)
  private val StratDefault = 1000000L

  /** C20 — deterministic stratified sampling: language-balanced
    * down-sampling via the salted portable hash of the doc id. A doc's
    * keep/drop decision depends only on (salt, doc_id, lang) — stable
    * across engines, runs, and cluster sizes, so re-running the
    * pipeline never resamples. Pure row-local: no shuffle at any
    * scale. */
  /** Row-local projection + filter — identical in micro-batch
    * execution, so the same code is the streaming twin (C20s). */
  private[graft] def stratifiedSampleFrom(docs: DataFrame,
                                          salt: String): DataFrame = {
    val rate = StratRates.foldRight(lit(StratDefault): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"),
        Portable.bucket(concat(lit(salt), col("doc_id").cast("string")), 1000000)
          .as("bucket"),
        rate.as("rate_ppm"))
      .filter(col("bucket") < col("rate_ppm"))
  }

  def stratifiedSample(spark: SparkSession, dir: String,
                       salt: String = StratSalt): DataFrame =
    stratifiedSampleFrom(Tables.documents(spark, dir), salt)

  def stratifiedSampleSql(): String = {
    val bucket = Portable.bucketSql(s"CONCAT('$StratSalt', CAST(doc_id AS VARCHAR))", 1000000)
    val rate = StratRates.foldRight(StratDefault.toString) {
      case ((l, r), acc) => s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""SELECT doc_id, lang, $bucket AS bucket, CAST($rate AS BIGINT) AS rate_ppm
       |FROM documents
       |WHERE $bucket < $rate""".stripMargin
  }

  // ---------------------------------------------------------------- C21

  /** PII patterns, valid and identically-matching in both Java regex
    * (Spark) and RE2 (DuckDB): no backreferences, no lookaround, no
    * ambiguous alternation. */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Pat  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhonePat = "\\+\\d{9,15}"

  /** C21 — PII detection + redaction: count and scrub emails, IPv4
    * addresses, and international-format phone numbers. Row-local
    * expressions only (regexp count + chained global replace) — zero
    * shuffle at any scale. The redacted text is surfaced as an md5
    * fingerprint so the oracle row stays compact. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      // patterns stay Scala-level strings (functions API), never SQL
      // literals — Spark's default string parser would eat the '\'s
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0)))
        .cast("long").as("n_ipv4"),
      size(regexp_extract_all(col("text"), lit(PhonePat), lit(0)))
        .cast("long").as("n_phone"),
      md5(regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailPat, "<EMAIL>"),
          Ipv4Pat, "<IP>"),
        PhonePat, "<PHONE>").cast("binary")).as("redacted_fp"))

  val piiRedactSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT) AS n_phone,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailPat', '<EMAIL>', 'g'),
       |    '$Ipv4Pat', '<IP>', 'g'),
       |    '$PhonePat', '<PHONE>', 'g')) AS redacted_fp
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------- C24

  /** Drop thresholds for the manifest (ppm BIGINTs, exactly portable). */
  private val ContamDropPpm = 100000L  // >10% benchmark 4-gram overlap
  private val RepDropPpm    = 650000L  // >65% duplicate-token mass

  /** C24 — the corpus manifest: the single keep/drop + split decision
    * a full curation pass produces, composed from the already-verified
    * operators — benchmark exclusion, dedup-cluster survivor selection
    * (C18), contamination (C19), repetition (C14), deterministic split
    * (C16). First matching drop reason wins, mirroring how a pipeline
    * short-circuits. Each input frame is keyed by doc_id, so the
    * composition is three broadcast-or-shuffle equi-joins on the same
    * key — no new shuffle shapes beyond the component operators'. */
  def corpusManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val clusters = dedupClusters(spark, dir).select(col("doc_id"), col("canonical"))
    val contam = contamination(spark, dir).select(col("doc_id"), col("contam_ppm"))
    val rep = Corpus.textRepetition(spark, dir).select(col("doc_id"), col("dup_token_ppm"))
    val split = Corpus.dataSplit(spark, dir).select(col("doc_id"), col("split"))
    val reason = when(col("source") === BenchSource, "benchmark")
      .when(col("canonical") === 0L, "duplicate")
      .when(col("contam_ppm") > ContamDropPpm, "contaminated")
      .when(col("dup_token_ppm") > RepDropPpm, "repetitive")
      .otherwise(lit("keep"))
    docs.join(clusters, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"))
      .join(split, Seq("doc_id"))
      .select(col("doc_id"), reason.as("reason"), col("split"))
      .withColumn("keep", (col("reason") === "keep").cast("long"))
  }

  val corpusManifestSql: String =
    s"""WITH cl AS (SELECT doc_id, canonical FROM (${dedupClustersSql()})),
       |co AS (SELECT doc_id, contam_ppm FROM ($contaminationSql)),
       |re AS (SELECT doc_id, dup_token_ppm FROM (${Corpus.textRepetitionSql})),
       |sp AS (SELECT doc_id, split FROM (${Corpus.dataSplitSql()})),
       |j AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.source = '$BenchSource' THEN 'benchmark'
       |         WHEN cl.canonical = 0 THEN 'duplicate'
       |         WHEN co.contam_ppm > $ContamDropPpm THEN 'contaminated'
       |         WHEN re.dup_token_ppm > $RepDropPpm THEN 'repetitive'
       |         ELSE 'keep' END AS reason,
       |    sp.split
       |  FROM documents d
       |  JOIN cl USING (doc_id)
       |  LEFT JOIN co USING (doc_id)
       |  JOIN re USING (doc_id)
       |  JOIN sp USING (doc_id)
       |)
       |SELECT doc_id, reason, split,
       |  CAST(reason = 'keep' AS BIGINT) AS keep
       |FROM j""".stripMargin

  // ---------------------------------------------------------------- C32

  /** C32 — the Gopher-style heuristic quality filter bank (public rule
    * set: Rae et al. 2021 §A1.1, the C4 heuristics): per doc, every
    * rule's metric plus the keep/drop verdict with the FIRST failing
    * rule as the reason — word-count bounds, stopword presence,
    * duplicate-3-gram mass, and top-gram concentration. This is the
    * heuristic arm that runs BEFORE the dedup/contamination manifest
    * (C24); thresholds are knobs.
    *
    * Scale: the count/stopword metrics are row-local; the repetition
    * metrics reuse C14's per-doc gram profile (one explode→doc-keyed
    * aggregation), and the final join is doc-keyed equi — no new
    * shuffle shapes. */
  def qualityFilterBank(spark: SparkSession, dir: String,
                        maxTopGramPpm: Long = MaxTopGramPpm): DataFrame = {
    val m = Text.docTokens(spark, dir)
      .select(col("doc_id"), col("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        call_function("graft_count_in", col("toks"),
          array(TextAnalysis.enStopwords.map(lit): _*)))
      .withColumn("stop_ppm", expr("n_stop * 1000000 DIV n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("stop_ppm"))
    val rep = Corpus.textRepetition(spark, dir)
      .select(col("doc_id"), col("dup_gram_ppm"), col("top_gram_ppm"))
    m.join(rep, "doc_id")
      .withColumn("reason",
        when(col("n_tokens") < MinTokens || col("n_tokens") > MaxTokens, "word_count")
          .when(col("stop_ppm") < MinStopPpm, "stopword")
          .when(col("dup_gram_ppm") > MaxDupGramPpm, "repetition")
          .when(col("top_gram_ppm") > maxTopGramPpm, "top_gram")
          .otherwise("pass"))
      .withColumn("keep", when(col("reason") === "pass", 1L).otherwise(0L))
      .select(col("doc_id"), col("n_tokens"), col("stop_ppm"),
        col("dup_gram_ppm"), col("top_gram_ppm"), col("keep"), col("reason"))
  }

  def qualityFilterBankSql(): String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> t IN (${TextAnalysis.enStopwordsSql})))
       |      AS BIGINT) * 1000000
       |      // CAST(len(toks) AS BIGINT) AS stop_ppm
       |  FROM (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents)
       |), rep AS (
       |  SELECT doc_id, dup_gram_ppm, top_gram_ppm
       |  FROM (${Corpus.textRepetitionSql}) r
       |), j AS (
       |  SELECT m.doc_id, m.n_tokens, m.stop_ppm, rep.dup_gram_ppm, rep.top_gram_ppm,
       |    CASE
       |      WHEN m.n_tokens < $MinTokens OR m.n_tokens > $MaxTokens THEN 'word_count'
       |      WHEN m.stop_ppm < $MinStopPpm THEN 'stopword'
       |      WHEN rep.dup_gram_ppm > $MaxDupGramPpm THEN 'repetition'
       |      WHEN rep.top_gram_ppm > $MaxTopGramPpm THEN 'top_gram'
       |      ELSE 'pass' END AS reason
       |  FROM m JOIN rep ON m.doc_id = rep.doc_id
       |)
       |SELECT doc_id, n_tokens, stop_ppm, dup_gram_ppm, top_gram_ppm,
       |  CAST(reason = 'pass' AS BIGINT) AS keep, reason
       |FROM j""".stripMargin

  // ---------------------------------------------------------------- C46
  /** C46 — the curation-funnel attrition report: docs surviving each
    * stage of the quality pipeline in its canonical order — benchmark
    * exclusion → heuristic rule bank (C32) → model filter (C45) →
    * perplexity terciles (C40) → winnow decontamination (C39) — with
    * per-stage in/dropped/out counts. The observability frame every
    * large curation run publishes next to its manifest (C24 is the
    * per-doc decision; this is the per-stage ledger). A doc a stage
    * cannot score (token-free → absent from the perplexity frame)
    * drops at that stage. One pass per stage pipeline, then a single
    * 5-flag aggregation exploded into stage rows. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.util.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val bank = qualityFilterBank(spark, dir)
      .select(col("doc_id"), col("keep").as("bank_keep"))
    val model = graft.ops.TextAnalysis.qualityModelFilter(spark, dir)
      .select(col("doc_id"), col("keep").as("model_keep"))
    val perp = graft.ops.TextAnalysis.perplexityBucket(spark, dir)
      .select(col("doc_id"), col("keep").as("perp_keep"))
    val deco = graft.ops.Retrieval.decontaminateWinnow(spark, dir)
      .select(col("doc_id"),
        (col("verdict") === "keep").cast("long").as("deco_keep"))
    val flags = docs
      .join(bank, Seq("doc_id"), "left")
      .join(model, Seq("doc_id"), "left")
      .join(perp, Seq("doc_id"), "left")
      .join(deco, Seq("doc_id"), "left")
      .withColumn("s0", (col("source") =!= "src0").cast("long"))
      .withColumn("s1", col("s0") * coalesce(col("bank_keep"), lit(0L)))
      .withColumn("s2", col("s1") * coalesce(col("model_keep"), lit(0L)))
      .withColumn("s3", col("s2") * coalesce(col("perp_keep"), lit(0L)))
      .withColumn("s4", col("s3") * coalesce(col("deco_keep"), lit(0L)))
    val agg = flags.agg(count(lit(1)).as("n"),
      sum(col("s0")).as("k0"), sum(col("s1")).as("k1"),
      sum(col("s2")).as("k2"), sum(col("s3")).as("k3"),
      sum(col("s4")).as("k4"))
    def stage(no: Int, name: String, in: org.apache.spark.sql.Column,
              out: org.apache.spark.sql.Column) =
      struct(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
        in.as("n_in"), (in - out).as("n_dropped"), out.as("n_out"))
    agg.select(explode(array(
        stage(0, "benchmark_exclude", col("n"), col("k0")),
        stage(1, "heuristic_bank", col("k0"), col("k1")),
        stage(2, "model_filter", col("k1"), col("k2")),
        stage(3, "perplexity", col("k2"), col("k3")),
        stage(4, "decontaminate", col("k3"), col("k4")))).as("s"))
      .select(col("s.stage_no"), col("s.stage"), col("s.n_in"),
        col("s.n_dropped"), col("s.n_out"))
  }

  def curationFunnelSql(): String =
    s"""WITH bank AS (
       |${qualityFilterBankSql().linesIterator.map("  " + _).mkString("\n")}
       |), model AS (
       |${graft.ops.TextAnalysis.qualityModelFilterSql().linesIterator.map("  " + _).mkString("\n")}
       |), perp AS (
       |${graft.ops.TextAnalysis.perplexityBucketSql.linesIterator.map("  " + _).mkString("\n")}
       |), deco AS (
       |${graft.ops.Retrieval.decontaminateWinnowSql().linesIterator.map("  " + _).mkString("\n")}
       |), flags AS (
       |  SELECT d.doc_id,
       |    CAST(d.source <> 'src0' AS BIGINT) AS s0,
       |    CAST(d.source <> 'src0' AS BIGINT) * COALESCE(b.keep, 0) AS s1,
       |    CAST(d.source <> 'src0' AS BIGINT) * COALESCE(b.keep, 0)
       |      * COALESCE(m.keep, 0) AS s2,
       |    CAST(d.source <> 'src0' AS BIGINT) * COALESCE(b.keep, 0)
       |      * COALESCE(m.keep, 0) * COALESCE(p.keep, 0) AS s3,
       |    CAST(d.source <> 'src0' AS BIGINT) * COALESCE(b.keep, 0)
       |      * COALESCE(m.keep, 0) * COALESCE(p.keep, 0)
       |      * COALESCE(CAST(o.verdict = 'keep' AS BIGINT), 0) AS s4
       |  FROM documents d
       |  LEFT JOIN bank b ON d.doc_id = b.doc_id
       |  LEFT JOIN model m ON d.doc_id = m.doc_id
       |  LEFT JOIN perp p ON d.doc_id = p.doc_id
       |  LEFT JOIN deco o ON d.doc_id = o.doc_id
       |), a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(s0) AS BIGINT) AS k0, CAST(SUM(s1) AS BIGINT) AS k1,
       |    CAST(SUM(s2) AS BIGINT) AS k2, CAST(SUM(s3) AS BIGINT) AS k3,
       |    CAST(SUM(s4) AS BIGINT) AS k4
       |  FROM flags
       |)
       |SELECT CAST(0 AS BIGINT) AS stage_no, 'benchmark_exclude' AS stage,
       |  n AS n_in, n - k0 AS n_dropped, k0 AS n_out FROM a
       |UNION ALL SELECT 1, 'heuristic_bank', k0, k0 - k1, k1 FROM a
       |UNION ALL SELECT 2, 'model_filter', k1, k1 - k2, k2 FROM a
       |UNION ALL SELECT 3, 'perplexity', k2, k2 - k3, k3 FROM a
       |UNION ALL SELECT 4, 'decontaminate', k3, k3 - k4, k4 FROM a""".stripMargin

  // ---------------------------------------------------------------- C60

  /** C60 — per-source document cap, the domain-balancing cut web
    * corpora run so no single origin dominates the mix (the per-domain
    * cap of the RefinedWeb/C4 lineage; `source` stands in for the
    * registered domain): keep at most `cap` documents per source,
    * chosen by a deterministic salted-hash priority (a stand-in for a
    * quality ordering — swap the priority column and the machinery
    * holds), emit every document with its keep verdict, its rank when
    * kept (-1 otherwise), and the source's true size. The selection is
    * the TWO-PHASE distributed top-K: phase 1 ranks inside (source,
    * salt) buckets and keeps each bucket's top `cap` — the corpus-scale
    * sort never sees one partition per source (sources are FEW and
    * huge — the exact skew a naive per-source window dies on at
    * 100 TB); phase 2 ranks the ≤ salts·cap survivors per source. Any
    * global top-cap doc is top-cap in its own bucket, so the phases
    * compose exactly to the single-window semantics the oracle states.
    * Source sizes ride a separate partial-agg + broadcast join, never
    * a full-partition window. */
  def sourceCap(spark: SparkSession, dir: String,
                cap: Int = SourceCap): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        Portable.hash60(concat(lit("graft-cap-v1:"),
          col("doc_id").cast("string"))).as("prio"))
    val local = base
      .withColumn("salt", pmod(col("doc_id"), lit(SourceCapSalts.toLong)))
      .withColumn("lrn", row_number().over(Window
        .partitionBy(col("source"), col("salt"))
        .orderBy(col("prio"), col("doc_id"))))
      .filter(col("lrn") <= cap)
    val winners = local
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("source")).orderBy(col("prio"), col("doc_id"))))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("rn"))
    val counts = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source_docs"))
    base.join(winners, Seq("doc_id"), "left")
      .join(broadcast(counts), "source")
      .select(col("doc_id"), col("source"), col("n_source_docs"),
        coalesce(col("rn").cast("long"), lit(-1L)).as("cap_rank"),
        when(col("rn").isNotNull, 1L).otherwise(0L).as("kept"))
  }

  def sourceCapSql(): String = {
    val prio = Portable.hash60Sql("'graft-cap-v1:' || CAST(doc_id AS VARCHAR)")
    s"""WITH base AS (
       |  SELECT doc_id, source, $prio AS prio FROM documents
       |), ranked AS (
       |  SELECT doc_id, source, prio,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY prio, doc_id)
       |      AS rn
       |  FROM base
       |), counts AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source_docs
       |  FROM base GROUP BY 1
       |)
       |SELECT r.doc_id, r.source, c.n_source_docs,
       |  CAST(CASE WHEN r.rn <= $SourceCap THEN r.rn ELSE -1 END AS BIGINT)
       |    AS cap_rank,
       |  CAST(CASE WHEN r.rn <= $SourceCap THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM ranked r JOIN counts c ON r.source = c.source""".stripMargin
  }

  // ---------------------------------------------------------------- C71

  /** The split labels in canonical order; the matrix emits unordered
    * pairs (a ≤ b) over this grid. */
  private val splitNames = Seq("test", "train", "val")

  /** C71 — holdout-leakage audit: near-duplicate pairs that STRADDLE
    * the train/val/test boundary — the reason "dedup before split" is
    * a rule (a test doc whose near-twin sits in train inflates every
    * eval it touches; the deduplicating-training-data papers measure
    * exactly this). The pair universe is the dedup graph's own edge
    * set (C18's seeds): exact-fingerprint star edges plus verified
    * n-gram-Jaccard near-dup pairs; each edge joins the C16 split
    * assignment on both ends and lands in the unordered
    * (split, split) cell. The 6-cell grid is literal, so a clean
    * corpus still reports its zeros; `leaky` marks the off-diagonal
    * cells, and share_ppm is the cell's mass over ALL dup pairs —
    * the number an eval owner reads before trusting a benchmark.
    * Plan: the C1/C4 candidate shapes unchanged + two doc-keyed
    * split joins + a 6-row aggregate — nothing new at scale. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val spk = spark
    import spk.implicits._
    val split = Corpus.dataSplit(spark, dir)
      .select(col("doc_id"), col("split"))
    // distinct: an exactly-duplicated pair is both a fingerprint star
    // edge AND a Jaccard-1.0 pair — it must count once
    val pairs = dupEdges(spark, dir)
      .select(col("u"), col("v")).distinct()
    val labeled = pairs
      .join(split.select(col("doc_id").as("u"), col("split").as("su")), "u")
      .join(split.select(col("doc_id").as("v"), col("split").as("sv")), "v")
      .select(least(col("su"), col("sv")).as("split_a"),
        greatest(col("su"), col("sv")).as("split_b"))
    val counts = labeled.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val grid = (for {
      a <- splitNames; b <- splitNames if a <= b
    } yield (a, b)).toDF("split_a", "split_b")
    val total = counts.agg(coalesce(sum(col("n_pairs")), lit(0L)).as("n_total"))
    grid.join(broadcast(counts), Seq("split_a", "split_b"), "left")
      .crossJoin(broadcast(total))
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        (col("split_a") =!= col("split_b")).cast("long").as("leaky"),
        when(col("n_total") > 0L, call_function("div",
          coalesce(col("n_pairs"), lit(0L)).cast("decimal(38,0)")
            * lit(1000000L), col("n_total")))
          .otherwise(lit(0L)).as("share_ppm"))
  }

  def splitLeakageSql(): String = {
    val gridRows = (for {
      a <- splitNames; b <- splitNames if a <= b
    } yield s"('$a', '$b')").mkString(", ")
    s"""WITH split AS (
       |  ${Corpus.dataSplitSql().linesIterator.map("  " + _).mkString("\n")}
       |), fp AS (
       |  SELECT doc_id, md5(${Text.normSql("text")}) AS fp FROM documents
       |), exact_e AS (
       |  SELECT doc_id AS u, root AS v FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS root FROM fp)
       |  WHERE doc_id <> root
       |), fuzzy_e AS (
       |  SELECT doc_b AS u, doc_a AS v FROM (${Dedup.ngramJaccardSql()})
       |), pairs AS (
       |  SELECT u, v FROM exact_e UNION SELECT u, v FROM fuzzy_e
       |), labeled AS (
       |  SELECT LEAST(a.split, b.split) AS split_a,
       |    GREATEST(a.split, b.split) AS split_b
       |  FROM pairs p
       |  JOIN split a ON p.u = a.doc_id
       |  JOIN split b ON p.v = b.doc_id
       |), counts AS (
       |  SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM labeled GROUP BY 1, 2
       |), total AS (
       |  SELECT CAST(COALESCE(SUM(n_pairs), 0) AS BIGINT) AS n_total
       |  FROM counts
       |)
       |SELECT g.split_a, g.split_b,
       |  COALESCE(c.n_pairs, 0) AS n_pairs,
       |  CAST(g.split_a <> g.split_b AS BIGINT) AS leaky,
       |  CAST(CASE WHEN t.n_total > 0
       |    THEN COALESCE(c.n_pairs, 0) * 1000000 // t.n_total
       |    ELSE 0 END AS BIGINT) AS share_ppm
       |FROM (VALUES $gridRows) AS g(split_a, split_b)
       |LEFT JOIN counts c
       |  ON g.split_a = c.split_a AND g.split_b = c.split_b
       |CROSS JOIN total t""".stripMargin
  }

  // ---------------------------------------------------------------- C78

  /** C78 — cluster-chaining audit: quantify the over-merge risk of
    * connected-component dedup (C18) — two documents can land in one
    * cluster with NO direct similarity when a chain A~B~C connects
    * them (the classic near-dup clustering failure: each hop clears
    * tau, the endpoints don't; long chains quietly fuse distinct
    * content). Per multi-member cluster: members, possible pairs
    * k·(k−1)/2, DIRECT pairs (edges of the C18 graph itself —
    * exact-dup star edges expand to their full clique since every
    * same-fingerprint pair is byte-identical), the direct density
    * ppm, and the chain diameter proxy (edges < pairs ⇒ some pair is
    * only transitively connected); `chained` flags clusters whose
    * density < 10⁶ — the clusters a reviewer samples before trusting
    * a keep-one-per-cluster policy. All per-cluster arithmetic is
    * bounded by cluster size (hot clusters are exact-dup cliques and
    * read density 10⁶); one edge→cluster equi-join + one cluster
    * reduce over the memoized C18 assignment. */
  def clusterChainAudit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .filter(col("cluster_size") > 1L)
    // direct pairs: fingerprint cliques (all same-fp pairs are direct
    // byte-identical dups) + verified jaccard pairs, deduped
    val fp = Tables.documents(spark, dir)
      .select(md5(Text.norm(col("text")).cast("binary")).as("fp"),
        col("doc_id"))
    val exactPairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("u"), col("a.doc_id").as("v"))
    val fuzzyPairs = Dedup.ngramPairsCached(spark, dir)
      .select(col("doc_b").as("u"), col("doc_a").as("v"))
    chainAuditFromEdges(clusters,
      exactPairs.union(fuzzyPairs).distinct())
  }

  /** The audit's aggregation core over a (doc_id, cluster_id)
    * membership frame and a distinct direct-pair frame — the spec
    * drives it with a synthetic chain (A~B~C, no A~C) since real
    * small-SF corpora only produce fully-direct pair clusters. */
  private[graft] def chainAuditFromEdges(clusters: DataFrame,
                                         pairs: DataFrame): DataFrame = {
    val direct = pairs
      .join(clusters.select(col("doc_id").as("u"),
        col("cluster_id")), "u")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_direct_pairs"))
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .join(direct, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        call_function("div",
          col("n_members") * (col("n_members") - 1L), lit(2L))
          .as("n_possible_pairs"),
        coalesce(col("n_direct_pairs"), lit(0L)).as("n_direct_pairs"))
      .withColumn("direct_ppm", call_function("div",
        col("n_direct_pairs").cast("decimal(38,0)") * lit(1000000L),
        col("n_possible_pairs")))
      .withColumn("chained",
        (col("direct_ppm") < 1000000L).cast("long"))
  }

  def clusterChainAuditSql(): String = {
    val cc = dedupClustersSql()
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH cc AS (
       |$cc
       |), clusters AS (
       |  SELECT doc_id, cluster_id, cluster_size FROM cc
       |  WHERE cluster_size > 1
       |), fp2 AS (
       |  SELECT doc_id, md5(${Text.normSql("text")}) AS fp FROM documents
       |), exact_p AS (
       |  SELECT b.doc_id AS u, a.doc_id AS v
       |  FROM fp2 a JOIN fp2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |), fuzzy_p AS (
       |  SELECT doc_b AS u, doc_a AS v FROM (${Dedup.ngramJaccardSql()})
       |), direct AS (
       |  SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_direct_pairs
       |  FROM (SELECT u, v FROM exact_p UNION SELECT u, v FROM fuzzy_p) p
       |  JOIN clusters c ON p.u = c.doc_id
       |  GROUP BY 1
       |), agg AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM clusters GROUP BY 1
       |)
       |SELECT a.cluster_id, a.n_members,
       |  (a.n_members * (a.n_members - 1)) // 2 AS n_possible_pairs,
       |  COALESCE(d.n_direct_pairs, 0) AS n_direct_pairs,
       |  CAST(COALESCE(d.n_direct_pairs, 0) * 1000000
       |    // ((a.n_members * (a.n_members - 1)) // 2) AS BIGINT)
       |    AS direct_ppm,
       |  CAST(COALESCE(d.n_direct_pairs, 0) * 1000000
       |    // ((a.n_members * (a.n_members - 1)) // 2) < 1000000
       |    AS BIGINT) AS chained
       |FROM agg a LEFT JOIN direct d ON a.cluster_id = d.cluster_id""".stripMargin
  }

  // ---------------------------------------------------------------- C63

  /** Filter names in their canonical (alphabetical) order; the matrix
    * emits pairs with f1 < f2 in this order. */
  private val overlapFilters =
    Seq("repetition", "stopword", "top_gram", "word_count")

  /** C63 — filter-overlap matrix, the redundancy audit a pipeline
    * owner runs over C32's heuristic bank before adding/retiring a
    * rule: for every pair of filters, how many documents each kills
    * ALONE (independent verdicts — C32's first-fail `reason` hides
    * every later rule that would also have fired), how many BOTH
    * kill, and the Jaccard of the kill sets in ppm (≈1e6 ⇒ the
    * filters are interchangeable — one is dead weight; ≈0 ⇒ they
    * carry independent signal) plus each side's conditional overlap
    * (kills-of-f1 also caught by f2). The 6-pair grid is literal, so
    * the matrix is complete even when a filter kills nothing at this
    * corpus (-1 sentinels for undefined ratios). Plan: C32's metric
    * frame → per-doc failed-filter explode (≤4 rows/doc) → one
    * doc-keyed self-join → (f1, f2) partial agg; totals broadcast
    * back onto the literal grid — the matrix never exceeds
    * filters². */
  def filterOverlap(spark: SparkSession, dir: String): DataFrame = {
    val spk = spark
    import spk.implicits._
    val kills = qualityFilterBank(spark, dir)
      .select(col("doc_id"), explode(array(
        struct(lit("repetition").as("f"),
          (col("dup_gram_ppm") > MaxDupGramPpm).cast("long").as("k")),
        struct(lit("stopword").as("f"),
          (col("stop_ppm") < MinStopPpm).cast("long").as("k")),
        struct(lit("top_gram").as("f"),
          (col("top_gram_ppm") > MaxTopGramPpm).cast("long").as("k")),
        struct(lit("word_count").as("f"),
          (col("n_tokens") < MinTokens || col("n_tokens") > MaxTokens)
            .cast("long").as("k")))).as("e"))
      .filter(col("e.k") === 1L)
      .select(col("doc_id"), col("e.f").as("f"))
    val totals = kills.groupBy(col("f")).agg(count(lit(1)).as("nf"))
    val both = kills.as("a")
      .join(kills.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("a.f") < col("b.f"))
      .groupBy(col("a.f").as("f1"), col("b.f").as("f2"))
      .agg(count(lit(1)).as("n_both"))
    val grid = overlapFilters.combinations(2).toSeq
      .map { case Seq(a, b) => (a, b) }.toDF("f1", "f2")
    def ratio(num: Column, den: Column): Column =
      when(den > 0L, call_function("div",
        num.cast("decimal(38,0)") * lit(1000000L), den))
        .otherwise(lit(-1L))
    grid
      .join(broadcast(totals.select(col("f").as("f1"), col("nf").as("n_f1"))),
        Seq("f1"), "left")
      .join(broadcast(totals.select(col("f").as("f2"), col("nf").as("n_f2"))),
        Seq("f2"), "left")
      .join(broadcast(both), Seq("f1", "f2"), "left")
      .select(col("f1"), col("f2"),
        coalesce(col("n_f1"), lit(0L)).as("n_f1"),
        coalesce(col("n_f2"), lit(0L)).as("n_f2"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
      .withColumn("jaccard_ppm",
        ratio(col("n_both"), col("n_f1") + col("n_f2") - col("n_both")))
      .withColumn("overlap_f1_ppm", ratio(col("n_both"), col("n_f1")))
      .withColumn("overlap_f2_ppm", ratio(col("n_both"), col("n_f2")))
  }

  def filterOverlapSql(): String = {
    val qf = qualityFilterBankSql().linesIterator.map("    " + _)
      .mkString("\n")
    val gridRows = overlapFilters.combinations(2)
      .map { case Seq(a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH qf AS (
       |$qf
       |), kills AS (
       |  SELECT doc_id, e.f AS f FROM (
       |    SELECT doc_id, UNNEST([
       |      {'f': 'repetition',
       |       'k': dup_gram_ppm > $MaxDupGramPpm},
       |      {'f': 'stopword', 'k': stop_ppm < $MinStopPpm},
       |      {'f': 'top_gram', 'k': top_gram_ppm > $MaxTopGramPpm},
       |      {'f': 'word_count',
       |       'k': n_tokens < $MinTokens OR n_tokens > $MaxTokens}]) AS e
       |    FROM qf)
       |  WHERE e.k
       |), totals AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS nf FROM kills GROUP BY 1
       |), bothk AS (
       |  SELECT a.f AS f1, b.f AS f2, CAST(COUNT(*) AS BIGINT) AS n_both
       |  FROM kills a JOIN kills b
       |    ON a.doc_id = b.doc_id AND a.f < b.f
       |  GROUP BY 1, 2
       |), grid AS (
       |  SELECT * FROM (VALUES $gridRows) AS g(f1, f2)
       |), j AS (
       |  SELECT g.f1, g.f2,
       |    COALESCE(t1.nf, 0) AS n_f1, COALESCE(t2.nf, 0) AS n_f2,
       |    COALESCE(bk.n_both, 0) AS n_both
       |  FROM grid g
       |  LEFT JOIN totals t1 ON g.f1 = t1.f
       |  LEFT JOIN totals t2 ON g.f2 = t2.f
       |  LEFT JOIN bothk bk ON g.f1 = bk.f1 AND g.f2 = bk.f2
       |)
       |SELECT f1, f2, n_f1, n_f2, n_both,
       |  CAST(CASE WHEN n_f1 + n_f2 - n_both > 0
       |    THEN n_both * 1000000 // (n_f1 + n_f2 - n_both)
       |    ELSE -1 END AS BIGINT) AS jaccard_ppm,
       |  CAST(CASE WHEN n_f1 > 0 THEN n_both * 1000000 // n_f1
       |    ELSE -1 END AS BIGINT) AS overlap_f1_ppm,
       |  CAST(CASE WHEN n_f2 > 0 THEN n_both * 1000000 // n_f2
       |    ELSE -1 END AS BIGINT) AS overlap_f2_ppm
       |FROM j""".stripMargin
  }

  // ---------------------------------------------------------------- C85

  /** C85 — DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", public paper):
    * score every document by how much more probable its hashed-n-gram
    * features are under a TARGET distribution (here: one source's
    * docs, the paper's "formal text" analogue) than under the raw
    * corpus. The paper's per-feature log(p_target/p_raw) is rendered
    * engine-portably with the C34 floor-log2 discipline: per bucket,
    * bits(b) = flog2((R+B) div (r_b+1)) − flog2((T+B) div (t_b+1))
    * where flog2(x) = length(bin(x)) − 1 — exact integer arithmetic
    * in both engines (add-one smoothing over the B-bucket grid keeps
    * every divisor ≥ 1 and every quotient ≥ 1). A doc's weight is the
    * sum of its feature bits: positive ⇒ target-like.
    *
    * Features are hashed unigrams + bigrams (the paper's recipe) into
    * a fixed B-bucket grid via the portable 60-bit md5 hash, so the
    * feature space is CONSTANT-size regardless of corpus scale.
    *
    * Scale shape: one row-local feature explode (linear), two
    * bucket-keyed partial aggs onto the B-row grid (B = 1024 —
    * dimension-scale), the grid broadcast back over the feature
    * stream, one doc-keyed agg. Nothing quadratic, no vocab-sized
    * state — the hashed grid is what makes DSIR run at 100 TB. */
  def qualityDsir(spark: SparkSession, dir: String,
                  targetSource: String = DsirTarget,
                  buckets: Int = DsirBuckets): DataFrame = {
    val b = buckets.toLong
    // unigrams + bigrams of the normalized text, hashed onto the grid
    val feats = Text.docTokens(spark, dir)
      .select(col("doc_id"), col("source"), col("toks"))
      .withColumn("g", explode(concat(col("toks"),
        expr("""CASE WHEN size(toks) >= 2
                THEN transform(sequence(0, size(toks) - 2),
                     i -> concat(toks[i], ' ', toks[i+1]))
                ELSE array() END"""))))
      .select(col("doc_id"), col("source"),
        pmod(Portable.hash60(col("g")), lit(b)).as("bkt"))
      // three consumers fan out of this frame (raw grid agg, target
      // grid agg, final doc-keyed join) — materialize the expensive
      // scan+tokenize+hash ONCE, the gramsCached discipline
      .localCheckpoint()
    val raw = feats.groupBy(col("bkt")).agg(count(lit(1)).as("r"))
    val tgt = feats.filter(col("source") === targetSource)
      .groupBy(col("bkt")).agg(count(lit(1)).as("t"))
    val grid = spark.range(b).select(col("id").as("bkt"))
      .join(raw, Seq("bkt"), "left").join(tgt, Seq("bkt"), "left")
      .select(col("bkt"), coalesce(col("r"), lit(0L)).as("r"),
        coalesce(col("t"), lit(0L)).as("t"))
    val totals = grid.agg(sum(col("r")).as("rn"), sum(col("t")).as("tn"))
    def flog2(x: Column): Column = (length(bin(x)) - 1).cast("long")
    val bits = grid.crossJoin(broadcast(totals))
      .select(col("bkt"),
        (flog2(expr("(rn + " + b + ") div (r + 1)")) -
          flog2(expr("(tn + " + b + ") div (t + 1)"))).as("bits"))
    feats.join(broadcast(bits), "bkt")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("bits")).as("dsir_bits"))
      // dsir_bits can be negative: plain DIV truncates toward zero
      .withColumn("mean_millibits",
        Portable.floorDiv(col("dsir_bits") * 1000, col("n_feats")))
      .select(col("doc_id"), col("n_feats"), col("dsir_bits"),
        col("mean_millibits"))
  }

  def qualityDsirSql(): String =
    s"""WITH d AS (
       |  SELECT doc_id, source, ${Text.tokensSql("text")} AS toks
       |  FROM documents
       |), feats AS (
       |  SELECT doc_id, source,
       |    (${Portable.hash60Sql("g")} % $DsirBuckets) AS bkt
       |  FROM (
       |    SELECT doc_id, source, unnest(list_concat(toks,
       |      CASE WHEN len(toks) >= 2
       |        THEN list_transform(range(1, len(toks)),
       |             i -> toks[i] || ' ' || toks[i+1])
       |        ELSE [] END)) AS g
       |    FROM d)
       |), raw AS (SELECT bkt, COUNT(*) AS r FROM feats GROUP BY 1),
       |tgt AS (
       |  SELECT bkt, COUNT(*) AS t FROM feats
       |  WHERE source = '$DsirTarget' GROUP BY 1
       |), grid AS (
       |  SELECT g.range AS bkt, COALESCE(raw.r, 0) AS r,
       |    COALESCE(tgt.t, 0) AS t
       |  FROM range($DsirBuckets) g
       |  LEFT JOIN raw ON g.range = raw.bkt
       |  LEFT JOIN tgt ON g.range = tgt.bkt
       |), totals AS (SELECT SUM(r) AS rn, SUM(t) AS tn FROM grid),
       |bits AS (
       |  SELECT bkt,
       |    (length(bin((rn + $DsirBuckets) // (r + 1))) - 1)
       |    - (length(bin((tn + $DsirBuckets) // (t + 1))) - 1) AS bits
       |  FROM grid CROSS JOIN totals
       |)
       |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |  CAST(SUM(b.bits) AS BIGINT) AS dsir_bits,
       |  CAST((SUM(b.bits) * 1000
       |    - ((SUM(b.bits) * 1000 % COUNT(*)) + COUNT(*)) % COUNT(*))
       |    // COUNT(*) AS BIGINT) AS mean_millibits
       |FROM feats f JOIN bits b USING (bkt)
       |GROUP BY 1""".stripMargin
}
