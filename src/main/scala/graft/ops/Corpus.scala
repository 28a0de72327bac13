package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Corpus-level curation operators a large-scale training-data pipeline
  * runs beside dedup/quality: repetition profiling (Gopher-style
  * filters), term-importance extraction, and deterministic dataset
  * splitting.
  *
  * Scale notes: repetition and tf-idf repartition once on doc_id right
  * after the scan (single parquet split locally; the partitioning is
  * reused by every per-doc groupBy/window). tf-idf's document-frequency
  * aggregation shuffles on term — vocabulary-sized, the canonical
  * second shuffle of every tf-idf job; the corpus size scalar is a
  * 1-row broadcast, not a driver collect. Split assignment is pure
  * row-local hashing.
  */
object Corpus {

  /** [[docTfidf]]'s keywords per document. */
  val TfidfTopK = 3
  /** [[dataSplit]]'s salt. */
  val SplitSalt = "graft-split-v1:"
  /** Sequence packing ([[seqPack]], [[packAttentionSpans]]): context
    * length, shards and salt. */
  val PackCtx = 2048L
  val PackShards = 8
  val PackSalt = "graft-pack-v1:"
  /** [[corpusDrift]]'s threshold. */
  val DriftPpm = 20000L
  /** [[mixEpochPlan]]'s token budget multiple. */
  val MixBudgetX = 4L
  /** [[ngramHeavyHitters]]' n-gram order and count. */
  val HeavyN = 5
  val HeavyK = 50
  /** BPE: [[bpePairMerge]]'s pairs and [[bpeSegment]]'s merge rounds. */
  val BpeTopK = 20
  val BpeMerges = 8
  /** [[sessionTranscripts]]' session gap and turn cap. */
  val SessionGapUs = 1800000000L
  val MaxTurns = 8
  /** [[lengthBatching]]: length bucket, shards and batch size. */
  val LenDiv = 16
  val LenShards = 8
  val LenBatchSize = 4
  /** [[corpusPhrases]]: minimum count and score threshold. */
  val PhraseMinCount = 5L
  val PhraseTauPpm = 1500000L

  // ALL word 3-gram occurrences (the distinct-set form drops the
  // duplicates repetition profiling measures). The declarative
  // transform-lambda ran interpreted at ~ms/doc (25 s at sf0.1);
  // graft_word_ngrams_all is the compiled-loop twin of the shingler.
  private val allGramsSql =
    """CASE WHEN len(toks) >= 3
      |  THEN list_transform(range(1, len(toks) - 1),
      |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |  ELSE [] END""".stripMargin

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  /** C14 — repetition profile (the Gopher/C4 repetition quality
    * filters): per document, duplicate-token and duplicate-3-gram
    * mass plus the most-frequent 3-gram and its mass. Heavily
    * repetitive machine-generated text scores high on all three and
    * gets filtered before training. Ratios surface as parts-per-million
    * BIGINTs (exact truncating integer division of exact counts — the
    * raw double fractions hash-flaked on the round-3 driver); docs
    * under 3 tokens carry the -1 sentinel in the gram ratios.
    *
    * Kept per (session, documents) by [[Tables.checkpointed]]: the
    * manifest (C24), the rule bank (C32) and the funnel (C46) consume
    * this frame. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.checkpointed(spark, "repetition", dir, "documents", ())(
      buildTextRepetition(spark, dir).localCheckpoint())

  private def buildTextRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.docTokens(spark, dir)
      .select(col("doc_id"), col("toks"),
        call_function("graft_word_ngrams_all", col("toks"), lit(3)).as("grams"))
    val tokStats = toks.select(col("doc_id"),
      size(col("toks")).cast("long").as("total_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("distinct_tokens"))
    // single pass over the gram occurrences: the per-doc totals are
    // unordered window aggregates and the top gram is the rn=1 row of
    // the SAME shuffle — the explode + per-gram count runs once, not
    // once per joined branch
    val w = Window.partitionBy(col("doc_id"))
    val wOrd = w.orderBy(col("cnt").desc, col("gram"))
    val gramStats = toks.select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .withColumn("total_grams", sum(col("cnt")).over(w))
      .withColumn("distinct_grams", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("total_grams"), col("distinct_grams"),
        col("gram").as("top_gram"), col("cnt").as("top_gram_count"))
    tokStats
      .join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tokens"), col("distinct_tokens"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        col("top_gram"),
        coalesce(col("top_gram_count"), lit(0L)).as("top_gram_count"),
        // ppm = counts scaled to 10^6 then one truncating integer divide
        // (all operands non-negative → trunc == floor == DuckDB `//`).
        // Short/empty docs take the -1 sentinel instead of NULL: a
        // nullable BIGINT crosses DuckDB's pandas bridge as float64
        // (NaN) and re-opens the int-vs-float hash class.
        when(col("total_tokens") > 0, call_function("div",
            (col("total_tokens") - col("distinct_tokens")) * lit(1000000L),
            col("total_tokens"))).otherwise(lit(-1L)).as("dup_token_ppm"),
        when(col("total_grams") > 0, call_function("div",
            (col("total_grams") - col("distinct_grams")) * lit(1000000L),
            col("total_grams"))).otherwise(lit(-1L)).as("dup_gram_ppm"),
        when(col("total_grams") > 0, call_function("div",
            col("top_gram_count") * lit(1000000L),
            col("total_grams"))).otherwise(lit(-1L)).as("top_gram_ppm"))
  }

  val textRepetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, toks, $allGramsSql AS grams FROM t
       |), tok_stats AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS total_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens
       |  FROM g
       |), occ AS (
       |  SELECT doc_id, UNNEST(grams) AS gram FROM g
       |), occ_cnt AS (
       |  SELECT doc_id, gram, COUNT(*) AS cnt FROM occ GROUP BY doc_id, gram
       |), gram_stats AS (
       |  SELECT doc_id, total_grams, distinct_grams,
       |    gram AS top_gram, cnt AS top_gram_count
       |  FROM (
       |    SELECT doc_id, gram, cnt,
       |      CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS total_grams,
       |      COUNT(*) OVER (PARTITION BY doc_id) AS distinct_grams,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY cnt DESC, gram) AS rn
       |    FROM occ_cnt
       |  ) WHERE rn = 1
       |)
       |SELECT s.doc_id, s.total_tokens, s.distinct_tokens,
       |  COALESCE(gs.total_grams, 0) AS total_grams,
       |  COALESCE(gs.distinct_grams, 0) AS distinct_grams,
       |  gs.top_gram,
       |  COALESCE(gs.top_gram_count, 0) AS top_gram_count,
       |  CAST(CASE WHEN s.total_tokens > 0
       |    THEN ((s.total_tokens - s.distinct_tokens) * 1000000) // s.total_tokens
       |    ELSE -1 END AS BIGINT) AS dup_token_ppm,
       |  CAST(CASE WHEN gs.total_grams > 0
       |    THEN ((gs.total_grams - gs.distinct_grams) * 1000000) // gs.total_grams
       |    ELSE -1 END AS BIGINT) AS dup_gram_ppm,
       |  CAST(CASE WHEN gs.total_grams > 0
       |    THEN (gs.top_gram_count * 1000000) // gs.total_grams
       |    ELSE -1 END AS BIGINT) AS top_gram_ppm
       |FROM tok_stats s
       |LEFT JOIN gram_stats gs ON gs.doc_id = s.doc_id""".stripMargin

  /** C15 — top-k terms per document by tf·idf. The idf factor is the
    * raw inverse document frequency N/df (no logarithm: ln() is not
    * bit-portable across engines, and a monotone transform does not
    * change the per-document ranking for fixed tf — the ranking, not
    * the absolute score, is the operator's contract). Scores are exact
    * integer products divided once. */
  def docTfidf(spark: SparkSession, dir: String): DataFrame = {
    val terms = Text.docTokens(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")) / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  def docTfidfSql(): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), terms AS (
       |  SELECT doc_id, UNNEST(toks) AS term FROM t
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM terms
       |  WHERE term <> '' GROUP BY doc_id, term
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, term, tf, df, score, rank FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    (tf.tf * n.n_docs) / dfreq.df AS score,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY (tf.tf * n.n_docs) / dfreq.df DESC, tf.term) AS rank
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
       |) WHERE rank <= $TfidfTopK""".stripMargin

  /** C16 — deterministic train/val/test assignment: a salted portable
    * hash of the doc id buckets 0–99; 90/5/5. Reproducible across
    * engines, runs, and cluster sizes — re-running the pipeline never
    * moves a document between splits (the salt versions the split). */
  def dataSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.Portable
        .bucket(concat(lit(SplitSalt), col("doc_id").cast("string")), 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val")
          .otherwise(lit("test")))

  def dataSplitSql(): String = {
    val bucket = graft.functions.Portable
      .bucketSql(s"CONCAT('$SplitSalt', CAST(doc_id AS VARCHAR))", 100)
    s"""SELECT doc_id, $bucket AS bucket,
       |  CASE WHEN $bucket < 90 THEN 'train'
       |       WHEN $bucket < 95 THEN 'val' ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  /** C22 — sequence packing for LM training: concatenate documents in
    * a deterministic order and cut the stream into fixed-size context
    * windows (`ctx` tokens), recording for each doc the window it
    * starts in and its offset there. Packing is SHARDED — a salted
    * hash buckets docs into independent streams per (lang, shard), so
    * the cumulative-sum window sorts a bounded shard, never a global
    * per-lang ordering (the number of shards scales with the corpus;
    * one window shuffle total). */
  def seqPack(spark: SparkSession, dir: String, ctx: Long = PackCtx): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Text.docTokens(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.Portable
          .bucket(concat(lit(PackSalt), col("doc_id").cast("string")), PackShards)
          .as("shard"),
        size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        call_function("div", col("cum_before"), lit(ctx)).as("bin_id"),
        pmod(col("cum_before"), lit(ctx)).as("bin_offset"))
  }

  def seqPackSql(): String = {
    val shard = graft.functions.Portable
      .bucketSql(s"CONCAT('$PackSalt', CAST(doc_id AS VARCHAR))", PackShards)
    s"""WITH t AS (
       |  SELECT doc_id, lang, $shard AS shard,
       |    CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before
       |  FROM t
       |)
       |SELECT doc_id, lang, shard, n_tokens,
       |  CAST(cum_before // $PackCtx AS BIGINT) AS bin_id,
       |  CAST(cum_before % $PackCtx AS BIGINT) AS bin_offset
       |FROM c""".stripMargin
  }

  /** C23 — the dataset card: per (lang, source) doc/token/char totals
    * plus exact interpolated token-count percentiles (×10⁴ BIGINT, the
    * B13 convention) and a truncating-integral-division mean. Token counts are
    * row-local; one aggregation shuffle on the (lang, source) cell. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Text.docTokens(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        expr("percentile(n_tokens, array(0.5, 0.95))").as("pp"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_tokens"), col("total_chars"),
        round(element_at(col("pp"), 1) * lit(10000.0)).cast("long").as("p50_tokens_x10k"),
        round(element_at(col("pp"), 2) * lit(10000.0)).cast("long").as("p95_tokens_x10k"),
        call_function("div", col("total_tokens").cast("decimal(38,0)")
            * lit(1000000L), col("n_docs"))
          .as("avg_tokens_micro"))

  val corpusStatsSql: String =
    s"""WITH t AS (
       |  SELECT lang, source, n_chars,
       |    CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(ROUND(quantile_cont(n_tokens, 0.5) * 10000.0, 0) AS BIGINT) AS p50_tokens_x10k,
       |  CAST(ROUND(quantile_cont(n_tokens, 0.95) * 10000.0, 0) AS BIGINT) AS p95_tokens_x10k,
       |  CAST((CAST(SUM(n_tokens) AS BIGINT) * 1000000) // COUNT(*) AS BIGINT) AS avg_tokens_micro
       |FROM t
       |GROUP BY 1, 2""".stripMargin

  /** C58 — corpus drift: the batch-over-batch mix-shift monitor every
    * continuously-crawled corpus runs before a new batch joins the
    * training mix ("did this crawl change the language/source
    * distribution"). Per (dimension, value): each batch's document
    * share in ppm and the delta, with a drift verdict at the
    * threshold. The batch id stand-in is doc_id parity (production
    * reads a partition column; the comparison logic is what's under
    * test). Shares are floor ppm of each batch's own doc total (a
    * 2-row broadcast); a value absent from one batch reads 0 ppm —
    * appearing/disappearing sources are exactly the drifts worth
    * flagging. One partial-agg shuffle over the doc×dim explode;
    * everything after is dimension-scale. */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("batch", pmod(col("doc_id"), lit(2L)))
      .select(col("batch"), explode(array(
        struct(lit("lang").as("dim"), col("lang").as("value")),
        struct(lit("source").as("dim"), col("source").as("value"))))
        .as("dv"))
      .select(col("batch"), col("dv.dim"), col("dv.value"))
    val totals = tagged.filter(col("dim") === "lang")
      .groupBy(col("batch")).agg(count(lit(1)).as("batch_total"))
    tagged
      .groupBy(col("dim"), col("value"), col("batch"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("batch"))
      .withColumn("ppm", call_function("div",
        col("n").cast("decimal(38,0)") * lit(1000000L), col("batch_total")))
      .groupBy(col("dim"), col("value"))
      .agg(sum(when(col("batch") === 0L, col("n")).otherwise(0L)).as("old_n"),
        sum(when(col("batch") === 1L, col("n")).otherwise(0L)).as("new_n"),
        sum(when(col("batch") === 0L, col("ppm")).otherwise(0L)).as("old_ppm"),
        sum(when(col("batch") === 1L, col("ppm")).otherwise(0L)).as("new_ppm"))
      .withColumn("delta_ppm", col("new_ppm") - col("old_ppm"))
      .withColumn("drifted",
        (abs(col("delta_ppm")) >= DriftPpm).cast("long"))
      .select(col("dim"), col("value"), col("old_n"), col("new_n"),
        col("old_ppm"), col("new_ppm"), col("delta_ppm"), col("drifted"))
  }

  def corpusDriftSql(): String =
    s"""WITH tagged AS (
       |  SELECT doc_id % 2 AS batch, 'lang' AS dim, lang AS value
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id % 2 AS batch, 'source' AS dim, source AS value
       |  FROM documents
       |), totals AS (
       |  SELECT batch, CAST(COUNT(*) AS BIGINT) AS batch_total
       |  FROM tagged WHERE dim = 'lang' GROUP BY 1
       |), counted AS (
       |  SELECT t.dim, t.value, t.batch, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(*) * 1000000 // MAX(o.batch_total) AS BIGINT) AS ppm
       |  FROM tagged t JOIN totals o ON o.batch = t.batch
       |  GROUP BY 1, 2, 3
       |)
       |SELECT dim, value,
       |  CAST(SUM(CASE WHEN batch = 0 THEN n ELSE 0 END) AS BIGINT) AS old_n,
       |  CAST(SUM(CASE WHEN batch = 1 THEN n ELSE 0 END) AS BIGINT) AS new_n,
       |  CAST(SUM(CASE WHEN batch = 0 THEN ppm ELSE 0 END) AS BIGINT)
       |    AS old_ppm,
       |  CAST(SUM(CASE WHEN batch = 1 THEN ppm ELSE 0 END) AS BIGINT)
       |    AS new_ppm,
       |  CAST(SUM(CASE WHEN batch = 1 THEN ppm ELSE 0 END)
       |    - SUM(CASE WHEN batch = 0 THEN ppm ELSE 0 END) AS BIGINT)
       |    AS delta_ppm,
       |  CAST(CASE WHEN ABS(SUM(CASE WHEN batch = 1 THEN ppm ELSE 0 END)
       |    - SUM(CASE WHEN batch = 0 THEN ppm ELSE 0 END)) >= $DriftPpm
       |    THEN 1 ELSE 0 END AS BIGINT) AS drifted
       |FROM counted
       |GROUP BY 1, 2""".stripMargin

  /** C26 — training-mixture reweighting: temperature-smoothed sampling
    * weights per (lang, source) cell (the multilingual mixture rule of
    * mT5/XLM-R, p_i ∝ tokens_i^α at α = 1/2 — τ = 2 temperature
    * sampling). α = 1/2 is chosen deliberately: the smoothed mass is
    * floor(sqrt(tokens)) and IEEE sqrt is CORRECTLY ROUNDED, so —
    * unlike pow(x, 0.7), whose libm rounding may differ between
    * engines — every number here is a bigint both engines compute
    * bit-identically. Output per cell: token total, natural corpus
    * share (ppm), smoothed target share (ppm), the resampling weight
    * (target/natural, milli-units), and the oversampled flag —
    * exactly what a data-loader mixture config consumes.
    *
    * Scale shape: ONE cell-keyed aggregation shuffle (C23's shape),
    * then the 1-row totals broadcast back over the #cells frame —
    * cells are a few thousand at any corpus size, so the final join
    * is trivially broadcast and nothing global touches row volume. */
  def sourceMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val cells = Text.docTokens(spark, dir)
      .select(col("lang"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .withColumn("smoothed", floor(sqrt(col("tokens"))).cast("long"))
    val totals = cells.agg(sum(col("tokens")).as("tot"),
      sum(col("smoothed")).as("smt"))
    cells.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("tokens"),
        call_function("div", col("tokens").cast("decimal(38,0)")
            * lit(1000000L), col("tot")).as("natural_ppm"),
        call_function("div", col("smoothed").cast("decimal(38,0)")
            * lit(1000000L), col("smt")).as("target_ppm"))
      .withColumn("weight_x1000",
        call_function("div", col("target_ppm") * lit(1000L),
          greatest(col("natural_ppm"), lit(1L))))
      .withColumn("oversampled",
        (col("target_ppm") > col("natural_ppm")).cast("long"))
  }

  val sourceMixWeightsSql: String =
    s"""WITH t AS (
       |  SELECT lang, source,
       |    CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |),
       |cells AS (
       |  SELECT lang, source, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       |    CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS BIGINT))) AS BIGINT) AS smoothed
       |  FROM t GROUP BY 1, 2
       |),
       |totals AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot,
       |  CAST(SUM(smoothed) AS BIGINT) AS smt FROM cells)
       |SELECT lang, source, tokens,
       |  CAST((tokens * 1000000) // tot AS BIGINT) AS natural_ppm,
       |  CAST((smoothed * 1000000) // smt AS BIGINT) AS target_ppm,
       |  CAST(((smoothed * 1000000) // smt * 1000)
       |    // GREATEST((tokens * 1000000) // tot, 1) AS BIGINT) AS weight_x1000,
       |  CAST((smoothed * 1000000) // smt > (tokens * 1000000) // tot AS BIGINT)
       |    AS oversampled
       |FROM cells CROSS JOIN totals""".stripMargin

  /** C50 — epoch planning: turn the C26 mixture into the data
    * loader's actual schedule at a token budget. For a training run
    * of `budgetX` × the corpus token total, each (lang, source) cell
    * must supply budget × target_ppm / 10^6 tokens; dividing by the
    * cell's own tokens gives its epoch count — full passes plus a
    * partial tail — and any cell over 1000 milli-epochs is REPEATED
    * data (the Muennighoff scaling-laws regime: repeat counts are
    * what the run designer reads off this frame). All integer-exact:
    * milli-epochs by truncating division, the tail as ppm of one
    * epoch, conservation checkable by construction.
    *
    * Scale shape: C26's cell aggregation + the same 1-row totals
    * broadcast; the plan itself is pure per-cell arithmetic. */
  def mixEpochPlan(spark: SparkSession, dir: String,
                   budgetX: Long = MixBudgetX): DataFrame = {
    val mix = sourceMixWeights(spark, dir)
    val tot = mix.agg(sum(col("tokens")).as("tot"))
    mix.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        call_function("div",
          col("target_ppm").cast("decimal(38,0)") * col("tot")
            * lit(budgetX), lit(1000000L)))
      .withColumn("epochs_x1000",
        call_function("div", col("target_tokens") * lit(1000L),
          greatest(col("tokens"), lit(1L))))
      .withColumn("full_epochs",
        call_function("div", col("epochs_x1000"), lit(1000L)))
      .withColumn("tail_ppm",
        call_function("div",
          (col("target_tokens") - col("full_epochs") * col("tokens"))
            .cast("decimal(38,0)") * lit(1000000L),
          greatest(col("tokens"), lit(1L))))
      .withColumn("repeated",
        (col("epochs_x1000") > 1000L).cast("long"))
      .select(col("lang"), col("source"), col("tokens"),
        col("target_ppm"), col("target_tokens"), col("epochs_x1000"),
        col("full_epochs"), col("tail_ppm"), col("repeated"))
  }

  def mixEpochPlanSql(): String =
    s"""WITH mix AS (
       |${sourceMixWeightsSql.linesIterator.map("  " + _).mkString("\n")}
       |), tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot FROM mix),
       |plan AS (
       |  SELECT m.lang, m.source, m.tokens, m.target_ppm,
       |    CAST((m.target_ppm * t.tot * $MixBudgetX) // 1000000 AS BIGINT)
       |      AS target_tokens
       |  FROM mix m CROSS JOIN tot t
       |)
       |SELECT lang, source, tokens, target_ppm, target_tokens,
       |  CAST((target_tokens * 1000) // GREATEST(tokens, 1) AS BIGINT)
       |    AS epochs_x1000,
       |  CAST((target_tokens * 1000) // GREATEST(tokens, 1) // 1000
       |    AS BIGINT) AS full_epochs,
       |  CAST(((target_tokens - ((target_tokens * 1000)
       |      // GREATEST(tokens, 1) // 1000) * tokens) * 1000000)
       |    // GREATEST(tokens, 1) AS BIGINT) AS tail_ppm,
       |  CAST((target_tokens * 1000) // GREATEST(tokens, 1) > 1000
       |    AS BIGINT) AS repeated
       |FROM plan""".stripMargin

  /** C51 — boilerplate heavy hitters: the word 5-grams shared by the
    * most DOCUMENTS, corpus-wide — the cross-document complement of
    * C14's intra-document repetition and the mining step behind
    * line/template dedup rule lists (find the navigation chrome /
    * license header / cookie banner phrases, then feed them to C27).
    * Distinct grams per doc (the native compiled-loop shingler), so
    * the count IS document frequency; singleton grams are dropped
    * before ranking (they are the long tail, never boilerplate).
    *
    * Scale shape: explode → ONE partial-aggregated groupBy(gram)
    * (map-side combine collapses within-partition repeats) → the
    * distributed top-k (orderBy+limit → TakeOrderedAndProject, the
    * C38 discipline) → rank re-derived over the ≤k survivors. */
  def ngramHeavyHitters(spark: SparkSession, dir: String,
                        n: Int = HeavyN, k: Int = HeavyK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Text.docTokens(spark, dir)
      .select(col("doc_id"), col("toks"))
      .select(col("doc_id"),
        explode(call_function("graft_word_ngrams", col("toks"), lit(n)))
          .as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2L)
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(k)
      .withColumn("rank", row_number().over(
        graft.util.Windows.bounded(col("n_docs").desc, col("gram"))).cast("long"))
  }

  def ngramHeavyHittersSql(): String = {
    val terms = (0 until HeavyN).map(i => s"toks[i + $i]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= $HeavyN
       |    THEN list_transform(range(1, len(toks) - ${HeavyN - 2}),
       |         i -> $terms)
       |    ELSE [] END) AS grams
       |  FROM t
       |), e AS (
       |  SELECT doc_id, UNNEST(grams) AS gram FROM g
       |), c AS (
       |  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM e GROUP BY 1 HAVING COUNT(*) >= 2
       |)
       |SELECT gram, n_docs,
       |  CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, gram) AS BIGINT)
       |    AS rank
       |FROM c ORDER BY n_docs DESC, gram LIMIT $HeavyK""".stripMargin
  }

  // ---------------------------------------------------------------- C47
  /** C47 — sequence-length histogram: token counts bucketed by powers
    * of two with per-bucket doc/token totals and cumulative token
    * share — the batch-shape planning input for packing (C22) and
    * padding-waste estimation. bucket = floor(log2(n_tokens)) via the
    * C34 bit-length identity (pure integer, bit-portable); share and
    * cumulative share in ppm off a 1-row total broadcast; the
    * cumulative sum runs over the ≤~40-row bucket grid. Padding waste
    * ppm per bucket = what padding every doc to the bucket ceiling
    * (2^(b+1)−1 is the max length in bucket b; ceiling = 2^(b+1))
    * would discard — the quantity packing exists to reclaim. */
  def seqLengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Text.docTokens(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("bucket", expr("CAST(length(bin(n)) - 1 AS BIGINT)"))
    val buckets = docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val total = docs.agg(sum(col("n")).as("t"))
    val wcum = graft.util.Windows.bounded(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.crossJoin(broadcast(total))
      .withColumn("token_share_ppm",
        call_function("div", col("n_tokens").cast("decimal(38,0)")
          * lit(1000000L), col("t")))
      .withColumn("cum_token_ppm",
        call_function("div", sum(col("n_tokens")).over(wcum)
          .cast("decimal(38,0)") * lit(1000000L), col("t")))
      .withColumn("pad_waste_ppm",
        call_function("div",
          (col("n_docs") * expr("CAST(pow(2, bucket + 1) AS BIGINT)") - col("n_tokens"))
            .cast("decimal(38,0)") * lit(1000000L),
          col("n_docs") * expr("CAST(pow(2, bucket + 1) AS BIGINT)")))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("token_share_ppm"), col("cum_token_ppm"), col("pad_waste_ppm"))
  }

  val seqLengthHistogramSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(${graft.ops.Text.tokensSql("text")}) AS BIGINT) AS n
       |  FROM documents
       |), dd AS (
       |  SELECT *, CAST(length(bin(n)) - 1 AS BIGINT) AS bucket
       |  FROM d WHERE n > 0
       |), b AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n) AS BIGINT) AS n_tokens
       |  FROM dd GROUP BY 1
       |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM dd)
       |SELECT bucket, n_docs, n_tokens,
       |  n_tokens * 1000000 // t AS token_share_ppm,
       |  (CAST(SUM(n_tokens) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    * 1000000) // t AS cum_token_ppm,
       |  ((n_docs * CAST(POWER(2, bucket + 1) AS BIGINT) - n_tokens) * 1000000)
       |    // (n_docs * CAST(POWER(2, bucket + 1) AS BIGINT)) AS pad_waste_ppm
       |FROM b CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------- C41
  /** C41 — one round of BPE tokenizer training (Sennrich et al. 2016
    * §3.2): adjacent-symbol pair statistics over the word-frequency
    * table (round 1: every symbol is a single character; the
    * end-of-word marker is omitted — it only splits one pair class),
    * the argmax merge with a pinned total order (count DESC, then the
    * pair lexicographically — bare argmax ties are engine-unspecified),
    * and the winning merge's application statistics. Pair counts use
    * the canonical overlapping adjacent count ("aaa" yields two "aa"
    * pairs) while the APPLICATION count is left-to-right
    * non-overlapping, computed exactly by `replace` deletion (both
    * engines replace non-overlapping left-to-right, which IS the BPE
    * apply order): n_apply = (len − len(replace(w, lr, ''))) / 2.
    *
    * Scale shape: token explode → word-frequency aggregation (the
    * shuffle is |vocab|-bounded), character-pair explode off the WORD
    * table (vocab-scale, not corpus-scale), pair counts alphabet²-
    * bounded, winner + stats ride 1-row broadcasts. A full BPE train
    * iterates this round; each round re-aggregates only the vocab
    * table, so the corpus is read once regardless of merge count. */
  def bpePairMerge(spark: SparkSession, dir: String): DataFrame =
    bpePairMergeFrom(Text.docTokens(spark, dir))

  /** Word-frequency table of ≥2-char words (the BPE training corpus
    * view shared by C41 and C65). */
  private def bpeWords(docs: DataFrame): DataFrame =
    Text.withToks(docs)
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Round-1 adjacent-pair ranking (count DESC, pair ASC) — C41's
    * merge candidates and C65's merge table. */
  private def rankedPairs(words: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    words
      .select(col("freq"), explode(expr(
        """transform(sequence(1, length(w) - 1),
          |  i -> struct(substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("freq")).as("pair_count"))
      .withColumn("rnk", row_number().over(
        graft.util.Windows.bounded(col("pair_count").desc, col("left_sym"), col("right_sym")))
        .cast("long"))
      .filter(col("rnk") <= topK)
  }

  private[graft] def bpePairMergeFrom(docs: DataFrame, topK: Int = BpeTopK): DataFrame = {
    val words = bpeWords(docs)
    val ranked = rankedPairs(words, topK)
    val winner = ranked.filter(col("rnk") === 1L)
      .select(concat(col("left_sym"), col("right_sym")).as("ms"))
    val stats = words.crossJoin(broadcast(winner))
      .withColumn("na",
        expr("(length(w) - length(replace(w, ms, ''))) div 2").cast("long"))
      .agg(
        coalesce(sum(when(col("na") > 0L, col("freq"))), lit(0L)).as("wa"),
        coalesce(sum(col("na") * col("freq")), lit(0L)).as("napp"),
        sum(length(col("w")).cast("long") * col("freq")).as("sb"))
    ranked.crossJoin(broadcast(stats))
      .select(col("rnk"), col("left_sym"), col("right_sym"), col("pair_count"),
        when(col("rnk") === 1L, col("wa")).otherwise(lit(0L)).as("words_affected"),
        when(col("rnk") === 1L, col("napp")).otherwise(lit(0L)).as("n_applications"),
        when(col("rnk") === 1L, col("sb")).otherwise(lit(0L)).as("symbols_before"),
        when(col("rnk") === 1L, col("sb") - col("napp")).otherwise(lit(0L))
          .as("symbols_after"))
  }

  def bpePairMergeSql(): String =
    s"""WITH words AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${graft.ops.Text.tokensSql("text")}) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w
       |), pc AS (
       |  SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
       |  FROM (
       |    SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
       |           substr(w, CAST(i AS INT) + 1, 1) AS right_sym, freq
       |    FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM words))
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT * FROM (
       |    SELECT left_sym, right_sym, pair_count,
       |      CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_sym,
       |        right_sym) AS BIGINT) AS rnk
       |    FROM pc)
       |  WHERE rnk <= $BpeTopK
       |), winner AS (
       |  SELECT left_sym || right_sym AS ms FROM ranked WHERE rnk = 1
       |), stats AS (
       |  SELECT
       |    CAST(COALESCE(SUM(CASE WHEN na > 0 THEN freq END), 0) AS BIGINT) AS wa,
       |    CAST(COALESCE(SUM(na * freq), 0) AS BIGINT) AS napp,
       |    CAST(SUM(length(w) * freq) AS BIGINT) AS sb
       |  FROM (
       |    SELECT freq, w,
       |      (length(w) - length(replace(w, ms, ''))) // 2 AS na
       |    FROM words CROSS JOIN winner)
       |)
       |SELECT rnk, left_sym, right_sym, pair_count,
       |  CASE WHEN rnk = 1 THEN wa ELSE 0 END AS words_affected,
       |  CASE WHEN rnk = 1 THEN napp ELSE 0 END AS n_applications,
       |  CASE WHEN rnk = 1 THEN sb ELSE 0 END AS symbols_before,
       |  CASE WHEN rnk = 1 THEN sb - napp ELSE 0 END AS symbols_after
       |FROM ranked CROSS JOIN stats""".stripMargin

  // ---------------------------------------------------------------- C65

  /** C65 — BPE segmentation (the APPLY side completing C41's training
    * arm): tokenize every vocabulary word against a ranked merge
    * table, greedy by merge priority — the operation every training
    * run and every inference server executes per token. The merge
    * table here is the top-`nMerges` round-1 pair ranking (a real
    * train re-counts pairs between merges; with a single-round table
    * every merge pair is two SINGLE-CHAR symbols, so a later merge can
    * never create an earlier merge's pair and one pass in rank order
    * IS the exact repeated-argmax semantics — the property that makes
    * this oracle-checkable without an inner fixpoint).
    *
    * The fold runs on a BOUNDARY-DELIMITED string: every symbol is
    * wrapped in unit separators (chr(31)) on BOTH sides — rep of
    * [a,b,c] is ␟a␟b␟c␟ — so applying merge (l, r) is exactly
    * `replace(rep, ␟l␟r␟, ␟lr␟)`: native `replace` is left-to-right
    * non-overlapping in both engines (the C41 precedent), the
    * replacement restores the closing delimiter so chained adjacent
    * merges still see theirs, and BOTH anchors are required — a
    * prefix-only pattern ␟u␟e falsely matches the symbol "er" inside
    * ␟u␟er␟ (the bug the C65 fold-replay spec caught: "query" must
    * read q·u·er·y, not q·uer·y), and a left symbol ending in l
    * ("xa"+"b" = ␟xa␟b␟) never contains ␟a␟b␟. No per-symbol array
    * state, no nested lambda — ONE string column folded over the
    * ≤nMerges merge array.
    *
    * Scale shape: segmentation runs over the VOCABULARY table (the
    * corpus is read once for word counts — the shuffle is
    * |vocab|-bounded), the merge table rides a 1-row broadcast, and
    * the per-word fold is nMerges string rewrites inside Catalyst. */
  def bpeSegment(spark: SparkSession, dir: String, nMerges: Int = BpeMerges): DataFrame =
    bpeSegmentFrom(Text.docTokens(spark, dir), nMerges)

  private[graft] def bpeSegmentFrom(docs: DataFrame, nMerges: Int = BpeMerges): DataFrame = {
    val words = bpeWords(docs)
    val merges = rankedPairs(words, nMerges)
      .agg(sort_array(collect_list(struct(col("rnk"),
        col("left_sym").as("l"), col("right_sym").as("r")))).as("ms"))
    words.crossJoin(broadcast(merges))
      .withColumn("rep0", expr(
        """concat(chr(31), array_join(
          |  transform(sequence(1, length(w)), i -> substring(w, i, 1)),
          |  chr(31)), chr(31))""".stripMargin))
      .withColumn("rep", expr(
        """aggregate(ms, rep0, (acc, m) -> replace(acc,
          |  concat(chr(31), m.l, chr(31), m.r, chr(31)),
          |  concat(chr(31), m.l, m.r, chr(31))))""".stripMargin))
      .select(col("w").as("word"), col("freq"),
        length(col("w")).cast("long").as("n_chars"),
        expr("length(rep) - length(replace(rep, chr(31), '')) - 1")
          .cast("long").as("n_pieces"),
        expr("trim(replace(rep, chr(31), ' '))").as("pieces"))
  }

  def bpeSegmentSql(): String =
    s"""WITH RECURSIVE words AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${graft.ops.Text.tokensSql("text")}) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w
       |), pc AS (
       |  SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
       |  FROM (
       |    SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
       |           substr(w, CAST(i AS INT) + 1, 1) AS right_sym, freq
       |    FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM words))
       |  GROUP BY 1, 2
       |), m AS (
       |  SELECT * FROM (
       |    SELECT left_sym AS l, right_sym AS r,
       |      CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_sym,
       |        right_sym) AS BIGINT) AS rnk
       |    FROM pc)
       |  WHERE rnk <= $BpeMerges
       |), seg AS (
       |  SELECT w, freq, CAST(0 AS BIGINT) AS rnk,
       |    chr(31) || array_to_string(
       |      list_transform(range(1, length(w) + 1),
       |        i -> substr(w, CAST(i AS INT), 1)), chr(31)) || chr(31) AS rep
       |  FROM words
       |  UNION ALL
       |  SELECT s.w, s.freq, s.rnk + 1,
       |    replace(s.rep, chr(31) || m.l || chr(31) || m.r || chr(31),
       |      chr(31) || m.l || m.r || chr(31))
       |  FROM seg s JOIN m ON m.rnk = s.rnk + 1
       |)
       |SELECT w AS word, freq,
       |  CAST(length(w) AS BIGINT) AS n_chars,
       |  CAST(length(rep) - length(replace(rep, chr(31), '')) - 1 AS BIGINT)
       |    AS n_pieces,
       |  trim(replace(rep, chr(31), ' ')) AS pieces
       |FROM seg
       |WHERE rnk = (SELECT COALESCE(MAX(rnk), 0) FROM m)""".stripMargin

  // ---------------------------------------------------------------- C70

  /** C70 — tokenizer fertility by source: pieces-per-word is THE
    * per-domain tokenizer health metric (a domain averaging 2+ pieces
    * per word pays double the sequence length for the same text —
    * the compression inequity multilingual vocab sizing is decided
    * on), here measured for C65's merge table over each source's own
    * word distribution: weighted fertility ×1000
    * (Σ freq·pieces / Σ freq), chars-per-piece ×1000 (the inverse
    * compression), and the share of words a single piece covers. One
    * global vocab segmentation (C65 — the corpus is read once more
    * for per-source word counts, a |vocab|-bounded shuffle), then a
    * vocab-scale equi-join and a per-source reduce — at any corpus
    * size the join never exceeds sources × vocab. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val seg = bpeSegment(spark, dir)
      .select(col("word"), col("n_pieces"), col("n_chars"))
    val perSrc = Text.docTokens(spark, dir)
      .select(col("source"), explode(col("toks")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("freq"))
    perSrc.join(seg, "word")
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_pieces")).as("tot_pieces"),
        sum(col("freq") * col("n_chars")).as("tot_chars"),
        sum(when(col("n_pieces") === 1L, col("freq")).otherwise(0L))
          .as("n_single"))
      .select(col("source"), col("n_words"),
        call_function("div", col("tot_pieces") * lit(1000L), col("n_words"))
          .as("fertility_e3"),
        call_function("div", col("tot_chars") * lit(1000L), col("tot_pieces"))
          .as("chars_per_piece_e3"),
        call_function("div", col("n_single").cast("decimal(38,0)")
          * lit(1000000L), col("n_words"))
          .as("single_piece_ppm"))
  }

  def tokenizerFertilitySql(): String = {
    val seg = bpeSegmentSql()
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH seg AS (
       |$seg
       |), per_src AS (
       |  SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT source, unnest(${graft.ops.Text.tokensSql("text")}) AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1, 2
       |)
       |SELECT p.source, CAST(SUM(p.freq) AS BIGINT) AS n_words,
       |  CAST(SUM(p.freq * s.n_pieces) * 1000 // SUM(p.freq) AS BIGINT)
       |    AS fertility_e3,
       |  CAST(SUM(p.freq * s.n_chars) * 1000 // SUM(p.freq * s.n_pieces)
       |    AS BIGINT) AS chars_per_piece_e3,
       |  CAST(SUM(CASE WHEN s.n_pieces = 1 THEN p.freq ELSE 0 END) * 1000000
       |    // SUM(p.freq) AS BIGINT) AS single_piece_ppm
       |FROM per_src p JOIN seg s ON p.word = s.word
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- C77

  /** C77 — session transcripts: turn event logs into ordered
    * conversation-style records — the assembly step of every
    * behavioral-SFT / user-modeling dataset (the raw table has one
    * row per event; the model trains on "what this user did, in
    * order, in one sitting"): events sessionize on the B14 gap rule
    * (a new session after `gapUs` of silence), each session renders
    * its turns as `event_type@relative_seconds` in (ts, id) order,
    * truncated to `maxTurns` with an explicit flag (the C66 budget
    * discipline — truncation is visible, never silent), joined into
    * one transcript string plus the session's true turn count and
    * duration. One user-keyed window for the session break + one
    * (user, session) aggregation; the collected list is bounded by
    * the session, and the rendered transcript by `maxTurns`. */
  def sessionTranscripts(spark: SparkSession, dir: String,
                         gapUs: Long = SessionGapUs,
                         maxTurns: Int = MaxTurns): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("brk", when(col("prev_ts").isNull ||
        col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"),
        col("event_type")))).as("turns"))
      .withColumn("n_turns", size(col("turns")).cast("long"))
      .withColumn("start_us", col("turns")(0).getField("ts_us"))
      .withColumn("kept_turns",
        least(col("n_turns"), lit(maxTurns.toLong)))
      .withColumn("transcript", expr(
        s"""array_join(transform(slice(turns, 1, $maxTurns),
           |  t -> concat(t.event_type, '@',
           |    (t.ts_us - start_us) div 1000000)), ' | ')""".stripMargin))
      .select(col("user_id"), col("session_seq"), col("n_turns"),
        col("kept_turns"),
        (col("n_turns") > maxTurns).cast("long").as("truncated"),
        (element_at(col("turns"), -1).getField("ts_us") - col("start_us"))
          .as("duration_us"),
        col("transcript"))
  }

  def sessionTranscriptsSql(): String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(epoch_us(ts) AS BIGINT) AS ts_us
       |  FROM events
       |), brk AS (
       |  SELECT user_id, event_id, event_type, ts_us,
       |    CASE WHEN LAG(ts_us) OVER w IS NULL
       |      OR ts_us - LAG(ts_us) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS brk
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |), ses AS (
       |  SELECT user_id, event_id, event_type, ts_us,
       |    CAST(SUM(brk) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS session_seq
       |  FROM brk
       |), g AS (
       |  SELECT user_id, session_seq,
       |    list_sort(list({'ts_us': ts_us, 'event_id': event_id,
       |      'event_type': event_type})) AS turns
       |  FROM ses GROUP BY 1, 2
       |)
       |SELECT user_id, session_seq,
       |  CAST(len(turns) AS BIGINT) AS n_turns,
       |  CAST(LEAST(len(turns), $MaxTurns) AS BIGINT) AS kept_turns,
       |  CAST(len(turns) > $MaxTurns AS BIGINT) AS truncated,
       |  CAST(turns[len(turns)].ts_us - turns[1].ts_us AS BIGINT)
       |    AS duration_us,
       |  array_to_string(list_transform(turns[1:$MaxTurns],
       |    t -> t.event_type || '@' ||
       |      CAST((t.ts_us - turns[1].ts_us) // 1000000 AS VARCHAR)),
       |    ' | ') AS transcript
       |FROM g""".stripMargin

  // ---------------------------------------------------------------- C75

  /** C75 — packed-window attention segments: the OTHER artifact C22's
    * packing implies — per context window, which token ranges belong
    * to which document. The trainer materializes exactly this table:
    * block-diagonal attention masks (tokens must not attend across
    * document boundaries inside a packed window) and position-id
    * resets both read off it. A document that STRADDLES a window cut
    * (C22 records only its start) splits into per-window fragments:
    * with global start g = bin_id·ctx + offset it occupies windows
    * g div ctx .. (g+n−1) div ctx, contributing the local range
    * [max(g, w·ctx), min(g+n, (w+1)·ctx)) to each — bounded
    * amplification n/ctx + 1. Output: one row per (window, segment)
    * with local offsets, head/tail flags (a mid-fragment row is the
    * continuation a causal trainer treats as label-masked at its
    * head), and the window's fill ppm — interior windows read 10⁶,
    * each shard stream's final window shows its real tail fill. Per-
    * window ordinals ride the same (lang, shard) keyed shuffle C22
    * already runs; nothing global. */
  def packAttentionSpans(spark: SparkSession, dir: String, ctx: Long = PackCtx): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = seqPack(spark, dir, ctx)
      .withColumn("g", col("bin_id") * ctx + col("bin_offset"))
    val segs = packed
      .withColumn("win", explode(expr(
        s"sequence(bin_id, (g + n_tokens - 1) div $ctx)")))
      .withColumn("seg_start",
        greatest(col("g"), col("win") * ctx) - col("win") * ctx)
      .withColumn("seg_end",
        least(col("g") + col("n_tokens"), (col("win") + 1L) * ctx) -
          col("win") * ctx)
      .withColumn("is_head", (col("win") === col("bin_id")).cast("long"))
      .withColumn("is_tail",
        (col("win") === expr(s"(g + n_tokens - 1) div $ctx")).cast("long"))
    val byWin = Window.partitionBy(col("lang"), col("shard"), col("win"))
    segs
      .withColumn("seg_seq", row_number().over(
        byWin.orderBy(col("seg_start"))).cast("long"))
      .withColumn("fill_ppm", call_function("div",
        sum(col("seg_end") - col("seg_start")).over(byWin)
          .cast("decimal(38,0)") * lit(1000000L),
        lit(ctx)))
      .select(col("lang"), col("shard"), col("win").as("bin_id"),
        col("seg_seq"), col("doc_id"), col("seg_start"), col("seg_end"),
        (col("seg_end") - col("seg_start")).as("seg_tokens"),
        col("is_head"), col("is_tail"), col("fill_ppm"))
  }

  def packAttentionSpansSql(): String = {
    val shard = graft.functions.Portable
      .bucketSql(s"'$PackSalt' || CAST(doc_id AS VARCHAR)", PackShards)
    s"""WITH base AS (
       |  SELECT doc_id, lang, $shard AS shard,
       |    CAST(len(${graft.ops.Text.tokensSql("text")}) AS BIGINT)
       |      AS n_tokens
       |  FROM documents
       |), packed AS (
       |  SELECT doc_id, lang, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS g
       |  FROM base
       |), segs AS (
       |  SELECT lang, shard, doc_id, n_tokens, g,
       |    CAST(w.win AS BIGINT) AS win
       |  FROM packed,
       |    UNNEST(GENERATE_SERIES(g // $PackCtx, (g + n_tokens - 1) // $PackCtx))
       |      AS w(win)
       |), local AS (
       |  SELECT lang, shard, win, doc_id,
       |    GREATEST(g, win * $PackCtx) - win * $PackCtx AS seg_start,
       |    LEAST(g + n_tokens, (win + 1) * $PackCtx) - win * $PackCtx AS seg_end,
       |    CAST(win = g // $PackCtx AS BIGINT) AS is_head,
       |    CAST(win = (g + n_tokens - 1) // $PackCtx AS BIGINT) AS is_tail
       |  FROM segs
       |)
       |SELECT lang, shard, win AS bin_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, shard, win
       |    ORDER BY seg_start) AS BIGINT) AS seg_seq,
       |  doc_id, CAST(seg_start AS BIGINT) AS seg_start,
       |  CAST(seg_end AS BIGINT) AS seg_end,
       |  CAST(seg_end - seg_start AS BIGINT) AS seg_tokens,
       |  is_head, is_tail,
       |  CAST(SUM(seg_end - seg_start) OVER (PARTITION BY lang, shard, win)
       |    * 1000000 // $PackCtx AS BIGINT) AS fill_ppm
       |FROM local""".stripMargin
  }

  // ---------------------------------------------------------------- C74

  /** C74 — length-grouped batching: the padding-minimizing batch
    * assembly every fine-tuning/eval loader runs (batching by similar
    * length instead of arrival order cuts the pad-token waste that
    * otherwise dominates step cost — the dynamic-batching /
    * bucketed-sampler idiom): documents bucket by token length
    * ([[LenDiv]]-token granularity), shard by hash (production batches
    * PER WORKER — [[LenShards]] scales with the fleet, which is exactly
    * why no per-bucket global order exists at 100 TB), and within
    * (bucket, shard) a deterministic (hash-priority, id) order packs
    * consecutive runs of [[LenBatchSize]]. Output is the BATCH ledger: per
    * batch its size, length band, token mass, and pad-waste ppm
    * ((max·n − Σlen)/(max·n) — the number the loader owner watches;
    * tight buckets ⇒ low waste regardless of batch order). The rank
    * window is keyed by (bucket, shard) — cardinality grows with the
    * fleet, partitions shrink as shards scale: the honest distributed
    * shape. */
  def lengthBatching(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Text.docTokens(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"))
      .withColumn("bucket", call_function("div", col("len"), lit(LenDiv.toLong)))
      .withColumn("shard", pmod(graft.functions.Portable.hash60(
        concat(lit("graft-batch-v1:"), col("doc_id").cast("string"))),
        lit(LenShards.toLong)))
      .withColumn("prio", graft.functions.Portable.hash60(
        concat(lit("graft-order-v1:"), col("doc_id").cast("string"))))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("prio"), col("doc_id"))
    base
      .withColumn("batch_no",
        call_function("div", row_number().over(w).cast("long") - 1L,
          lit(LenBatchSize.toLong)))
      .groupBy(col("bucket"), col("shard"), col("batch_no"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("len")).as("min_len"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("pad_waste_ppm", call_function("div",
        (col("max_len") * col("n_docs") - col("sum_len"))
          .cast("decimal(38,0)") * lit(1000000L),
        col("max_len") * col("n_docs")))
  }

  def lengthBatchingSql(): String = {
    val shard = graft.functions.Portable
      .hash60Sql("'graft-batch-v1:' || CAST(doc_id AS VARCHAR)")
    val prio = graft.functions.Portable
      .hash60Sql("'graft-order-v1:' || CAST(doc_id AS VARCHAR)")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(${graft.ops.Text.tokensSql("text")}) AS BIGINT) AS len,
       |    CAST(len(${graft.ops.Text.tokensSql("text")}) AS BIGINT)
       |      // $LenDiv AS bucket,
       |    $shard % $LenShards AS shard,
       |    $prio AS prio
       |  FROM documents
       |), ranked AS (
       |  SELECT bucket, shard, len,
       |    (ROW_NUMBER() OVER (PARTITION BY bucket, shard
       |      ORDER BY prio, doc_id) - 1) // $LenBatchSize AS batch_no
       |  FROM base
       |)
       |SELECT bucket, shard, CAST(batch_no AS BIGINT) AS batch_no,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(len) AS min_len, MAX(len) AS max_len,
       |  CAST(SUM(len) AS BIGINT) AS sum_len,
       |  CAST((MAX(len) * COUNT(*) - SUM(len)) * 1000000
       |    // (MAX(len) * COUNT(*)) AS BIGINT) AS pad_waste_ppm
       |FROM ranked GROUP BY 1, 2, 3""".stripMargin
  }

  // ---------------------------------------------------------------- C61

  /** C61 — vocabulary-growth curve (the Heaps'-law audit): how many
    * DISTINCT word types the corpus has accumulated after each tenth
    * of it, against cumulative token mass — the curve a tokenizer
    * designer reads before sizing a vocab (still-steep growth at the
    * corpus edge means unseen-type mass ahead; a flattening curve
    * means the vocab is closing) and the first diagnostic for "is this
    * crawl batch adding new language or more of the same". Corpus
    * order = doc_id order, bucketed VALUE-PROPORTIONALLY against the
    * broadcast (min, max) id span — a closed form with NO corpus-scale
    * window (the rank-based decile would be exactly the global-sort
    * scale-killer this board bans); each word's first-appearance
    * bucket = min bucket over its occurrences (ONE vocabulary-scale
    * partial agg — first-appearance is order-free under min);
    * cumulative sums run on the 10-row grid. types_per_mtok =
    * cumulative types per million cumulative tokens, the Heaps ratio
    * on the ppm grid. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.docTokens(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("word"))
    val span = toks.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) - min(col("doc_id")) + 1L).as("w"))
    val bucketed = toks.crossJoin(broadcast(span))
      .withColumn("bucket", least(lit(9L), call_function("div",
        (col("doc_id") - col("lo")) * 10L, col("w"))))
    val tokensPer = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val typesPer = bucketed.groupBy(col("word"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_types"))
    val grid = graft.util.Windows.bounded(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokensPer.join(typesPer, Seq("bucket"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(grid))
      .withColumn("cum_types", sum(col("n_new_types")).over(grid))
      .select(col("bucket"), col("n_tokens"), col("n_new_types"),
        col("cum_tokens"), col("cum_types"),
        call_function("div", col("cum_types").cast("decimal(38,0)")
          * lit(1000000L), col("cum_tokens")).as("types_per_mtok"))
  }

  def vocabGrowthSql(): String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(${Text.tokensSql("text")}) AS word
       |  FROM documents
       |), span AS (
       |  SELECT MIN(doc_id) AS lo,
       |    MAX(doc_id) - MIN(doc_id) + 1 AS w
       |  FROM toks
       |), b AS (
       |  SELECT word,
       |    LEAST(9, ((doc_id - lo) * 10) // w) AS bucket
       |  FROM toks CROSS JOIN span
       |), tokens_per AS (
       |  SELECT bucket, COUNT(*) AS n_tokens FROM b GROUP BY 1
       |), types_per AS (
       |  SELECT bucket, COUNT(*) AS n_new_types FROM (
       |    SELECT word, MIN(bucket) AS bucket FROM b GROUP BY 1
       |  ) GROUP BY 1
       |)
       |SELECT t.bucket, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(y.n_new_types, 0) AS BIGINT) AS n_new_types,
       |  CAST(SUM(t.n_tokens) OVER cumw AS BIGINT) AS cum_tokens,
       |  CAST(SUM(COALESCE(y.n_new_types, 0)) OVER cumw AS BIGINT)
       |    AS cum_types,
       |  CAST(SUM(COALESCE(y.n_new_types, 0)) OVER cumw * 1000000
       |    // SUM(t.n_tokens) OVER cumw AS BIGINT) AS types_per_mtok
       |FROM tokens_per t LEFT JOIN types_per y ON t.bucket = y.bucket
       |WINDOW cumw AS (ORDER BY t.bucket
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // ------------------------------------------------------------------
  // C81 — vocabulary concentration (token-mass coverage)
  // ------------------------------------------------------------------

  /** C81 — vocabulary concentration: how many distinct tokens cover
    * 50/90/99% of the corpus token mass — the concentration profile
    * behind tokenizer-vocab sizing and stopword-cutoff decisions (a
    * web corpus typically covers 90% of its mass with a few thousand
    * types; a corpus that needs far more is noise-heavy).
    *
    * Exact WITHOUT a vocabulary-scale sort: frequencies are grouped to
    * the distinct-frequency VALUE GRID (Σ of distinct counts ≤ N, so
    * the grid is O(√N) rows — the B37/C40/C67 exact-order-statistic
    * discipline), one cumulative window over the grid ordered by
    * frequency DESC, and within the first grid row reaching each mass
    * threshold the remainder is a closed-form ceil-division (tokens in
    * one frequency class are interchangeable). All integer arithmetic;
    * first-reaching row picked by min_by on the strictly-increasing
    * cumulative mass — the oracle's arg_min twin.
    *
    * Scale: one token-keyed partial agg (vocab), one frequency-keyed
    * agg (grid), a grid-scale window, two 1-row/3-row broadcasts. */
  def vocabConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Text.docTokens(spark, dir)
      .select(explode(col("toks")).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val grid = vocab.groupBy(col("freq"))
      .agg(count(lit(1)).as("n_toks"))
      .withColumn("mass", col("freq") * col("n_toks"))
    val wd = graft.util.Windows.bounded(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cum_mass", sum(col("mass")).over(wd))
      .withColumn("cum_toks", sum(col("n_toks")).over(wd))
    val tot = vocab.agg(sum(col("freq")).as("n_total"),
      count(lit(1)).as("vocab_size"))
    val pcts = Seq(50L, 90L, 99L).toDF("mass_pct")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(pcts))
      .withColumn("thresh", expr("(n_total * mass_pct + 99) DIV 100"))
      .filter(col("cum_mass") >= col("thresh"))
      // exact count inside the first reaching frequency class:
      // previous classes contribute cum_toks - n_toks tokens and
      // cum_mass - mass mass; the remainder is ceil(x / freq)
      .withColumn("need",
        expr("cum_toks - n_toks + (thresh - cum_mass + mass + freq - 1) DIV freq"))
      .groupBy(col("mass_pct"))
      .agg(min_by(col("need"), col("cum_mass")).as("tokens_needed"),
        first(col("n_total")).as("total_tokens"),
        first(col("vocab_size")).as("vocab_size"))
      .withColumn("vocab_frac_ppm",
        expr("tokens_needed * 1000000 DIV vocab_size"))
      .select(col("mass_pct"), col("tokens_needed"), col("vocab_size"),
        col("total_tokens"), col("vocab_frac_ppm"))
  }

  val vocabConcentrationSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(${Text.tokensSql("text")}) AS w FROM documents
       |), vocab AS (
       |  SELECT w, COUNT(*) AS freq FROM toks GROUP BY 1
       |), grid AS (
       |  SELECT freq, COUNT(*) AS n_toks, freq * COUNT(*) AS mass
       |  FROM vocab GROUP BY 1
       |), cum AS (
       |  SELECT freq, n_toks, mass,
       |    CAST(SUM(mass) OVER wd AS BIGINT) AS cum_mass,
       |    CAST(SUM(n_toks) OVER wd AS BIGINT) AS cum_toks
       |  FROM grid
       |  WINDOW wd AS (ORDER BY freq DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), tot AS (
       |  SELECT CAST(SUM(freq) AS BIGINT) AS n_total,
       |    CAST(COUNT(*) AS BIGINT) AS vocab_size FROM vocab
       |), pct AS (SELECT unnest([50, 90, 99]) AS mass_pct),
       |q AS (
       |  SELECT p.mass_pct, t.n_total, t.vocab_size, c.*,
       |    (t.n_total * p.mass_pct + 99) // 100 AS thresh
       |  FROM cum c CROSS JOIN tot t CROSS JOIN pct p
       |  WHERE c.cum_mass >= (t.n_total * p.mass_pct + 99) // 100
       |)
       |SELECT CAST(mass_pct AS BIGINT) AS mass_pct,
       |  CAST(arg_min(cum_toks - n_toks
       |    + (thresh - cum_mass + mass + freq - 1) // freq, cum_mass)
       |    AS BIGINT) AS tokens_needed,
       |  CAST(ANY_VALUE(vocab_size) AS BIGINT) AS vocab_size,
       |  CAST(ANY_VALUE(n_total) AS BIGINT) AS total_tokens,
       |  CAST(arg_min(cum_toks - n_toks
       |    + (thresh - cum_mass + mass + freq - 1) // freq, cum_mass)
       |    * 1000000 // ANY_VALUE(vocab_size) AS BIGINT) AS vocab_frac_ppm
       |FROM q GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // C83 — n-gram novelty by document order
  // ------------------------------------------------------------------

  /** C83 — per-document n-gram novelty: the fraction of a doc's
    * distinct 3-grams whose FIRST corpus occurrence (min doc_id) is
    * this doc — the novelty signal behind ingest-order curation
    * (crawls re-fetching the same boilerplate show novelty collapsing
    * toward 0; a healthy fresh source keeps contributing new grams).
    * The gram owner is an associative min — order-independent, exact.
    *
    * Scale: the cached distinct-gram frame exploded once, one
    * gram-keyed partial agg for the owner (vocabulary-scale), one
    * gram-keyed join back, one doc-keyed agg. No windows, no
    * all-pairs anything. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    noveltyFromGrams(Dedup.gramExploded(spark, dir))

  /** Spec entry: same frame from an explicit documents frame. */
  private[graft] def ngramNoveltyFrom(docsFrame: DataFrame): DataFrame =
    noveltyFromGrams(Text.withToks(docsFrame)
      .select(col("doc_id"), col("toks"))
      .select(col("doc_id"), expr(Text.gramsExpr).as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), explode(col("grams")).as("gram")))

  private def noveltyFromGrams(ex: DataFrame): DataFrame = {
    val owner = ex.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    ex.join(owner, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty_ppm"))
  }

  val ngramNoveltySql: String =
    s"""WITH ${Dedup.gramFrameSql},
       |ex AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM gg
       |), owner AS (
       |  SELECT gram, MIN(doc_id) AS first_doc FROM ex GROUP BY 1
       |)
       |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN o.first_doc = e.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN o.first_doc = e.doc_id THEN 1 ELSE 0 END)
       |    * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
       |FROM ex e JOIN owner o USING (gram)
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- C86

  /** C86 — collocation / phrase mining with the word2vec phrase score
    * (Mikolov et al. 2013 §4, public paper): for every adjacent token
    * pair, score(a,b) = (count(ab) − δ) · N / (count(a) · count(b)) —
    * the observed-over-independent ratio with a δ discount that kills
    * rare-pair noise. Pairs scoring above τ are the multi-word
    * expressions a tokenizer-prep pipeline promotes to single units.
    * Every number is integer-exact (ppm via widened-decimal division;
    * no logs, no floats), so the DuckDB oracle hash-matches bit-for-
    * bit.
    *
    * Scale shape: one row-local adjacent-pair projection (linear), a
    * pair-keyed partial agg (the bigram vocabulary — o(N) in any real
    * corpus), two vocab-scale joins onto the unigram counts, and the
    * 1-row token total broadcast. Nothing corpus-quadratic; the
    * candidate frame is bounded by distinct bigrams with count ≥ δ. */
  def corpusPhrases(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.docTokens(spark, dir)
      .select(col("toks"))
      // three consumers (unigram agg, token total, pair agg) —
      // tokenize once, the gramsCached discipline
      .localCheckpoint()
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val n = toks.select(sum(size(col("toks"))).as("n_total"))
    val pairs = toks
      .select(explode(expr("""CASE WHEN size(toks) >= 2
        THEN transform(sequence(0, size(toks) - 2),
             i -> concat(toks[i], ' ', toks[i+1]))
        ELSE array() END""")).as("pg"))
      .groupBy(col("pg")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= PhraseMinCount)
      .withColumn("w1", element_at(split(col("pg"), " "), 1))
      .withColumn("w2", element_at(split(col("pg"), " "), 2))
    pairs
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("score_ppm",
        call_function("div",
          (col("n_pair") - lit(PhraseMinCount)).cast("decimal(38,0)")
            * col("n_total") * lit(1000000L),
          col("n_w1").cast("decimal(38,0)") * col("n_w2")).cast("long"))
      .withColumn("phrase", (col("score_ppm") >= PhraseTauPpm).cast("long"))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"), col("score_ppm"), col("phrase"))
  }

  def corpusPhrasesSql(): String =
    s"""WITH d AS (
       |  SELECT ${Text.tokensSql("text")} AS toks FROM documents
       |), uni AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
       |  FROM (SELECT unnest(toks) AS w FROM d) GROUP BY 1
       |), n AS (
       |  SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_total FROM d
       |), pairs AS (
       |  SELECT pg, CAST(COUNT(*) AS BIGINT) AS n_pair,
       |    string_split(pg, ' ')[1] AS w1, string_split(pg, ' ')[2] AS w2
       |  FROM (
       |    SELECT unnest(CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)),
       |           i -> toks[i] || ' ' || toks[i+1])
       |      ELSE [] END) AS pg
       |    FROM d)
       |  GROUP BY 1
       |  HAVING COUNT(*) >= $PhraseMinCount
       |)
       |SELECT p.w1, p.w2, p.n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
       |  CAST(CAST((p.n_pair - $PhraseMinCount) AS HUGEINT) * n.n_total
       |    * 1000000 // (CAST(u1.n_w AS HUGEINT) * u2.n_w) AS BIGINT)
       |    AS score_ppm,
       |  CAST(CAST(CAST((p.n_pair - $PhraseMinCount) AS HUGEINT) * n.n_total
       |    * 1000000 // (CAST(u1.n_w AS HUGEINT) * u2.n_w) >= $PhraseTauPpm
       |    AS INT) AS BIGINT) AS phrase
       |FROM pairs p
       |JOIN uni u1 ON p.w1 = u1.w
       |JOIN uni u2 ON p.w2 = u2.w
       |CROSS JOIN n""".stripMargin
}
