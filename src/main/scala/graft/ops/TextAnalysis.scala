package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Text analysis for training-data curation: language ID, quality
  * scoring, token counting, fingerprinting. All row-local expressions
  * over a single `documents` scan — at 100 TB these pipeline into one
  * stage with no shuffle at all.
  */
object TextAnalysis {

  /** [[vocabCoverage]]'s vocabulary size. */
  val VocabSize = 16
  /** [[qualityModelFilter]]'s raw score threshold and
    * [[qualityCalibration]]'s top share. */
  val QualityRawTau = 290000L
  val CalibTopPpm = 500000L

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "de" -> Seq("der", "und", "die", "das", "ist"))

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  /** The English stop list shared with the C32 filter bank. */
  private[ops] val enStopwords: Seq[String] = markers.head._2
  private[ops] def enStopwordsSql: String = inList(enStopwords)

  /** C8 — n-gram/stopword-profile language ID: score each language's
    * marker-word hits over the token stream, argmax with fixed
    * precedence (en,es,fr,de → 'und' when nothing matches). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = markers.foldLeft(
      Text.docTokens(spark, dir)
        .select(col("doc_id"), col("lang"), col("toks"))) {
      case (df, (l, ws)) =>
        // native set-membership count (graft.functions.CountTokensIn)
        df.withColumn(s"s_$l",
          call_function("graft_count_in", col("toks"), array(ws.map(lit): _*)))
    }
    val best = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    scored.withColumn("predicted_lang",
        when(best === 0L, lit("und"))
          .when(col("s_en") === best, lit("en"))
          .when(col("s_es") === best, lit("es"))
          .when(col("s_fr") === best, lit("fr"))
          .otherwise(lit("de")))
      .select(col("doc_id"), col("lang"), col("predicted_lang"),
        col("s_en"), col("s_es"), col("s_fr"), col("s_de"))
  }

  val langIdSql: String = {
    val scores = markers.map { case (l, ws) =>
      s"len(list_filter(toks, t -> t IN (${inList(ws)}))) AS s_$l"
    }.mkString(",\n  ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, ${Text.tokensSql("text")} AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, lang,
       |  $scores
       |  FROM t
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
       |       WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
       |       WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
       |       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
       |       ELSE 'de' END AS predicted_lang,
       |  s_en, s_es, s_fr, s_de
       |FROM s""".stripMargin
  }

  /** C9 — heuristic quality score: length saturation + stopword ratio
    * + punctuation sparsity, weighted into [0,1]. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chars_norm", length(col("norm")).cast("long"))
      .withColumn("n_stop",
        call_function("graft_count_in", col("toks"), array(markers.head._2.map(lit): _*)))
      .withColumn("n_punct",
        length(regexp_replace(col("norm"), "[^.!?,;:]", "")).cast("long"))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 4))
      .withColumn("punct_ratio", round(col("n_punct").cast("double") / col("n_chars_norm"), 4))
      .withColumn("quality_score", round(
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5 +
          col("stop_ratio") * 0.3 + (lit(1.0) - col("punct_ratio")) * 0.2, 5))
      .select(col("doc_id"), col("n_tokens"), col("n_chars_norm"),
        col("stop_ratio"), col("punct_ratio"), col("quality_score"))

  val qualityScoreSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.normSql("text")} AS norm FROM documents
       |), m AS (
       |  SELECT doc_id,
       |    len(string_split(norm, ' '))::BIGINT AS n_tokens,
       |    len(norm)::BIGINT AS n_chars_norm,
       |    len(list_filter(string_split(norm, ' '),
       |        t -> t IN (${inList(markers.head._2)})))::BIGINT AS n_stop,
       |    len(regexp_replace(norm, '[^.!?,;:]', '', 'g'))::BIGINT AS n_punct
       |  FROM t
       |)
       |SELECT doc_id, n_tokens, n_chars_norm,
       |  ROUND(n_stop::DOUBLE / n_tokens, 4) AS stop_ratio,
       |  ROUND(n_punct::DOUBLE / n_chars_norm, 4) AS punct_ratio,
       |  ROUND(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.5 +
       |        ROUND(n_stop::DOUBLE / n_tokens, 4) * 0.3 +
       |        (1.0 - ROUND(n_punct::DOUBLE / n_chars_norm, 4)) * 0.2, 5) AS quality_score
       |FROM m""".stripMargin

  /** C45 — model-based quality filtering: the classifier stage between
    * the heuristic rule bank (C32) and the perplexity filter (C40) —
    * production pipelines run a trained fastText/LR quality model here.
    * The MODEL is a linear scorer with FIXED integer weights (a trained
    * model's weights would load into the same literals; no classifier
    * library ships in this container), the FEATURES are real and
    * integer-exact (ppm ratios / scaled means, truncating div on
    * non-negative values), and the score is one BIGINT dot product —
    * row-local, zero shuffle, fully oracle-checkable. keep ⇔ score ≥ τ. */
  def qualityModelFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chars", length(col("norm")).cast("long"))
      .withColumn("stop_ppm", call_function("div",
        call_function("graft_count_in", col("toks"),
          array(markers.head._2.map(lit): _*)) * lit(1000000L), col("n_tokens")))
      // greatest(n_chars, 1): an empty normalized text must yield
      // 0-ppm features (and a defined keep flag), not a NULL score —
      // the same div-by-zero guard in the DuckDB oracle below
      .withColumn("punct_ppm", call_function("div",
        length(regexp_replace(col("norm"), "[^.!?,;:]", "")).cast("long") *
          lit(1000000L), greatest(col("n_chars"), lit(1L))))
      .withColumn("digit_ppm", call_function("div",
        length(regexp_replace(col("norm"), "[^0-9]", "")).cast("long") *
          lit(1000000L), greatest(col("n_chars"), lit(1L))))
      .withColumn("len_sat_ppm", least(col("n_tokens") * lit(10000L), lit(1000000L)))
      .withColumn("wordlen_e3", call_function("div",
        (col("n_chars") - (col("n_tokens") - 1L)) * lit(1000L), col("n_tokens")))
      .withColumn("score", call_function("div",
        col("stop_ppm") * lit(200L) + col("len_sat_ppm") * lit(500L) -
          col("punct_ppm") * lit(300L) - col("digit_ppm") * lit(100L) +
          col("wordlen_e3") * lit(50L), lit(1000L)))
      .withColumn("keep", (col("score") >= QualityRawTau).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("stop_ppm"), col("punct_ppm"),
        col("digit_ppm"), col("len_sat_ppm"), col("wordlen_e3"),
        col("score"), col("keep"))

  def qualityModelFilterSql(): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.normSql("text")} AS norm FROM documents
       |), f AS (
       |  SELECT doc_id,
       |    len(string_split(norm, ' '))::BIGINT AS n_tokens,
       |    len(norm)::BIGINT AS n_chars,
       |    len(list_filter(string_split(norm, ' '),
       |      t -> t IN (${inList(markers.head._2)})))::BIGINT AS n_stop,
       |    len(regexp_replace(norm, '[^.!?,;:]', '', 'g'))::BIGINT AS n_punct,
       |    len(regexp_replace(norm, '[^0-9]', '', 'g'))::BIGINT AS n_digit
       |  FROM t
       |), m AS (
       |  SELECT doc_id, n_tokens,
       |    n_stop * 1000000 // n_tokens AS stop_ppm,
       |    n_punct * 1000000 // GREATEST(n_chars, 1) AS punct_ppm,
       |    n_digit * 1000000 // GREATEST(n_chars, 1) AS digit_ppm,
       |    LEAST(n_tokens * 10000, 1000000) AS len_sat_ppm,
       |    (n_chars - (n_tokens - 1)) * 1000 // n_tokens AS wordlen_e3
       |  FROM f
       |)
       |SELECT doc_id, n_tokens, stop_ppm, punct_ppm, digit_ppm, len_sat_ppm,
       |  wordlen_e3,
       |  (stop_ppm * 200 + len_sat_ppm * 500 - punct_ppm * 300
       |    - digit_ppm * 100 + wordlen_e3 * 50) // 1000 AS score,
       |  CAST(((stop_ppm * 200 + len_sat_ppm * 500 - punct_ppm * 300
       |    - digit_ppm * 100 + wordlen_e3 * 50) // 1000 >= $QualityRawTau) AS BIGINT) AS keep
       |FROM m""".stripMargin

  /** C55 — token→char offset map: the span-annotation infrastructure
    * every labeling/NER/extraction pipeline needs before it can talk
    * about "characters 14–20 of doc 7". Over the single-space
    * normalized text, token i starts at Σ_{j<i}(len(tok_j)+1) — a
    * per-doc cumulative window over the exploded token stream, no
    * join. The contract is SELF-CHECKING: `verified` re-extracts
    * substring(norm, start+1, len) in BOTH engines and compares to
    * the token, so an off-by-one in either engine's arithmetic (or a
    * divergent split semantics) fails the oracle hash loudly rather
    * than silently mis-anchoring every downstream span.
    *
    * Scale: one doc-keyed repartition + one window on the same key;
    * output rows = token stream (corpus-scale by design — it IS the
    * annotation table). */
  def tokenOffsets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("token_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"),
        posexplode(split(col("norm"), " ")).as(Seq("token_idx", "token")))
      .withColumn("tok_len", length(col("token")).cast("long"))
      .withColumn("char_start",
        coalesce(sum(col("tok_len") + 1L).over(w), lit(0L)))
      .withColumn("char_end", col("char_start") + col("tok_len"))
      .withColumn("verified",
        (expr("substring(norm, CAST(char_start + 1 AS INT), CAST(tok_len AS INT))")
          === col("token")).cast("long"))
      .select(col("doc_id"), col("token_idx").cast("long").as("token_idx"),
        col("token"), col("char_start"), col("char_end"), col("verified"))
  }

  val tokenOffsetsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.normSql("text")} AS norm FROM documents
       |), e AS (
       |  SELECT doc_id, norm, CAST(i - 1 AS BIGINT) AS token_idx,
       |    toks[i] AS token
       |  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t),
       |    UNNEST(GENERATE_SERIES(1, len(string_split(norm, ' ')))) AS u(i)
       |), c AS (
       |  SELECT doc_id, norm, token_idx, token,
       |    CAST(LENGTH(token) AS BIGINT) AS tok_len,
       |    COALESCE(SUM(LENGTH(token) + 1) OVER (PARTITION BY doc_id
       |      ORDER BY token_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS char_start
       |  FROM e
       |)
       |SELECT doc_id, token_idx, token,
       |  CAST(char_start AS BIGINT) AS char_start,
       |  CAST(char_start + tok_len AS BIGINT) AS char_end,
       |  CAST(substring(norm, CAST(char_start + 1 AS INT),
       |    CAST(tok_len AS INT)) = token AS BIGINT) AS verified
       |FROM c""".stripMargin

  /** C10 — token counting: whitespace tokens and a BPE-ish regex
    * segmentation (letter runs / digit runs / single symbols). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .withColumn("ws_tokens", size(split(col("norm"), " ")).cast("long"))
      .withColumn("bpe_tokens", regexp_count(col("norm"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long"))
      .withColumn("chars_per_token", round(
        length(col("norm")).cast("double") / greatest(col("bpe_tokens"), lit(1L)), 4))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"), col("chars_per_token"))

  val tokenCountSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.normSql("text")} AS norm FROM documents)
       |SELECT doc_id,
       |  len(string_split(norm, ' '))::BIGINT AS ws_tokens,
       |  len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens,
       |  ROUND(len(norm)::DOUBLE /
       |    greatest(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')), 1), 4) AS chars_per_token
       |FROM t""".stripMargin

  /** C11 — document fingerprints: content hash of the normalized text
    * plus an order-insensitive bag fingerprint (sorted distinct
    * tokens) — the pair distinguishes exact copies from shuffles. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
      .select(col("doc_id"),
        md5(col("norm").cast("binary")).as("content_md5"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks")))).cast("binary"))
          .as("bag_md5"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"))

  val fingerprintSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.normSql("text")} AS norm,
       |    ${Text.tokensSql("text")} AS toks
       |  FROM documents
       |)
       |SELECT doc_id,
       |  md5(norm) AS content_md5,
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bag_md5,
       |  len(list_distinct(toks))::BIGINT AS n_distinct_tokens
       |FROM t""".stripMargin

  /** C28 — tokenizer-vocabulary coverage: fit a top-`vocabSize` word
    * vocabulary on the corpus (frequency desc, word asc — the
    * deterministic tie-break both engines replay), then report per doc
    * the out-of-vocabulary profile a tokenizer team reads before
    * freezing a word list: token total, OOV hits, OOV rate (ppm), and
    * how many distinct vocab words the doc touches.
    *
    * Scale: one partial-aggregated explode→count shuffle fits the
    * vocab (distinct-word scale output); the top-N is a TakeOrdered
    * over that dimension-scale frame, broadcast back against the
    * token stream (explode again, broadcast hash join — no second
    * corpus shuffle for membership); the per-doc profile is one
    * doc-keyed aggregation. */
  def vocabCoverage(spark: SparkSession, dir: String, vocabSize: Int = VocabSize): DataFrame = {
    val toks = Text.docTokens(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        count_distinct(when(col("in_vocab") === 1L, col("w"))).as("vocab_words_used"))
      .withColumn("oov_ppm", expr("oov_tokens * 1000000 DIV n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("oov_tokens"),
        col("oov_ppm"), col("vocab_words_used"))
  }

  /** C54 — bigram-LM surprisal: the TRANSITION model completing C34's
    * unigram arm. A word-salad document — common words in random
    * order — has exactly the unigram profile of clean prose, so C34
    * scores it fluent; its TRANSITIONS are all rare, and a bigram
    * model is the cheapest detector (the KenLM-filter intuition: the
    * n-gram order is what buys fluency sensitivity). Add-one
    * (Laplace) smoothed conditional, integer-exact via the C34 bit
    * trick: surprisal = floor(log₂((c(w1)+V) / (c(w1,w2)+1))) =
    * bit_length(num div den) − 1, exact because c(w1,w2) ≤ c(w1) <
    * c(w1)+V keeps the ratio ≥ 1.
    *
    * Scale: one bigram explode (corpus-scale), two partial-agg counts
    * (bigram table ≤ corpus rows, unigram table = vocabulary), joins
    * keyed on the explode's own keys, one doc-keyed reduce — the C34
    * plan with one extra dimension-bounded join. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalFrom(Text.docTokens(spark, dir))

  private[graft] def bigramSurprisalFrom(docsFrame: DataFrame): DataFrame = {
    val toks = Text.withToks(docsFrame)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) >= 2)
    val bigrams = toks.select(col("doc_id"),
      posexplode(expr("slice(toks, 1, size(toks) - 1)")).as(Seq("i", "w1")),
      col("toks"))
      .withColumn("w2", expr("toks[i + 1]"))
      .select(col("doc_id"), col("w1"), col("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = bigrams.select(col("w1"))
      .unionByName(bigrams.select(col("w2").as("w1")))
      .agg(countDistinct(col("w1")).as("vocab"))
    bigrams.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("surprisal_bits",
        expr("CAST(length(bin((c1 + vocab) DIV (c12 + 1))) - 1 AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("surprisal_bits")).as("total_bits"),
        max(col("surprisal_bits")).as("max_bits"))
      .withColumn("mean_millibits", expr("total_bits * 1000 DIV n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        col("mean_millibits"), col("max_bits"))
  }

  val bigramSurprisalSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), bg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks,
       |          UNNEST(GENERATE_SERIES(1, len(toks) - 1)) AS i
       |        FROM t WHERE len(toks) >= 2)
       |), c12 AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
       |), c1 AS (
       |  SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1
       |), v AS (
       |  SELECT COUNT(DISTINCT w) AS vocab FROM (
       |    SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)
       |), s AS (
       |  SELECT b.doc_id,
       |    CAST(LENGTH(bin((c1.c1 + v.vocab) // (c12.c12 + 1))) - 1
       |      AS BIGINT) AS surprisal_bits
       |  FROM bg b
       |  JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
       |  JOIN c1 ON c1.w1 = b.w1
       |  CROSS JOIN v
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(surprisal_bits) AS BIGINT) AS total_bits,
       |  CAST(SUM(surprisal_bits) * 1000 // COUNT(*) AS BIGINT)
       |    AS mean_millibits,
       |  CAST(MAX(surprisal_bits) AS BIGINT) AS max_bits
       |FROM s GROUP BY 1""".stripMargin

  /** C34 — unigram-LM surprisal scoring: the CCNet/KenLM
    * perplexity-filter stand-in with an INTEGER-EXACT language model.
    * Per token, surprisal = floor(log₂(N / df(w))) computed as
    * bit_length(N div df) − 1 — pure integer arithmetic, so both
    * engines agree bit-for-bit where a float log() would not (libm
    * rounding differs across engines). Per doc: token total, total and
    * mean (milli-units) surprisal, and the max-surprisal token count —
    * high mean surprisal ≙ high perplexity ≙ the docs a real LM filter
    * drops.
    *
    * Scale: ONE df aggregation over the exploded token stream
    * (partial-agg), df frame joined back by token (dimension-scale
    * vocabulary, AQE broadcasts it), one doc-keyed reduce. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.docTokens(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("w"))
    val df = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = toks.select(count(lit(1)).as("n_total"))
    toks.join(df, "w").crossJoin(broadcast(n))
      // floor(log2(N/df)) = length(bin(N div df)) - 1: bin() renders
      // no leading zeros in either engine, so this is exact integer
      // arithmetic (N div df >= 1 always - every token has df >= 1)
      .withColumn("surprisal_bits",
        expr("CAST(length(bin(n_total DIV df)) - 1 AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("surprisal_bits")).as("total_bits"),
        max(col("surprisal_bits")).as("max_bits"))
      .withColumn("mean_millibits", expr("total_bits * 1000 DIV n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("total_bits"),
        col("mean_millibits"), col("max_bits"))
  }

  val unigramSurprisalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Text.tokensSql("text")}) AS w FROM documents
       |), df AS (
       |  SELECT w, COUNT(*) AS df FROM toks GROUP BY 1
       |), n AS (SELECT COUNT(*) AS n_total FROM toks),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(n.n_total // d.df)) - 1 AS BIGINT) AS surprisal_bits
       |  FROM toks t JOIN df d ON t.w = d.w CROSS JOIN n
       |)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(surprisal_bits) AS BIGINT) AS total_bits,
       |  CAST(SUM(surprisal_bits) * 1000 // COUNT(*) AS BIGINT) AS mean_millibits,
       |  CAST(MAX(surprisal_bits) AS BIGINT) AS max_bits
       |FROM scored
       |GROUP BY doc_id""".stripMargin

  /** C40 — perplexity-bucket filtering (the CCNet recipe, Wenzek et
    * al. 2020 §4.3): score every doc with the C34 unigram-LM mean
    * surprisal, split the corpus into head/middle/tail at the EXACT
    * corpus terciles, keep head+middle. The terciles are computed
    * without a global sort: mean_millibits lives on a bounded integer
    * grid (≤ 1000·max_bits distinct values regardless of corpus size),
    * so a per-value count + one cumulative window over the VALUE GRID
    * (dimension-scale rows, never corpus rows) yields the exact
    * discrete tercile boundaries — the scalable exact-order-statistic
    * pattern. b_k = min value whose cumulative doc count reaches
    * ceil(k·n/3); both boundaries ride one 1-row broadcast. */
  def perplexityBucket(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramSurprisal(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("mean_millibits"))
    val wcum = graft.util.Windows.bounded(col("mean_millibits"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = scored.groupBy(col("mean_millibits"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wcum))
    val bounds = cum
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
      .agg(
        min(when(col("cum") >= expr("(n + 2) div 3"),
          col("mean_millibits"))).as("b1"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"),
          col("mean_millibits"))).as("b2"))
    scored.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_tokens"), col("mean_millibits"),
        when(col("mean_millibits") <= col("b1"), lit("head"))
          .when(col("mean_millibits") <= col("b2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        when(col("mean_millibits") <= col("b2"), lit(1L))
          .otherwise(lit(0L)).as("keep"))
  }

  val perplexityBucketSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Text.tokensSql("text")}) AS w FROM documents
       |), df AS (
       |  SELECT w, COUNT(*) AS df FROM toks GROUP BY 1
       |), nn AS (SELECT COUNT(*) AS n_total FROM toks),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(nn.n_total // d.df)) - 1 AS BIGINT) AS surprisal_bits
       |  FROM toks t JOIN df d ON t.w = d.w CROSS JOIN nn
       |), scored AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(surprisal_bits) * 1000 // COUNT(*) AS BIGINT) AS mean_millibits
       |  FROM sc GROUP BY doc_id
       |), cum AS (
       |  SELECT mean_millibits, SUM(c) OVER (ORDER BY mean_millibits
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM (SELECT mean_millibits, COUNT(*) AS c FROM scored GROUP BY 1)
       |), b AS (
       |  SELECT
       |    MIN(CASE WHEN cum >= (n + 2) // 3 THEN mean_millibits END) AS b1,
       |    MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN mean_millibits END) AS b2
       |  FROM cum CROSS JOIN (SELECT COUNT(*) AS n FROM scored) t
       |)
       |SELECT doc_id, n_tokens, mean_millibits,
       |  CASE WHEN mean_millibits <= b1 THEN 'head'
       |       WHEN mean_millibits <= b2 THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  CASE WHEN mean_millibits <= b2 THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS keep
       |FROM scored CROSS JOIN b""".stripMargin

  def vocabCoverageSql(): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Text.tokensSql("text")}) AS w FROM documents
       |), vocab AS (
       |  SELECT w FROM (
       |    SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1)
       |  ORDER BY cnt DESC, w LIMIT $VocabSize
       |)
       |SELECT t.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1000000
       |       // COUNT(*) AS BIGINT) AS oov_ppm,
       |  CAST(COUNT(DISTINCT CASE WHEN v.w IS NOT NULL THEN t.w END) AS BIGINT)
       |    AS vocab_words_used
       |FROM toks t LEFT JOIN vocab v ON t.w = v.w
       |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- C67

  /** C67 — cross-source quality calibration: a raw quality score is
    * NOT comparable across sources (C45's linear model reads academic
    * prose and web boilerplate on different scales — one global raw
    * threshold silently over-prunes whole sources, skewing the mix
    * the C26 weights then try to repair), so production pipelines
    * calibrate each document's score to its PERCENTILE WITHIN ITS
    * SOURCE before any global cut — here cume_dist in ppm off the
    * per-(source, score) count grid: reduce the corpus to the grid
    * FIRST (one partial-aggregated shuffle — the B37/C40 value-grid
    * discipline; the per-source cumulative window runs over DISTINCT
    * scores, never corpus rows, so few-huge-sources skew can't bite),
    * then join the calibrated score back by (source, score). Output
    * carries BOTH verdicts — keep_raw (global raw threshold) and
    * keep_cal (top [[CalibTopPpm]] of each source) — because their
    * disagreement IS the audit: keep_cal holds each source's keep
    * rate at ~topPpm by construction while keep_raw rates vary
    * freely (spec-asserted). Ties share a percentile (grid-derived),
    * so a tie straddling the cut keeps or drops as one block —
    * deterministic in both engines. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = qualityModelFilter(spark, dir)
      .select(col("doc_id"), col("score"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
    val grid = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("nv"))
    val cum = grid.withColumn("cum", sum(col("nv")).over(
      Window.partitionBy(col("source")).orderBy(col("score"))))
    val tot = cum.groupBy(col("source")).agg(max(col("cum")).as("n"))
    val cal = cum.join(broadcast(tot), "source")
      .select(col("source"), col("score"),
        call_function("div", col("cum").cast("decimal(38,0)")
          * lit(1000000L), col("n"))
          .as("cal_ppm"))
    scored.join(cal, Seq("source", "score"))
      .select(col("doc_id"), col("source"), col("score"), col("cal_ppm"),
        (col("score") >= QualityRawTau).cast("long").as("keep_raw"),
        (col("cal_ppm") > lit(1000000L - CalibTopPpm)).cast("long").as("keep_cal"))
  }

  def qualityCalibrationSql(): String = {
    val model = qualityModelFilterSql()
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH model AS (
       |$model
       |), scored AS (
       |  SELECT m.doc_id, m.score, d.source
       |  FROM model m JOIN documents d ON m.doc_id = d.doc_id
       |), grid AS (
       |  SELECT source, score, COUNT(*) AS nv
       |  FROM scored GROUP BY 1, 2
       |), cum AS (
       |  SELECT source, score,
       |    SUM(nv) OVER (PARTITION BY source ORDER BY score) AS cum
       |  FROM grid
       |), cal AS (
       |  SELECT c.source, c.score,
       |    CAST(c.cum * 1000000 // t.n AS BIGINT) AS cal_ppm
       |  FROM cum c JOIN (SELECT source, MAX(cum) AS n FROM cum GROUP BY 1) t
       |    ON c.source = t.source
       |)
       |SELECT s.doc_id, s.source, s.score, c.cal_ppm,
       |  CAST(s.score >= $QualityRawTau AS BIGINT) AS keep_raw,
       |  CAST(c.cal_ppm > ${1000000L - CalibTopPpm} AS BIGINT) AS keep_cal
       |FROM scored s JOIN cal c
       |  ON s.source = c.source AND s.score = c.score""".stripMargin
  }
}
