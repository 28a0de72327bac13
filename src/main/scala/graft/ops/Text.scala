package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared text primitives for the LLM-data-pipeline operators.
  * Normalization and tokenization must render identically in Spark and
  * the DuckDB oracle, so both sides are defined here side by side.
  */
object Text {

  /** Persisted per-doc tokenized documents frame
    * (doc_id, lang, source, n_chars, toks) — the shared tokenize front
    * end of the text family. Before r16 ~20 queries each re-ran the
    * regex+lower+split tokenize over documents.text from scratch
    * (quality bank, model filter, perplexity, tfidf, surprisal,
    * fertility, heavy hitters, …); a production pipeline tokenizes a
    * corpus snapshot once and every stage reads the token column. Built
    * once per (session, documents listing) by
    * [[graft.util.Tables.persisted]], so every consumer in a session
    * shares ONE frame and cache entry; rebuilt from the parquet inputs
    * in every fresh process, released by
    * [[graft.util.GraftSession.releaseCaches]].
    * The repartition matters twice (the gramsCached rationale): the
    * documents table is one parquet split locally, so the CPU-heavy
    * tokenize would otherwise run on one core, and doc_id pre-aligns
    * the groupBy(doc_id)/window consumers so the WIDE token frame
    * never reshuffles — only the small text rows do.
    * Bench accounting caveat: under graft.Bench's per-query-min
    * methodology the one-time tokenize build lands in whichever pass
    * first touches the cache; consumer cells then measure post-tokenize
    * work, exactly like the pair/span ledgers. The `curation_cold`
    * workload of perfbench (fresh session, empty caches) times the
    * build inside every pass instead. */
  def docTokens(spark: SparkSession, dir: String): DataFrame =
    graft.util.Tables.persisted(spark, "docTokens", dir, "documents")(
      _.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          tokens(col("text")).as("toks")))

  /** Ensure a `toks` column on a documents-shaped frame: pass-through
    * when the frame already carries tokens (the [[docTokens]] cache —
    * the batch path), tokenize `text` otherwise (spec / streaming
    * frames). Lets one operator definition serve both. */
  def withToks(df: DataFrame): DataFrame =
    if (df.columns.contains("toks")) df
    else df.withColumn("toks", tokens(col("text")))

  /** lower → collapse whitespace → trim. */
  def norm(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  def normSql(e: String): String =
    s"trim(regexp_replace(lower($e), '\\s+', ' ', 'g'))"

  /** whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(norm(c), " ")

  def tokensSql(e: String): String = s"string_split(${normSql(e)}, ' ')"

  /** distinct word 3-grams; empty when < 3 tokens. Spark arrays are
    * 0-based, DuckDB lists 1-based — both renderings below emit the
    * same gram strings. */
  val gramsExpr: String =
    """array_distinct(CASE WHEN size(toks) >= 3
      |  THEN transform(sequence(0, size(toks) - 3),
      |       i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
      |  ELSE array() END)""".stripMargin

  val gramsSql: String =
    """list_distinct(CASE WHEN len(toks) >= 3
      |  THEN list_transform(range(1, len(toks) - 1),
      |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |  ELSE [] END)""".stripMargin
}
