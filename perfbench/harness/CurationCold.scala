package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{Corpus, Curation, Dedup, Retrieval, Text, TextAnalysis}
import graft.util.GraftSession
import Main.{Args, Ctx, Workload}

/** `curation_cold`: a fresh session with empty caches runs the
  * curation pipeline in a fixed order over a seeded corpus, then
  * releases its caches, so the one-time cache builds (tokens, LSH
  * pairs, clusters, winnow fingerprints) fall inside every timed pass.
  * Set-up runs one such pass on a small corpus, so first-run code
  * generation is paid there. */
object CurationCold extends Workload {
  type Stage = (String, (SparkSession, String) => DataFrame)

  /** Pipeline order, with the oracle query each stage's output is
    * checked against. */
  val stages: Seq[(Stage, Option[String])] = Seq(
    ("tokenize", (s: SparkSession, d: String) => Text.docTokens(s, d)) -> None,
    ("dedup_exact", (s: SparkSession, d: String) => Dedup.exact(s, d)) -> Some("dedup_exact"),
    ("dedup_lsh", (s: SparkSession, d: String) => Dedup.minhashLsh(s, d)) -> Some("dedup_minhash_lsh"),
    ("clusters", (s: SparkSession, d: String) => Curation.dedupClusters(s, d)) -> Some("dedup_clusters"),
    ("keep_best", (s: SparkSession, d: String) => Curation.dedupKeepBest(s, d)) -> Some("dedup_keep_best"),
    ("quality_bank", (s: SparkSession, d: String) => Curation.qualityFilterBank(s, d)) -> Some("quality_filter_bank"),
    ("quality_model", (s: SparkSession, d: String) => TextAnalysis.qualityModelFilter(s, d)) -> Some("quality_model_filter"),
    ("perplexity", (s: SparkSession, d: String) => TextAnalysis.perplexityBucket(s, d)) -> Some("perplexity_bucket"),
    ("decontam", (s: SparkSession, d: String) => Retrieval.decontaminateWinnow(s, d)) -> Some("decontaminate_winnow"),
    ("pack", (s: SparkSession, d: String) => Corpus.seqPack(s, d)) -> Some("seq_pack"))

  /** One cold pass: a new session (empty caches), every stage forced
    * in order, then `releaseCaches`. Between the last stage and the
    * release, with the caches still held and outside every span, come
    * the heap probe and (first traced pass) the funnel the stage
    * outputs are checked against; neither is timed. */
  private def pass(ctx: Ctx, base: SparkSession, dir: String, rep: Int, docs: Long): Unit = {
    val s = base.newSession()
    ctx.spark = s
    ctx.tracer.spark = s
    ctx.tracer.span("pipeline") {
      for (((name, f), _) <- stages) {
        ctx.call(name, "pipeline", rep, docs)(f(s, dir))
        if (name == "tokenize") ctx.tracer.attr("cache_bytes",
          s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
      }
    }
    ctx.heapProbe()
    if (ctx.phase == "traced" && !ctx.extra.contains("funnel")) ctx.extra("funnel") = Curation.curationFunnel(s, dir)
      .orderBy("stage_no").collect().map(_.getAs[Long]("n_out")).toSeq
    ctx.tracer.span("release") {
      val t0 = ctx.now
      GraftSession.releaseCaches(s)
      ctx.calls += Map("name" -> "release", "group" -> "pipeline", "round" -> rep,
        "phase" -> ctx.phase, "rows_in" -> docs, "start_ms" -> t0, "ms" -> (ctx.now - t0),
        "ok" -> true)
    }
    ctx.spark = base
    ctx.tracer.spark = base
  }

  def warmUp(spark: SparkSession, args: Args): Unit = run(spark, args.warm)

  private def run(spark: SparkSession, dir: String): Unit = {
    val s = spark.newSession()
    for (((_, f), _) <- stages) Force(f(s, dir))
    GraftSession.releaseCaches(s)
  }

  /** Passes while another still fits in the run's seconds, at least one. */
  def measure(ctx: Ctx): Unit = {
    val docs = ctx.spark.read.parquet(s"${ctx.args.in}/documents.parquet").count()
    val deadline = ctx.now + ctx.args.seconds * 1000
    var rep = 0
    var last = 0.0
    while (rep < 1 || ctx.now + last <= deadline) {
      val t0 = ctx.now
      pass(ctx, ctx.spark, ctx.args.in, rep, docs)
      last = ctx.now - t0
      rep += 1
    }
  }

  /** Passes in the order untraced, traced, traced, untraced, so the
    * JIT's warm-up favours neither phase. */
  def measureTraced(ctx: Ctx): Unit = {
    val docs = ctx.spark.read.parquet(s"${ctx.args.in}/documents.parquet").count()
    for ((on, rep) <- Seq(false, true, true, false).zipWithIndex) {
      ctx.tracing(on, if (on) "traced" else "untraced")
      pass(ctx, ctx.spark, ctx.args.in, rep, docs)
    }
  }

  def verify(ctx: Ctx): Unit =
    for (((name, _), oracle) <- stages)
      ctx.oracle(name, name, oracle.map(SparkEntry.oracleSql).getOrElse(
        s"SELECT doc_id, lang, source, n_chars, ${Text.tokensSql("text")} AS toks FROM documents"),
        "documents")
}
