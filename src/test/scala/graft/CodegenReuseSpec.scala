package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.GraftSession

/** A fresh session reuses the code an earlier session generated.
  *
  * Spark's generated-class cache keys on (thread context classloader,
  * source text). Under the default per-session artifact isolation each
  * `newSession()` runs its tasks under its own classloader, and AQE's
  * run-dependent stage numbering renames byte-identical stages; either
  * one makes every fresh session recompile every class (about 170
  * Janino compilations per pass of the pipeline below).
  * [[GraftSession.builder]] turns both off. The first session compiles
  * each class twice (the calling thread's and the executor's
  * classloaders), the second may still meet a few classes for the
  * first time, and from the third on a pass compiles nothing. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  /** The cold curation pipeline, in order, plus one changefeed encode. */
  val pipeline: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "tokenize" -> ((s, d) => ops.Text.docTokens(s, d)),
    "dedup_exact" -> ((s, d) => ops.Dedup.exact(s, d)),
    "dedup_lsh" -> ((s, d) => ops.Dedup.minhashLsh(s, d)),
    "clusters" -> ((s, d) => ops.Curation.dedupClusters(s, d)),
    "keep_best" -> ((s, d) => ops.Curation.dedupKeepBest(s, d)),
    "quality_bank" -> ((s, d) => ops.Curation.qualityFilterBank(s, d)),
    "quality_model" -> ((s, d) => ops.TextAnalysis.qualityModelFilter(s, d)),
    "perplexity" -> ((s, d) => ops.TextAnalysis.perplexityBucket(s, d)),
    "decontam" -> ((s, d) => ops.Retrieval.decontaminateWinnow(s, d)),
    "pack" -> ((s, d) => ops.Corpus.seqPack(s, d)),
    "kafka" -> ((s, d) => cdc.Changefeed.kafka(cdc.ChangeEvents.changelog(s, d),
      cdc.Changefeed.Config(tableRules = Seq("db0.%"), ignoreOps = Seq("D"),
        protocol = cdc.Changefeed.Protocol.Debezium))))

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass in a fresh session; returns the compilations per stage. */
  private def pass(): Seq[(String, Long)] = {
    val s = spark.newSession()
    try pipeline.map { case (name, f) =>
      val before = compilations
      // the noop sink evaluates every output column
      f(s, dir).write.format("noop").mode("overwrite").save()
      name -> (compilations - before)
    } finally GraftSession.releaseCaches(s)
  }

  test("a third fresh session compiles no generated class") {
    val passes = Seq.fill(3)(pass())
    val render = passes.zipWithIndex.map { case (p, i) =>
      s"session ${i + 1}: " + p.filter(_._2 > 0).map { case (n, c) => s"$n=$c" }
        .mkString(" ")
    }.mkString("; ")
    assert(passes(2).forall(_._2 == 0),
      s"fresh sessions recompile generated code: $render")
  }
}
