package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** The JIT-ceiling standing contract (VERDICT r11 mandate #2).
  *
  * HotSpot refuses to JIT-compile any method above 8000 bytecodes
  * (-XX:-DontCompileHugeMethods), while Spark's whole-stage-codegen
  * fallback only trips at `spark.sql.codegen.hugeMethodLimit` = 65535
  * — so a fused stage landing in 8k..64k runs silently INTERPRETED, a
  * 3-6× tax on the hot path with no warning anywhere. Round 11 caught
  * two such stages only by benching (changefeed_pipeline 12.4 s,
  * sink_handle_key_only 17.8 s at sf10); round 12's first probe run
  * caught a third (embedding_quantize: a 20,382-bytecode unrolled
  * projection). This spec turns the discovery into a gate: every
  * registry query's static plan is code-generated, every generated
  * class is compiled, and the max method bytecode size must stay under
  * the HotSpot ceiling.
  *
  * Static plan, AQE off: stage fusion boundaries are what matter and
  * they are data-independent; disabling AQE materializes the
  * WholeStageCodegenExec nodes without executing the query, so the
  * whole 231-query registry lints in one planning pass. AQE's runtime
  * re-plans only SHRINK stages (SMJ→BHJ conversions split, never
  * merge), so the static view is the conservative one.
  *
  * If this spec goes red: do NOT raise the budget and do NOT set a
  * global hugeMethodLimit (measured net-negative on the full sf10
  * board — 642 → 698 s: forcing per-operator materialization loses
  * more broadly than interpreted fusion costs). Fix the offending
  * stage at the EXPRESSION level — write a whole message in one
  * native kernel (functions/WireRender.scala), or collapse an unrolled
  * per-element expression family into one native loop expression (the
  * graft_quantize fix in functions/VectorExprs.scala).
  */
class JitCeilingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  /** The HotSpot DontCompileHugeMethods limit. */
  private val HugeMethodLimit = 8000

  test("every registry query's generated methods stay under the 8000-bytecode JIT ceiling", SlowTest) {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val plan = fn(spark, dir).queryExecution.executedPlan
          plan.collectWithSubqueries {
            case w: WholeStageCodegenExec =>
              val (_, source) = w.doCodeGen()
              val (_, stats) = CodeGenerator.compile(source)
              (name, w.codegenStageId, stats.maxMethodCodeSize)
          }.filter(_._3 > HugeMethodLimit)
      }
      assert(offenders.isEmpty,
        "fused stage(s) exceed the HotSpot JIT ceiling and will run " +
          "interpreted — fix at the expression level (see Scaladoc): " +
          offenders.map { case (q, sid, sz) => s"$q stage#$sid=$sz" }
            .mkString(", "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** The codec family fused at sf10 file sizes (VERDICT r12 #6): the
    * static sf0.001 lint pins fusion boundaries under SMALL scan
    * stats, but the broadcast-threshold flips between tiers can merge
    * different subtrees into one stage. Re-lint the 29-query codec
    * family + changefeed_pipeline against the sf10 tier's plans when
    * that dataset is on disk (the driver box keeps it at /tmp/sf10;
    * cancelled, not failed, elsewhere). */
  val codecFamily: Seq[String] = Seq(
    "codec_avro_binary", "codec_avro_decode", "codec_avro_schema",
    "codec_canal_decode", "codec_canal_envelope",
    "codec_canal_envelope_decode", "codec_canal_json", "codec_checksum",
    "codec_craft", "codec_craft_decode", "codec_craft_resolved",
    "codec_csv", "codec_csv_decode", "codec_debezium",
    "codec_debezium_decode", "codec_debezium_envelope",
    "codec_debezium_envelope_decode", "codec_open_decode",
    "codec_open_protocol", "codec_open_wire", "codec_open_wire_bytes",
    "codec_open_wire_decode", "codec_simple", "codec_simple_avro",
    "codec_simple_avro_decode", "codec_simple_decode",
    "sink_claim_check", "sink_compression", "sink_handle_key_only",
    "changefeed_pipeline")

  /** VERDICT r13 #7: the codec-only sf10 gate caught a 9,571-bytecode
    * stage in r13, so the same lint now covers every other top-20
    * sf10 wall-time cell from BENCH_LADDER_r13 (the decode/window-
    * heavy CDC cells and the heaviest B-series joins/aggs are the
    * next most likely offenders — they fuse the widest stages). */
  val sf10HeavyNonCodec: Seq[String] = Seq(
    "cdc_event_queue_drain", "q5_multijoin", "cdc_txn_match",
    "sink_kafka_messages", "cdc_eventstore_key", "q_corr_agg_subquery",
    "q_approx_quantile", "q_share_of_total", "cdc_event_seq_check",
    "cdc_dynstream_path_assign", "cdc_dispatcher_checkpoint",
    "cdc_txn_group", "q3_join_topn", "sink_encoder_group",
    "cdc_changefeed_overview")

  private def lintAtSf10(names: Seq[String]): Unit = {
    assume(new java.io.File("/tmp/sf10/events.parquet").exists,
      "sf10 tier dataset not on this box")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val offenders = names.flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, "/tmp/sf10")
          .queryExecution.executedPlan
        plan.collectWithSubqueries {
          case w: WholeStageCodegenExec =>
            val (_, source) = w.doCodeGen()
            val (_, stats) = CodeGenerator.compile(source)
            (name, w.codegenStageId, stats.maxMethodCodeSize)
        }.filter(_._3 > HugeMethodLimit)
      }
      assert(offenders.isEmpty,
        "sf10-shaped fused stage(s) exceed the HotSpot JIT ceiling: " +
          offenders.map { case (q, sid, sz) => s"$q stage#$sid=$sz" }
            .mkString(", "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("the codec family stays under the JIT ceiling at sf10-shaped plans", SlowTest) {
    lintAtSf10(codecFamily)
  }

  test("the top-20 sf10 wall-time cells stay under the JIT ceiling at sf10-shaped plans", SlowTest) {
    lintAtSf10(sf10HeavyNonCodec)
  }
}
