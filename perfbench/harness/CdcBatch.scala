package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.Changefeed.Protocol
import Main.{Args, Ctx, Workload}

/** `changefeed`, batch half: closed loop, one caller. Forced calls
  * run one after another over one seeded changelog, in three arms that
  * share the Codecs layer as writer (encode), as a shuffle-heavy apply
  * (the MySQL sink) and as reader (consume). Four protocols run both
  * ways: the three whose decoders regressed with core count
  * (canal-json, debezium, csv) and Avro binary as the native-parser
  * contrast. The streaming half is [[CdcStreamBench]]. */
object CdcBatch extends Workload {
  val cfg: Changefeed.Config = Changefeed.Config(
    tableRules = Seq("db0.%", "db1.t1"),
    ignoreOps = Seq("D"),
    topicRules = Seq(Seq("db0.%") -> "{schema}_{table}"),
    defaultTopic = "cf-default",
    protocol = Protocol.Debezium)

  val protocols: Seq[(String, Protocol)] = Seq(
    "canal_json" -> Protocol.CanalJson, "debezium" -> Protocol.Debezium,
    "csv" -> Protocol.Csv, "avro" -> Protocol.Avro)

  type Call = (String, DataFrame => DataFrame)

  val encode: Seq[Call] = protocols.map { case (n, p) =>
    (s"encode.$n", (cl: DataFrame) => Changefeed.kafka(cl, cfg.copy(protocol = p)))
  }

  val apply: Seq[Call] = Seq(
    ("apply.mysql", cl => Changefeed.mysql(cl, cfg)),
    ("apply.snapshot", cl => Changefeed.snapshot(cl, cfg)),
    ("apply.txn", cl => Sinks.txnAtomicity(Changefeed.filtered(cl, cfg), cfg.maxTxnRow)))

  val consume: Seq[Call] = Seq(
    ("decode.canal_json", cl => Codecs.canalJsonDecode(cl)),
    ("decode.debezium", cl => Codecs.debeziumDecode(cl)),
    ("decode.csv", cl => Codecs.csvDecode(Codecs.csv(cl))),
    ("decode.avro", cl => AvroBinary.decode(AvroBinary.messages(cl))))

  val arms: Seq[(String, Seq[Call])] =
    Seq("encode" -> encode, "apply" -> apply, "consume" -> consume)

  /** The encode half of each decode call: a decoder's self time is
    * its call minus this prefix. */
  val decodePrefix: Seq[Call] = Seq(
    ("decode_prefix.canal_json", cl => Codecs.canalJson(cl)),
    ("decode_prefix.debezium", cl => Codecs.debezium(cl)),
    ("decode_prefix.csv", cl => Codecs.csv(cl)),
    ("decode_prefix.avro", cl => AvroBinary.messages(cl)))

  /** Cumulative prefixes of the Kafka changefeed: changelog; +filter;
    * +route; +dispatch. Encode and sink calls complete the chain. */
  val chain: Seq[Call] = Seq(
    ("prefix.changelog", cl => cl),
    ("prefix.filter", cl => Changefeed.filtered(cl, cfg)),
    ("prefix.route", cl => routed(cl)),
    ("prefix.dispatch", cl => routed(cl)
      .withColumn("partition", Dispatchers.indexValueBucket(cfg.nParts))))

  private def routed(cl: DataFrame): DataFrame =
    Routing.withTopic(Changefeed.filtered(cl, cfg), cl, cfg.topicRules, cfg.defaultTopic)

  def changelog(spark: SparkSession, dir: String): DataFrame =
    ChangeEvents.changelog(spark, dir)

  /** One round on the timed changelog itself (a round over a smaller
    * input warms the JIT less), then, in a traced run, the stream's
    * warm-up drain. */
  def warmUp(spark: SparkSession, args: Args): Unit = {
    for ((_, f) <- arms.flatMap(_._2)) Force(f(changelog(spark, args.in)))
    if (args.trace) CdcStreamBench.warmUp(spark, args)
  }

  /** Rounds an untraced run times at least: each round forces every
    * call once, and the JIT is still speeding the first of them up,
    * which the per-call median over three rounds leaves out. */
  val MinRounds = 3

  /** Run the arms round-robin over the changelog in `dir`, the calls
    * one after another: at least `atLeast` rounds, then more while
    * another round still fits in the run's seconds. */
  private def loop(ctx: Ctx, arms: Seq[(String, Seq[Call])], atLeast: Int,
                   seconds: Double, dir: String): Unit = {
    val n = ctx.spark.read.parquet(s"$dir/events.parquet").count()
    val deadline = ctx.now + seconds * 1000
    var round = 0
    var last = 0.0
    while (round < atLeast || ctx.now + last <= deadline) {
      val t0 = ctx.now
      ctx.tracer.span("round") {
        for ((arm, calls) <- arms) ctx.tracer.span(arm) {
          for ((name, f) <- calls)
            ctx.call(name, arm, round, n)(f(changelog(ctx.spark, dir)))
        }
      }
      last = ctx.now - t0
      round += 1
    }
  }

  def measure(ctx: Ctx): Unit = {
    loop(ctx, arms, MinRounds, ctx.args.seconds, ctx.args.in)
    ctx.heapProbe()
  }

  /** Rounds in the order untraced, traced, traced, untraced, so the
    * JIT's warm-up, which speeds each round up a little more, favours
    * neither phase (a traced run times three phases and must still end
    * within 180 s, so two rounds each); then the stream, traced, and the
    * per-layer extras: the cdc and decode prefixes (under their own
    * phase, so the traced arms stay comparable with the untraced ones),
    * the frame facts, and the single-thread baseline: untraced on a
    * fresh `local[1]` context, an unrecorded warm-up round on the small
    * warm-up changelog, then as many rounds as the untraced `local[N]`
    * arms ran. */
  def measureTraced(ctx: Ctx): Unit = {
    for (on <- Seq(false, true, true, false)) {
      ctx.tracing(on, if (on) "traced" else "untraced")
      loop(ctx, arms, 1, 0, ctx.args.in)
      ctx.heapProbe()
    }
    ctx.tracing(on = true, "traced")
    CdcStreamBench.measure(ctx)
    val spark = ctx.spark
    ctx.tracing(on = true, "layers")
    loop(ctx, Seq("prefix" -> (chain ++ decodePrefix)), 2, 0, ctx.args.in)
    ctx.tracer.span("data") {
      val cl = changelog(spark, ctx.args.in)
      ctx.extra("partition_rows") = Changefeed.kafka(cl, cfg).groupBy("partition").count()
        .collect().map(_.getLong(1)).toSeq
      ctx.extra("value_bytes") = protocols.map { case (n, p) =>
        n -> Changefeed.kafka(cl, cfg.copy(protocol = p))
          .agg(sum(octet_length(col("value")))).collect()(0).getLong(0)
      }.toMap
    }
    val rounds = ctx.calls.count(c => c("phase") == "untraced" && c("name") == encode.head._1)
    ctx.tracing(on = false, "scale1")
    ctx.restart(1, "scale1")
    val baseline = Seq("encode" -> encode, "consume" -> consume)
    for ((_, calls) <- baseline; (_, f) <- calls) Force(f(changelog(ctx.spark, ctx.args.warm)))
    loop(ctx, baseline, rounds, 0, ctx.args.in)
    ctx.restart(ctx.args.cores, "verify")
  }

  def verify(ctx: Ctx): Unit = {
    ctx.extra("changelog_sql") = ChangeEvents.changelogSql
    ctx.extra("filtered_sql") = Changefeed.filteredSql(cfg)
    val f = "filtered"
    ctx.oracle("kafka_debezium", "encode.debezium", Changefeed.kafkaDebeziumSql(cfg), "all")
    ctx.oracle("mysql", "apply.mysql", Sinks.mysqlStmtsSql(cfg.maxTxnRow, safeMode = false), f)
    ctx.oracle("snapshot", "apply.snapshot", Materialize.snapshotSql, f)
    ctx.oracle("txn", "apply.txn", Sinks.txnAtomicitySql(cfg.maxTxnRow), f)
    // decode ∘ encode: each decoder's oracle is a projection of the
    // changelog, so a match means the round trip returns the source rows
    val decodeSql = Map(
      "canal_json" -> Codecs.canalJsonDecodeSql, "debezium" -> Codecs.debeziumDecodeSql,
      "csv" -> Codecs.csvDecodeSql, "avro" -> AvroBinary.decodeSql())
    for ((name, _) <- consume) {
      val n = name.stripPrefix("decode.")
      ctx.oracle(s"decode_$n", name, decodeSql(n), "all")
    }
    ctx.sendOracles()
    CdcStreamBench.verify(ctx)
    // the other Kafka frames: every row routed and dispatched like the
    // oracle-checked debezium frame, with a value on every row
    val cl = changelog(ctx.spark, ctx.args.in)
    val keys = new java.util.concurrent.ConcurrentHashMap[String, Force.Out]()
    Main.parallel(ctx.args.cores)(protocols.map { case (n, p) => () =>
      keys.put(n, Force(Changefeed.kafka(cl, cfg.copy(protocol = p))
        .select(col("commit_ts"), col("topic"), col("partition"), col("key"),
          col("value").isNull.as("no_value"))))
      ()
    })
    val ref = keys.get("debezium")
    for ((n, _) <- protocols if n != "debezium") {
      val o = keys.get(n)
      ctx.check(s"routing:kafka_$n", o.rows == ref.rows && o.xor == ref.xor,
        s"${o.rows}/${o.xor} vs debezium ${ref.rows}/${ref.xor}", Seq(s"encode.$n"))
    }
  }
}
