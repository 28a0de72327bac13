package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{ChangeEvents, Changefeed, Materialize}
import graft.cdc.Changefeed.Protocol
import graft.streaming.CdcStream
import graft.streaming.CdcStream.{ChangeEvent, KeyState}
import Main.{Args, Ctx}

/** `changefeed`, streaming half: open loop. A generator thread makes
  * seeded event slices visible in a file-source directory (write
  * elsewhere, then rename) at a fixed rate, stamping each event's `ts`
  * with its creation time; `CdcStream.pipeline` (Kafka frames) and
  * `CdcStream.snapshotState` (stateful apply) read that source. A drain
  * phase then reads a pre-staged backlog `maxFilesPerTrigger` files at
  * a time. */
object CdcStreamBench {
  /** Files per drain micro-batch: the 20-file backlog gives 10. */
  val DrainFilesPerTrigger = 2

  /** The batch twin of `CdcStream.pipeline`'s defaults. */
  val twin: Changefeed.Config = Changefeed.Config(tableRules = Seq("db%.%"),
    protocol = Protocol.OpenProtocol, defaultTopic = "changefeed", nParts = 16)

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,false));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Write one slice as a parquet file: `ts` = now, in microseconds. */
  def writeSlice(file: String, rows: Seq[Row]): Unit = {
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(new Configuration()).build()
    val f = new SimpleGroupFactory(schema)
    val tsUs = System.currentTimeMillis() * 1000L
    try rows.foreach { r =>
      w.write(f.newGroup().append("event_id", r.getLong(0)).append("ts", tsUs)
        .append("user_id", r.getLong(1)).append("event_type", r.getString(2))
        .append("value", r.getDouble(3)).append("props", r.getString(4)))
    } finally w.close()
  }

  /** The open-loop generator: slice `s` is due at start + s × sliceMs
    * and never waits for the queries. Records, per slice, when it was
    * due and when it became visible. */
  final class Generator(slices: IndexedSeq[Seq[Row]], sliceMs: Long, dir: String,
                        staging: String) extends Thread("perfbench-generator") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var startMs = 0L

    override def run(): Unit = {
      startMs = System.currentTimeMillis()
      for ((rows, s) <- slices.zipWithIndex) {
        val due = startMs + s * sliceMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val begin = System.currentTimeMillis()
        val name = f"slice-$s%05d.parquet"
        writeSlice(s"$staging/$name", rows)
        Files.move(Paths.get(s"$staging/$name"), Paths.get(s"$dir/$name"),
          StandardCopyOption.ATOMIC_MOVE)
        log.add(Map("slice" -> s, "file" -> name, "rows" -> rows.length,
          "due_ms" -> due, "begin_ms" -> begin, "visible_ms" -> System.currentTimeMillis()))
      }
    }
  }

  /** The two queries over one source directory, each with a
    * `foreachBatch` sink: the pipeline's sink reduces each batch to
    * (rows, xor of row hashes); the snapshot sink collects the key
    * states the batch updated. */
  final class Queries(spark: SparkSession, val src: String, ck: String, mfpt: Option[Int],
                      trigger: Trigger, tag: String) {
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val state = new java.util.concurrent.ConcurrentHashMap[(String, String, Long), KeyState]()

    private def start(name: String, df: DataFrame, mode: String,
                      sink: (DataFrame, Long) => Unit): StreamingQuery =
      df.writeStream.queryName(s"$tag.$name").outputMode(mode).trigger(trigger)
        .option("checkpointLocation", s"$ck/$name")
        .foreachBatch(sink).start()

    val pipeline: StreamingQuery = start("pipeline",
      CdcStream.pipeline(spark, src, maxFilesPerTrigger = mfpt), "append",
      (df: DataFrame, id: Long) => {
        val o = Force(df)
        frames.add((id, o.rows, o.xor))
      })

    val snapshot: StreamingQuery = {
      import spark.implicits._
      val sch = spark.read.parquet(s"$src/events.parquet").schema
      val r = spark.readStream.schema(sch)
      val raw = mfpt.fold(r)(n => r.option("maxFilesPerTrigger", n))
        .parquet(s"$src/events.parquet*")
      val in = ChangeEvents.fromEvents(raw)
        .withColumn("before_value", col("before_value").cast("double")).as[ChangeEvent]
      start("snapshot", CdcStream.snapshotState(in).toDF(), "update",
        (df: DataFrame, _: Long) => df.as[KeyState].collect().foreach(k =>
          state.put((k.schema_name, k.table_name, k.pk), k)))
    }

    def all: Seq[StreamingQuery] = Seq(pipeline, snapshot)

    /** File names each batch read, from the file source's offset log. */
    def batchFiles: Map[String, Seq[(Long, String)]] = Map(
      "pipeline" -> sourceLog(s"$ck/pipeline"), "snapshot" -> sourceLog(s"$ck/snapshot"))

    /** Check the sinks against the batch operators on the same events:
      * Kafka frames hash-equal `Changefeed.kafka`, the final key
      * states equal `Materialize.snapshot`. */
    def verify(ctx: Ctx, what: String): Unit = {
      val cl = ChangeEvents.changelog(ctx.spark, src)
      var want: Force.Out = null
      var snap: Set[(String, String, Long, Long, Option[Double], String)] = null
      Main.parallel(2)(Seq(
        () => want = Force(Changefeed.kafka(cl, twin)),
        () => snap = Materialize.snapshot(cl).select("schema_name", "table_name", "pk",
          "last_ts", "value", "props").collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
          r.getString(5))).toSet))
      val got = frames.asScala.toSeq
      val xor = got.map(_._3).foldLeft(0L)(_ ^ _)
      ctx.check(s"$what:pipeline==Changefeed.kafka", got.map(_._2).sum == want.rows && xor == want.xor,
        s"stream ${got.map(_._2).sum}/$xor batch ${want.rows}/${want.xor}", Seq(pipeline.name))
      val streamed = state.values.asScala.filter(_.last_op != "D")
        .map(k => (k.schema_name, k.table_name, k.pk, k.last_ts, k.value, k.props)).toSet
      ctx.check(s"$what:snapshotState==Materialize.snapshot", snap == streamed,
        s"batch ${snap.size} keys, stream ${streamed.size} keys, " +
          s"differ ${(snap diff streamed).size + (streamed diff snap).size}", Seq(snapshot.name))
    }
  }

  /** (batch id, file name) pairs from a file source's offset log,
    * compacted entries included. */
  def sourceLog(ck: String): Seq[(Long, String)] = {
    val dir = new java.io.File(s"$ck/sources/0")
    val pat = "\"path\":\"([^\"]+)\".*\"batchId\":([0-9]+)".r
    Option(dir.listFiles()).getOrElse(Array.empty).filter(f => !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().flatMap(l =>
        pat.findFirstMatchIn(l).map(m => (m.group(2).toLong,
          m.group(1).split('/').last))).toSeq).toSeq.distinct
  }

  /** Each query run is one op: it fails if it threw; `verify` fails
    * it if its output is wrong. */
  private def record(ctx: Ctx, q: Queries): Unit =
    for (s <- q.all) ctx.calls += Map("name" -> s.name, "group" -> "stream",
      "phase" -> ctx.phase, "ok" -> s.exception.isEmpty,
      "err" -> s.exception.map(_.toString.take(300)), "run_id" -> s.runId.toString)

  private def await(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.awaitTermination())

  /** Drain the backlog under `src` to completion, both queries at once. */
  private def drain(ctx: Ctx, src: String, tag: String): Queries = {
    val q = new Queries(ctx.spark, src, s"${ctx.args.work}/ck-$tag", Some(DrainFilesPerTrigger),
      Trigger.AvailableNow(), tag)
    await(q.all)
    q
  }

  def warmUp(spark: SparkSession, args: Args): Unit = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val q = new Queries(spark, s"${args.warm}/backlog", s"${args.work}/ck-warm-$id",
      Some(DrainFilesPerTrigger), Trigger.AvailableNow(), s"warm-$id")
    await(q.all)
  }

  def measure(ctx: Ctx): Unit = ctx.tracer.span("stream") {
    val spark = ctx.spark
    val args = ctx.args
    val tag = ctx.phase
    val man = manifest(s"${args.in}/manifest.json")
    val plan = spark.read.parquet(s"${args.in}/stream_plan.parquet")
      .select("event_id", "user_id", "event_type", "value", "props", "slice")
      .orderBy("event_id").collect()
    val slices = plan.groupBy(_.getLong(5)).toSeq.sortBy(_._1).map(_._2.toSeq).toIndexedSeq
    val src = s"${args.work}/stream-$tag/src"
    val dir = s"$src/events.parquet"
    val staging = s"${args.work}/stream-$tag/staging"
    Files.createDirectories(Paths.get(dir))
    Files.createDirectories(Paths.get(staging))
    // an empty first file gives the source its schema before slice 0
    writeSlice(s"$dir/slice-empty.parquet", Nil)
    val sliceMs = man("slice_ms").toLong
    val gen = new Generator(slices, sliceMs, dir, staging)
    val q = ctx.tracer.span("open_loop") {
      val q = new Queries(spark, src, s"${args.work}/ck-$tag", None, Trigger.ProcessingTime(0L), tag)
      gen.start()
      gen.join()
      q.all.foreach(_.processAllAvailable())
      ctx.heapProbe(s"${ctx.phase}.stream")
      q.all.foreach(_.stop())
      record(ctx, q)
      q
    }
    val open = mutable.LinkedHashMap[String, Any](
      "start_ms" -> gen.startMs, "slice_ms" -> sliceMs,
      "slices" -> gen.log.asScala.toSeq, "batch_files" -> q.batchFiles)
    ctx.extra(s"open.$tag") = open
    val t0 = ctx.now
    val d = ctx.tracer.span("drain")(drain(ctx, s"${args.in}/backlog", s"drain-$tag"))
    record(ctx, d)
    ctx.extra(s"drain.$tag") = Map("wall_ms" -> (ctx.now - t0),
      "rows" -> man("backlog_rows").toLong * 2, "batch_files" -> d.batchFiles)
    ctx.extra(s"queries.$tag") = Seq(q, d)
  }

  /** The generator manifest's integer fields this workload reads. */
  private def manifest(path: String): Map[String, String] = {
    val s = new String(Files.readAllBytes(Paths.get(path)))
    "\"(slice_ms|backlog_rows|open_rows|slice_rows)\": ([0-9]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
  }


  def verify(ctx: Ctx): Unit = {
    val runs = ctx.extra.toSeq.filter(_._1.startsWith("queries."))
    Main.parallel(2)(runs.flatMap { case (k, v) =>
      val Seq(open: Queries, drained: Queries) = v.asInstanceOf[Seq[Queries]]
      val tag = k.stripPrefix("queries.")
      Seq(() => open.verify(ctx, s"open.$tag"), () => drained.verify(ctx, s"drain.$tag"))
    })
    runs.foreach(r => ctx.extra.remove(r._1))
  }
}
