package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType
import graft.util.GraftSession

/** Benchmark harness: runs one workload of the graft library through
  * its public functions in this JVM and writes the raw measurements
  * (calls, spans, listener metrics, stream progress, checks) to
  * `<out>/raw.json`. `perfbench/run.py` turns them into metrics.
  *
  * {{{
  *   Main --workload W --seconds S --trace 0|1 --cores N
  *        --in <inputs> --warm <warm-up inputs> --work <work dir> --out <dir>
  * }}}
  */
object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean,
                        cores: Int, in: String, warm: String, work: String,
                        out: String)

  /** What a workload gets: its session, the tracer (a no-op when
    * tracing is off) and the places it records to. */
  final class Ctx(val args: Args, var spark: SparkSession) {
    val calls = mutable.ArrayBuffer[Map[String, Any]]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val extra = mutable.LinkedHashMap[String, Any]()
    val schemas = mutable.Map[String, org.apache.spark.sql.types.StructType]()
    val tasks = new TaskMetricsListener
    val progress = new ProgressListener
    private val traced = new Tracer(spark, true, "traced")
    private val untraced = new Tracer(spark, false, "untraced")
    var tracer: Tracer = untraced
    val heapPeakMb = mutable.LinkedHashMap[String, Double]()
    var phase = "untraced"

    def now: Double = System.nanoTime() / 1e6

    /** Force one call and record it; a throwing call is recorded as
      * failed and the run goes on. */
    def call(name: String, group: String, round: Int, rowsIn: Long)
            (df: => org.apache.spark.sql.DataFrame): Option[Force.Out] =
      tracer.span(name) {
        val t0 = now
        val r = try {
          val o = Force(df)
          tracer.attr("plan_ms", o.planMs)
          tracer.attr("rows_out", o.rows.toDouble)
          schemas(name) = o.schema
          Right(o)
        } catch { case e: Throwable => Left(e.toString.take(300)) }
        val ms = now - t0
        calls += Map("name" -> name, "group" -> group, "round" -> round,
          "phase" -> phase,
          "rows_in" -> rowsIn, "start_ms" -> t0, "ms" -> ms,
          "ok" -> r.isRight, "err" -> r.left.toOption,
          "rows_out" -> r.toOption.map(_.rows), "xor" -> r.toOption.map(_.xor))
        r.toOption
      }

    /** Heap in use after a full GC; the peak is kept per `key`. */
    def heapProbe(key: String = phase): Unit =
      heapPeakMb(key) = heapPeakMb.getOrElse(key, 0.0) max Jvm.heapAfterGcMb()

    /** Switch tracing (spans and the task listener) on or off; later
      * calls record under `next`. */
    def tracing(on: Boolean, next: String): Unit = {
      if (on && !tracer.on) spark.sparkContext.addSparkListener(tasks)
      if (!on && tracer.on) spark.sparkContext.removeSparkListener(tasks)
      tracer = if (on) traced else untraced
      tracer.spark = spark
      tracer.run = next
      phase = next
    }

    def spans: Seq[Map[String, Any]] = traced.json(tasks)

    /** Replace the session with a fresh one on `cores` cores; the
      * listeners and the tracer follow, and later calls record under
      * `phase`. */
    def restart(cores: Int, next: String): Unit = {
      stop(spark)
      spark = session(args, cores)
      if (tracer.on) spark.sparkContext.addSparkListener(tasks)
      spark.streams.addListener(progress)
      tracer.spark = spark
      tracer.run = next
      phase = next
    }

    def check(name: String, ok: Boolean, detail: String, calls: Seq[String]): Unit =
      checks.synchronized(checks += Map("name" -> name, "ok" -> ok, "detail" -> detail, "calls" -> calls))

    private val oracleReqs = mutable.ArrayBuffer[(String, String, String, String)]()

    /** Ask for a DuckDB oracle of a timed call's output: `run.py`
      * computes `sql` over the same inputs (`view` names which input
      * view it reads) and this JVM checks that the oracle rows, cast
      * to the call's output schema, hash-equal the forced call. */
    def oracle(name: String, callName: String, sql: String, view: String): Unit =
      oracleReqs += ((name, callName, sql, view))

    private def oracleDir = s"${args.out}/oracle"
    private var sent = false

    /** Hand the oracle requests to `run.py`, which computes them while
      * this JVM goes on with its other checks. */
    def sendOracles(): Unit = if (!sent) {
      sent = true
      Files.createDirectories(Paths.get(oracleDir))
      val req = oracleReqs.toSeq.map { case (n, _, sql, view) =>
        Map("name" -> n, "sql" -> sql, "view" -> view, "path" -> s"$oracleDir/$n.parquet") }
      // written whole, then renamed: run.py reads it as soon as it exists
      val tmp = Paths.get(s"$oracleDir/request.json.tmp")
      Files.writeString(tmp, Json(Map("requests" -> req,
        "extra" -> extra.filter(_._1.endsWith("_sql")))))
      Files.move(tmp, Paths.get(s"$oracleDir/request.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Wait for the oracle results and compare each with the timed
      * calls' (rows, xor). */
    def resolveOracles(): Unit = if (oracleReqs.nonEmpty) {
      sendOracles()
      val dir = oracleDir
      val done = Paths.get(s"$dir/done")
      val deadline = System.currentTimeMillis() + 120000
      val w0 = System.currentTimeMillis()
      while (!Files.exists(done) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      extra("oracle_wait_ms") = System.currentTimeMillis() - w0
      val results = new java.util.concurrent.ConcurrentHashMap[String, Either[String, String]]()
      parallel(args.cores)(oracleReqs.toSeq.map { case (n, callName, _, _) => () =>
        results.put(n, try {
          val want = spark.read.parquet(s"$dir/$n.parquet")
          val schema = schemas(callName)
          val missing = schema.fieldNames.filterNot(want.columns.contains)
          if (missing.nonEmpty) Left(s"oracle lacks columns ${missing.mkString(",")}")
          else {
            // cast to the call's types; nullability alone never needs one
            val o = Force(want.select(schema.fields.toIndexedSeq.map { f =>
              val c = col(s"`${f.name}`")
              if (DataType.equalsStructurally(want.schema(f.name).dataType, f.dataType,
                  ignoreNullability = true)) c.as(f.name) else c.cast(f.dataType).as(f.name)
            }: _*))
            val timed = calls.filter(c => c("name") == callName && c("ok") == true)
              .map(c => (c("rows_out"), c("xor"))).distinct
            if (timed.nonEmpty && timed.forall(_ == (Some(o.rows), Some(o.xor))))
              Right(s"${o.rows} rows match")
            else Left(s"oracle ${o.rows}/${o.xor} timed ${timed.mkString(",")}")
          }
        } catch { case e: Throwable => Left(e.toString.take(300)) })
        ()
      })
      for ((n, callName, _, _) <- oracleReqs)
        check(s"oracle:$n", results.get(n).isRight, results.get(n).merge, Seq(callName))
    }
  }

  /** Run `tasks` on `n` threads and wait for all of them. */
  def parallel(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1", m("cores").toInt,
      m("in"), m("warm"), m("work"), m("out"))
  }

  def session(args: Args, cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    GraftSession.quietLogs(s)
    s
  }

  def stop(spark: SparkSession): Unit = {
    GraftSession.releaseCaches(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  trait Workload {
    /** Set-up's warm-up: run the workload's plans once before timing. */
    def warmUp(spark: SparkSession, args: Args): Unit
    /** The timed phase, `args.seconds` long. */
    def measure(ctx: Ctx): Unit
    /** A traced run: the timed work both untraced and traced (the
      * difference is the tracing overhead), then any per-layer extras. */
    def measureTraced(ctx: Ctx): Unit
    /** Correctness gate, outside every timed region. */
    def verify(ctx: Ctx): Unit
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workloads = Map("changefeed" -> CdcBatch, "curation_cold" -> CurationCold)
    val w = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    // set-up: JVM start -> session start + extension install + warm-up
    val spark = session(args, args.cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    w.warmUp(spark, args)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(args, spark)
    spark.streams.addListener(ctx.progress)
    val phases = mutable.LinkedHashMap[String, Double]()
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      phases(name) = (System.nanoTime() - t0) / 1e6
    }
    timed("measure") {
      if (args.trace) w.measureTraced(ctx) else w.measure(ctx)
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    }
    timed("verify") {
      w.verify(ctx)
      ctx.resolveOracles()
    }
    val raw = Map(
      "facts" -> (Jvm.facts ++ Map("cores" -> args.cores, "session_start_s" -> sessionS)),
      "setup_s" -> setupS,
      "heap_after_gc_peak_mb" -> ctx.heapPeakMb,
      "phase_ms" -> phases,
      "calls" -> ctx.calls.toSeq,
      "checks" -> ctx.checks.toSeq,
      "spans" -> ctx.spans,
      "groups" -> ctx.tasks.groups,
      "progress" -> ctx.progress.all,
      "extra" -> ctx.extra)
    Files.createDirectories(Paths.get(args.out))
    Files.writeString(Paths.get(s"${args.out}/raw.json"), Json(raw))
    stop(ctx.spark)
  }
}
