package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer for the raw result file (maps, sequences,
  * strings, numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity == 2 && !p.isInstanceOf[collection.Seq[_]] =>
      apply(Seq(p.productElement(0), p.productElement(1)))
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Forcing: a hash-reduce over ALL output columns (the board's
  * `xxhash64` / `bit_xor`), so no projection gets pruned. Returns
  * (row count, xor of row hashes) — an order-independent fingerprint
  * of the frame — and the executed query's planning time. */
object Force {
  final case class Out(rows: Long, xor: Long, planMs: Double,
                       schema: org.apache.spark.sql.types.StructType)

  def apply(df: DataFrame): Out = {
    val q = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")))
    val r = q.collect()(0)
    val planMs = q.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
    Out(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), planMs, df.schema)
  }
}

/** One span: a named interval around a call into a layer. `group` is
  * the Spark job group its jobs ran under, so task metrics the
  * listener gathers attribute to the innermost open span. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long,
                      attrs: mutable.Map[String, Double])

/** Spans kept in memory and written out when the run ends. When
  * tracing is off `span` only runs its body. */
final class Tracer(var spark: SparkSession, val on: Boolean, var run: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        run, System.nanoTime(), 0L, mutable.Map.empty)
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(group(p), p.name, false)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Attach a measured value to the innermost open span. */
  def attr(k: String, v: Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(k) = v)

  def group(s: Span): String = s"perfbench-${s.id}"

  def json(tasks: TaskMetricsListener): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "attrs" -> s.attrs.toMap, "tasks" -> tasks.byGroup(group(s)))
  }
}

/** Adds up task metrics per job group (CPU, run time, GC, shuffle,
  * spill, records). */
final class TaskMetricsListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val acc = new ConcurrentHashMap[String, Array[Double]]()
  private val keys = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "records_read", "peak_exec_mem_bytes")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val v = Array[Double](1, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
      m.peakExecutionMemory)
    acc.compute(g, (_, old) =>
      if (old == null) v
      else { old.indices.foreach(i => if (i == 8) old(i) = old(i) max v(i) else old(i) += v(i)); old })
  }

  def byGroup(g: String): Map[String, Double] =
    Option(acc.get(g)).map(a => keys.zip(a).toMap).getOrElse(keys.map(_ -> 0.0).toMap)

  /** Every group's totals: streaming queries run their jobs under
    * their own run id as the group. */
  def groups: Map[String, Map[String, Double]] =
    acc.keys.asScala.map(g => g -> byGroup(g)).toMap
}

/** Copies every micro-batch's progress: `durationMs` phases, input
  * rows and the state operators' rows, commit time and memory. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(Map(
      "query" -> p.name, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "rows_total" -> s.numRowsTotal, "commit_ms" -> s.commitTimeMs,
        "memory_bytes" -> s.memoryUsedBytes))))
  }

  def all: Seq[Map[String, Any]] = progress.asScala.toSeq
}

/** Run facts and heap/GC probes. */
object Jvm {
  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use right after a full collection, in MB. Collected
    * twice: the first collection lets Spark's cleaner thread drop the
    * blocks (broadcasts, shuffles) whose references died, the second
    * frees them, so the reading does not depend on the cleaner's timing. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def facts: Map[String, Any] = Map(
    "max_memory_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getName).mkString(","),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION)
}
