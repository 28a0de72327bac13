package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{col, unix_micros, lit}
import org.apache.spark.sql.types.{StructType, TimestampType, TimestampNTZType}
import org.apache.spark.storage.StorageLevel

/** Loaders for the generated parquet tables (TESTDATA.md), and the
  * engine's one session-cache registry ([[persisted]] and
  * [[checkpointed]]). */
object Tables {
  /** A table's data files as (path, length, mtime), sorted; files and
    * directories whose name starts with `_` or `.` are skipped, as
    * Spark's file index skips them. Empty when the path does not exist.
    * Walked with `listStatus`, because every table read takes a
    * listing: `listFiles` also looks up block locations, which took
    * 3.3 ms a call against 11 us for one parquet file on a local disk. */
  private type Listing = Seq[(String, Long, Long)]

  private def listing(spark: SparkSession, path: String): Listing = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Listing =
      fs.listStatus(p).toSeq
        .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
        }
    try walk(root).sorted catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Parquet file schemas memoized per path and listing: every
    * `spark.read.parquet` WITHOUT a user schema runs footer-based schema
    * inference before planning, and a bench/verify session
    * opens the same ten files hundreds of times (most operators scan a
    * table 2-4 times in one plan). A listing is one directory read, far
    * cheaper than a footer parse. Keying on the listing keeps a dataset
    * regenerated at the same path (the events.ts TIMESTAMP-vs-BIGINT
    * variation) from being read with the old schema, and keeps the
    * schema in step with the [[persisted]] frames built over it. */
  private val schemaMemo = TrieMap[String, (Listing, StructType)]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = listing(spark, path)
    val schema = schemaMemo.get(path) match {
      case Some((`files`, s)) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemaMemo.put(path, (files, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** A frame derived from one table, kept in the session-cache
    * registry per (session, kind, table) and pinned (MEMORY_AND_DISK)
    * from its `pinAt`-th read in the session on: the tokenized
    * documents (`Text.docTokens`) and their word grams
    * (`Dedup.gramsCached`) at the first read, the changelog store
    * (`ChangeEvents.changelog`) at the second, so that a one-shot
    * reader is not made to build a store nobody reads again. Every
    * read returns the same frame, and every `persist` of the engine
    * goes through here (SourceLintSpec). */
  private[graft] def persisted(spark: SparkSession, kind: String, dir: String,
                               table: String, pinAt: Int = 1)
                              (build: DataFrame => DataFrame): DataFrame =
    entries.synchronized {
      val (root, files) = tableFiles(spark, dir, table)
      val e = entry((spark, kind, root, ()), root, files, persist = true)(
        build(apply(spark, dir, table)))
      e.reads += 1
      val frame = e.value.asInstanceOf[DataFrame]
      // pin unless cached: another session's entry over the same files
      // may already hold it, and a bare catalog.clearCache drops a pin
      if (e.reads >= pinAt && frame.storageLevel == StorageLevel.NONE)
        frame.persist(StorageLevel.MEMORY_AND_DISK)
      frame
    }

  /** A value of eagerly checkpointed frames (a frame or a tuple holding
    * frames) derived from one table, kept in the session-cache registry
    * per (session, kind, table, params): every lookup returns the value
    * the first one built. */
  private[graft] def checkpointed[T](spark: SparkSession, kind: String, dir: String,
                                     table: String, params: Any)(build: => T): T =
    entries.synchronized {
      val (root, files) = tableFiles(spark, dir, table)
      entry((spark, kind, root, params), root, files, persist = false)(build)
        .value.asInstanceOf[T]
    }

  /** [[checkpointed]] for a value derived from a frame, kept per
    * (session, kind, canonical plan of `input`, params); its files are
    * those of the file indexes in the plan. */
  private[graft] def checkpointed[T](input: DataFrame, kind: String, params: Any)
                                    (build: => T): T =
    entries.synchronized {
      val plan = input.queryExecution.analyzed
      val indexes = plan.collect { case r: LogicalRelation => r.relation }.collect {
        case HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _) => i
      }
      val files = indexes.flatMap(_.allFiles())
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
      entry((input.sparkSession, kind, plan.canonicalized, params),
        indexes.flatMap(_.rootPaths).map(_.toString).sorted.mkString(","), files,
        persist = false)(build).value.asInstanceOf[T]
    }

  /** The qualified root of table `name` under `dir`, as a file index
    * names it, and its listing. */
  private def tableFiles(spark: SparkSession, dir: String, name: String): (String, Listing) = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs.makeQualified(path).toString, listing(spark, path.toString))
  }

  /** The session-cache registry: one entry per (session, kind, input,
    * params), built at most once under one reentrant lock (builds nest:
    * clusters read the pair ledger, which reads the grams, which read
    * the tokens).
    *
    * An entry is stale once the files of its input differ from the
    * files a new lookup's input reads. Any lookup forgets every stale
    * entry over the same tables, of any kind and in any session, before
    * it builds. A stale persisted frame is unpersisted first: the
    * CacheManager matches plans by `sameResult`, and
    * `InMemoryFileIndex.equals` compares root paths only, so a new
    * frame over changed files would otherwise be served the old rows.
    * A stale checkpointed value is only forgotten, because dropping its
    * blocks would break frames already handed out; [[clear]] and the
    * persistent-RDD sweep of `GraftSession.releaseCaches` free them. */
  private final class Entry(val tables: String, val files: Listing,
                            val value: Any, val persist: Boolean) {
    var reads = 0
    def release(): Unit = {
      val frames: Seq[Dataset[_]] = value match {
        case df: Dataset[_] => Seq(df)
        case p: Product => p.productIterator.collect { case df: Dataset[_] => df }.toSeq
      }
      if (persist) frames.foreach(_.unpersist(blocking = false))
      else frames.foreach(Checkpoints.drop)
    }
  }

  private val entries =
    scala.collection.mutable.HashMap[(SparkSession, String, Any, Any), Entry]()

  private def entry(key: (SparkSession, String, Any, Any), tables: String,
                    files: Listing, persist: Boolean)(build: => Any): Entry = {
    for ((k, e) <- entries.toSeq
         if k._1.sparkContext.isStopped || (e.tables == tables && e.files != files)) {
      if (e.persist && !k._1.sparkContext.isStopped) e.release()
      entries.remove(k)
    }
    entries.getOrElse(key, {
      val e = new Entry(tables, files, build, persist)
      entries(key) = e
      e
    })
  }

  /** Release every registry entry (unpersist, or drop the checkpoint
    * blocks of every frame it holds) and forget it and the schemas. */
  private[graft] def clear(): Unit = entries.synchronized {
    for ((k, e) <- entries if !k._1.sparkContext.isStopped) e.release()
    entries.clear()
    schemaMemo.clear()
  }

  /** The engine's internal `events.ts` contract is epoch-NANOS BIGINT.
    * The driver has generated events.parquet with `ts` as either
    * TIMESTAMP(NANOS) (read as long under `nanosAsLong`) or, in later
    * rounds, timestamp[us] (read natively as TIMESTAMP_NTZ) — normalize
    * both to the long-nanos contract here so every downstream plan and
    * its DuckDB oracle (`epoch_us(ts)` / `CAST(ts AS TIMESTAMP)` work
    * on either physical type there) stays schema-agnostic. Row-local,
    * exact: session tz is UTC, so the NTZ→LTZ cast re-interprets
    * losslessly and `unix_micros * 1000` round-trips through
    * `timestamp_micros(ts div 1000)` bit-for-bit. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    =
    normalizeTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
