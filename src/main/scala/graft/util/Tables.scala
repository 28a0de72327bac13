package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros, lit}
import org.apache.spark.sql.types.{StructType, TimestampType, TimestampNTZType}
import org.apache.spark.storage.StorageLevel

/** Loaders for the generated parquet tables (TESTDATA.md), and
  * the one place the engine pins a frame for a session ([[persisted]]). */
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
    read(spark, path, listing(spark, path))
  }

  /** The parquet table at `path`, whose data files are `files`. */
  private def read(spark: SparkSession, path: String, files: Listing): DataFrame = {
    val schema = schemaMemo.get(path) match {
      case Some((`files`, s)) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemaMemo.put(path, (files, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** A frame derived from one table, kept per (session, kind, dir)
    * while the table's listing is unchanged and pinned
    * (MEMORY_AND_DISK) from its `pinAt`-th read in the session on: the
    * tokenized documents (`Text.docTokens`) and their word grams
    * (`Dedup.gramsCached`) at the first read, the changelog store
    * (`ChangeEvents.changelog`) at the second, so that a one-shot
    * reader is not made to build a store nobody reads again. Every
    * read returns the same frame, and every `persist` of the engine
    * goes through here (SourceLintSpec).
    *
    * A changed listing rebuilds the entry, and first unpersists every
    * entry over the same table whose listing differs, of any kind and
    * in any session. That order is load-bearing: the CacheManager
    * matches a new plan against cached ones by `sameResult`, and
    * `InMemoryFileIndex.equals` compares root paths only, so a new
    * frame over changed files would otherwise be served the old
    * cached rows. Released by [[graft.util.GraftSession.releaseCaches]]. */
  private[graft] def persisted(spark: SparkSession, kind: String, dir: String,
                               table: String, pinAt: Int = 1)
                              (build: DataFrame => DataFrame): DataFrame =
    frames.synchronized {
      frames.keys.filter(_._1.sparkContext.isStopped).foreach(frames.remove)
      val path = s"$dir/$table.parquet"
      val files = listing(spark, path)
      for ((k, e) <- frames if k._3 == dir && e.table == table && e.files != files) {
        e.frame.unpersist(blocking = false)
        frames.remove(k)
      }
      val e = frames.getOrElseUpdate((spark, kind, dir),
        new Entry(table, files, build(read(spark, path, files))))
      e.reads += 1
      // pin unless cached: another session's entry over the same files
      // may already hold it, and a bare catalog.clearCache drops a pin
      if (e.reads >= pinAt && e.frame.storageLevel == StorageLevel.NONE)
        e.frame.persist(StorageLevel.MEMORY_AND_DISK)
      e.frame
    }

  private final class Entry(val table: String, val files: Listing, val frame: DataFrame) {
    var reads = 0
  }

  private val frames = TrieMap[(SparkSession, String, String), Entry]()

  /** Forget every [[persisted]] frame and the schemas; the caller has
    * dropped the cached data. */
  private[graft] def clear(): Unit = frames.synchronized {
    frames.clear()
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
