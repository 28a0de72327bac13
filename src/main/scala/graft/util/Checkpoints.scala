package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for localCheckpoint-backed frames. */
object Checkpoints {

  /** Unpersist the checkpoint blocks behind a localCheckpoint-backed
    * DataFrame. Dropping only the reference leaves the checkpointed
    * RDD blocks in executor storage until ContextCleaner gets around
    * to them — repeated build/release cycles in one session would
    * accumulate one corpus-scale block set per cycle. After this call
    * the frame cannot recompute (localCheckpoint truncates lineage):
    * drop a frame only once nothing reads it, as `Tables.clear` does
    * with the registry's entries and the index builds with their
    * scratch frames. */
  def drop(df: Dataset[_]): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped)
        df.queryExecution.analyzed.collect {
          case lr: LogicalRDD => lr.rdd
        }.foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }
}
