package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Where the library's scratch frames live: one rule, read from the
  * session, never chosen per call.
  *
  *  - **No checkpoint directory** on the `SparkContext`: a
  *    `localCheckpoint` (MEMORY_AND_DISK). Its blocks live in executor
  *    storage only, so an executor lost after the checkpoint fails the
  *    next action that reads them (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`)
  *    instead of recomputing them: lineage is gone.
  *  - **A checkpoint directory** (`spark.checkpoint.dir`, or
  *    `setCheckpointDir`): a reliable checkpoint into it, taken from the
  *    local one's blocks, so the frame is still computed once. Executors
  *    can die after it; the files are read again. Set
  *    `spark.checkpoint.dir` on a cluster.
  *
  * Either way the frame's first action is the local checkpoint's, so a
  * metric observed on `df` arrives with it. Neither kind enters the
  * CacheManager: Spark's ContextCleaner frees the blocks, and deletes the
  * checkpoint files (`spark.cleaner.referenceTracking.cleanCheckpoints`,
  * pinned in [[graft.SparkEntry.pinnedConfs]]), once a driver GC has
  * collected the frame that reads them.
  */
private[graft] object Scratch {
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val local = df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK)
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) local
    else local.checkpoint(eager)
  }
}
