package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

package object operators {

  /** Drops the blocks of the checkpoint `df` reads, if it reads one.
    * `localCheckpoint` persists its RDD (MEMORY_AND_DISK) and the
    * ContextCleaner only reclaims it once unreferenced, so an iterative
    * operator that checkpoints per round keeps every stale round
    * resident for the rest of the session unless it releases them. Call
    * it only once no plan that will still run reads `df`. A second call
    * on the same checkpoint is a no-op, not a second asynchronous
    * removal racing the first.
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(false))
}
