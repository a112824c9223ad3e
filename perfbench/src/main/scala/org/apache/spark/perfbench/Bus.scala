package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark-internal reads the benchmark needs and no public API offers. */
object Bus {
  /** Wait until every queued listener event has been delivered, so the
    * benchmark reads a query's jobs and blocks only after they are all in.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of RDD blocks (persisted or locally checkpointed) the block
    * manager master holds right now, memory plus disk. Block removals by
    * unpersist are not posted to listeners, so this is the only exact
    * count of what is still stored.
    */
  def storedRddBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus
      .map(s => s.rddBlocks.values.map(b => b.memSize + b.diskSize).sum).sum
}
