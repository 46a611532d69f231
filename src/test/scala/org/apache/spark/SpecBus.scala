package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a spec
  * that counts jobs reads its listener only after every event posted so
  * far has been delivered. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** RDD blocks (cached or checkpointed partitions) held by the block
    * managers right now. */
  def rddBlocks(sc: SparkContext): Int =
    sc.env.blockManager.master.getStorageStatus.map(_.rddBlocks.size).sum
}
