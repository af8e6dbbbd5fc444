package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` facts the benchmark's listener needs. */
object PerfbenchInternals {
  /** Waits until every posted listener event has been delivered, so
    * counters read after a pass are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
