package org.apache.spark.graftbridge

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.util.ShutdownHookManager

/** `StageInfo.shuffleDepId` is `private[spark]`; expose the one bit the
  * event-log listener needs: whether a stage produces shuffle output
  * (i.e. plays the MapReduce map phase). Likewise Spark's temp-dir
  * shutdown hook (`ShutdownHookManager` is `private[spark]`), which
  * deletes registered directories after the SparkContext stops.
  */
object SchedulerBridge {
  def producesShuffleOutput(si: StageInfo): Boolean = si.shuffleDepId.isDefined

  def deleteAtExit(dir: java.io.File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)

  def keepAtExit(dir: java.io.File): Unit = ShutdownHookManager.removeShutdownDeleteDir(dir)
}
