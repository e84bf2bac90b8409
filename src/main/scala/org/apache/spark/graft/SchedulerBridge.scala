package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Bridge into the `private[spark]` scheduler fields the perf tooling
  * reads (same visibility rationale as org.apache.spark.sql.graft's
  * ColumnBridge): `StageInfo.shuffleDepId` identifies a shuffle-map
  * stage and dedups AQE retries/reuse of the same exchange, and the
  * listener bus's own wait replaces polling a listener's event count. */
object SchedulerBridge {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId

  /** Block until every event posted so far reached every listener, or
    * `timeoutMs` passed (then return; a snapshot taken after may miss
    * the undelivered events). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
