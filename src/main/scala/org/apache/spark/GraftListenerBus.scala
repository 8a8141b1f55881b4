package org.apache.spark

import java.util.concurrent.TimeoutException
import org.apache.spark.scheduler.SparkListenerEvent

/** Bridge to the driver's listener bus, which Spark keeps `private[spark]`.
  * Placed in the spark package, like `sql.GraftColumnBridge`.
  */
object GraftListenerBus {

  /** An event that only marks a point in the bus's event order: a listener
    * that receives it has received every event posted before it. Never
    * written to an event log.
    */
  final class Marker extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  /** Post `m` behind every event posted so far; false when the context is
    * stopped, whose bus delivers nothing more.
    */
  def post(sc: SparkContext, m: Marker): Boolean =
    !sc.isStopped && { sc.listenerBus.post(m); true }

  /** Block until every event posted so far has reached every listener, for at
    * most `timeoutMs`; false when the bus was still busy at the deadline.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
