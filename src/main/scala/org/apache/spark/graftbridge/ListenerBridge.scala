package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Bridge to `SparkContext.listenerBus` (`private[spark]` in Spark 4.x).
  *
  * [[graft.QueryRecord]] reads what its listener collected; listener
  * events are delivered on an async bus, so the reader must drain the bus
  * first or the last tasks of a block are missed. This is the one
  * sanctioned way to block on that drain, and to post an engine event such
  * as [[graft.ArmDecision]] to every attached listener.
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: Throwable => () } // a timed-out drain degrades accounting, never the bench

  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
