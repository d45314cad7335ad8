package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The one `private[spark]` call the harness needs: task-end events reach
  * listeners asynchronously, so totals are read only after the listener
  * bus has drained. */
object BusShim {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
