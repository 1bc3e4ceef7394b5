package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a counter read right after an
  * action can miss the tail of that action's task-end events. Draining
  * the bus needs `SparkContext.listenerBus`, which is `private[spark]`,
  * hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
