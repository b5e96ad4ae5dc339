package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the asynchronous listener bus has delivered every queued
  * event, so counters read after a phase hold all of that phase's tasks.
  * Lives in the `org.apache.spark` namespace to reach the bus.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
