package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two `private[spark]` members the benchmark's tracing needs. */
object SparkInternals {
  def active: Option[SparkContext] = SparkContext.getActive

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
