package org.apache.spark

/** Lets the harness wait until the listener bus has delivered every
  * event, so a listener removed after a pass has seen the whole pass.
  * (`SparkContext.listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
