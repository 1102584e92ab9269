package org.apache.spark

/** The listener bus, and so `statusTracker`, learns of job ends
  * asynchronously; a test reads job state only after the bus has delivered
  * everything posted so far. `waitUntilEmpty` is package-private to Spark,
  * hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
