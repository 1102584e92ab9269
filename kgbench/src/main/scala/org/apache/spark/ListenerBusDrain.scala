package org.apache.spark

/** The listener bus delivers task and job events asynchronously; the probe
  * reads its counters only after the bus has delivered everything posted so
  * far. `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
