package org.apache.spark

/** The listener bus is private to Spark; the traced run waits for it to
  * deliver every event before it reads its listeners' counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
