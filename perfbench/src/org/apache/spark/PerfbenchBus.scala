package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run attributes listener events to the op that caused them,
  * so it waits for the bus to empty before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
