package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * per-call Spark metrics are read only after every event has been seen. */
object EngineBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
