package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer waits for every event of an op before reading its spans.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
