package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced pass must see every event of an operation before it reads
  * the listener's counters.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
