package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the benchmark's tracer drains it after each op so that every event is
  * attributed to the op that caused it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
