package org.apache.spark

/** The two driver internals the traced run needs and Spark keeps
  * package-private: draining the listener bus before per-op counters
  * are read, and naming the SQL metric behind a driver-side
  * accumulator update (to count written files).
  */
object PerfbenchInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def accumulatorName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
