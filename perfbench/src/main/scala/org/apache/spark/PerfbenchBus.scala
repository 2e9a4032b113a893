package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that every job, stage
  * and query-execution event of an op has been delivered before the
  * trace closes the op. The bus is `private[spark]`; this one accessor
  * keeps that access in a single file.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
