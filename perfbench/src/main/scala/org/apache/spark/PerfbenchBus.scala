package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered, so a span's stage and query figures are
  * complete when the span closes. The listener bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
