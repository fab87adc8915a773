package org.apache.spark

/** Lets the benchmark wait until every listener has seen the events posted
  * so far. `LiveListenerBus` is `private[spark]`; Spark's own suites reach
  * it the same way. Called only between measured spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
