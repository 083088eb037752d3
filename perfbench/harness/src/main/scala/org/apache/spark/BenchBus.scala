package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so spans and counters are attributed to the call that
  * caused them before the next call starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
