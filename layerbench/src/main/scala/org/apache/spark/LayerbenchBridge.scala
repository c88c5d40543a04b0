package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener has seen the events posted so far, so each pass's events are
  * complete before the next pass starts. */
object LayerbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
