package org.apache.spark

/** The one package-private engine hook the benchmark needs: block until
  * every queued listener event has been delivered, so the counters read
  * after an operation include all of that operation's events. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
