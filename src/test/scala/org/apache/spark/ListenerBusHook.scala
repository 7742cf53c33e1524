package org.apache.spark

/** Package-private listener-bus access for specs that count jobs. */
object ListenerBusHook {

  /** Block until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
