package org.apache.spark

/** Reaches the package-private listener bus so a spec can wait for
  * every posted listener event before it reads a listener's counters.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
