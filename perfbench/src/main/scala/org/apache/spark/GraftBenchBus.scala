package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can wait
  * for every posted listener event before it reads its counters.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
