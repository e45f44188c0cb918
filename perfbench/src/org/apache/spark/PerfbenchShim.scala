package org.apache.spark

/** Bridge to the `private[spark]` listener bus: the benchmark reads its
  * listener's counters only after every event posted so far has been
  * delivered. Lives in Spark's namespace for access; contains no logic.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
