package org.apache.spark

/** Bridge to the `private[spark]` listener bus: a test reads its
  * listener's counters only after every event posted so far has been
  * delivered. Lives in Spark's namespace for access; contains no logic.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
