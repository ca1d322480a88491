package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: Bench
  * reads its listener's counters only after every event of a rep has been
  * delivered.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
