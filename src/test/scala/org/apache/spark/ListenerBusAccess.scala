package org.apache.spark

/** Test-only: wait until every listener event posted so far has been
  * delivered (`listenerBus` is private to Spark's package). */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
