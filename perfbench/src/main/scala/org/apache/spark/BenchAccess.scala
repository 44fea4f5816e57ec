package org.apache.spark

/** The one package-private hook the harness needs: wait until every
  * listener event posted so far has been delivered, so per-layer counts
  * read after a timed phase are complete. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
