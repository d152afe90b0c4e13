package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * the listener bus has delivered every event posted so far, so that
  * counters read at the end of a timed window are complete. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
