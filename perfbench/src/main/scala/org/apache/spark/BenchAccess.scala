package org.apache.spark

/** The one package-private hook the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so each event is
  * attributed to the execution that caused it. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
