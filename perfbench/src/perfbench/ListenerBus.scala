package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. Listener events arrive asynchronously, so counts read at a span
  * boundary need this barrier. `waitUntilEmpty` is package-private, hence
  * the package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
