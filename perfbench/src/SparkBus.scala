package org.apache.spark

/** The listener bus's drain barrier is `private[spark]`; the traced run
  * needs it so every task metric of a span has been delivered before the
  * span's counts are read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
