package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * that every event of one operation has been delivered before the next
  * operation starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
