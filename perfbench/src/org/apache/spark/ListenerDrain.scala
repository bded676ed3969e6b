package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * traced operation's jobs, stages and tasks are all counted before its
  * metrics are read. The bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
