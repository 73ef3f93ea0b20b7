package org.apache.spark

/** Waits until every listener-bus event posted so far has been
  * delivered, so a traced operation's job, stage, task and query
  * events are all recorded before the next operation starts. The bus
  * is `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
