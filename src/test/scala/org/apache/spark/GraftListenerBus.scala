package org.apache.spark

/** Listener-bus access for tests that count Spark jobs: events are
  * delivered asynchronously, so a count read after an operation must first
  * wait until every event posted before it has been delivered.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
