package org.apache.spark

/** Listener-bus access for the layer benchmark: Spark delivers listener
  * events asynchronously, so a counter read at an operation boundary must
  * first wait until every event posted before it has been delivered.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package.
  */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
