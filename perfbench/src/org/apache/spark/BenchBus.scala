package org.apache.spark

/** The listener bus delivers events asynchronously; a traced operation is
  * only fully counted once every event it caused has been delivered.
  * `waitUntilEmpty` is package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
