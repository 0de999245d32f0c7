package org.apache.spark

/** Lets the traced run wait for Spark's asynchronous listener bus, so
  * every job, task and streaming-progress event of one operation is
  * attributed before the next operation starts. The bus API is
  * `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
