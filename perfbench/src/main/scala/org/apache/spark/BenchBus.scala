package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark reads its
  * recorder only after the bus has delivered every event of the operation
  * it just timed; `waitUntilEmpty` is package-private, hence this bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
