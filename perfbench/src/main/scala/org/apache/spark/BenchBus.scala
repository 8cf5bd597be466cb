package org.apache.spark

/** Listener events are delivered asynchronously; a traced span can only be
  * closed once every event its work posted has been seen. The bus drain is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
