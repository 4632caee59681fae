package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * specs that count jobs with a listener drain the bus before reading
  * the count. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
