package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a spec that counts events reads its listener only after every event
  * posted so far has been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
