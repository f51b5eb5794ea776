package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: when
  * it returns, every event posted so far (the job ends of each finished
  * action included) has been delivered to every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
