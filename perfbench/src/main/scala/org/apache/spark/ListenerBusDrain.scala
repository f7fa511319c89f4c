package org.apache.spark

/** The listener bus delivers events asynchronously; a run's counters are
  * read only after every event posted so far has been handled.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
