package org.apache.spark

/** The listener bus delivers events asynchronously; tests that count jobs
  * read their counters only after every event posted so far was handled.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
