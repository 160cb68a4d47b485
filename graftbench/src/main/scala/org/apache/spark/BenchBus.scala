package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain after each query so every job, task and plan event of
  * that query is attributed before the next one starts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
