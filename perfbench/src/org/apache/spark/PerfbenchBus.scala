package org.apache.spark

/** Listener-bus drain for the benchmark's own listeners. Spark delivers
  * listener events asynchronously; the benchmark reads its listener state
  * only after this returns, so every event posted before the call (job,
  * stage, task and streaming-progress events alike) has been handled.
  * `waitUntilEmpty` is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
