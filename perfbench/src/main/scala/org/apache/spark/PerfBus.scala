package org.apache.spark

/** Listener-bus drain for the benchmark: lives in Spark's package because
  * `listenerBus` is `private[spark]`. After an op returns, waiting for the
  * bus to empty guarantees every job, stage, task, query-execution and
  * streaming-progress event of that op reached the benchmark's listeners
  * before the next op starts.
  */
object PerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
