package org.apache.spark

/** Settles the benchmark's listeners deterministically: blocks until every
  * event posted so far (task/stage/job ends, SQL execution ends, streaming
  * progress) has been delivered. `waitUntilEmpty` is `private[spark]`,
  * hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
