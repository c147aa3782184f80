package org.apache.spark

/** The one non-public hook the benchmark uses: block until the listener
  * bus has delivered every queued event, so counters sampled right after
  * an action has returned include all of its tasks and stages.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
