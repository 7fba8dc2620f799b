package org.apache.spark

/** The benchmark's one reach into `private[spark]`: waiting until the
  * listener bus has delivered every queued event, so a traced operation's
  * jobs, stages and tasks are all counted before the next one starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
