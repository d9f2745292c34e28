package org.apache.spark

/** Package bridge to the one `private[spark]` call the benchmark needs:
  * draining the asynchronous listener bus, so that counters read after a
  * pass include every job, stage and task event of that pass.
  */
object WinbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
