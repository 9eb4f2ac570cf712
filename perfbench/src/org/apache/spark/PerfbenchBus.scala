package org.apache.spark

/** Access to the `private[spark]` listener bus, so the traced run can wait
  * for the task and job events of an action before reading them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
