package org.apache.spark

/** The listener bus is private to Spark; a traced run drains it at each op
  * boundary so every job, stage, task and progress event of an op has been
  * delivered before the next op starts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
