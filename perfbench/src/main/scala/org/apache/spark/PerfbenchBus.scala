package org.apache.spark

/** Access to the private[spark] listener-bus flush, so the traced run can
  * attribute every listener event to the op that caused it: the harness
  * drains the bus after each op, before the next one starts. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
