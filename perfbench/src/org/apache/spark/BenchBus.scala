package org.apache.spark

/** Lets the harness wait until every listener event posted so far has
  * been delivered. Listener delivery is asynchronous; the traced run
  * drains the bus after each op so that every job, task and planning
  * event of the op is attributed before the next op starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
