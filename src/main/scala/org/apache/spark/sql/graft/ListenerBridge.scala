package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain. Listener events post
  * asynchronously, so a listener read immediately after an action can miss
  * the tail of its own job's events; `waitUntilEmpty` blocks until the bus
  * has delivered everything. Two callers: profiling mains (ProfileJobs),
  * whose SparkListener job/stage/task counts become exact, and
  * `monitors.Runner`, whose observed row counts (`Dataset.observe`) are
  * completed by a QueryExecutionListener on that bus. Never used inside a
  * query plan. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
