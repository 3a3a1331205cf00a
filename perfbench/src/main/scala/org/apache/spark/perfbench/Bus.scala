package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Operation boundary (`what` is `op_start`, `construct_end` or `op_end`),
  * posted on the listener bus so that it reaches a listener in order with
  * the job, task and block events around it. */
final case class OpMark(op: Long, what: String) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

/** The two listener-bus calls the benchmark needs, which Spark keeps
  * package-private. */
object Bus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
