package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`, but listener-based
  * counts (jobs, task metrics) need to DRAIN the async bus rather than
  * sleep or poll a fixed interval — a loaded machine can outlast any
  * sleep and undercount events in either direction. Lives under the
  * `org.apache.spark` package namespace solely for access; nothing is
  * modified.
  */
object ListenerBridge {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
