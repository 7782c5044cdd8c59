package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered to the listeners. It lives in Spark's package because
  * `SparkContext.listenerBus` is `private[spark]`. The benchmark reads its
  * listener counters only after this returns, so it never sleeps to let the
  * bus catch up. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
