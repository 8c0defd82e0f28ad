package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Lives in Spark's package for one call: the listener bus's
  * `waitUntilEmpty`, so a traced run reads its counters only after every
  * event of the operation it measured has been delivered. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
