package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the private[spark] listener bus, so code that meters per-job
  * task metrics (BenchSlope's per-query counts, the specs) can wait
  * deterministically for every pending event instead of sleeping.
  */
object ListenerBusHook {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
