package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain (the same hook
  * Spark's own test harnesses use): the benchmark's traced run
  * (perfbench.Probe) and the TaskBudgetSpec CI guard read
  * SparkListener counters after each query, and a fixed sleep either
  * under-waits (events from query N bleed into query N+1's counters —
  * ADVICE r20 #4) or over-waits. Lives under org.apache.spark only for package-private
  * access; no Spark internals are modified.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
