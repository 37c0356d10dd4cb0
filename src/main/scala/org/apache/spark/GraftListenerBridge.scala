package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; listener readers
  * (`graft.Tools stages`, `MetricsCollector.during`) need a synchronous drain so
  * per-rep reads neither miss a straggler `SparkListenerStageCompleted` nor
  * leak it into the next rep's buffer — a fixed sleep is a race, not a
  * barrier.
  */
object GraftListenerBridge {
  /** Returns true when the bus fully drained; false when the 10 s internal
    * deadline hit first (`waitUntilEmpty` throws on a backlogged bus —
    * callers degrade to a partial read instead of crashing mid-run,
    * ADVICE r10).
    */
  def waitListenerBusEmpty(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
