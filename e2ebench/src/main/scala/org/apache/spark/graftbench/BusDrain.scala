package org.apache.spark.graftbench

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Bounded drain of the listener bus. `listenerBus` is `private[spark]`,
  * so this shim lives under the `org.apache.spark` namespace. */
object BusDrain {

  /** Wait at most `timeoutMs` for every queued listener event to be
    * delivered. Returns false on timeout instead of throwing, so a
    * backlogged bus marks the caller's counters stale rather than
    * aborting the run. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
