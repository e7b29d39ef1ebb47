package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Package bridge to the two `private[spark]` surfaces the engine needs:
  * `LiveListenerBus.waitUntilEmpty` for the bench's structural counters
  * (a SparkListener's counters are published through an async event
  * queue, so a reader that snapshots them right after an action races
  * the queue; draining the bus first makes per-query deltas exact), and
  * `SparkContext.unpersistRDD` for freeing checkpoint blocks. (Same
  * pattern as the repo's native expressions under
  * `org.apache.spark.sql.graft` — public Spark API wherever possible,
  * a package bridge only where the API is scoped.)
  */
object BenchTaps {

  /** Block until every queued listener event is delivered; on the bus's
    * internal timeout (10 s — only plausible if a listener is wedged),
    * proceed with possibly-stale counters rather than failing the bench:
    * the counters are diagnostics, the timings are the record.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          "[bench] listener bus drain timed out; structural counters may lag")
    }

  /** Drop `rdd`'s cached blocks. `RDD.unpersist` does the same and, on a
    * locally checkpointed RDD, logs a WARN that its lineage cannot be
    * recomputed — true of every local checkpoint, so a free that is
    * meant says nothing; this skips that line.
    */
  def unpersistRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
