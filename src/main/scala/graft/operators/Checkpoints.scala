package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncating materialization shared by the iterative operators
  * ([[LakeMerge]]'s merge inputs, [[Dedup.connectedComponents]]'s label
  * frames): `localCheckpoint` by default, a RELIABLE `checkpoint` when
  * the session opts in — localCheckpoint stores blocks on executors,
  * fine in local mode, but on a real cluster an executor lost
  * mid-computation takes its blocks with it and fails the job, since
  * after lineage truncation there is nothing to recompute from.
  * Cluster deployments set [[ReliableCheckpointConf]] (and
  * `SparkContext.setCheckpointDir` on durable storage).
  */
object Checkpoints {

  val ReliableCheckpointConf = "spark.graft.reliableCheckpoint"

  /** Size-gated scratch persist for multi-scan operators (r17): when the
    * optimizer's `stats.sizeInBytes` estimate of `df` (an upper bound
    * derived from file bytes — no job) fits
    * [[graft.config.ScaleGates.scratchPersistBytesMax]], persist it
    * MEMORY_AND_DISK so every subsequent pass reads the narrow scratch
    * rows instead of re-deriving them from the source scan; above the
    * gate return `df` unchanged (the stateless re-scan plan — correct at
    * any scale, just more passes). Returns the frame to use plus a
    * release thunk the caller MUST invoke (try/finally) once no derived
    * action will run again — the store-scratch leak discipline of the
    * incremental stores.
    *
    * The persist is intra-call only: every operator invocation re-derives
    * and re-materializes its own scratch (nothing is keyed on the input
    * path or shared across calls), so repeated bench runs each pay the
    * full computation.
    */
  def scratchPersist(df: DataFrame): (DataFrame, () => Unit) = {
    // no widen knob: a repartition-up of the scratch was measured in r17
    // to EXPLODE downstream partial-aggregate exchanges (rows scale as
    // tasks × keyspace) and was reverted — reintroduce only with a call
    // site whose own A/B demands it (rationale in Quantiles)
    val cap = graft.config.ScaleGates.scratchPersistBytesMax(df.sparkSession)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (cap > 0 && est <= BigInt(cap)) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, () => { p.unpersist(blocking = false); () })
    } else (df, () => ())
  }

  /** [[materializeFrame]] behind the same size gate as [[scratchPersist]]
    * — for query-layer pipelines whose RETURNED frame still consumes the
    * scratch (so an eager release is impossible; the localCheckpoint
    * blocks free at GC, the q_curation_e2e convention). Over the gate the
    * frame passes through untouched: the stateless re-derivation plan is
    * the scale-safe default.
    */
  def materializeScratch(df: DataFrame): DataFrame = {
    val cap = graft.config.ScaleGates.scratchPersistBytesMax(df.sparkSession)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (cap > 0 && est <= BigInt(cap)) materializeFrame(df) else df
  }

  /** Truncate `df`'s lineage: a reliable `checkpoint` when the session
    * sets [[ReliableCheckpointConf]] to "true", else `localCheckpoint`.
    * For callers that fan a frame into several downstream actions. The
    * localCheckpoint blocks live until the session ends or the RDD is
    * GC'd — a long-lived pipeline driver that is DONE consuming every
    * descendant of the returned frame should call [[freeFrame]] on it (a
    * query that RETURNS a descendant, like q_curation_e2e, cannot: the
    * caller's action still needs the blocks).
    */
  def materializeFrame(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(ReliableCheckpointConf).contains("true"))
      df.checkpoint()
    else df.localCheckpoint()

  /** Free the storage behind a frame [[materializeFrame]] produced, once
    * a newer frame supersedes it — without this an iterative loop holds
    * one full copy per iteration (localCheckpoint: executor blocks until
    * GC happens to run the ContextCleaner; reliable checkpoint: one
    * ReliableCheckpointRDD file-set per iteration on durable storage,
    * which the ContextCleaner deletes only at GC time and only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`).
    * `Dataset.unpersist` only talks to the cache manager, so this reaches
    * through the LogicalRDD: its blocks go through the context directly
    * (`RDD.unpersist` warns on every local checkpoint that it cannot be
    * recomputed — exactly what freeing it means), and the reliable
    * file-set is deleted eagerly via the RDD's own checkpoint path. Only
    * call once NOTHING derived from the frame will execute again — after
    * deletion a re-execution of the frame fails (that is the contract,
    * same as for freed blocks).
    */
  def freeFrame(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.graft.BenchTaps.unpersistRdd(l.rdd)
        l.rdd.getCheckpointFile.foreach { dir =>
          try {
            val p = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(
              df.sparkSession.sparkContext.hadoopConfiguration)
            fs.delete(p, true)
          } catch { case scala.util.control.NonFatal(e) =>
            // cleanup is best-effort; a failed delete must never fail the
            // pipeline that no longer needs the data — but fatal errors
            // (OOM, interrupts) must propagate, not be swallowed here
            System.err.println(s"[checkpoints] failed to delete $dir: ${e.getMessage}")
          }
        }
      case _ => ()
    }
}
