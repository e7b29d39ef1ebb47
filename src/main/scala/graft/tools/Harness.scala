package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What every measurement main shares: the local session, wall timing,
  * scratch cleanup, and the one structural-counter listener (also
  * [[graft.Bench]]'s). Tool logic takes a `SparkSession`; only a tool's
  * `main` builds one (here) and stops it, so specs drive the same code on
  * the shared test session.
  */
object Harness {

  /** Local-FS deployment tuning for the incremental stores: their
    * `batch=` trees fan 64 bucket dirs per batch, so the default
    * threshold (32) launches a parallel-listing JOB per store read —
    * microseconds of driver listing on a local filesystem, but ~4
    * scheduled jobs per arrival of pure floor. On object storage keep the
    * default: there the parallel listing is the right plan.
    */
  val LocalStoreListing: (String, String) =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096"

  /** Runs `body` on a `local[SPARK_GRAFT_CPUS]` session (as many shuffle
    * partitions, UTC, UI off, WARN logging, plus `conf`) and stops it.
    */
  def withSession[A](conf: (String, String)*)(body: SparkSession => A): A = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  /** (result, wall seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Recursive delete through the session's Hadoop FS. */
  def rmrf(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** Data files under `path` (0 if absent), excluding `_`/`.` names
    * (`_SUCCESS`, checksums, a store's `_bands` tree) — the files a read
    * of `path` actually opens.
    */
  def fileCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val root = fs.makeQualified(p).toUri.getPath
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val rel = it.next().getPath.toUri.getPath.stripPrefix(root)
      if (!rel.split('/').exists(c => c.startsWith("_") || c.startsWith("."))) n += 1
    }
    n
  }

  /** Structural counters: totals, or the delta between two snapshots. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long,
      stageRetries: Long, shuffleRead: Long, shuffleWrite: Long) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, stageRetries - o.stageRetries,
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite)
  }

  /** Structural per-run counters (the r17 load-robust gate): wall time
    * at sf0.1 proved noise-saturated — the r16 adjudication saw four
    * same-commit windows span 70–114 s on 96/97 identical plan hashes —
    * while job count and shuffled bytes are properties of the EXECUTED
    * plan: they move when the plan moves and hold still under machine
    * load. The regression rule in BASELINE.md gates on plan_shape_hash
    * and these counters first, wall time second. Accumulators are
    * monotonic totals; per-run deltas come from snapshots bracketing the
    * run. Listener events arrive through an async bus, so every
    * [[snapshot]] drains it first
    * ([[org.apache.spark.graft.BenchTaps.drainListenerBus]]).
    *
    * `perStage` also keeps (shuffle read, shuffle write, records read,
    * tasks) per stage id for [[stageTable]].
    */
  final class StructListener private (sc: SparkContext, perStage: Boolean)
      extends SparkListener {
    private val jobs, stages, tasks, stageRetries, shufRead, shufWrite = new AtomicLong
    private val byStage =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, Long)]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    // A stage attempt > 0 is a RESUBMISSION (fetch failure / lost blocks
    // under external load) — its re-run traffic lands in the shuffle
    // accumulators without changing the job count, which is exactly how
    // the r17 official record got a +41 MB read-only excursion on
    // q_span_removal (isolated probe: 8 byte-identical runs). The count
    // makes a retry-tainted run self-identify so BenchDiff can demote
    // read-only excursions instead of calling them plan regressions.
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet()
      if (s.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
      ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        val r = m.shuffleReadMetrics
        val w = m.shuffleWriteMetrics.bytesWritten
        shufRead.addAndGet(r.totalBytesRead)
        shufWrite.addAndGet(w)
        if (perStage) byStage.merge(t.stageId, (r.totalBytesRead, w, r.recordsRead, 1L),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
        ()
      }
    }

    /** Totals so far, after draining the listener bus. */
    def snapshot(): Counters = {
      org.apache.spark.graft.BenchTaps.drainListenerBus(sc)
      Counters(jobs.get(), stages.get(), tasks.get(), stageRetries.get(),
        shufRead.get(), shufWrite.get())
    }

    /** `body`'s result and the counters it moved. */
    def measure[A](body: => A): (A, Counters) = {
      val s0 = snapshot()
      val a = body
      (a, snapshot() - s0)
    }

    /** (stage id, (read, write, records read, tasks)) since the last call,
      * in stage order; empty unless built with `perStage`.
      */
    def stageTable(): Seq[(Int, (Long, Long, Long, Long))] = {
      import scala.jdk.CollectionConverters._
      org.apache.spark.graft.BenchTaps.drainListenerBus(sc)
      val rows = byStage.asScala.toSeq.sortBy(_._1)
      byStage.clear()
      rows
    }

    def detach(): Unit = sc.removeSparkListener(this)
  }

  object StructListener {
    /** A new listener registered on `spark`'s context. */
    def attach(spark: SparkSession, perStage: Boolean = false): StructListener = {
      val l = new StructListener(spark.sparkContext, perStage)
      spark.sparkContext.addSparkListener(l)
      l
    }
  }
}
