package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal JSON rendering (fixed key order, no dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.json
    case m: Seq[_] => m.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  /** Pre-rendered JSON passed through [[value]] unquoted. */
  final case class Raw(json: String)
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Order statistics used by every timing metric. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest percentile that still has at least
    * `minBeyond` samples above it (nearest-rank). With fewer than
    * `minBeyond + 1` samples no such percentile exists and the maximum
    * is reported with `beyond` < `minBeyond`, so the output says so.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int) {
    def toJson: String = Json.obj(Seq("percentile" -> percentile, "samples" -> samples,
      "beyond" -> beyond, "value_s" -> value))
  }
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val idx = if (n > minBeyond) n - 1 - minBeyond else n - 1
    Tail(s(idx), 100.0 * (idx + 1) / n, n, n - 1 - idx)
  }
}

/** Operations and checks attempted vs failed — the `ok_ratio` ledger. A
  * thrown operation or a failed check counts as failed and never
  * contributes a timing.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Run `body`; a throw is a failed operation and yields None. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(name, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  /** [[op]] with its wall seconds. */
  def timed[T](name: String)(body: => T): Option[(T, Double)] = {
    val t0 = System.nanoTime()
    op(name)(body).map(v => (v, (System.nanoTime() - t0) / 1e9))
  }

  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    try { if (!cond) fail(name, "check failed") }
    catch { case NonFatal(e) => fail(name, s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  private def fail(name: String, why: String): Unit = {
    failed += 1
    failures += s"$name: ${Option(why).getOrElse("").take(300)}"
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  def okRatio: Double = if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted
}

/** Spark-side counters, attributed to the step label the driver thread
  * carried when each job was submitted (local property [[Probe.StepKey]];
  * stream threads inherit the label current when the query started).
  */
final class Probe extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var shuffleB = 0L; var spillB = 0L
    var recordsRead = 0L; var recordsWritten = 0L; var bytesWritten = 0L
    var stageRetries = 0L
    val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }
  private val stageStep = new ConcurrentHashMap[Int, String]()
  private val accs = mutable.LinkedHashMap.empty[String, Acc]

  private def acc(step: String): Acc = accs.getOrElseUpdate(step, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val step = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.StepKey))).getOrElse("")
    e.stageIds.foreach(stageStep.put(_, step))
    acc(step).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0)
      acc(stageStep.getOrDefault(e.stageInfo.stageId, "")).stageRetries += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageStep.getOrDefault(e.stageId, ""))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** The counters of one step label. Call [[drain]] first. */
  def step(name: String): Acc = synchronized(accs.getOrElse(name, new Acc))

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.BenchTaps.drainListenerBus(spark.sparkContext)
}

object Probe {
  val StepKey = "perfbench.step"

  /** Run `body` with jobs labelled `step`. */
  def labelled[T](spark: SparkSession, step: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(StepKey)
    sc.setLocalProperty(StepKey, step)
    try body finally sc.setLocalProperty(StepKey, prev)
  }
}

/** Self time per layer for a traced run. Steps are flat (never nested),
  * so a step's duration is its layer's self time; whatever the timed
  * region spends outside steps is reported as unattributed.
  */
final class Tracer(spark: SparkSession) {
  val self: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def step[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Probe.labelled(spark, layer)(body)
    finally self(layer) = self.getOrElse(layer, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  /** Seconds spent in [[untimed]] probes, removed from the timed region. */
  var excludedS = 0.0

  /** Bookkeeping queries of the trace itself (row counts, ground-truth
    * joins): run outside every layer and outside the timed region.
    */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try Probe.labelled(spark, "trace-probe")(body)
    finally excludedS += (System.nanoTime() - t0) / 1e9
  }

  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v
  def seconds(layer: String): Double = self.getOrElse(layer, 0.0)
}

/** Process-level resource readings (driver JVM = the whole local-mode
  * Spark process).
  */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Largest heap in use right after a collection since the last reset:
    * what the program still held once the collector had run, not how
    * full the fixed heap was let to get between collections.
    */
  @volatile private var peakAfterGc = 0L
  @volatile private var collections = 0L
  private val onGc = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Jvm.synchronized {
          collections += 1
          if (used > peakAfterGc) peakAfterGc = used
        }
      }
  }
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  def gcSeconds(): Double = gcs.map(g => math.max(0L, g.getCollectionTime)).sum / 1e3
  def resetPeakHeap(): Unit = synchronized { peakAfterGc = 0L; collections = 0L }
  /** Peak post-collection heap since the last reset, MiB, and the number
    * of collections it is taken over. Notifications arrive on the JVM's
    * service thread; a short wait lets the last ones land.
    */
  def peakHeapMb(): (Double, Long) = {
    Thread.sleep(200)
    synchronized((peakAfterGc / (1024.0 * 1024.0), collections))
  }
}

/** Order-independent content hash of a frame: (rows, sum of per-row
  * xxhash64 as an exact decimal). Two frames with equal folds hold the
  * same multiset of rows (up to hash collisions).
  */
object Fold {
  def apply(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(struct(cols.map(col): _*)).cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
  def all(df: DataFrame): (Long, BigDecimal) = apply(df, df.columns.toSeq)
}
