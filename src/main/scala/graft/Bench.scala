package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds.
  *
  * Materialization: a bare `.count()` lets Catalyst column-prune pure
  * projections down to a row count (the regex/fold work never runs), which
  * flattered the text queries in earlier rounds. Instead we aggregate
  * xxhash64 over a struct of ALL output columns — every expression in the
  * query must actually be evaluated for every row, while the result stays a
  * single driver-side long (no collect of real data).
  *
  * The fold is `bit_xor`, not `sum`: xxhash64 yields uniformly distributed
  * 64-bit values, so a running Long sum overflows almost surely under
  * Spark 4's default ANSI mode (this aborted 29/32 queries in round 3).
  * XOR is order-independent, closed over Long, and still forces every
  * output expression to evaluate per row.
  *
  * Failures are never silently converted into timings: a query that throws
  * is reported as -1 in `queries` and listed in the `errors` array of the
  * JSON line, so a crashing query is visible without reading stack traces.
  */
object Bench {
  /** The single-pass aggregate behind [[materialize]]: (xor fold, rows). */
  private[graft] def foldFrame(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(col).toSeq: _*))), count(lit(1)))

  /** (fold, rows): the xor fold forces every output expression; the row
    * count rides the same single-pass aggregate so cross-round comparisons
    * can spot result-size drift without a second execution.
    */
  private[graft] def materialize(df: DataFrame): (Long, Long) = {
    val row = foldFrame(df).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  /** Heap pools for the per-run peak-heap stamp (reset before each run,
    * summed after): sum of per-pool peaks upper-bounds the true
    * concurrent peak, which is the right direction for a memory
    * tripwire. The stamp is what made the r16 driver-heap finding
    * adjudicable only after the fact — an 8 GiB default heap inflated
    * the whole suite ~15 % through GC while the CPU canary read ~1.0.
    */
  private val heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** One timed run: wall seconds, result rows, driver-JVM GC millis, and
    * the structural deltas (jobs launched, shuffle bytes read/written,
    * sum of per-pool peak heap during the run).
    */
  private final case class RunMeasure(
      sec: Double, rows: Long, gcMs: Long,
      jobs: Long, shufReadB: Long, shufWriteB: Long, peakHeapB: Long,
      stageRetries: Long, stages: Long, tasks: Long)

  /** The exact normalized analyzed-plan string the `plan_hash` digests —
    * public so [[graft.tools.Probe]]'s `dump` renders the SAME string
    * (two hand-synced copies would let the diagnostic drift from what is
    * actually hashed). See the in-loop comment for what is normalized
    * and why.
    *
    * `maskLiterals = true` renders the SHAPE string instead (digested as
    * `plan_shape_hash`): every `Literal` is replaced by a typed null and
    * every `In`/`InSet` value list collapsed to one element. Queries that
    * TRAIN on sampled data (PQ codebooks, IVF centroids, Misra–Gries
    * candidate lists, min/max range bounds) inline data-derived constants
    * into the plan; under a different parallelism the sample changes, the
    * constants change, and `plan_hash` flips on a query whose declared
    * computation did not (round-10 finding: 9/97 builder-vs-driver).
    * The shape hash is invariant to those values while still capturing
    * operator structure, join shapes, and expression trees — cross-
    * parallelism / cross-environment comparisons should use it;
    * same-environment comparisons keep the precise `plan_hash`.
    */
  /** Version of the [[normalizedPlan]] masking algorithm, stamped into
    * `bench_out.json` as `plan_hash_version` — plan hashes are only
    * comparable between records carrying the SAME version (a mask change
    * re-baselines every hash without any plan changing). History:
    * 1 = raw canonicalized string (≤ r9); 2 = literal/In masking +
    * lambda-class/Repartition-width normalization (r10–r16);
    * 3 = + LambdaVariable-id mask and deterministic comparison
    * orientation (r17). [[graft.tools.BenchDiff]] refuses hash
    * comparison across versions and falls back to structural counters.
    */
  val PlanHashVersion = 3

  /** The one set of string masks for the JVM- and session-global
    * counters a plan string prints: lambda class names and LambdaVariable
    * ids always; with `sessionIds` also `[plan_id=N]`, RDD ids,
    * `<File>.scala:<line>` call sites, expression ids and lambda variable
    * names, which a canonicalized plan does not print. [[normalizedPlan]] leaves
    * `sessionIds` off, so its output — and [[PlanHashVersion]] — is
    * unchanged; [[graft.tools.Probe.dump]] turns it on, so two dumps of
    * one query are byte-identical.
    */
  def maskIds(plan: String, sessionIds: Boolean = false): String = {
    val lambdas = plan
      .replaceAll("Lambda\\$\\d+", "Lambda")
      .replaceAll("/0x[0-9a-f]+", "")
      .replaceAll("@[0-9a-f]+", "")
      // LambdaVariable ids (the last arg of `lambdavariable(name, type,
      // nullable, id)`) come from a JVM-GLOBAL atomic counter that
      // advances with every object-encoder the session constructs —
      // canonicalization normalizes ExprIds but not these. Root cause of
      // the r16 q_audio_energy drift (the only registered query with a
      // MapPartitions/mapobjects encoder in its plan): same commit, two
      // windows, ids 2 vs 6 purely from suite position. The spaced
      // `, true|false, N)` anchor cannot fire inside a DataType print
      // (those join with comma-no-space), so the mask is exact.
      .replaceAll(
        "(lambdavariable\\(\\w+, .+?, (?:true|false)), \\d+\\)", "$1, L)")
    // counters whose identity matters (which attribute, which lambda
    // variable) are renumbered by first appearance rather than erased
    def renumber(s: String, id: scala.util.matching.Regex): String = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      id.replaceAllIn(s, m =>
        m.group(1) + seen.getOrElseUpdate(m.matched, seen.size + 1))
    }
    if (!sessionIds) lambdas
    else renumber(renumber(
      lambdas
        .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=N]")
        .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
        .replaceAll("(\\w+\\.scala):\\d+", "$1:N"),
      "(#)\\d+".r), "(lambda \\w+?_)\\d+".r)
  }

  def normalizedPlan(df: DataFrame, maskLiterals: Boolean = false): String = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def norm(e: Expression): Expression = {
      val k = e.mapChildren(norm)
      k match {
        case a: And =>
          conjuncts(a).sortBy(_.toString).reduceLeft(And(_, _))
        // Comparison ORIENTATION: Canonicalize picks `a > b` vs `b < a`
        // by child hashCode — and MultiCommutativeOp (the canonical form
        // of +/* chains) carries a java.lang.Class field whose
        // identityHashCode is JVM-STATE-dependent, so the orientation of
        // any comparison against such a chain flips with session history
        // (r17 finding: q_langid_confusion's `sum(hits) > 0` printed as
        // `null < mcop(...)` fresh and `mcop(...) > null` in-suite, the
        // residue behind the whole r13→r16 trio of "session build state"
        // hash drifts). Rewrite to the LT-family form — semantically the
        // identical predicate, orientation independent of hashCode. For
        // the symmetric equalities, order operands by rendered string.
        case GreaterThan(l, r) => LessThan(r, l)
        case GreaterThanOrEqual(l, r) => LessThanOrEqual(r, l)
        case EqualTo(l, r) if l.toString > r.toString => EqualTo(r, l)
        case EqualNullSafe(l, r) if l.toString > r.toString => EqualNullSafe(r, l)
        case l: Literal if maskLiterals => Literal(null, l.dataType)
        // value-list membership: both the values AND the list length can
        // be data-derived (a Misra–Gries candidate list shrinks or grows
        // with the sample) — collapse to a single masked element
        case In(v, _) if maskLiterals =>
          In(v, Seq(Literal(null, v.dataType)))
        case i: InSet if maskLiterals => In(i.child, Seq(Literal(null, i.child.dataType)))
        case x => x
      }
    }
    maskIds(df.queryExecution.analyzed
      .canonicalized.transformAllExpressions { case e => norm(e) }
      .toString)
      // partition WIDTHS are an environment knob (defaultParallelism /
      // SPARK_GRAFT_CPUS reaches Repartition nodes through Tables.wide
      // and operator repartitions), not declared computation — measured:
      // a CPUS=8 vs CPUS=32 run flipped 56 of 97 hashes with zero code
      // change. Normalize the count, keep the node (a Repartition
      // appearing or disappearing is a real plan change; its width
      // moving with the machine is not).
      .replaceAll("\\bRepartition (\\d+)", "Repartition P")
      .replaceAll("(\\bRepartitionByExpression\\b[^\\n]*?), \\d+", "$1, P")
  }

  /** Committed clean-machine reference for [[canarySeconds]]: min over
    * repeated runs on this container with nothing else running (see
    * [[graft.tools.CanaryCalibrate]], which prints the value to commit).
    * `load_factor` in the bench record = measured canary / this — ~1.0 on
    * a clean machine, >>1 when external load is stealing CPU. Three
    * consecutive rounds (r9–r11) produced official records whose time
    * drift on PLAN-IDENTICAL code could only be attributed to machine
    * load by after-the-fact adjudication; the canary makes the record
    * prove (or disclaim) its own cleanliness.
    */
  val CanaryRefSec = 1.011

  /** Fixed CPU-bound spin: every hardware thread runs the SAME
    * deterministic checksum loop; returns wall seconds until all finish.
    * The per-thread work is constant, so on an idle machine with >=
    * `availableProcessors` free cores the wall time is a hardware
    * constant; external CPU load inflates it proportionally. Each thread
    * accumulates locally and the fold happens after join() (single
    * writer — no read-modify-write race); the volatile sink exists only
    * as an optimization barrier so the JIT cannot dead-code the loops.
    */
  @volatile private var canarySink = 0L
  def canarySeconds(): Double = {
    val threads = Runtime.getRuntime.availableProcessors()
    val accs = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { id =>
      val t = new Thread(() => {
        var acc = 0x9E3779B97F4A7C15L + id
        var i = 0
        while (i < 600000000) {
          acc = java.lang.Long.rotateLeft(acc ^ i, 13) * 0x100000001B3L
          i += 1
        }
        accs(id) = acc
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    canarySink = accs.foldLeft(canarySink)(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }

  /** `/proc/loadavg` snapshot (first three fields), or "" off-Linux. */
  def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).mkString(" ")
    catch { case scala.util.control.NonFatal(_) => "" }

  /** First loadavg field as a double, or -1 when unavailable — the
    * per-query load stamp (see the `load_1m` row field).
    */
  def load1m(): Double =
    loadavg().split("\\s+").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(-1.0)

  /** Suite-level load factor above which the record is considered
    * load-contaminated: the run self-heals by re-running the whole suite
    * once (the retry usually lands after the external load subsides) and
    * keeps the cleaner pass; if BOTH passes are dirty the record is
    * marked `advisory: true` so cross-round comparisons know not to read
    * its times as regressions.
    */
  val LoadRetryThreshold = 1.3

  /** One query's measurements within a suite pass. */
  private final case class QueryRow(
      cold: Option[RunMeasure],
      steady: Option[RunMeasure],
      planHash: String, shapeHash: String, load1m: Double)

  /** One full suite pass, bracketed by the load canary. */
  private final case class SuitePass(
      rows: Seq[(String, QueryRow)], errors: Seq[String],
      canaryBefore: Double, canaryAfter: Double,
      loadavgBefore: String, loadavgAfter: String, startedAt: String) {
    def loadFactor: Double = math.max(canaryBefore, canaryAfter) / CanaryRefSec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: touch every table and exercise the shuffle/window/broadcast
    // machinery once, so session-initialization costs don't land on the
    // first query. (Each query's FIRST timed run still pays its own
    // codegen — that is the `cold` figure; the `time` figure amortizes it,
    // see the two-pass comment below.)
    try {
      graft.Tables.all.foreach(t => graft.Tables(spark, sfDir, t).count())
      val r = graft.Tables(spark, sfDir, "region")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("r_regionkey")
        .orderBy("r_name")
      r.join(broadcast(r.select(col("r_regionkey").as("k"), col("r_name").as("n2"))),
          col("r_regionkey") === col("k"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("r_name")).agg(sum(col("rn"))).collect()
    } catch { case scala.util.control.NonFatal(_) => () }
    // Self-healing record: run the suite; if its canary window was
    // load-contaminated (load_factor > LoadRetryThreshold), run the whole
    // suite once more and keep the cleaner pass. Three rounds (r9–r11)
    // produced official records whose drift was adjudicated after the
    // fact as machine load; r12's canary made the record self-AWARE
    // (load_factor 1.81, honestly flagged) but it was still the record of
    // record — the retry makes it self-HEALING, and `advisory` marks the
    // residual case where both windows were dirty.
    val pass1 = runSuite(spark, sfDir)
    val passes =
      if (pass1.loadFactor > LoadRetryThreshold) {
        System.err.println(
          f"[bench] suite load_factor ${pass1.loadFactor}%.2f > " +
            f"$LoadRetryThreshold — load-contaminated window, re-running suite once")
        Seq(pass1, runSuite(spark, sfDir))
      } else Seq(pass1)
    val best = passes.minBy(_.loadFactor)
    val advisory = best.loadFactor > LoadRetryThreshold
    val discarded = passes.filterNot(_ eq best)
    emit(best, advisory, passes.size, discarded.map(_.loadFactor), sfDir)
    spark.stop()
  }

  private def runSuite(spark: SparkSession, sfDir: String): SuitePass = {
    // Two passes per query, deterministic name order. The FIRST (cold) run
    // includes codegen/janino compile and JIT warm-up — and in a sequential
    // session it also depends on which earlier query already compiled
    // textually identical generated classes (the janino cache), so
    // cross-QUERY comparisons of cold times measure cache luck, not the
    // operator (isolated-JVM check: knn 9.0 s cold alone, 1.8 s cold after
    // ann compiled the shared window/sort classes). The SECOND (steady)
    // run measures the execution the operator would sustain at scale,
    // where per-query compile is amortized to nothing. `time` = steady,
    // `cold` = first run (the rounds<=4 methodology); the headline total
    // stays the cold sum for round-over-round continuity.
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // Contention self-diagnosis (the round-8 adjudication: the driver's
    // record showed q_minhash_pairs steady 24.7 s > its own 9.7 s cold —
    // machine contention, physically impossible for a stable plan, but
    // invisible in the record). Each query row carries its driver-JVM GC
    // millis and a wall-clock start timestamp, and any steady > cold
    // query is flagged in `contended` — so a contended window
    // self-identifies instead of masquerading as a regression.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val benchStart = java.time.Instant.now().toString
    // Run-level load canary: a fixed CPU spin timed before and after the
    // suite (min of 2 each to shave scheduler jitter), plus /proc/loadavg
    // snapshots. load_factor = worst canary / committed clean reference:
    // ~1.0 certifies a clean window; >>1 flags that this record's times
    // are load-contaminated and must not be read as regressions.
    val loadavgBefore = loadavg()
    val canaryBefore = math.min(canarySeconds(), canarySeconds())
    // structural-counter listener (graft.tools.Harness), scoped to this
    // pass (registered fresh per pass so a retry's deltas never mix with
    // the rejected window's)
    val listener = graft.tools.Harness.StructListener.attach(spark)
    val results = try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // per-query load stamp: 1-min loadavg at this query's start. The
      // suite-level canary certifies (or disclaims) the WHOLE window;
      // the stamp makes partial contamination per-query attributable —
      // r12's record had an unflagged 14.8 s query on an unchanged plan
      // that only the suite-level factor could hint at.
      val qLoad = load1m()
      // the cold run's frame, kept for the plan fingerprint below —
      // constructing a FRESH frame for hashing would re-run every eager
      // builder (CC fixpoints, Checkpoints.materializeFrame, sampled-constant
      // training) once more, and doing so BEFORE the cold run warmed
      // exactly what cold measures (found by review this round: the
      // round-10-early hash placement pre-executed q_curation_e2e et al.
      // and turned their cold numbers warm)
      var hashFrame: DataFrame = null
      def timed(): Option[RunMeasure] = {
        // drain + snapshot OUTSIDE the timed span: the drain flushes the
        // previous run's stragglers so the deltas below are this run's
        val s0 = listener.snapshot()
        heapPools.foreach(p =>
          try p.resetPeakUsage()
          catch { case _: UnsupportedOperationException => () })
        val t0 = System.nanoTime()
        val gc0 = gcMillis()
        try {
          val df = fn(spark, sfDir)
          if (hashFrame == null) hashFrame = df
          val (_, rows) = materialize(df)
          val sec = (System.nanoTime() - t0) / 1e9
          val gc = gcMillis() - gc0
          val d = listener.snapshot() - s0
          val peak = heapPools.map(_.getPeakUsage.getUsed).sum
          Some(RunMeasure(sec, rows, gc, d.jobs, d.shuffleRead, d.shuffleWrite,
            peak, d.stageRetries, d.stages, d.tasks))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            None
        }
      }
      val cold = timed()
      // steady = min of three post-warm-up runs (the standard microbench
      // estimator): single post-warm runs still jitter ±0.3 s from AQE
      // re-planning and GC, which at local-mode query sizes is enough to
      // invert cross-query comparisons run-to-run; the min converges on
      // the query's true floor
      val steady =
        if (cold.isEmpty) None
        else Seq(timed(), timed(), timed()).flatten.sortBy(_.sec).headOption
      // canonicalized-plan fingerprint (round-9 adjudication: cross-round
      // time drift on plan-UNCHANGED queries — q_tweet_flat 1.4× — could
      // only be called noise, not proven; a stable hash makes "same plan,
      // different time" machine-checkable across rounds). Hash of the
      // canonicalized ANALYZED logical plan: physical plans embed AQE
      // runtime state, and the OPTIMIZED plan proved run-order-dependent
      // — cache substitution races async unpersists from earlier queries,
      // so whether a shared fragment resolves to InMemoryRelation varies
      // run to run (measured: 3 queries flipped hash between identical
      // back-to-back runs). The analyzed plan is pre-cache-substitution
      // and pre-optimizer: its hash changes exactly when the DECLARED
      // computation changes, which is the attribution the cross-round
      // record needs (optimizer behavior only moves with the pinned Spark
      // version). Normalizations in [[normalizedPlan]]. Computed AFTER
      // the timed runs, from the cold run's own frame — zero extra
      // executions; never a failure source.
      def digest(s: String): String =
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(s.getBytes("UTF-8")).take(8)
          .map("%02x".format(_)).mkString
      val (planHash, shapeHash) = try {
        val frame = if (hashFrame != null) hashFrame else fn(spark, sfDir)
        val s = normalizedPlan(frame)
        val shape = normalizedPlan(frame, maskLiterals = true)
        // diagnostic: dump BOTH hashed strings for run-to-run diffing
        // (the r14 shape-hash adjudication needed the masked string too)
        sys.env.get("SPARK_GRAFT_PLAN_DUMP").foreach { dir =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/$name.txt"), s)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/$name.shape.txt"), shape)
        }
        (digest(s), digest(shape))
      } catch { case scala.util.control.NonFatal(_) => ("", "") }
      // a query that succeeded cold but failed all three steady runs is
      // still a failing query — surface it instead of reporting the cold
      // time as a healthy steady-state
      if (cold.isEmpty || steady.isEmpty) errors += name
      name -> QueryRow(cold, steady, planHash, shapeHash, qLoad)
    } finally listener.detach()
    val canaryAfter = math.min(canarySeconds(), canarySeconds())
    val loadavgAfter = loadavg()
    SuitePass(results, errors.toSeq, canaryBefore, canaryAfter,
      loadavgBefore, loadavgAfter, benchStart)
  }

  private def emit(
      pass: SuitePass, advisory: Boolean, attempts: Int,
      discardedLoadFactors: Seq[Double], sfDir: String): Unit = {
    val qs = pass.rows.map { case (k, row) =>
      val t = row.steady.fold(-1.0)(_.sec) // -1 = steady runs failed (also in errors)
      val c = row.cold.fold(-1.0)(_.sec)
      val r = row.cold.fold(0L)(_.rows)
      val g = row.steady.fold(-1L)(_.gcMs)
      // structural counters from the MIN-steady run (the same run `time`
      // reports); cold_jobs from the first run — a cold/steady jobs gap
      // is itself diagnostic (eager builders, AQE re-plans, cache fills)
      val j = row.steady.fold(-1L)(_.jobs)
      val cj = row.cold.fold(-1L)(_.jobs)
      val srb = row.steady.fold(-1L)(_.shufReadB)
      val swb = row.steady.fold(-1L)(_.shufWriteB)
      val ph = row.steady.fold(-1L)(m => m.peakHeapB >> 20)
      val rt = row.steady.fold(-1L)(_.stageRetries)
      val st = row.steady.fold(-1L)(_.stages)
      val tk = row.steady.fold(-1L)(_.tasks)
      s"\"" + k + "\":{\"time\":" + t + ",\"cold\":" + c + ",\"rows\":" + r +
        ",\"gc_ms\":" + g + ",\"jobs\":" + j + ",\"cold_jobs\":" + cj +
        ",\"stages\":" + st + ",\"tasks\":" + tk +
        ",\"shuffle_read_b\":" + srb + ",\"shuffle_write_b\":" + swb +
        ",\"stage_retries\":" + rt +
        ",\"peak_heap_mb\":" + ph + ",\"load_1m\":" + f"${row.load1m}%.2f" +
        ",\"plan_hash\":\"" + row.planHash +
        "\",\"plan_shape_hash\":\"" + row.shapeHash + "\"}"
    }.mkString("{", ",", "}")
    val errJson = pass.errors.map(e => "\"" + e + "\"").mkString("[", ",", "]")
    val contended = pass.rows.collect {
      case (k, QueryRow(Some(c), Some(s), _, _, _)) if s.sec > c.sec => k
    }
    val contJson = contended.map(e => "\"" + e + "\"").mkString("[", ",", "]")
    val total = pass.rows.flatMap(_._2.cold.map(_.sec)).sum
    val steadyTotal = pass.rows.flatMap(_._2.steady.map(_.sec)).sum
    val loadJson = "{\"canary_ref_sec\":" + CanaryRefSec +
      ",\"canary_before_sec\":" + f"${pass.canaryBefore}%.3f" +
      ",\"canary_after_sec\":" + f"${pass.canaryAfter}%.3f" +
      ",\"load_factor\":" + f"${pass.loadFactor}%.2f" +
      ",\"canary_threads\":" + Runtime.getRuntime.availableProcessors() +
      ",\"driver_max_heap_mb\":" + (Runtime.getRuntime.maxMemory() >> 20) +
      ",\"loadavg_before\":\"" + pass.loadavgBefore +
      "\",\"loadavg_after\":\"" + pass.loadavgAfter + "\"}"
    val discJson = discardedLoadFactors.map(f => f"$f%.2f").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","steady_total":$steadyTotal,"started_at":"${pass.startedAt}","advisory":$advisory,"attempts":$attempts,"plan_hash_version":$PlanHashVersion,"discarded_load_factors":$discJson,"load":$loadJson,"contended":$contJson,"queries":$qs,"errors":$errJson,"sf":"$sfDir","note":"time=steady-state (min of 3 post-warm runs, codegen amortized); cold=1st run incl codegen (methodology of rounds<=4); cross-query comparisons should use time; a query in `contended` (min-of-3 steady exceeded its own cold run) indicates external machine load during its window, not a plan regression; load.load_factor ~1.0 certifies a clean window; a window with load_factor>1.3 triggers ONE automatic suite re-run and the cleaner pass is recorded (attempts=2, discarded_load_factors lists the rejected pass); advisory=true means both passes were load-inflated and times must not be read as regressions; per-query load_1m stamps the 1-min loadavg at that query's start for partial-window attribution; plan_hash=exact analyzed plan (same-environment comparisons), plan_shape_hash=literal-masked (stable across parallelism even for queries that inline sampled/trained constants); jobs/stages/tasks/shuffle_read_b/shuffle_write_b/peak_heap_mb are STRUCTURAL counters from the min-steady run (listener-drained deltas) — regression gating uses plan_shape_hash + these first and wall time second (rule in BASELINE.md); stage_retries counts stage resubmissions in that run: when >0 the run's shuffle bytes carry retry traffic (fetch-failure re-reads/rewrites under external load) and byte excursions are environment, not plan (the r17 q_span_removal finding); load.driver_max_heap_mb stamps the JVM heap the record ran under (the r16 8-GiB-default finding)"}"""
    // Durable copy FIRST, stdout LAST: the driver captures a log tail, and
    // a long run's head can scroll out of it (round 5 lost the JSON line
    // head that way) — bench_out.json in the repo root survives regardless.
    // SPARK_GRAFT_BENCH_OUT redirects the file for ad-hoc window probes so
    // they can't clobber the committed record (it happened twice in r17;
    // the lost windows had to be re-parsed out of run logs).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    println(line)
  }
}
