package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.Bench

/** Plan, time and counter diagnostics for registered queries
  * ([[graft.SparkEntry.queries]]) at `SPARK_GRAFT_SF_DIR`, on a
  * `local[SPARK_GRAFT_CPUS]` session.
  *
  * {{{
  *   Probe plan <q>...                     executed-plan exchanges, scans, codegen spans
  *   Probe time <q>...                     cold and steady (min of 3) collect seconds
  *   Probe dump <outDir> [suffix] [q,q..]  plan strings per query (default: all)
  *   Probe counters <q> [reps=6] [suite]   per-run structural counters
  *   Probe sweep [reps=3]                  counter determinism over every query
  * }}}
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe plan|time <q>... | dump <outDir> [suffix] [q,q..] | " +
      "counters <q> [reps] [suite] | sweep [reps]"
    require(args.nonEmpty, usage)
    val rest = args.toSeq.tail
    Harness.withSession() { spark =>
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        sys.error("set SPARK_GRAFT_SF_DIR to a test-data directory"))
      args.head match {
        case "plan" => rest.foreach(plan(spark, sfDir, _))
        case "time" => rest.foreach(time(spark, sfDir, _))
        case "dump" =>
          require(rest.nonEmpty, usage)
          dump(spark, sfDir, rest.head, rest.lift(1).getOrElse("plan"),
            rest.lift(2).map(_.split(",").toSeq)
              .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted))
        case "counters" =>
          require(rest.nonEmpty, usage)
          counters(spark, sfDir, rest.head, rest.lift(1).map(_.toInt).getOrElse(6),
            rest.lift(2).contains("suite"))
        case "sweep" => sweep(spark, sfDir, rest.headOption.map(_.toInt).getOrElse(3))
        case other => sys.error(s"unknown subcommand '$other'; $usage")
      }
    }
  }

  private def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sfDir)

  /** Executes the query (under AQE, codegen collapse and stage plans only
    * exist after materialization), then prints its exchanges, file scans
    * and whole-stage codegen span count.
    */
  def plan(spark: SparkSession, sfDir: String, name: String): Unit = {
    println(s"===== $name =====")
    val df = query(spark, sfDir, name)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).map(_.trim.take(120)).toList
    println(s"exchanges: ${exchanges.size}")
    exchanges.foreach(e => println("  " + e))
    p.linesIterator.filter(_.contains("FileScan")).map(_.trim.take(160))
      .foreach(s => println("  scan: " + s))
    // executedPlan.toString renders codegen spans as "*(n)" prefixes, not
    // the class name — count the exec nodes, descending through AQE
    // wrappers (collect() does not)
    def allNodes(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => n +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val wsc = allNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[WholeStageCodegenExec])
    println(s"wholestage spans: $wsc")
  }

  /** Four collects of a fresh frame: the first (cold) and the min of the
    * other three (steady).
    */
  def time(spark: SparkSession, sfDir: String, name: String): Unit = {
    val times = (1 to 4).map(_ => Harness.timed(query(spark, sfDir, name).collect())._2)
    println(f"PROBE $name cold=${times.head}%.2f steady=${times.tail.min}%.2f")
  }

  /** Writes four plan strings per query into `out`:
    *  - `<q>.txt`: the exact normalized analyzed plan `plan_hash` digests
    *    ([[graft.Bench.normalizedPlan]] — shared, so the dump can never
    *    drift from what is hashed; this attributed the round-10 56/97
    *    hash flip to environment-derived Repartition widths);
    *  - `<q>.shape.txt`: the literal-masked shape string
    *    (`plan_shape_hash`) — diffing it against Bench's in-suite
    *    `SPARK_GRAFT_PLAN_DUMP` separates code-caused drift from
    *    session-state residue (the r14 adjudication);
    *  - `<q>.optimized.txt`: the canonicalized optimized plan, for
    *    plan-hash instability across JVM runs;
    *  - `<q>_<suffix>.txt`: `explain("formatted")` — the INITIAL physical
    *    plan (AQE not yet executed) with the numbered operator list,
    *    PushedFilters/ReadSchema, Exchange placement and join strategies
    *    (the evidence files under `plans/r17`, `plans/r18`).
    * The last two pass through [[graft.Bench.maskIds]] with its session
    * masks, so two dumps of one query are byte-identical. Queries with
    * eager builders (materializeScratch, trained constants) execute real
    * jobs while their frame is built.
    */
  def dump(spark: SparkSession, sfDir: String, out: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(out))
    def write(file: String, s: String): Unit = Files.writeString(Paths.get(s"$out/$file"), s): Unit
    val mode = ExplainMode.fromString("formatted")
    names.foreach { n =>
      try {
        val df = query(spark, sfDir, n)
        write(s"${n}_$suffix.txt",
          Bench.maskIds(df.queryExecution.explainString(mode), sessionIds = true))
        write(s"$n.txt", Bench.normalizedPlan(df))
        write(s"$n.shape.txt", Bench.normalizedPlan(df, maskLiterals = true))
        write(s"$n.optimized.txt",
          Bench.maskIds(df.queryExecution.optimizedPlan.canonicalized.toString, sessionIds = true))
        println(s"[dump] wrote $n")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[dump] $n FAILED: ${e.getMessage}")
      }
    }
  }

  /** Structural-counter determinism of ONE query (BASELINE.md regression
    * rule): `reps` runs of a fresh frame, measured the way Bench measures
    * (xor fold, listener-drained deltas), printing per-run wall, rows and
    * counters. A counter that varies across runs of the same plan on the
    * same data is intrinsic to the query's runtime behaviour (AQE skew
    * splits, runtime broadcast fallbacks), and the gate must read it with
    * an allowance. Found with: q_span_removal's shuffle_read_b moving
    * −32 % between two clean same-code windows.
    *
    * `suite`: after the first rep set, run EVERY registered query once,
    * re-measure twice, then `spark.catalog.clearCache()` and measure twice
    * more — separating "intrinsic to the query" from "induced by suite
    * session state" from "cured by cache reset" (the r17 bimodal
    * q_span_removal read).
    *
    * `SPARK_GRAFT_PROBE_STAGES` set: also print each run's per-stage
    * shuffle table. `SPARK_GRAFT_PROBE_PLANS=<dir>`: write each run's
    * final adaptive executed plan — the thing the analyzed-plan hash does
    * NOT capture, where two byte-deterministic modes of one query diverge.
    */
  def counters(spark: SparkSession, sfDir: String, name: String, reps: Int,
      suite: Boolean): Unit = {
    val dumpStages = sys.env.contains("SPARK_GRAFT_PROBE_STAGES")
    val planDir = sys.env.get("SPARK_GRAFT_PROBE_PLANS")
    val listener = Harness.StructListener.attach(spark, perStage = dumpStages)
    def measure(tag: String): Unit = {
      val (((agg, rows), sec), c) = listener.measure(Harness.timed {
        val agg = Bench.foldFrame(query(spark, sfDir, name))
        (agg, agg.head().getLong(1))
      })
      println(f"[probe] $name $tag: ${sec}%.2fs rows=$rows " +
        f"jobs=${c.jobs} read=${c.shuffleRead} write=${c.shuffleWrite} " +
        f"stages=${c.stages} retries=${c.stageRetries} tasks=${c.tasks}")
      listener.stageTable().foreach { case (sid, (r, w, rr, tk)) =>
        println(s"[probe]   stage $sid: read=$r write=$w recsRead=$rr tasks=$tk")
      }
      planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(s"$dir/$name.$tag.executed.txt"),
          agg.queryExecution.executedPlan.toString)
      }
    }
    try {
      (1 to reps).foreach(i => measure(s"run$i"))
      if (suite) {
        println(s"[probe] executing full suite (${graft.SparkEntry.queries.size} queries) ...")
        graft.SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
          try Bench.materialize(query(spark, sfDir, n)): Unit
          catch { case scala.util.control.NonFatal(e) =>
            println(s"[probe] suite query $n failed: ${e.getMessage}")
          }
        }
        (1 to 2).foreach(i => measure(s"postsuite$i"))
        spark.catalog.clearCache()
        (1 to 2).foreach(i => measure(s"postclear$i"))
      }
    } finally listener.detach()
  }

  /** Counter-determinism sweep: every registered query `reps` times in
    * one session, reporting each query whose structural counters are not
    * identical across its retry-free runs (the systematic form of the
    * probe that caught q_span_removal's exchange-reuse race). Runs WITH a
    * stage retry are reported `retried` and excluded from the verdict
    * (their bytes include resubmission re-reads). Use reps >= 3: with 2
    * the steady regime is a single run and WARMUP-ONLY vs STEADY-UNSTABLE
    * is vacuous.
    */
  def sweep(spark: SparkSession, sfDir: String, reps: Int): Int = {
    val listener = Harness.StructListener.attach(spark)
    var unstable = 0
    try graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val runs = (1 to reps).map(_ =>
          listener.measure(Bench.materialize(query(spark, sfDir, name)))._2)
        val (clean, retried) = runs.zipWithIndex.partition(_._1.stageRetries == 0)
        if (retried.nonEmpty)
          println(s"[sweep] $name: ${retried.size}/$reps runs retried (excluded from verdict)")
        if (clean.map(_._1).distinct.size > 1) {
          // Bench publishes the min-STEADY run's counters, so instability
          // living only in the session's first run (index / centroid /
          // cache builds) never reaches the record; "steady" = every clean
          // run after run 1
          val steady = clean.collect { case (c, i) if i > 0 => c }.distinct
          val tag =
            if (steady.size <= 1) "WARMUP-ONLY (run1 builds; steady regime stable)"
            else if (steady.map(c => (c.jobs, c.stages, c.tasks)).distinct.size == 1)
              "BYTE-JITTER (structure stable; compressed sizes vary with consumption order)"
            else "STEADY-UNSTABLE (structure varies post-warm-up — investigate)"
          unstable += 1
          println(s"[sweep] UNSTABLE $name: $tag")
          clean.foreach { case (c, i) => println(s"[sweep]   run${i + 1}: $c") }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[sweep] $name FAILED: ${e.getMessage}")
      }
    } finally listener.detach()
    println(s"[sweep] done: ${graft.SparkEntry.queries.size} queries x $reps reps, " +
      s"$unstable with unstable retry-free counters")
    unstable
  }
}
