package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Pipeline benchmark entry point.
  *
  * {{{
  * Main --workload <month_ingest|rescrape_stream|curation> --seed <n>
  *      --seconds <s> --trace <0|1> --dir <fresh run directory>
  * }}}
  *
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`. `--trace 0` reports the
  * end-to-end metrics of an untraced measured phase; `--trace 1` runs one
  * untraced unit and then one traced unit of the same, smaller work and
  * reports the per-layer metrics; `month_ingest` then also traces one
  * unit of the curation chain, so its layers are measured by a tweet
  * workload too. The line before it is a `perfbench` detail object: input
  * properties, the tail rule's percentile and sample count, the
  * environment stamp, per-step shares and any failures.
  */
object Main {
  /** Input set-up is repeated this many times; `setup_s` uses the median. */
  val SetupReps = 3

  /** End-to-end metric names and units, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "docs/s", "batch_s_p50" -> "s",
    "batch_s_tail" -> "s", "publish_s" -> "s", "cpu_s_per_kdoc" -> "s",
    "write_amp" -> "B/B", "peak_heap_mb" -> "MiB", "ok_ratio" -> "fraction")

  /** Layers in the order the trace table lists them. */
  val Layers: Seq[String] = Seq("sources", "tweetops", "clean", "locate", "sentiment", "merge",
    "stream", "backfill", "rollup", "dashboard", "normalize", "dedup", "curation")

  /** Per-layer metric names and units, in output order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.in_bytes" -> "B",
    "tweetops.nest_s" -> "s", "tweetops.kept_ratio" -> "fraction",
    "clean.s" -> "s", "clean.rows_per_s" -> "rows/s",
    "locate.s" -> "s", "locate.rows_per_s" -> "rows/s", "locate.hit_ratio" -> "fraction",
    "sentiment.s" -> "s", "sentiment.signal_ratio" -> "fraction",
    "transform.fusion_gap_s" -> "s",
    "merge.s" -> "s", "merge.existing_rows_read" -> "rows", "merge.rows_written" -> "rows",
    "merge.rewrite_ratio" -> "rows/row", "merge.partitions_touched" -> "count",
    "merge.shuffle_b" -> "B", "merge.jobs" -> "count", "merge.task_skew" -> "max/median",
    "stream.batches" -> "count", "stream.add_batch_s" -> "s", "stream.overhead_s" -> "s",
    "backfill.s" -> "s", "backfill.repaired_rows" -> "rows",
    "rollup.s" -> "s", "rollup.out_bytes" -> "B",
    "dashboard.s" -> "s",
    "normalize.s" -> "s",
    "dedup.exact_s" -> "s", "dedup.pairs_s" -> "s", "dedup.candidate_pairs" -> "pairs",
    "dedup.verified_pairs" -> "pairs", "dedup.pair_precision" -> "fraction",
    "dedup.cc_s" -> "s", "dedup.cc_jobs" -> "count",
    "curation.decontam_s" -> "s", "curation.gate_s" -> "s", "curation.kept_ratio" -> "fraction",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_b" -> "B",
    "spark.spill_b" -> "B", "spark.stage_retries" -> "count", "jvm.gc_s" -> "s",
    "trace.overhead_s" -> "s", "trace.unattributed_share" -> "fraction",
    "trace.dominant_layer" -> "index")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, dir: File)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, new File(need("dir")))
  }

  def session(dir: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(dir, "hadoop-tmp").getPath)
      // the status store keeps every job, stage and SQL plan for a UI that
      // is off; bounded, it no longer fills the fixed heap over a run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv.toSeq)
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    a.dir.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = session(a.dir, cores)
    try {
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      val ledger = new Ledger
      val ctx = new Ctx(spark, a.dir, a.seed, probe, ledger)
      val wl = Workload(a.workload, ctx)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val setups = (0 until SetupReps).map { rep =>
        val s0 = System.nanoTime()
        wl.setup(rep)
        (System.nanoTime() - s0) / 1e9
      }
      val p0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - p0) / 1e9
      val setupS = sessionS + Stats.median(setups) + prepareS
      val detail = Seq.newBuilder[(String, Any)]
      detail += "workload" -> a.workload
      detail += "seed" -> a.seed
      detail += "trace" -> a.trace
      detail += "env" -> Json.Raw(Json.obj(Seq(
        "spark" -> spark.version, "local_cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "session_s" -> sessionS, "setup_reps_s" -> setups, "prepare_s" -> prepareS)))
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) endToEnd(ctx, wl, a.seconds, setupS, detail)
        else perLayer(ctx, wl, detail)
      detail += "inputs" -> Json.Raw(wl.inputsJson)
      detail += "checks_s" -> ctx.checkS
      detail += "total_s" -> (System.nanoTime() - t0) / 1e9
      detail += "failures" -> ledger.failures.toSeq
      println(Json.obj(Seq("perfbench" -> Json.Raw(Json.obj(detail.result())))))
      val ms = metrics.map { case (n, v, u) => n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }
      println(Json.obj(Seq("correct" -> (ledger.failed == 0), "attempted" -> ledger.attempted,
        "failed" -> ledger.failed, "metrics" -> Json.Raw(Json.obj(ms)))))
    } finally spark.stop()
  }

  private def endToEnd(ctx: Ctx, wl: Workload, seconds: Double, setupS: Double,
      detail: scala.collection.mutable.Builder[(String, Any), Seq[(String, Any)]])
      : Seq[(String, Double, String)] = {
    Jvm.resetPeakHeap()
    val gc0 = Jvm.gcSeconds()
    val m = wl.measure(seconds, None, wl.unitSize)
    detail += "gc_s" -> (Jvm.gcSeconds() - gc0)
    detail += "batch_s" -> m.batchS
    val (peak, collections) = Jvm.peakHeapMb()
    detail += "gc_collections" -> collections
    ctx.probe.drain(ctx.spark)
    val run = ctx.probe.step("run")
    val tail = Stats.tail(m.batchS)
    detail += "units" -> m.units
    detail += "batches" -> m.batchS.size
    detail += "tail" -> Json.Raw(tail.toJson)
    val values = Map(
      "setup_s" -> setupS,
      "docs_per_s" -> m.docs / m.wallS,
      "batch_s_p50" -> Stats.median(m.batchS),
      "batch_s_tail" -> tail.value,
      "publish_s" -> m.publishS,
      "cpu_s_per_kdoc" -> m.cpuS / (m.docs / 1000.0),
      "write_amp" -> run.bytesWritten.toDouble / m.writeBaseB,
      "peak_heap_mb" -> peak,
      "ok_ratio" -> ctx.ledger.okRatio)
    EndToEnd.map { case (n, u) => (n, values(n), u) }
  }

  /** Self time per layer from a tracer's steps (a step `dedup.pairs`
    * belongs to layer `dedup`). The fused `transform` step is not a layer.
    */
  private def layerSelf(t: Tracer): Seq[(String, Double)] =
    Layers.map(l => l -> t.self.collect { case (k, v) if k.split('.')(0) == l => v }.sum)

  private def perLayer(ctx: Ctx, wl: Workload,
      detail: scala.collection.mutable.Builder[(String, Any), Seq[(String, Any)]])
      : Seq[(String, Double, String)] = {
    val probe = ctx.probe
    val gc0 = Jvm.gcSeconds()
    val plain = wl.measure(0, None, wl.traceUnitSize)
    val gcS = Jvm.gcSeconds() - gc0
    probe.drain(ctx.spark)
    val run = probe.step("run")
    val t = new Tracer(ctx.spark)
    val traced = wl.measure(0, Some(t), wl.traceUnitSize)
    probe.drain(ctx.spark)
    def ratio(n: Double, d: Double) = if (d == 0) 0.0 else n / d
    // The fused transform re-runs the cut tweet layers to measure the
    // fusion gap and feed the merge: trace overhead, not a layer. Layer
    // shares are of the traced wall without it.
    val transformS = t.seconds("transform")
    val wall = traced.wallS - transformS
    val self = layerSelf(t)
    val attributed = self.map(_._2).sum
    val dominant = self.zipWithIndex.maxBy(_._1._2)
    // The curation chain's layers: the workload's own, or one traced side
    // unit of the chain, so a tweet workload's trace run measures them too.
    val side = wl match {
      case _: MonthIngest =>
        val cw = new CurationWorkload(ctx)
        cw.setup(0)
        cw.prepare()
        val ct = new Tracer(ctx.spark)
        val m = cw.measure(0, Some(ct), cw.traceUnitSize)
        probe.drain(ctx.spark)
        val cs = layerSelf(ct)
        detail += "curation_side" -> Json.Raw(Json.obj(Seq(
          "traced_wall_s" -> m.wallS,
          "unattributed_share" -> ratio(m.wallS - cs.map(_._2).sum, m.wallS),
          "dominant_layer" -> cs.maxBy(_._2)._1,
          "layer_share" -> Json.Raw(Json.obj(cs.map { case (k, v) => k -> ratio(v, m.wallS) })),
          "inputs" -> Json.Raw(cw.inputsJson))))
        Some(ct)
      case _ => None
    }
    val ct = side.getOrElse(t)
    val s = t.seconds _
    val c = (k: String) => t.counts.getOrElse(k, 0.0)
    val cs = ct.seconds _
    val cc = (k: String) => ct.counts.getOrElse(k, 0.0)
    val merge = probe.step("merge")
    val skew = {
      val ms = merge.taskMs.sorted
      if (ms.isEmpty) 0.0 else ratio(ms.last.toDouble, ms(ms.size / 2).toDouble)
    }
    val values = Map[String, Double](
      "sources.read_s" -> s("sources"), "sources.in_bytes" -> traced.inBytes.toDouble,
      "tweetops.nest_s" -> s("tweetops"), "tweetops.kept_ratio" -> ratio(c("tweetops.rows"), c("sources.rows")),
      "clean.s" -> s("clean"), "clean.rows_per_s" -> ratio(c("tweetops.rows"), s("clean")),
      "locate.s" -> s("locate"), "locate.rows_per_s" -> ratio(c("tweetops.rows"), s("locate")),
      "locate.hit_ratio" -> ratio(c("locate.hits"), c("tweetops.rows")),
      "sentiment.s" -> s("sentiment"),
      "sentiment.signal_ratio" -> ratio(c("sentiment.signal"), c("tweetops.rows")),
      "transform.fusion_gap_s" -> (if (transformS > 0)
        s("tweetops") + s("clean") + s("locate") + s("sentiment") - transformS else 0.0),
      "merge.s" -> s("merge"), "merge.existing_rows_read" -> c("merge.existing_rows_read"),
      "merge.rows_written" -> merge.recordsWritten.toDouble,
      "merge.rewrite_ratio" -> ratio(merge.recordsWritten.toDouble, c("merge.incoming")),
      "merge.partitions_touched" -> c("merge.partitions_touched"),
      "merge.shuffle_b" -> merge.shuffleB.toDouble, "merge.jobs" -> merge.jobs.toDouble,
      "merge.task_skew" -> skew,
      "stream.batches" -> (if (wl.streamSelfS > 0) plain.batchS.size.toDouble else 0.0),
      "stream.add_batch_s" -> (if (wl.streamSelfS > 0) plain.batchS.sum - wl.streamSelfS else 0.0),
      "stream.overhead_s" -> wl.streamSelfS,
      "backfill.s" -> s("backfill"), "backfill.repaired_rows" -> c("backfill.repaired_rows"),
      "rollup.s" -> s("rollup"), "rollup.out_bytes" -> probe.step("rollup").bytesWritten.toDouble,
      "dashboard.s" -> s("dashboard"),
      "normalize.s" -> cs("normalize"),
      "dedup.exact_s" -> cs("dedup.exact"), "dedup.pairs_s" -> cs("dedup.pairs"),
      "dedup.candidate_pairs" -> cc("dedup.candidate_pairs"),
      "dedup.verified_pairs" -> cc("dedup.verified_pairs"),
      "dedup.pair_precision" -> ratio(cc("dedup.same_family_pairs"), cc("dedup.verified_pairs")),
      "dedup.cc_s" -> cs("dedup.cc"), "dedup.cc_jobs" -> cc("dedup.cc_jobs"),
      "curation.decontam_s" -> cs("curation.decontam"), "curation.gate_s" -> cs("curation.gate"),
      "curation.kept_ratio" -> ratio(cc("curation.kept_rows"), cc("curation.corpus_rows")),
      "spark.jobs" -> run.jobs.toDouble, "spark.tasks" -> run.tasks.toDouble,
      "spark.shuffle_b" -> run.shuffleB.toDouble, "spark.spill_b" -> run.spillB.toDouble,
      "spark.stage_retries" -> run.stageRetries.toDouble, "jvm.gc_s" -> gcS,
      // the traced unit has no stream: compare it with the untraced wall
      // less the stream's own time
      "trace.overhead_s" -> (traced.wallS - (plain.wallS - wl.streamSelfS)),
      "trace.unattributed_share" -> ratio(wall - attributed, wall),
      "trace.dominant_layer" -> dominant._2.toDouble)
    detail += "untraced_wall_s" -> plain.wallS
    detail += "traced_wall_s" -> traced.wallS
    detail += "transform_s" -> transformS
    detail += "dominant_layer" -> dominant._1._1
    detail += "layer_share" -> Json.Raw(Json.obj(self.map { case (k, v) => k -> ratio(v, wall) }))
    detail += "stream_share_of_untraced" -> ratio(wl.streamSelfS, plain.wallS)
    PerLayer.map { case (n, u) => (n, values(n), u) }
  }
}
