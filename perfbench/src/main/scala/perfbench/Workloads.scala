package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Tables
import graft.functions.{DictionaryLocator, LexiconSentiment, TextFunctions}
import graft.model.TweetSchema
import graft.operators.{Checkpoints, Curation, Dedup, LakeMerge, TweetOps}
import graft.pipeline.{BackfillJob, IngestJob, MonthlyRollup}
import graft.queries.CurationQueries
import graft.sources.TweetJsonSource
import graft.streaming.StreamingIngest

/** What one measured phase produced. Times are seconds of the timed
  * region only (checks and landing files are outside it). `writeBaseB` is
  * the input the phase's writes stand for, the base of `write_amp`.
  */
final case class Measured(units: Int, wallS: Double, cpuS: Double, docs: Long,
    inBytes: Long, batchS: Seq[Double], publishS: Double, writeBaseB: Long)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long,
    val probe: Probe, val ledger: Ledger) {
  /** Wall seconds spent in correctness checks (reported, never timed). */
  var checkS = 0.0
  def checking[T](body: => T): T = {
    val t0 = System.nanoTime()
    try Probe.labelled(spark, "check")(body) finally checkS += (System.nanoTime() - t0) / 1e9
  }
  def path(parts: String*): String = parts.foldLeft(dir)(new File(_, _)).getPath
  def write(dirPath: String, f: Gen.RawFile): String = {
    val d = new File(dirPath); d.mkdirs()
    val out = new File(d, f.name)
    Files.write(out.toPath, f.bytes)
    out.getPath
  }
}

/** A workload: set-up that is repeated identically (its median is
  * `setup_s`), and a measured phase that is either untraced (timed end to
  * end) or traced (each layer cut apart and timed from outside).
  */
trait Workload {
  /** Generate and write the inputs; repeated, so must be idempotent. */
  def setup(rep: Int): Unit
  /** One-time state and warm-up after the last set-up: the lake build or
    * a warm-up pass. Identical on every run.
    */
  def prepare(): Unit
  /** Files (or passes) one unit of the end-to-end phase covers. */
  def unitSize: Int
  /** Files (or passes) of each unit of a `--trace 1` run. That run does
    * an untraced and then a traced unit of this size, so half an
    * end-to-end unit keeps its timed work about that of an end-to-end run.
    */
  def traceUnitSize: Int
  /** Units of `size` until `seconds` of timed region have passed (at
    * least one).
    */
  def measure(seconds: Double, tracer: Option[Tracer], size: Int): Measured
  def inputsJson: String
  /** Stream-layer self time (triggerExecution - addBatch) observed by the
    * last untraced phase, 0 when the workload has no stream. A traced
    * phase replaces the stream's batch body with the cut chain, so this
    * is reported on its own and stays out of the traced accounting.
    */
  def streamSelfS: Double = 0.0
}

object Workload {
  val Names: Seq[String] = Seq("month_ingest", "rescrape_stream", "curation")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "month_ingest" => new MonthIngest(ctx)
    case "rescrape_stream" => new RescrapeStream(ctx)
    case "curation" => new CurationWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(", ")})")
  }
}

/** Pieces shared by the two tweet workloads. */
abstract class TweetWorkload(ctx: Ctx) extends Workload {
  import ctx.{ledger, spark}

  val dict: DictionaryLocator.LocationDict = DictionaryLocator.Indonesian
  val lexicon: LexiconSentiment.Lexicon = LexiconSentiment.Indonesian
  val job: IngestJob = IngestJob(dict, lexicon)

  /** Fixed processing clock: lake bytes (and so `write_amp`) repeat. */
  val T0: Long = java.time.LocalDate.of(2025, 2, 1).atStartOfDay(java.time.ZoneOffset.UTC)
    .toEpochSecond
  def nowCol(epoch: Long): Column = timestamp_seconds(lit(epoch))

  val LakeCols = Seq("_id", "content", "metadata", "metrics", "processing_status",
    "sentiment_analysis", "location", LakeMerge.PartitionCol)

  def lakeFold(lake: String): (Long, BigDecimal) = Fold(LakeMerge.readLake(spark, lake), LakeCols)

  /** The dashboard aggregate: docs per day x province x sentiment label
    * (bounded: days x provinces x labels rows). Returns the doc total.
    */
  def dashboard(lake: String): Long =
    LakeMerge.readLake(spark, lake)
      .groupBy(col(LakeMerge.PartitionCol), col("location.province").as("province"),
        col("sentiment_analysis.label").as("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(LakeMerge.PartitionCol, "province", "label")
      .collect().map(_.getLong(3)).sum

  /** Independent last-write-wins recomputation of the lake: for every
    * `_id` the record from the highest-ordered source wins, then the
    * winners are transformed with the clock their source was ingested
    * with. No `LakeMerge` code is involved. Sources are files or
    * directories of files; all of them are read in one scan, and a
    * record's order comes from its file's name.
    */
  def expectedLake(sources: Seq[(String, Int, Long)]): DataFrame = {
    val rawCols = TweetSchema.rawScrape.fieldNames.toSeq
    val files = sources.flatMap { case (p, ord, _) =>
      val f = new File(p)
      (if (f.isDirectory) f.listFiles().toSeq.filter(_.isFile) else Seq(f)).map(_ -> ord)
    }
    require(files.map(_._1.getName).distinct.size == files.size, "source file names must be unique")
    val ordOf = typedLit(files.map { case (f, ord) => f.getName -> ord }.toMap)
    val raw = spark.read.schema(TweetSchema.rawScrape).json(files.map(_._1.getPath): _*)
      .withColumn("__ord", element_at(ordOf, col("_metadata.file_name")))
    val winners = raw.groupBy(col("_id").as("__k"))
      .agg(max(struct(col("__ord"), struct(rawCols.map(col): _*).as("r"))).as("m"))
      .select(col("m.__ord").as("__ord"), col("m.r.*"))
    sources.groupBy(_._3).toSeq.sortBy(_._1).map { case (epoch, ss) =>
      job.transform(winners.filter(col("__ord").isin(ss.map(_._2): _*)).drop("__ord"),
        nowCol(epoch))
    }.reduce(_ unionByName _)
      .withColumn(LakeMerge.PartitionCol, to_date(col("metadata.created_at")))
  }

  /** The per-unit correctness checks shared by both tweet workloads. */
  def checkLake(lake: String, rollup: String, expected: DataFrame, dashTotal: Option[Long],
      backfillLeft: Option[Long], lastBatch: (String, Long)): Unit = ctx.checking {
    val exp = Fold(expected, LakeCols)
    val got = lakeFold(lake)
    ledger.check("lake equals last-write-wins recomputation")(got == exp)
    ledger.check("no _id appears twice") {
      LakeMerge.readLake(spark, lake).groupBy("_id").count().filter(col("count") > 1).isEmpty
    }
    ledger.check("dashboard totals equal lake rows")(dashTotal.contains(exp._1))
    ledger.check("BackfillJob returns 0") {
      backfillLeft.getOrElse(BackfillJob(dict, lexicon).run(spark, lake, nowCol(T0))) == 0L
    }
    ledger.check("re-running the last batch leaves the lake unchanged") {
      job.run(spark, lastBatch._1, lake, nowCol(lastBatch._2))
      lakeFold(lake) == got
    }
    ledger.check("second MonthlyRollup.runIfNeeded returns false") {
      !MonthlyRollup.runIfNeeded(spark, lake, Gen.YearMonth, rollup)
    }
  }

  private def mat(df: DataFrame): DataFrame = df.localCheckpoint()

  /** One batch through the transform and merge, cut at every layer: each
    * layer runs over its materialized input, so its step time is its self
    * time. The fused `IngestJob.transform` is also timed, and its output
    * is what gets merged — the lake ends up byte-for-byte as untraced.
    */
  def tracedIngest(t: Tracer, rawPath: String, lake: String, now: Column): Unit = {
    val raw = t.step("sources")(mat(TweetJsonSource.readRawScrape(spark, rawPath)))
    val nested = t.step("tweetops")(mat(TweetOps.nest(TweetOps.minLengthFilter(raw), now)))
    val cleaned = t.step("clean")(mat(nested.select(col("_id"),
      TextFunctions.cleanTweetText(coalesce(col("content.text"), lit(""))).as("clean_text"))))
    val located = t.step("locate") {
      nested.select(DictionaryLocator.detect(
        concat_ws(" ", col("content.text"), col("metadata.author_name")), dict).as("d"))
        .agg(bit_xor(xxhash64(col("d"))), sum(when(col("d").isNotNull, 1L).otherwise(0L)))
        .head().getLong(1)
    }
    val signal = t.step("sentiment") {
      cleaned.select(LexiconSentiment.score(substring(col("clean_text"), 1, 512), lexicon).as("s"))
        .agg(bit_xor(xxhash64(col("s"))), sum(when(col("s.confidence_score") > 0, 1L).otherwise(0L)))
        .head().getLong(1)
    }
    val fused = t.step("transform")(mat(job.transform(raw, now)))
    t.untimed {
      val dates = fused.select(to_date(col("metadata.created_at"))).distinct()
        .collect().map(_.getDate(0))
      t.add("merge.partitions_touched", dates.length.toDouble)
      if (new File(lake).exists()) t.add("merge.existing_rows_read", LakeMerge.readLake(spark, lake)
        .filter(col(LakeMerge.PartitionCol).isin(dates.toSeq: _*)).count().toDouble)
    }
    t.step("merge")(LakeMerge.mergeWrite(spark, fused, lake))
    t.untimed {
      val rawRows = raw.count()
      val kept = nested.count()
      t.add("sources.rows", rawRows.toDouble)
      t.add("tweetops.rows", kept.toDouble)
      t.add("locate.hits", located.toDouble)
      t.add("sentiment.signal", signal.toDouble)
      t.add("merge.incoming", kept.toDouble)
      Seq(raw, nested, cleaned, fused).foreach(Checkpoints.freeFrame)
    }
  }

  /** Rollup plus dashboard; returns the dashboard's doc total. */
  def publish(t: Option[Tracer], lake: String, rollup: String): Long = t match {
    case None =>
      MonthlyRollup.runIfNeeded(spark, lake, Gen.YearMonth, rollup)
      dashboard(lake)
    case Some(tr) =>
      tr.step("rollup")(MonthlyRollup.runIfNeeded(spark, lake, Gen.YearMonth, rollup))
      tr.step("dashboard")(dashboard(lake))
  }

  /** Publish inside the timed region, then (untraced) twice more outside
    * it into fresh directories: one sub-second publish per run is too
    * few samples, so `publish_s` is the median of the three. Returns the
    * timed publish's dashboard total and the seconds to report.
    */
  def timedPublish(clock: Clock, tracer: Option[Tracer], lake: String,
      rollup: String): (Option[Long], Double) = {
    val first = clock(tracer)(ledger.timed("publish")(publish(tracer, lake, rollup)))
    val again = if (tracer.nonEmpty) Nil else (1 to 2).flatMap(i =>
      ledger.timed("publish again")(publish(None, lake, s"$rollup-again$i")).map(_._2))
    val times = first.map(_._2).toSeq ++ again
    (first.map(_._1), if (times.isEmpty) 0.0 else Stats.median(times))
  }

  /** Time `body` as part of the timed region: wall and process CPU. */
  final class Clock {
    var wall = 0.0; var cpu = 0.0
    def apply[T](t: Option[Tracer])(body: => T): T = {
      val w0 = System.nanoTime(); val c0 = Jvm.cpuSeconds()
      val excluded0 = t.fold(0.0)(_.excludedS)
      try t.fold(Probe.labelled(spark, "run")(body))(_ => body)
      finally {
        wall += (System.nanoTime() - w0) / 1e9 - (t.fold(0.0)(_.excludedS) - excluded0)
        cpu += Jvm.cpuSeconds() - c0
      }
    }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

/** The month's first ten daily scrape files into an empty lake, one at
  * a time, then rollup and dashboard. Each unit starts from a fresh lake.
  */
final class MonthIngest(ctx: Ctx) extends TweetWorkload(ctx) {
  import ctx.{ledger, spark}
  /** Tweets per daily file: two 50-tweet extraction pages (the
    * reference's per-scroll page cap). Its daily cap is 10,000 tweets;
    * a 30-file month at that size does not fit the run budget.
    */
  val PerDay = 100
  /** Re-scrapes of the previous day per file. The reference publishes no
    * overlap rate; 5 % keeps the merge nearly append-only.
    */
  val Overlap = 5
  /** Daily files per unit. A batch costs about 1 s whatever its size, and
    * a whole 30-day month per run does not fit the run budget (README).
    */
  val DaysIngested = 10
  def unitSize: Int = DaysIngested
  def traceUnitSize: Int = DaysIngested / 2
  private var gen: Gen.Tweets = _
  private var raw: Seq[Gen.RawFile] = Nil
  private var files: Seq[String] = Nil

  def setup(rep: Int): Unit = Probe.labelled(spark, "setup") {
    gen = new Gen.Tweets(ctx.seed)
    raw = gen.dailyFiles(PerDay, Overlap, DaysIngested)
    val landing = ctx.path(s"setup$rep", "landing")
    files = raw.map(ctx.write(landing, _))
  }

  /** Warm-up: the same first batch, rollup and dashboard on every run.
    * More warm-up batches do not pay: with three, the first timed batches
    * were still as slow while the JIT compiled, and set-up took 6 s longer.
    */
  def prepare(): Unit = Probe.labelled(spark, "setup") {
    val lake = ctx.path("warm-lake")
    job.runWithStats(spark, files.head, lake, nowCol(T0))
    MonthlyRollup.runIfNeeded(spark, lake, Gen.YearMonth, ctx.path("warm-rollup"))
    dashboard(lake)
  }

  def inputsJson: String = gen.props.toJson

  def measure(seconds: Double, tracer: Option[Tracer], size: Int): Measured = {
    val clock = new Clock
    val batchS = mutable.ArrayBuffer.empty[Double]
    var publishS = 0.0
    var units = 0
    val unit = files.take(size)
    val inBytes = raw.take(size).map(_.bytes.length.toLong).sum
    val docs = raw.take(size).map(_.records.size.toLong).sum
    while (units == 0 || clock.wall < seconds) {
      val tag = tracer.fold(s"u$units")(_ => s"t$units")
      val lake = ctx.path(tag, "lake")
      val rollup = ctx.path(tag, "rollup")
      val now = nowCol(T0)
      unit.foreach { f =>
        clock(tracer) {
          ledger.timed(s"ingest $f") {
            tracer.fold { job.runWithStats(spark, f, lake, now); () }(tracedIngest(_, f, lake, now))
          }
        }.foreach(r => batchS += r._2)
      }
      val (dash, pubS) = timedPublish(clock, tracer, lake, rollup)
      publishS += pubS
      checkLake(lake, rollup, expectedLake(unit.zipWithIndex.map { case (f, i) => (f, i, T0) }),
        dash, None, (unit.last, T0))
      units += 1
    }
    Measured(units, clock.wall, clock.cpu, docs * units, inBytes * units, batchS.toSeq,
      publishS / units, inBytes * units)
  }
}

/** A one-month lake re-scraped by a stream of sliding-window files:
  * `StreamingIngest.start` drains them one file per trigger, then
  * `BackfillJob` repairs the half-processed rows, then rollup and
  * dashboard. Each unit starts from a copy of the set-up lake.
  */
final class RescrapeStream(ctx: Ctx) extends TweetWorkload(ctx) {
  import ctx.{ledger, probe, spark}
  /** Base lake: two 50-tweet extraction pages per day. */
  val BasePerDay = 100
  /** Half-processed rows for `BackfillJob`: one 50-doc backfill batch
    * (the reference's sentiment batch size).
    */
  val Unprocessed = 50
  /** Files the stream drains; bounded by the run budget (see README). */
  val FileCount = 6
  def unitSize: Int = FileCount
  def traceUnitSize: Int = FileCount / 2
  /** Files a warm-up stream drains before anything is timed: the stream
    * path's first trigger runs about twice as long as the rest.
    */
  val WarmFiles = 1
  /** Per day of a file's 7-day window, one 50-tweet page: 44 known
    * tweets with grown metrics and 6 new ones.
    */
  val Existing = 44
  val Fresh = 6
  /** The stream's processing clock: one hour after the base lake's. */
  val TS: Long = T0 + 3600

  private var gen: Gen.Tweets = _
  private var baseDir, plantedPath, lakeSeed, staging: String = _
  private var rescrapes: Seq[Gen.RawFile] = Nil
  private var lastStreamSelf = 0.0

  def setup(rep: Int): Unit = Probe.labelled(spark, "setup") {
    gen = new Gen.Tweets(ctx.seed)
    baseDir = ctx.path(s"setup$rep", "base")
    gen.baseMonth(BasePerDay).foreach(ctx.write(baseDir, _))
    plantedPath = ctx.write(ctx.path(s"setup$rep", "planted"), gen.unprocessed(Unprocessed))
    rescrapes = (0 until FileCount).map(gen.rescrapeFile(_, BasePerDay, Existing, Fresh))
    staging = ctx.path(s"setup$rep", "staging")
    rescrapes.foreach(ctx.write(staging, _))
  }

  /** The one-month lake every unit starts from, then a warm-up stream
    * over a copy of it. The base month goes through the ingest transform;
    * the planted rows are only nested, so `BackfillJob` has them to
    * repair. Both land in one merge.
    */
  def prepare(): Unit = Probe.labelled(spark, "setup") {
    lakeSeed = ctx.path("lake")
    LakeMerge.mergeWrite(spark,
      job.transform(TweetJsonSource.readRawScrape(spark, baseDir), nowCol(T0)).unionByName(
        TweetOps.nest(TweetJsonSource.readRawScrape(spark, plantedPath), nowCol(T0))), lakeSeed)
    val (lake, landing, _) = startUnit("warm", rescrapes.take(WarmFiles))
    drain(landing, lake, ctx.path("warm", "ckpt"))
  }

  /** A unit's lake (a copy of the set-up lake) and its landed files, in
    * the stream's file order.
    */
  private def startUnit(tag: String, files: Seq[Gen.RawFile]): (String, String, Seq[String]) = {
    val lake = ctx.path(tag, "lake")
    val landing = new File(ctx.path(tag, "landing"))
    copyTree(new File(lakeSeed).toPath, new File(lake).toPath)
    landing.mkdirs()
    val landed = files.zipWithIndex.map { case (f, i) =>
      val to = new File(landing, f.name)
      Files.copy(new File(staging, f.name).toPath, to.toPath)
      to.setLastModified(1700000000000L + i * 1000L)
      to.getPath
    }
    (lake, landing.getPath, landed)
  }

  private def drain(landing: String, lake: String, ckpt: String): Unit = {
    val q = StreamingIngest.start(spark, landing, lake, ckpt, dict, lexicon, now = nowCol(TS),
      maxFilesPerTrigger = 1)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def inputsJson: String = gen.props.toJson
  override def streamSelfS: Double = lastStreamSelf

  /** Per-trigger durations reported by the stream itself. */
  private final class Progress extends StreamingQueryListener {
    val trigger = mutable.ArrayBuffer.empty[Double]
    val addBatch = mutable.ArrayBuffer.empty[Double]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        trigger += p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3
        addBatch += p.durationMs.getOrDefault("addBatch", 0L) / 1e3
      }
    }
  }

  def measure(seconds: Double, tracer: Option[Tracer], size: Int): Measured = {
    val clock = new Clock
    val batchS = mutable.ArrayBuffer.empty[Double]
    var publishS = 0.0
    var units = 0
    val unit = rescrapes.take(size)
    val inBytes = unit.map(_.bytes.length.toLong).sum
    val docs = unit.map(_.records.size.toLong).sum
    while (units == 0 || clock.wall < seconds) {
      val tag = tracer.fold(s"u$units")(_ => s"t$units")
      val rollup = ctx.path(tag, "rollup")
      val (lake, landing, landed) = startUnit(tag, unit)
      tracer match {
        case None =>
          val progress = new Progress
          spark.streams.addListener(progress)
          try clock(tracer) {
            ledger.op("stream drain")(drain(landing, lake, ctx.path(tag, "ckpt")))
          } finally {
            probe.drain(spark)
            spark.streams.removeListener(progress)
          }
          ledger.check("stream committed one batch per file")(progress.trigger.size == size)
          batchS ++= progress.trigger
          lastStreamSelf = progress.trigger.sum - progress.addBatch.sum
        case Some(t) =>
          landed.foreach { f =>
            clock(tracer)(ledger.timed(s"ingest $f")(tracedIngest(t, f, lake, nowCol(TS))))
              .foreach(r => batchS += r._2)
          }
      }
      val left = clock(tracer)(ledger.op("backfill") {
        tracer.fold(BackfillJob(dict, lexicon).run(spark, lake, nowCol(T0))) { t =>
          t.untimed(t.add("backfill.repaired_rows",
            TweetOps.unprocessed(LakeMerge.readLake(spark, lake)).count().toDouble))
          t.step("backfill")(BackfillJob(dict, lexicon).run(spark, lake, nowCol(T0)))
        }
      })
      val (dash, pubS) = timedPublish(clock, tracer, lake, rollup)
      publishS += pubS
      val sources = Seq((baseDir, 0, T0), (plantedPath, 0, T0)) ++
        landed.zipWithIndex.map { case (f, i) => (f, i + 1, TS) }
      checkLake(lake, rollup, expectedLake(sources), dash, Some(left.getOrElse(-1L)),
        (landed.last, TS))
      units += 1
    }
    Measured(units, clock.wall, clock.cpu, docs * units, inBytes * units, batchS.toSeq,
      publishS / units, inBytes * units)
  }
}

/** The end-to-end curation chain (`CurationQueries.curationE2e`) over a
  * seeded corpus, one pass per batch, then a write of the curated output.
  */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import ctx.{ledger, spark}
  val Docs = 1000
  /** Passes an untraced run makes at least, so the tail rule has ten
    * samples beyond its percentile.
    */
  val MinPasses = 11
  /** Passes of each unit of a `--trace 1` run (untraced and traced alike),
    * so one cold pass does not decide `trace.overhead_s`.
    */
  val TracePasses = 3
  def unitSize: Int = MinPasses
  def traceUnitSize: Int = TracePasses
  /** Warm-up passes before anything is timed. */
  val WarmPasses = 2
  /** Mirrors of CurationQueries' private constants; a drift shows as a
    * failed traced-equals-untraced check.
    */
  val BenchMod = 23
  val DecontamN = 5
  private val OutCols = Seq("doc_id", "lang", "n_tokens")
  private var corpus: Gen.CorpusProps = _
  private var corpusDir: String = _

  def setup(rep: Int): Unit = Probe.labelled(spark, "setup") {
    corpus = Gen.corpus(ctx.seed, Docs)
    corpusDir = ctx.path(s"setup$rep", "corpus")
    import spark.implicits._
    corpus.docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$corpusDir/documents.parquet")
  }

  /** Warm-up: the same passes of the chain on every run. */
  def prepare(): Unit = Probe.labelled(spark, "setup") {
    (1 to WarmPasses).foreach(_ => Fold(CurationQueries.curationE2e(spark, corpusDir), OutCols))
  }

  def inputsJson: String = corpus.toJson

  /** curationE2e rebuilt from the same public operators with a cut after
    * each layer, so each layer's step time is its self time.
    */
  private def tracedPass(t: Tracer): DataFrame = {
    import spark.implicits._
    def mat(df: DataFrame) = df.localCheckpoint()
    val docs = t.step("sources")(mat(Tables.wide(spark, corpusDir, "documents")))
    val normed = t.step("normalize")(mat(docs.select($"doc_id", $"lang",
      TextFunctions.redactPii(TextFunctions.nfcNormalize($"text")).as("r"))))
    val bench = normed.filter($"doc_id" % BenchMod === 0)
    val corpusDf = normed.filter($"doc_id" % BenchMod =!= 0)
    val deduped = t.step("dedup.exact")(mat(Dedup.exact(corpusDf,
      lower(TextFunctions.pyStrip($"r")), $"doc_id", payload = Seq("doc_id", "lang", "r"))))
    val pairsPlan = Dedup.nearDuplicatePairsExact(deduped, $"doc_id", $"r",
      threshold = 0.5, maxShingleDfQuantile = Some(0.999))
    val pairs = t.step("dedup.pairs")(mat(pairsPlan))
    val jobs0 = { ctx.probe.drain(spark); ctx.probe.step("dedup.cc").jobs }
    val dupDrop = t.step("dedup.cc")(mat(Dedup.connectedComponents(pairs, $"id_a", $"id_b")
      .filter($"node" =!= $"cluster_rep").select($"node".as("doc_id"))))
    val afterDup = deduped.join(dupDrop, Seq("doc_id"), "left_anti")
    val contaminated = t.step("curation.decontam")(mat(Curation
      .contaminationMarks(afterDup, $"doc_id", $"r", bench, $"r", n = DecontamN)
      .filter($"contaminated").select($"id".as("doc_id"))))
    val out = t.step("curation.gate") {
      val decon = afterDup.join(contaminated, Seq("doc_id"), "left_anti")
      val nt = TextFunctions.tokenCount($"r").cast("long")
      mat(decon.select($"doc_id", $"lang", nt.as("n_tokens"),
        TextFunctions.punctCount($"r").cast("long").as("__np"))
        .filter($"n_tokens" >= 20 && $"__np" <= $"n_tokens")
        .select($"doc_id", $"lang", $"n_tokens").orderBy($"doc_id"))
    }
    t.untimed {
      ctx.probe.drain(spark)
      t.add("dedup.cc_jobs", (ctx.probe.step("dedup.cc").jobs - jobs0).toDouble)
      t.add("dedup.candidate_pairs", PlanMetrics.candidatePairs(pairsPlan).toDouble)
      val verified = pairs.count()
      t.add("dedup.verified_pairs", verified.toDouble)
      val fam = corpus.docs.map(d => (d.id, d.family)).toDF("id", "family")
      val same = pairs.join(fam.toDF("id_a", "fa"), "id_a").join(fam.toDF("id_b", "fb"), "id_b")
        .filter($"fa" === $"fb").count()
      t.add("dedup.same_family_pairs", same.toDouble)
      t.add("curation.corpus_rows", corpusDf.count().toDouble)
      t.add("curation.kept_rows", out.count().toDouble)
      t.add("sources.rows", docs.count().toDouble)
    }
    out
  }

  def measure(seconds: Double, tracer: Option[Tracer], size: Int): Measured = {
    val w0 = System.nanoTime()
    val cpu0 = Jvm.cpuSeconds()
    val batchS = mutable.ArrayBuffer.empty[Double]
    val folds = mutable.ArrayBuffer.empty[(Long, BigDecimal)]
    def elapsed = (System.nanoTime() - w0) / 1e9
    var passes = 0
    var traced: DataFrame = null
    val timedBody = () => {
      def more = passes < size || elapsed < seconds
      while (more) {
        tracer match {
          case None =>
            ledger.timed("curation pass")(Fold(CurationQueries.curationE2e(spark, corpusDir), OutCols))
              .foreach { case (f, s) => folds += f; batchS += s }
          case Some(t) =>
            ledger.timed("traced curation pass")(tracedPass(t)).foreach { case (df, s) =>
              traced = df; batchS += s
            }
        }
        passes += 1
      }
    }
    tracer.fold(Probe.labelled(spark, "run")(timedBody()))(_ => timedBody())
    val out = ctx.path(tracer.fold("curated")(_ => "curated-traced"))
    val pub = ledger.timed("publish") {
      tracer match {
        case None => Probe.labelled(spark, "run")(
          CurationQueries.curationE2e(spark, corpusDir).write.parquet(out))
        case Some(t) => t.step("curation.write")(traced.write.parquet(out))
      }
    }
    val wall = elapsed - tracer.fold(0.0)(_.excludedS)
    val cpu = Jvm.cpuSeconds() - cpu0
    ctx.checking {
      val written = Fold(spark.read.parquet(out), OutCols)
      if (tracer.isEmpty) {
        ledger.check("every pass gives the same curated rows")(folds.distinct.size == 1)
        ledger.check("curated output equals the curationE2e fold")(folds.headOption.contains(written))
      } else {
        ledger.check("traced chain equals curationE2e") {
          written == Fold(CurationQueries.curationE2e(spark, corpusDir), OutCols)
        }
      }
      ledger.check("at most one survivor per exact-duplicate group") {
        val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
        val groupOf = corpus.docs.map(d => d.id -> (if (d.exactOf >= 0) d.exactOf else d.id)).toMap
        kept.toSeq.groupBy(groupOf).forall(_._2.size <= 1)
      }
    }
    // the curated output is written once per run: its base is one corpus
    Measured(passes, wall, cpu, corpus.docs.size.toLong * passes,
      corpus.bytes.length.toLong * passes, batchS.toSeq, pub.fold(0.0)(_._2),
      corpus.bytes.length.toLong)
  }
}

/** Reads Spark's own per-operator metrics from an executed plan. */
object PlanMetrics extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.catalyst.expressions.aggregate.Final

  /** Distinct candidate pairs of `Dedup.nearDuplicatePairsExact`: the
    * output rows of the final (id_a, id_b) aggregate, before the jaccard
    * filter. -1 when the plan has no such node.
    */
  def candidatePairs(pairs: DataFrame): Long = {
    val found = collect(pairs.queryExecution.executedPlan) {
      case a: BaseAggregateExec
          if a.aggregateExpressions.nonEmpty && a.aggregateExpressions.forall(_.mode == Final) &&
            Set("id_a", "id_b").subsetOf(a.groupingExpressions.map(_.toString.takeWhile(_ != '#')).toSet) =>
        a.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    if (found.isEmpty) -1L else found.sum
  }
}
