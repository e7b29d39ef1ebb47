package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.{DictionaryLocator, LexiconSentiment}
import graft.operators.LakeMerge
import graft.pipeline.IngestJob
import graft.sources.TweetJsonSource
import graft.streaming.StreamingIngest

class StreamingIngestSpec extends SparkSpec {

  private val fixedNow = to_timestamp(lit("2025-06-01 10:00:00"))

  private def tmpDir(name: String): String = {
    val d = s"target/tmp/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(d))
    d
  }

  private def raw(id: String, text: String, createdAt: String): String =
    s"""{"_id":"$id","text":"$text","author_name":"A","author_handle":"a","created_at":"$createdAt","location":null,"tweet_url":"https://x.com/a/status/$id","metrics":{"reply_count":0,"retweet_count":0,"like_count":0}}"""

  test("micro-batch file-stream ingest lands batches into the lake via idempotent merge") {
    val dir = tmpDir("stream-ingest")
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    Files.write(Paths.get(s"$landing/b1.json"), Seq(
      raw("1", "makan gratis di Bandung bagus", "2025-05-01T08:00:00Z"),
      raw("2", "program gagal", "2025-05-01T09:00:00Z")).mkString("\n").getBytes("UTF-8"))

    val q1 = StreamingIngest.start(spark, landing, s"$dir/lake", s"$dir/ck",
      DictionaryLocator.Indonesian, LexiconSentiment.Indonesian, fixedNow)
    q1.awaitTermination()
    assert(LakeMerge.readLake(spark, s"$dir/lake").count() == 2)

    // second file: one duplicate id (updated) + one new doc; a NEW
    // AvailableNow query resumes from the checkpoint and only reads b2
    Files.write(Paths.get(s"$landing/b2.json"), Seq(
      raw("2", "program sekarang lancar bagus", "2025-05-01T09:00:00Z"),
      raw("3", "antri panjang", "2025-05-02T07:00:00Z")).mkString("\n").getBytes("UTF-8"))
    val q2 = StreamingIngest.start(spark, landing, s"$dir/lake", s"$dir/ck",
      DictionaryLocator.Indonesian, LexiconSentiment.Indonesian, fixedNow)
    q2.awaitTermination()

    val lake = LakeMerge.readLake(spark, s"$dir/lake")
    assert(lake.count() == 3)
    val d2 = lake.filter(col("_id") === "2")
      .select(col("sentiment_analysis.label")).head.getString(0)
    assert(d2 == "positive") // the replacement doc won the merge
    // processed stamps present on streamed docs too
    assert(lake.filter(col("processing_status.cleaning_completed")).count() == 3)
  }

  test("streaming curation slice: gate + sample + cross-batch dedup survive checkpoint resume") {
    val dir = tmpDir("stream-curate")
    val landing = s"$dir/landing"
    val store = s"$dir/store"
    Files.createDirectories(Paths.get(landing))
    def doc(id: Long, text: String, lang: String = "en"): String =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang"}"""
    // lang 'xx' is sampled at rate 0.0 (always dropped), everything else
    // kept at 1.0 — the sample stage is exercised deterministically
    val rates = Map("xx" -> 0.0)
    def run(): Unit = {
      val q = StreamingIngest.startCurated(spark, landing, store, s"$dir/ck",
        rates, defaultRate = 1.0, minTokens = 3)
      q.awaitTermination()
    }
    Files.write(Paths.get(s"$landing/b1.json"), Seq(
      doc(10L, "the quick brown fox jumps"),
      doc(11L, "too short"),                       // quality gate: < 3 tokens
      doc(12L, "!!! ?? .. ;; ::"),                 // quality gate: punct > tokens
      doc(13L, "dropped by the sampler entirely", "xx"), // sample rate 0.0
      doc(14L, "  The Quick Brown Fox Jumps  "),   // dup of 10 after strip+lower
      doc(15L, "a genuinely different document here")).mkString("\n").getBytes("UTF-8"))
    run()
    val s1 = spark.read.parquet(store).select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // 10 survives (min doc_id beats 14), 15 survives; 11/12 gated, 13 sampled out
    assert(s1.toSeq === Seq(10L, 15L))

    // batch 2 through the SAME checkpoint: a cross-batch duplicate of doc
    // 10 (new id, same normalized text) must collapse onto 10 — the
    // representative is stable across batch boundaries — plus one new doc
    Files.write(Paths.get(s"$landing/b2.json"), Seq(
      doc(20L, "THE QUICK BROWN FOX JUMPS"),
      doc(21L, "brand new content in batch two")).mkString("\n").getBytes("UTF-8"))
    run()
    val s2 = spark.read.parquet(store).select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(s2.toSeq === Seq(10L, 15L, 21L))

    // checkpoint resume with nothing new: a no-op, not a re-application
    run()
    val s3 = spark.read.parquet(store).select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(s3.toSeq === Seq(10L, 15L, 21L))

    // and the store carries the representative's ORIGINAL payload (doc
    // 10's casing, not the batch-2 duplicate's)
    val kept10 = spark.read.parquet(store).filter(col("doc_id") === 10L)
      .select(col("text")).head.getString(0)
    assert(kept10 === "the quick brown fox jumps")
  }

  test("curated store: empty batches never rewrite it; a crash between delete and rename self-heals") {
    val dir = tmpDir("stream-curate-atomic")
    val landing = s"$dir/landing"
    val store = s"$dir/store"
    Files.createDirectories(Paths.get(landing))
    def doc(id: Long, text: String, lang: String = "en"): String =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang"}"""
    def run(): Unit = {
      val q = StreamingIngest.startCurated(spark, landing, store, s"$dir/ck",
        Map.empty, defaultRate = 1.0, minTokens = 3)
      q.awaitTermination()
    }
    Files.write(Paths.get(s"$landing/b1.json"), Seq(
      doc(1L, "first document with enough tokens"),
      doc(2L, "second document with enough tokens")).mkString("\n").getBytes("UTF-8"))
    run()
    def listing(): Seq[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq
        .map(s => (s.getPath.getName, s.getModificationTime)).sortBy(_._1)
    }
    val before = listing()

    // a batch whose every row is gated out contributes nothing — the
    // store's files must be byte-for-byte the ones already there, not a
    // rewrite of identical content (rewriting the only copy is pure risk)
    Files.write(Paths.get(s"$landing/b2.json"), Seq(
      doc(3L, "nope"), doc(4L, "!!! ?? ;;")).mkString("\n").getBytes("UTF-8"))
    run()
    assert(listing() === before, "empty-contribution batch rewrote the store")

    // crash simulation: the swap's manifest and deletes landed but no
    // rename did — the ONLY copy of the store now sits in the stage. The
    // next merge must roll it forward, so nothing curated is lost.
    BatchStoreSpec.crashMidSwap(spark, store)
    Files.write(Paths.get(s"$landing/b3.json"), Seq(
      doc(5L, "a fresh document after the crash")).mkString("\n").getBytes("UTF-8"))
    run()
    val ids = spark.read.parquet(store).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 5L))
    // and the adopted temp location is gone after the successful swap
    assert(!new java.io.File(store + "__next").exists())
    assert(!new java.io.File(store + "__manifest").exists())
  }

  test("curated store: a stage left by a crash in the first write is never adopted") {
    val dir = tmpDir("stream-curate-wedge")
    val landing = s"$dir/landing"
    val store = s"$dir/store"
    Files.createDirectories(Paths.get(landing))
    // a crash in the first stage write leaves the write job's temporary
    // dir and no live store (and no manifest)
    Files.createDirectories(Paths.get(s"${store}__next/_temporary/0"))
    Files.write(Paths.get(s"$landing/b1.json"), Seq(
      """{"doc_id":1,"text":"first document with enough tokens","lang":"en"}""")
      .mkString("\n").getBytes("UTF-8"))
    StreamingIngest.startCurated(spark, landing, store, s"$dir/ck",
      Map.empty, defaultRate = 1.0, minTokens = 3).awaitTermination()
    assert(spark.read.parquet(store).select(col("doc_id")).collect().map(_.getLong(0))
      .toSeq === Seq(1L))
    assert(!new java.io.File(store + "__next").exists())
  }

  test("watermarked daily sentiment counts over a processed stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)] // id, text, created_at
    val job = IngestJob(DictionaryLocator.Indonesian, LexiconSentiment.Indonesian)
    val processed = job.transform(
      mem.toDF().toDF("_id", "text", "created_at")
        .withColumn("author_name", lit(""))
        .withColumn("author_handle", lit(""))
        .withColumn("location", lit(null).cast("string"))
        .withColumn("tweet_url", lit(""))
        .withColumn("metrics", struct(lit(0).as("reply_count"),
          lit(0).as("retweet_count"), lit(0).as("like_count"))),
      fixedNow)
    val counts = StreamingIngest.dailySentimentCounts(processed)
    val q = counts.writeStream.format("memory").queryName("daily_counts")
      .outputMode(OutputMode.Update()).start()
    mem.addData(
      ("1", "bagus sehat", "2025-05-01T08:00:00Z"),
      ("2", "gagal basi", "2025-05-01T09:00:00Z"),
      ("3", "bagus", "2025-05-02T08:00:00Z"))
    q.processAllAvailable()
    mem.addData(("4", "bagus juga", "2025-05-01T10:00:00Z"))
    q.processAllAvailable()
    val got = spark.sql(
      """SELECT event_date, sentiment_label, max(n) AS n FROM daily_counts
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSeq
    q.stop()
    assert(got.contains(("2025-05-01", "positive", 2L))) // updated across batches
    assert(got.contains(("2025-05-01", "negative", 1L)))
    assert(got.contains(("2025-05-02", "positive", 1L)))
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val totals = StreamingIngest.runningTotals(mem.toDS())
    val q = totals.toDF("key", "total").writeStream.format("memory")
      .queryName("running_totals").outputMode(OutputMode.Update()).start()
    mem.addData("mbg", "mbg", "gratis")
    q.processAllAvailable()
    mem.addData("mbg", "gratis", "gratis")
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT key, max(total) FROM running_totals GROUP BY key ORDER BY key")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    q.stop()
    assert(got == Seq(("gratis", 3L), ("mbg", 3L)))
  }

  test("streaming dedup drops in-stream duplicate ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val job = IngestJob(DictionaryLocator.Indonesian, LexiconSentiment.Indonesian)
    val processed = job.transform(
      mem.toDF().toDF("_id", "text", "created_at")
        .withColumn("author_name", lit(""))
        .withColumn("author_handle", lit(""))
        .withColumn("location", lit(null).cast("string"))
        .withColumn("tweet_url", lit(""))
        .withColumn("metrics", struct(lit(0).as("reply_count"),
          lit(0).as("retweet_count"), lit(0).as("like_count"))),
      fixedNow)
    val deduped = StreamingIngest.dedupStream(processed)
      .select(col("_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    // same _id with DIFFERENT event times (a re-scrape whose timestamp
    // parse fell back differently) must still dedup — id-only semantics
    // (texts >= 5 chars so the P5 length gate keeps them)
    mem.addData(
      ("1", "dokumen satu", "2025-05-01T08:00:00Z"),
      ("1", "dokumen satu", "2025-05-01T08:30:00Z"),
      ("2", "dokumen dua", "2025-05-01T09:00:00Z"))
    q.processAllAvailable()
    val got = spark.sql("SELECT _id FROM dedup_out ORDER BY _id")
      .collect().map(_.getString(0)).toSeq
    q.stop()
    assert(got == Seq("1", "2"))
  }

  test("streaming near-dup suppression collapses identical fingerprints across ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val job = IngestJob(DictionaryLocator.Indonesian, LexiconSentiment.Indonesian)
    val processed = job.transform(
      mem.toDF().toDF("_id", "text", "created_at")
        .withColumn("author_name", lit(""))
        .withColumn("author_handle", lit(""))
        .withColumn("location", lit(null).cast("string"))
        .withColumn("tweet_url", lit(""))
        .withColumn("metrics", struct(lit(0).as("reply_count"),
          lit(0).as("retweet_count"), lit(0).as("like_count"))),
      fixedNow)
    // key on the F1 (analysis) cleaning — it strips URLs outright, so
    // URL-only tweets become token-less and exercise the id fallback
    // (the F2 default column replaces them with [LINK] placeholder tokens)
    val suppressed = StreamingIngest.nearDupSuppressStream(processed,
        textCol = graft.functions.TextFunctions.cleanTweetText(col("content.text")))
      .select(col("_id"))
    val q = suppressed.writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append()).start()
    // doc 2 is a re-scrape of doc 1 under a NEW id (id-keyed dedup is
    // blind to it); doc 3 is the same tokens REORDERED (same token bag ->
    // same SimHash); doc 4 is genuinely different text. Batch two replays
    // doc 1's text under yet another id — cross-batch state must hold.
    mem.addData(
      ("1", "dokumen penting satu", "2025-05-01T08:00:00Z"),
      ("2", "dokumen penting satu", "2025-05-01T08:30:00Z"),
      ("3", "satu penting dokumen", "2025-05-01T08:45:00Z"),
      ("4", "laporan lain sama sekali", "2025-05-01T09:00:00Z"))
    q.processAllAvailable()
    mem.addData(("5", "dokumen penting satu", "2025-05-01T09:30:00Z"))
    // docs 6 and 7 are DISTINCT url-only tweets whose F1-cleaned text is
    // empty — both fingerprint to 0, but the id-fallback key keeps them
    // from collapsing into one
    mem.addData(
      ("6", "https://t.co/xyz", "2025-05-01T09:45:00Z"),
      ("7", "https://t.co/abc", "2025-05-01T09:50:00Z"))
    q.processAllAvailable()
    val got = spark.sql("SELECT _id FROM neardup_out ORDER BY _id")
      .collect().map(_.getString(0)).toSeq
    q.stop()
    assert(got == Seq("1", "4", "6", "7"))
  }
}
