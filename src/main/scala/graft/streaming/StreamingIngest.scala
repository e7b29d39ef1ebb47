package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import graft.functions.{DictionaryLocator, LexiconSentiment}
import graft.model.TweetSchema
import graft.operators.LakeMerge
import graft.pipeline.IngestJob

/** §2.10 — the reference's hand-rolled micro-batch scrape loop
  * (src/resilient_scraper.py:1252-1338: scroll -> extract <=50 -> transform
  * -> upsert, repeat) as Structured Streaming.
  *
  * Design:
  *  - the landing directory is the stream source (each scrape batch lands
  *    as a JSON file); `maxFilesPerTrigger` bounds micro-batch size the way
  *    the reference's per-scroll cap does (O2);
  *  - the per-batch transform is the SAME stateless E3/E4 chain the batch
  *    jobs use — one code path, two execution modes;
  *  - the sink is `foreachBatch` -> [[LakeMerge.mergeWrite]]: the merge is
  *    idempotent by key, so replayed batches after a failure land
  *    exactly-once-effectively (the reference gets this from Mongo upserts,
  *    SURVEY §2.10 "late/duplicate handling");
  *  - watermarked windowed aggregation + stateful running totals cover the
  *    monitoring side (per-day counts, total_scraped counters).
  */
object StreamingIngest {

  /** Start the micro-batch ingest stream over a landing directory.
    * `Trigger.AvailableNow` drains what exists and stops (the batch-resume
    * mode); pass a processing-time trigger for continuous tailing.
    */
  def start(
      spark: SparkSession, landingDir: String, lakePath: String,
      checkpointDir: String,
      dict: DictionaryLocator.LocationDict,
      lexicon: LexiconSentiment.Lexicon,
      now: Column = current_timestamp(),
      maxFilesPerTrigger: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val job = IngestJob(dict, lexicon)
    landingStream(spark, landingDir, TweetSchema.rawScrape, checkpointDir,
        maxFilesPerTrigger, trigger) { (batch, _) =>
      LakeMerge.mergeWrite(spark, job.transform(batch, now), lakePath)
    }
  }

  /** The skeleton every landing stream shares: JSON files in `landingDir`
    * read with `schema`, at most `maxFilesPerTrigger` a trigger, each
    * micro-batch handed to `sink` with its batch id.
    */
  private[graft] def landingStream(
      spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpointDir: String,
      maxFilesPerTrigger: Int, trigger: Trigger)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(sink)
      .start()

  /** Watermarked per-day sentiment distribution over a processed-doc
    * stream: event-time tumbling day windows on metadata.created_at, late
    * data beyond `lateness` dropped from state (SURVEY §2.10 tumbling
    * windows; the batch A2/A4 aggregate, incrementalized).
    */
  def dailySentimentCounts(processed: DataFrame, lateness: String = "1 day"): DataFrame =
    processed
      .select(
        col("metadata.created_at").as("created_at"),
        col("sentiment_analysis.label").as("sentiment_label"))
      .withWatermark("created_at", lateness)
      .groupBy(window(col("created_at"), "1 day"), col("sentiment_label"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("event_date"),
        col("sentiment_label"), col("n"))

  /** Streaming exact dedup by `_id` (id ALONE — two scrapes of the same
    * tweet dedup even when their parsed event times differ) with
    * watermark-bounded state — the reference's cross-batch
    * `processed_tweet_ids` set (D1, src/resilient_scraper.py:55) without
    * the unbounded-memory failure mode: state for ids older than the
    * watermark is dropped, and the downstream keyed merge makes residual
    * duplicates harmless.
    */
  def dedupStream(processed: DataFrame, lateness: String = "1 day"): DataFrame =
    processed
      .withColumn("__event_time", col("metadata.created_at"))
      .withWatermark("__event_time", lateness)
      .dropDuplicatesWithinWatermark("_id")
      .drop("__event_time")

  /** Streaming NEAR-duplicate suppression: dedup on the 64-bit SimHash of
    * the cleaned text instead of the id, so re-scrapes under NEW ids and
    * token-order rewordings that fingerprint identically collapse to the
    * first arrival within the watermark horizon. Exact-fingerprint
    * matching only (Hamming 0) — the state store supports key-equality
    * lookups, not Hamming balls; docs inside the horizon differing by a
    * few bits are left for the batch-side
    * [[graft.operators.Dedup.simHashNearDuplicates]] sweep. State is
    * watermark-bounded like [[dedupStream]].
    *
    * Token-less documents (URL/mention-only tweets whose cleaned text is
    * empty) all fingerprint to 0 — distinct documents, one shared key —
    * so their dedup key falls back to `idCol`: they pass through
    * unsuppressed instead of silently collapsing to whichever arrived
    * first. The key domains are disjoint strings ("fp:…" vs "id:…"), so
    * the fallback can never collide with a real fingerprint.
    *
    * Checkpoint note: the dedup state key is the string `__dedup_key`
    * (earlier builds keyed on a long `__simhash`); a checkpoint written
    * by a pre-guard build cannot resume across this change — Spark's
    * state-schema validation rejects the key-type change, and the stream
    * must restart from a fresh checkpoint.
    */
  def nearDupSuppressStream(
      processed: DataFrame, lateness: String = "1 day",
      textCol: Column = col("content.clean_text"),
      idCol: Column = col("_id")): DataFrame = {
    // tokenization materialized once — the key expression references the
    // array twice (guard + fingerprint), and CollapseProject would not
    // dedupe the inlined non-trivial subtree
    val withToks = processed
      .withColumn("__toks", graft.operators.Dedup.tokens(lower(textCol)))
    withToks
      .withColumn("__event_time", col("metadata.created_at"))
      .withColumn("__dedup_key",
        when(size(col("__toks")) > 0,
          concat(lit("fp:"), graft.operators.Dedup.simHash(col("__toks"))))
          .otherwise(concat(lit("id:"), idCol)))
      .withWatermark("__event_time", lateness)
      .dropDuplicatesWithinWatermark("__dedup_key")
      .drop("__event_time", "__dedup_key", "__toks")
  }

  /** Streaming CURATION slice — the batch curation stages that are
    * per-row or keyed run unchanged under a micro-batch stream:
    *
    *  - quality gate: the per-row keep rule shared with the batch layer
    *    (>= `minTokens` whitespace tokens, punctuation count <= token
    *    count — the `quality_label = 'ok'` rule of q_quality_scores /
    *    q_corpus_curation), a pure codegen'd filter;
    *  - deterministic stratified sampling ([[graft.operators.Curation
    *    .stratifiedSample]]): a pure md5-threshold filter — the SAME rows
    *    survive whether they arrive in one batch or twenty;
    *  - exact dedup ([[graft.operators.Dedup.exact]] on the Python-strip
    *    normalized-text key): WITHIN a batch via the aggregate, ACROSS
    *    batches via the keyed idempotent merge into the curated store —
    *    not via unbounded in-memory state. Each micro-batch unions the
    *    store with its survivors and re-selects one representative per
    *    key (min doc_id tiebreak), so a duplicate text arriving ten
    *    batches later collapses onto the original representative, a
    *    REPLAYED batch after failure/restart changes nothing, and the
    *    surviving row is independent of batch arrival order.
    *
    * Crash safety: the store is replaced by the [[graft.operators
    * .BatchStore]] commit, never overwritten in place — a crash before
    * the manifest lands leaves the old store live, one after it is rolled
    * forward by the next merge before it reads. Empty batches never
    * rewrite the store.
    *
    * Scale note: the merge rewrites the store per batch — the right shape
    * while the curated store is date/stratum-partitionable (LakeMerge's
    * touched-partition discipline applies verbatim); the spec-sized store
    * here keeps the mechanism itself the thing under test.
    */
  def startCurated(
      spark: SparkSession, landingDir: String, storePath: String,
      checkpointDir: String,
      rates: Map[String, Double], defaultRate: Double,
      minTokens: Int = 20,
      maxFilesPerTrigger: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lang", "string")
    landingStream(spark, landingDir, schema, checkpointDir, maxFilesPerTrigger,
      trigger)((batch, _) => curatedMerge(spark, batch, storePath, rates, defaultRate, minTokens))
  }

  /** One micro-batch of [[startCurated]]: gate → sample → keyed dedup
    * merge. Package-visible so the spec can also drive it directly.
    */
  private[graft] def curatedMerge(
      spark: SparkSession, batch: DataFrame, storePath: String,
      rates: Map[String, Double], defaultRate: Double, minTokens: Int): Unit = {
    import graft.operators.{Curation, Dedup}
    import graft.functions.TextFunctions
    val cols = Seq("doc_id", "text", "lang")
    val nt = size(Dedup.tokens(col("text")))
    val kept = Curation.stratifiedSample(
      batch.filter(col("text").isNotNull &&
        nt >= minTokens && TextFunctions.punctCount(col("text")) <= nt),
      col("lang"), col("doc_id"), rates, defaultRate)
      .select(cols.map(col): _*)
    // a batch that contributes nothing must not rewrite the store: the
    // store is already deduped, so re-merging it alone is a no-op — and
    // rewriting the only copy is pure risk
    if (kept.isEmpty) return
    val st = graft.operators.BatchStore.stage(spark, storePath)
    val union =
      if (st.fs.exists(st.root))
        spark.read.parquet(storePath).select(cols.map(col): _*).unionByName(kept)
      else kept
    // one representative per normalized-text key, min doc_id — the same
    // key and tiebreak as the batch q_exact_dedup, so stream and batch
    // curation agree on WHICH duplicate survives. The replacement is
    // written beside the store (a crash mid-write must not lose every
    // previously curated row: the stream checkpoint replays only the
    // current batch) and swapped in whole.
    Dedup.exact(union, lower(TextFunctions.pyStrip(col("text"))), col("doc_id"), payload = cols)
      .write.parquet(st.dir.toString)
    graft.operators.BatchStore.commit(graft.operators.BatchStore.Swap(st, Seq("")))
  }

  /** Streaming MinHash-LSH near-dup suppression against the persistent
    * signature store — [[graft.operators.IncrementalDedup.lshDedupBatch]]
    * per micro-batch. Unlike [[nearDupSuppressStream]] (exact-fingerprint
    * key equality, watermark-bounded state), this suppresses TRUE
    * near-duplicates (banded MinHash + estimated-Jaccard verify) against
    * EVERYTHING ever accepted, with no state horizon: the store is the
    * state, and a replayed micro-batch rewrites its own `batch=<id>`
    * partition idempotently (the foreachBatch batchId is stable across
    * checkpoint-resumed replays).
    *
    * `compactEvery` (0 = off) folds the store's committed prefix into a
    * single partition every N batches, inside foreachBatch — the one
    * place `batchId - 1` is KNOWN checkpoint-committed (foreachBatch
    * replays at most the current id after a crash), so the compaction
    * honors [[graft.operators.BatchStore.compact]]'s safety
    * contract without coordinating with an external maintenance job.
    * A months-long hourly stream otherwise accrues thousands of tiny
    * `batch=` partitions whose listing cost dominates every read.
    */
  def startLshDedup(
      spark: SparkSession, landingDir: String, storePath: String,
      checkpointDir: String,
      threshold: Double = 0.5,
      k: Int = 64, bands: Int = 16,
      maxFilesPerTrigger: Int = 10,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    landingStream(spark, landingDir, schema, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.operators.IncrementalDedup.lshDedupBatch(
          spark, batch, col("doc_id"), col("text"), storePath, batchId,
          threshold = threshold, k = k, bands = bands)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          graft.operators.IncrementalDedup.compactStore(
            spark, storePath, upToBatch = batchId - 1)
      }
    }
  }

  /** Streaming segment-level exact dedup against the persistent segment
    * store — [[graft.operators.IncrementalSegmentDedup.segmentDedupBatch]]
    * per micro-batch: every batch drops segments any EARLIER batch kept
    * (cross-batch boilerplate suppression with no state horizon; the
    * store is the state). Exact equality is transitive, so the stream's
    * cumulative output equals one-shot [[graft.operators.Curation
    * .segmentDedup]] over everything ingested (ids increasing across
    * batches) — spec-pinned, including checkpoint-resume replay, which
    * recomputes against the pre-batch store state and rewrites its own
    * partition idempotently.
    */
  def startSegmentDedup(
      spark: SparkSession, landingDir: String, storePath: String,
      outputPath: String, checkpointDir: String,
      segTokens: Int = 10, minKeepFrac: Double = 0.5,
      maxFilesPerTrigger: Int = 10,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    import graft.operators.BatchStore
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    landingStream(spark, landingDir, schema, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val r = graft.operators.IncrementalSegmentDedup.segmentDedupBatch(
          spark, batch, col("doc_id"), col("text"), storePath, batchId,
          segTokens = segTokens, minKeepFrac = minKeepFrac)
        // per-batch output partition mirrors the store's idempotency: a
        // replayed batch replaces its own partition, never appends
        BatchStore.land(spark, outputPath, Seq(s"batch=$batchId"))(st =>
          r.write.parquet(st.at(s"batch=$batchId").toString))
        graft.operators.Checkpoints.freeFrame(r)
        // the same checkpoint-committed `batchId - 1` safety window as
        // the LSH store's in-stream maintenance
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          BatchStore.compact(spark, storePath, upToBatch = batchId - 1)
      }
    }
  }

  /** A7 streaming: running totals per key across micro-batches via
    * `mapGroupsWithState` — the reference's total_scraped / query_scraped
    * accumulators (src/resilient_scraper.py:1271-1283) as managed state.
    * Emits the updated cumulative count for every key touched by a batch.
    */
  def runningTotals(keys: Dataset[String]): Dataset[(String, Long)] = {
    import keys.sparkSession.implicits._
    keys
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (key, total)
      }
  }
}
