package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DictionaryLocator, LexiconSentiment}
import graft.operators.{LakeMerge, TweetOps}
import graft.sources.TweetJsonSource

/** The reference's three entry points (SURVEY.md §3) as composable jobs
  * over a date-partitioned Parquet lake.
  *
  * - [[IngestJob]]   = §3.1 run_etl's transform/load half: raw scrape
  *   batches -> nest (P2) -> clean+locate (E3) -> label (E4) -> idempotent
  *   merge (D3). The scrape itself is external (BASELINE: landing zone).
  * - [[ReprocessJob]] = §3.2: recompute derived columns for a date range
  *   from the lake itself.
  * - [[BackfillJob]]  = §3.3: predicate-driven repair — process exactly the
  *   P4-unprocessed docs and verify the reference's one machine-checked
  *   invariant (unprocessed == 0 afterwards,
  *   fix_unprocessed_monthly_tweets.py:229-234).
  *
  * All three are linear chains of narrow projections with a single keyed
  * shuffle inside the merge — per-partition parallel at any scale.
  */
final case class IngestJob(
    dict: DictionaryLocator.LocationDict,
    lexicon: LexiconSentiment.Lexicon,
    /** O4: per-batch document cap (the reference's `max_tweets`,
      * config/config.json + src/resilient_scraper.py:1252) — None = no cap.
      */
    maxDocs: Option[Int] = None) {

  /** Land one raw scrape batch into the lake. Returns the processed docs. */
  def run(spark: SparkSession, rawPath: String, lakePath: String,
      now: Column = current_timestamp()): DataFrame =
    runWithStats(spark, rawPath, lakePath, now)._1

  /** A7: [[run]] plus running totals — the reference's
    * total_scraped/query_scraped accumulators
    * (src/resilient_scraper.py:1072,1271-1283) via `Dataset.observe`, the
    * Spark-native accumulator: metrics ride the existing action, no extra
    * pass and no codegen break.
    */
  def runWithStats(spark: SparkSession, rawPath: String, lakePath: String,
      now: Column = current_timestamp()): (DataFrame, Map[String, Long]) = {
    val raw0 = TweetJsonSource.readRawScrape(spark, rawPath)
    val raw = maxDocs.fold(raw0)(raw0.limit) // O2-O4 cap
    val obs = org.apache.spark.sql.Observation(s"graft.ingest.${System.nanoTime()}")
    val processed = transform(raw, now).observe(
      obs,
      count(lit(1)).as("total_docs"),
      // DISTINCT aggregates are disallowed in observed metrics; the HLL
      // sketch is exact at day-cardinality scales and stream-friendly.
      approx_count_distinct(to_date(col("metadata.created_at"))).as("n_days"),
      sum(when(col("location.province").isNotNull, 1L).otherwise(0L)).as("n_located"))
    LakeMerge.mergeWrite(spark, processed, lakePath)
    val stats = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    (processed, stats)
  }

  /** The pure transform chain (no IO) — also the unit-test surface.
    * The P5 minimum-length gate runs first, where the reference's scraper
    * applies it (src/resilient_scraper.py:399).
    */
  def transform(raw: DataFrame, now: Column = current_timestamp()): DataFrame = {
    val nested = TweetOps.nest(TweetOps.minLengthFilter(raw), now)
    val cleaned = TweetOps.applyDataCleaning(nested, dict, now)
    TweetOps.applySentimentLabeling(cleaned, lexicon, now)
  }
}

final case class ReprocessJob(
    dict: DictionaryLocator.LocationDict,
    lexicon: LexiconSentiment.Lexicon) {

  /** Recompute E3+E4 for every doc in [start, end] (inclusive date strings)
    * and merge back — a pure recomputation of derived columns, idempotent
    * by D3 (reference resilient_etl.py:705-786).
    */
  def run(spark: SparkSession, lakePath: String, start: String, end: String,
      now: Column = current_timestamp()): Unit = {
    val slice = LakeMerge.readLake(spark, lakePath)
      .filter(col(LakeMerge.PartitionCol).between(start, end))
      .drop(LakeMerge.PartitionCol)
      // reset root location so detection re-runs (the reference re-detects
      // whenever the stored location lacks a detection, utils.py:117-143)
      .withColumn("location",
        when(col("location.detected_from").isNotNull, col("location")))
    val reprocessed = TweetOps.applySentimentLabeling(
      TweetOps.applyDataCleaning(slice, dict, now), lexicon, now)
    LakeMerge.mergeWrite(spark, reprocessed, lakePath)
  }
}

final case class BackfillJob(
    dict: DictionaryLocator.LocationDict,
    lexicon: LexiconSentiment.Lexicon) {

  /** Repair every P4-unprocessed doc in the lake, merge back, and return
    * the post-condition count (0 = the reference's invariant holds).
    */
  def run(spark: SparkSession, lakePath: String,
      now: Column = current_timestamp()): Long = {
    val lake = LakeMerge.readLake(spark, lakePath)
    val todo = TweetOps.unprocessed(lake).drop(LakeMerge.PartitionCol)
    // nothing to repair: the merge observes an empty batch and returns
    LakeMerge.mergeWrite(spark, TweetOps.applySentimentLabeling(
      TweetOps.applyDataCleaning(todo, dict, now), lexicon, now), lakePath)
    TweetOps.unprocessed(LakeMerge.readLake(spark, lakePath)).count()
  }
}
