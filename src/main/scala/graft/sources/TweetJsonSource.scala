package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.TweetSchema
import graft.operators.BatchStore

/** S2/S4/S7 — JSON landing-zone source and sink (SURVEY.md §2.1).
  *
  * The reference exports MongoDB documents to JSON files and later re-reads
  * them (utils.py:233-241); timestamps round-trip as Mongo extended JSON
  * (`{"$date": "..."}`) while live documents carry plain ISO strings —
  * SURVEY §7.4 risk 6. [[parseFlexibleTimestamp]] handles both in one
  * coalesce, so one reader serves both generations of files.
  */
object TweetJsonSource {

  private val dateWrapper = StructType(Seq(StructField("$date", StringType)))
  private val numberLongWrapper = StructType(Seq(StructField("$date",
    StructType(Seq(StructField("$numberLong", StringType))))))

  /** Parse a timestamp column that may be (a) a plain ISO-8601 string,
    * (b) Mongo relaxed extended JSON read into a string
    * (`{"$date":"ISO"}`), (c) Mongo CANONICAL extended JSON
    * (`{"$date":{"$numberLong":"epoch-millis"}}` — what mongoexport
    * emits for dates outside 1970..9999 or in canonical mode), or
    * (d) missing — reference fallback is ingestion time
    * (src/resilient_scraper.py:453-455, F3). Without (c) the canonical
    * form would silently fall through to the fallback and REWRITE event
    * time with ingestion time.
    */
  def parseFlexibleTimestamp(c: Column, fallback: Column = current_timestamp()): Column = {
    // try_to_timestamp, not to_timestamp: under ANSI mode a malformed
    // candidate THROWS instead of yielding null — e.g. form (b)'s parse of
    // a canonical (c) value sees the stringified inner object. Each branch
    // must degrade to null for the coalesce to do its job.
    val relaxed = try_to_timestamp(from_json(c, dateWrapper).getField("$date"))
    val millis = from_json(c, numberLongWrapper)
      .getField("$date").getField("$numberLong")
    val canonical = timestamp_millis(
      when(millis.rlike("^-?\\d{1,18}$"), millis.cast("long")))
    coalesce(relaxed, canonical, try_to_timestamp(c), fallback)
  }

  /** Read landed canonical-doc JSON (one object per line; pass
    * `multiLine = true` for the reference's pretty-printed array files).
    * Returns the canonical typed shape regardless of which timestamp
    * encoding the files carry.
    */
  def readLanded(spark: SparkSession, path: String, multiLine: Boolean = false,
      fallback: Column = current_timestamp()): DataFrame = {
    val raw = spark.read
      .schema(TweetSchema.landedJson)
      .option("multiLine", multiLine)
      .json(path)
    raw.withColumn("metadata",
      col("metadata")
        .withField("created_at", parseFlexibleTimestamp(col("metadata.created_at"), fallback))
        .withField("scraped_at", parseFlexibleTimestamp(col("metadata.scraped_at"), fallback)))
  }

  /** Read a raw scrape batch (flat records, string timestamps). */
  def readRawScrape(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    spark.read
      .schema(TweetSchema.rawScrape)
      .option("multiLine", multiLine)
      .json(path)

  /** S7: month glob over daily landing files — Spark reads the whole month
    * in one multi-file scan (utils.py:283-297 enumerated + sorted; ordering
    * is irrelevant post-union).
    */
  def monthGlob(dir: String, yearMonth: String): String =
    s"$dir/tweets_$yearMonth-*_labeled.json"

  /** S4: JSON sink (one object per line, UTF-8; see [[writeJsonArray]] for
    * the reference's array framing — resilient_etl.py:574-584). The
    * export is staged and replaces the previous one in one
    * [[graft.operators.BatchStore]] commit, so a crash leaves the old
    * export or the new one.
    */
  def writeJson(df: DataFrame, path: String): Unit =
    BatchStore.land(df.sparkSession, path, Seq(""))(st => df.write.json(st.dir.toString))

  /** S4 array-framing variant: ONE file holding ONE strict JSON array, the
    * shape the reference emits via `json.dump(docs, f, indent=2)`
    * (resilient_etl.py:574-584, utils.py:265-276) and the shape its own
    * re-readers parse back. Elements are indented two spaces under the
    * array brackets, one document per line; nested-key whitespace is NOT
    * Python-pretty-printed (presentation only — any strict JSON parser
    * sees identical data, which TweetPipelineSpec proves through a real
    * array parser and through [[readLanded]] multiLine).
    *
    * Scale note: the array file is produced by `coalesce(1)` + a streaming
    * per-partition iterator — rows flow straight to the single writer task,
    * the driver never collects. A one-file export is inherently one task's
    * worth of output (that is the reference's contract for these files —
    * its daily exports are small); partitioned exports at scale use
    * [[writeJson]].
    */
  def writeJsonArray(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // coalesce(1) preserves the caller's row order (repartition(1) is a
    // round-robin SHUFFLE to one partition — block-fetch order, i.e. the
    // array order, would become nondeterministic on a real cluster); but
    // coalesce cannot raise a ZERO-partition plan (a filter that pruned
    // every input file) to one, and a partitionless write emits no part
    // file at all — only _SUCCESS — where a re-reader expects "[]". So:
    // repartition only the empty 0-partition case (nothing to misorder).
    val json = df.toJSON
    val one = if (json.rdd.getNumPartitions == 0) json.repartition(1) else json.coalesce(1)
    val framed = one.mapPartitions { it =>
      if (!it.hasNext) Iterator("[]")
      else {
        val body = new Iterator[String] {
          private var cur = it.next()
          private var done = false
          def hasNext: Boolean = !done
          def next(): String =
            if (it.hasNext) { val out = "  " + cur + ","; cur = it.next(); out }
            else { done = true; "  " + cur }
        }
        Iterator("[") ++ body ++ Iterator("]")
      }
    }
    // committed like [[writeJson]]: the previous export stays until the
    // new one replaces it whole
    BatchStore.land(spark, path, Seq(""))(st => framed.write.text(st.dir.toString))
  }
}
