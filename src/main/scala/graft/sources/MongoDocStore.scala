package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.pipeline.ModeDispatch

/** S3/S5's REAL storage backend: the reference's `DailyCollectionManager`
  * (`/root/reference/utils.py:560-592`) re-expressed over the official
  * MongoDB Spark connector — one collection per day named
  * `prefix + yyyyMMdd`, monthly mode routing every day of a month to the
  * first-of-month collection (`src/resilient_scraper.py:1061-1068`;
  * `resilient_etl.py:301`), range reads as a union of per-day
  * collections, and the scraper's upsert save — `$set` upsert keyed on
  * `_id` (`src/resilient_scraper.py:941-974`, bulk UpdateOne) — as the
  * connector's `operationType=update` + `idFieldList=_id`.
  *
  * Dependency gating: `format("mongodb")` is a STRING — this file compiles and ships with zero new dependencies, and
  * the data source resolves when a cluster deployment adds
  * `org.mongodb.spark:mongo-spark-connector_2.13:10.x` to the classpath.
  * Without it, [[MongoDocStore.isAvailable]] is false and read/write
  * calls fail with a jar-naming error instead of Spark's raw
  * DATA_SOURCE_NOT_FOUND. The collection-name routing — the part that
  * carries the reference's semantics — is pure and fully tested in this
  * container; `graft.operators.LakeMerge` remains the tested
  * parquet-lake emulation of the same upsert contract (the declared
  * BASELINE convention).
  *
  * The reference's `_ensure_indexes` (utils.py:594-604) is server-side
  * DDL outside the connector's surface — run the equivalent
  * `createIndex` statements once via mongosh on deployment; they affect
  * query latency, never results.
  */
final case class MongoDocStore(
    uri: String,
    database: String,
    collectionPrefix: String,
    monthlyMode: Boolean = false) {

  import MongoDocStore._

  /** Collection routing — `get_collection_by_date` (utils.py:567-592)
    * plus the monthly-storage redirect (resilient_scraper.py:1061-1068):
    * daily mode names the day's collection, monthly mode the
    * first-of-month's. Delegates to [[ModeDispatch.collectionKey]] so the
    * lake partition keys and Mongo collection names can never diverge.
    */
  def collectionNameFor(date: LocalDate): String =
    collectionPrefix + ModeDispatch.collectionKey(
      date, if (monthlyMode) ModeDispatch.Monthly else ModeDispatch.Daily)

  /** Distinct collection names covering [start, end] inclusive —
    * `get_collection_names_in_range` (utils.py:626-640); monthly mode
    * collapses each month's days to one name.
    */
  def collectionNamesInRange(start: LocalDate, end: LocalDate): Seq[String] = {
    require(!start.isAfter(end), s"range start $start after end $end")
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end))
      .map(collectionNameFor)
      .distinct
      .toSeq
  }

  private def requireConnector(): Unit =
    if (!isAvailable) {
      throw new IllegalStateException(
        "MongoDocStore needs the MongoDB Spark connector on the classpath " +
          "(org.mongodb.spark:mongo-spark-connector_2.13:10.x); add the jar " +
          "to the cluster deployment or use LakeMerge's parquet lake")
    }

  def readCollection(
      spark: SparkSession, collection: String,
      schema: Option[StructType] = None): DataFrame = {
    requireConnector()
    val reader = spark.read.format("mongodb")
      .option("connection.uri", uri)
      .option("database", database)
      .option("collection", collection)
    schema.fold(reader)(reader.schema).load()
  }

  /** Union of the per-day (or per-month) collections in the range —
    * the reference iterates `get_all_daily_collections`
    * (utils.py:605-624) and concatenates; allowMissingColumns absorbs
    * schemaless drift between collections like the reference's
    * defensive `.get` chains do per document.
    *
    * Pass `schema` (e.g. TweetSchema's canonical doc) when the range may
    * contain gap days: a never-created collection gives schema inference
    * nothing (an empty StructType, where the reference's empty pymongo
    * cursor is harmless), and an explicit schema turns it into an empty
    * typed frame instead; without one, zero-column frames are dropped
    * from the union and an all-gaps range fails loudly.
    *
    * In monthly mode the month collections hold days the caller did not
    * ask for, so the result is filtered back to [start, end] on
    * `dateField` — the same `metadata.created_at` range predicate the
    * reference applies when it reads day slices out of a monthly
    * collection (resilient_etl.py:307-310). Daily mode applies no filter,
    * faithful to `get_all_daily_collections` returning whole collections.
    */
  def readRange(
      spark: SparkSession, start: LocalDate, end: LocalDate,
      schema: Option[StructType] = None,
      dateField: String = "metadata.created_at"): DataFrame = {
    val frames = collectionNamesInRange(start, end)
      .map(readCollection(spark, _, schema))
      .filter(_.schema.nonEmpty) // inference over a gap-day collection yields no columns
    if (frames.isEmpty) {
      throw new IllegalStateException(
        s"readRange: no collection in [$start, $end] produced a schema — " +
          "pass an explicit schema to read ranges with gap days")
    }
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    if (monthlyMode) {
      all.filter(col(dateField) >= java.sql.Timestamp.valueOf(start.atStartOfDay()) &&
        col(dateField) < java.sql.Timestamp.valueOf(end.plusDays(1).atStartOfDay()))
    } else all
  }

  /** The scraper's save: field-preserving upsert keyed on `_id`
    * (resilient_scraper.py:944-951 — UpdateOne `{$set: tweet}` with
    * upsert=True, which updates the given fields and KEEPS any fields an
    * earlier save wrote that this batch's frame lacks). The connector's
    * `operationType=update` + `idFieldList=_id` has exactly that
    * semantics; `replace` would silently delete such fields — the
    * schemaless drift [[readRange]]'s allowMissingColumns anticipates.
    * Idempotent re-saves rewrite the same documents.
    */
  def upsertWrite(df: DataFrame, collection: String): Unit = {
    requireConnector()
    df.write.format("mongodb")
      .mode("append") // append + update-by-id IS the upsert; Overwrite would drop the collection
      .option("connection.uri", uri)
      .option("database", database)
      .option("collection", collection)
      .option("operationType", "update")
      .option("idFieldList", "_id")
      .save()
  }
}

object MongoDocStore {

  /** True iff the MongoDB Spark connector is on the classpath. */
  lazy val isAvailable: Boolean =
    try {
      Class.forName("com.mongodb.spark.sql.connector.MongoTableProvider")
      true
    } catch { case _: Throwable => false }
}
