package graft

import java.time.LocalDate

import graft.sources.MongoDocStore

/** The connector itself cannot run in this container (no jar, no server);
  * what CAN be pinned is everything that carries the reference's
  * semantics — the collection routing (`utils.py:567-592`,
  * `resilient_scraper.py:1061-1068`) — plus the dependency gate's error
  * contract.
  */
class MongoDocStoreSpec extends SparkSpec {

  private val daily = MongoDocStore("mongodb://localhost", "mbg", "tweets_")
  private val monthly = daily.copy(monthlyMode = true)

  test("daily routing: prefix + yyyyMMdd, one collection per day") {
    assert(daily.collectionNameFor(LocalDate.of(2025, 5, 7)) == "tweets_20250507")
    assert(daily.collectionNamesInRange(
      LocalDate.of(2025, 5, 30), LocalDate.of(2025, 6, 2)) ==
      Seq("tweets_20250530", "tweets_20250531", "tweets_20250601", "tweets_20250602"))
  }

  test("monthly mode routes every day of a month to the first-of-month collection") {
    // resilient_scraper.py:1061-1068: daily processing with monthly
    // storage targets target_date.replace(day=1)
    assert(monthly.collectionNameFor(LocalDate.of(2025, 5, 7)) == "tweets_20250501")
    assert(monthly.collectionNameFor(LocalDate.of(2025, 5, 31)) == "tweets_20250501")
    // a cross-month range collapses to the distinct month collections
    assert(monthly.collectionNamesInRange(
      LocalDate.of(2025, 4, 15), LocalDate.of(2025, 6, 10)) ==
      Seq("tweets_20250401", "tweets_20250501", "tweets_20250601"))
  }

  test("range validation and single-day range") {
    assert(daily.collectionNamesInRange(
      LocalDate.of(2025, 5, 7), LocalDate.of(2025, 5, 7)) == Seq("tweets_20250507"))
    intercept[IllegalArgumentException] {
      daily.collectionNamesInRange(LocalDate.of(2025, 5, 8), LocalDate.of(2025, 5, 7))
    }
  }

  test("connector gate: unavailable in this container, read/write name the missing jar") {
    // assume, not assert: legitimately deploying the connector jar must
    // skip this gate test, not fail the suite
    assume(!MongoDocStore.isAvailable)
    val e1 = intercept[IllegalStateException] {
      daily.readCollection(spark, "tweets_20250507")
    }
    assert(e1.getMessage.contains("mongo-spark-connector"))
    val e2 = intercept[IllegalStateException] {
      import spark.implicits._
      daily.upsertWrite(Seq(("1", "x")).toDF("_id", "v"), "tweets_20250507")
    }
    assert(e2.getMessage.contains("mongo-spark-connector"))
  }
}
