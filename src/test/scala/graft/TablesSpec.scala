package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** [[Tables]] loader contracts — above all the events TIMESTAMP(NANOS)
  * normalization, which depends on Spark-build behavior: older builds
  * honor `spark.sql.legacy.parquet.nanosAsLong` (raw int64 nanos), newer
  * builds ignore it and surface micros-truncated TIMESTAMP_NTZ. Both
  * paths must land on the SAME UTC TimestampType with the same values —
  * every events oracle row depends on it (the round-7 environment shift
  * broke six suites before Tables.apply normalized both).
  */
class TablesSpec extends SparkSpec {

  test("events.ts normalizes to TimestampType (micros, UTC) on any Spark build") {
    val e = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(e.schema("ts").dataType === TimestampType)
    // UTC wall clock pins the NTZ-cast path: the synthetic generator
    // starts events at 2024-01-01 UTC, so the minimum must land on that
    // day regardless of which read path the build took
    val minDay = e.select(date_format(min(col("ts")), "yyyy-MM-dd"))
      .head().getString(0)
    assert(minDay === "2024-01-01")
    // micros precision survives (nanos truncated, not zeroed): at least
    // one timestamp carries sub-second micros
    val withMicros = e.filter(
      unix_micros(col("ts")) % 1000000L =!= 0L).count()
    assert(withMicros > 0L)
  }

  test("every table loads with its expected grain") {
    val counts = Tables.all.map(t =>
      t -> Tables(spark, "/root/testdata/sf0.001", t).count()).toMap
    assert(counts("region") === 5L)
    assert(counts("nation") === 25L)
    assert(counts.values.forall(_ > 0L))
  }

  test("documents has one row per doc_id (q_tfidf_terms' doc_id -> source dependency)") {
    // the merged tf+df aggregate counts docs per (term, source) cell and
    // sums those counts into df: exact only while no doc_id appears under
    // two sources, i.e. while documents has one row per doc_id
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
      val r = Tables(spark, dir, "documents")
        .agg(count(lit(1)), countDistinct(col("doc_id"))).head()
      assert(r.getLong(0) == r.getLong(1), s"$sf: ${r.getLong(0)} rows, ${r.getLong(1)} doc_ids")
    }
  }
}
