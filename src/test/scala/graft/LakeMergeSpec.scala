package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, LakeMerge}

/** Cross-partition duplicate handling and checkpoint modes of the lake
  * merge (the per-partition SCOPE note on [[LakeMerge.mergeWrite]]).
  */
class LakeMergeSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"lakemerge-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Minimal canonical-shaped docs: (_id, created_at, scraped_at, text). */
  private def docs(rows: (String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("_id", "created", "scraped", "text")
      .select($"_id",
        struct($"text".as("clean_text")).as("content"),
        struct(to_timestamp($"created").as("created_at"),
          to_timestamp($"scraped").as("scraped_at")).as("metadata"),
        struct(lit(0L).as("likes")).as("metrics"))
  }

  test("created_at drift leaves a cross-partition duplicate by default; readLakeLatest hides it") {
    import spark.implicits._
    val lake = tmp("default") + "/lake"
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a v1"),
      ("B", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "b")), lake)
    // re-scrape of A with a corrected (different-day) created_at
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-03 09:00:00", "2025-05-03 12:00:00", "a v2")), lake)
    // the per-partition merge never touched 2025-05-01: stale copy survives
    val all = LakeMerge.readLake(spark, lake)
    assert(all.count() == 3)
    assert(all.filter($"_id" === "A").count() == 2)
    // read-time LWW retires it without rewriting anything
    val latest = LakeMerge.readLakeLatest(spark, lake)
    assert(latest.count() == 2)
    assert(latest.filter($"_id" === "A")
      .select($"content.clean_text").as[String].head() == "a v2")
  }

  test("crossPartitionDedup retires stale copies and keeps their partition neighbors") {
    import spark.implicits._
    val lake = tmp("dedup") + "/lake"
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a v1"),
      ("B", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "b"),
      ("C", "2025-05-02 10:00:00", "2025-05-02 11:00:00", "c")), lake)
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-03 09:00:00", "2025-05-03 12:00:00", "a v2")), lake,
      crossPartitionDedup = true)
    val all = LakeMerge.readLake(spark, lake).orderBy("_id")
    assert(all.count() == 3) // no duplicate _id anywhere
    val a = all.filter($"_id" === "A")
      .select($"content.clean_text", col(LakeMerge.PartitionCol).cast("string"))
      .as[(String, String)].head()
    assert(a == (("a v2", "2025-05-03")))
    // the stale copy's neighbors were rewritten in place, not lost
    assert(all.filter($"_id" === "B").count() == 1)
    assert(all.filter($"_id" === "C").count() == 1)
  }

  test("a partition emptied by the dedup is deleted, not silently kept") {
    import spark.implicits._
    val root = tmp("emptied")
    val lake = root + "/lake"
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-02 10:00:00", "2025-05-02 11:00:00", "a v1")), lake)
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-04 09:00:00", "2025-05-04 12:00:00", "a v2")), lake,
      crossPartitionDedup = true)
    // 2025-05-02 held only the stale copy; dynamic overwrite alone would
    // have left its files behind (no output rows land there)
    assert(!new java.io.File(s"$lake/${LakeMerge.PartitionCol}=2025-05-02").exists())
    val all = LakeMerge.readLake(spark, lake)
    assert(all.count() == 1)
    assert(all.select($"content.clean_text").as[String].head() == "a v2")
  }

  test("reliable-checkpoint mode produces the same merge (cluster-grade materialization)") {
    import spark.implicits._
    val lake = tmp("reliable") + "/lake"
    val ckpt = tmp("ckpt")
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(Checkpoints.ReliableCheckpointConf, "true")
    try {
      LakeMerge.mergeWrite(spark, docs(
        ("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a v1"),
        ("B", "2025-05-02 10:00:00", "2025-05-02 11:00:00", "b")), lake)
      LakeMerge.mergeWrite(spark, docs(
        ("A", "2025-05-01 10:00:00", "2025-05-01 12:00:00", "a v2")), lake)
    } finally {
      spark.conf.unset(Checkpoints.ReliableCheckpointConf)
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
    val all = LakeMerge.readLake(spark, lake).orderBy("_id")
      .select($"_id", $"content.clean_text").as[(String, String)].collect().toSeq
    assert(all == Seq(("A", "a v2"), ("B", "b")))
    // the reliable checkpoint actually wrote RDD checkpoint data
    assert(new java.io.File(ckpt).listFiles.nonEmpty)
  }
}
