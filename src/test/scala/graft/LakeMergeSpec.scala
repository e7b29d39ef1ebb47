package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

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
    // 2025-05-02 held only the stale copy: no winner lands there, so the
    // swap must drop the partition rather than leave its files behind
    assert(!new java.io.File(s"$lake/${LakeMerge.PartitionCol}=2025-05-02").exists())
    val all = LakeMerge.readLake(spark, lake)
    assert(all.count() == 1)
    assert(all.select($"content.clean_text").as[String].head() == "a v2")
  }

  test("reliable-checkpoint mode produces the same merge (cluster-grade materialization)") {
    import spark.implicits._
    val lake = tmp("reliable") + "/lake"
    // the checkpoint dir sits on the recording filesystem double, so the
    // spec sees the checkpoint data written and then freed
    FaultFs.install(spark)
    val ckpt = FaultFs.tmpDir("lakemerge-ckpt")
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(Checkpoints.ReliableCheckpointConf, "true")
    val scope = FaultFs.arm(ckpt)
    try {
      LakeMerge.mergeWrite(spark, docs(
        ("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a v1"),
        ("B", "2025-05-02 10:00:00", "2025-05-02 11:00:00", "b")), lake)
      LakeMerge.mergeWrite(spark, docs(
        ("A", "2025-05-01 10:00:00", "2025-05-01 12:00:00", "a v2")), lake)
    } finally {
      FaultFs.disarm(scope)
      spark.conf.unset(Checkpoints.ReliableCheckpointConf)
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
    val all = LakeMerge.readLake(spark, lake).orderBy("_id")
      .select($"_id", $"content.clean_text").as[(String, String)].collect().toSeq
    assert(all == Seq(("A", "a v2"), ("B", "b")))
    // the reliable checkpoint actually wrote RDD checkpoint data, and
    // mergeWrite freed it once the swap was done
    import scala.jdk.CollectionConverters._
    val created = scope.log.asScala.filter(_.startsWith("create ")).map(_.drop(7))
    assert(created.exists(_.matches(".*/rdd-\\d+/.*")), created)
    val rddDirs = new java.io.File(ckpt.stripPrefix("fault:")).listFiles.toSeq
      .flatMap(d => Option(d.listFiles).toSeq.flatten).filter(_.getName.startsWith("rdd-"))
    assert(rddDirs.isEmpty, s"checkpoint data not freed: $rddDirs")
  }

  /** Every file under `dir` with its modification time. */
  private def listing(dir: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.map(p =>
      (root.relativize(p).toString, p.toFile.lastModified)).toSeq.sorted
    finally walk.close()
  }

  /** Data-file SHA-256 digests per partition directory. */
  private def digests(lake: String): Map[String, Seq[String]] =
    new java.io.File(lake).listFiles.toSeq.filter(_.isDirectory).map { part =>
      part.getName -> part.listFiles.toSeq.filter(_.getName.endsWith(".parquet")).map { f =>
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
      }.sorted
    }.toMap

  test("the lake's bytes depend only on its content, not on task layout") {
    val batches = Seq(
      docs((1 to 40).map(i => (s"id$i", s"2025-05-0${1 + i % 3} 10:00:00",
        "2025-05-04 11:00:00", s"text $i")): _*),
      // a re-scrape rewriting one partition, plus a new day
      docs((1 to 40 by 3).map(i => (s"id$i", s"2025-05-0${1 + i % 3} 10:00:00",
        "2025-05-05 11:00:00", s"text $i v2")) :+
        (("id99", "2025-05-07 10:00:00", "2025-05-07 11:00:00", "new")): _*))
    // the same batches, once as built and once scattered over 5 tasks
    // and merged over 3 uncoalesced shuffle partitions — the task layout
    // AQE's size-dependent coalescing picks must not reach the files
    val a = tmp("bytes-a") + "/lake"
    val b = tmp("bytes-b") + "/lake"
    batches.foreach(df => LakeMerge.mergeWrite(spark, df, a))
    val layout = Seq("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = layout.map { case (k, _) => k -> spark.conf.get(k) }
    layout.foreach { case (k, v) => spark.conf.set(k, v) }
    try batches.foreach(df => LakeMerge.mergeWrite(spark, df.repartition(5), b))
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    val (da, db) = (digests(a), digests(b))
    assert(da.keySet.size == 4 && da.values.forall(_.nonEmpty), da)
    assert(da == db)
  }

  test("an empty batch leaves the lake untouched") {
    val lake = tmp("empty") + "/lake"
    val batch = docs(("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a"))
    LakeMerge.mergeWrite(spark, batch, lake)
    val before = listing(lake)
    LakeMerge.mergeWrite(spark, batch.limit(0), lake)
    LakeMerge.mergeWrite(spark, batch.filter(lit(false)), lake, crossPartitionDedup = true)
    assert(listing(lake) == before)
    assert(!new java.io.File(lake + "__next").exists())
  }
}
