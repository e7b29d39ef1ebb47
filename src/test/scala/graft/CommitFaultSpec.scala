package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BatchStore, IncrementalDedup, LakeMerge}
import graft.pipeline.MonthlyRollup
import graft.streaming.StreamingIngest

/** Fault harness for the [[BatchStore]] commit: every writer that commits
  * through it is crashed at each of its mutating filesystem calls in turn
  * ([[FaultFs]]). After each crash the first read (which heals) must see
  * the old content or the new content, never a mix; a replay must then
  * give the content of the run without a crash, with no duplicate key and
  * no leftover stage or manifest.
  */
class CommitFaultSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.install(spark)

  /** A writer under test: `setup` builds the old state under a fresh
    * directory, `write` is the commit crashed and replayed, `fold` reads
    * the content (healing first), `keys` the rows' keys, `roots` the
    * committed roots whose stage and manifest must be gone.
    */
  private case class Writer(
      setup: String => Unit, write: String => Unit,
      fold: String => Seq[String], keys: String => Seq[String],
      roots: String => Seq[String])

  private def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from.stripPrefix("fault:")), Paths.get(to.stripPrefix("fault:")))
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally walk.close()
  }

  private def exists(path: String): Boolean = {
    val (fs, p) = BatchStore.fsPath(spark, path)
    fs.exists(p)
  }

  private def mkdir(path: String): Unit = {
    val (fs, p) = BatchStore.fsPath(spark, path)
    fs.mkdirs(p): Unit
  }

  /** Tasks of a failed job may still be finishing: wait them out. */
  private def quiesce(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while (tracker.getExecutorInfos.map(_.numRunningTasks).sum > 0 &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Crash `w` at every mutating call k = 1..N of its clean run. */
  private def crashEveryCall(tag: String, w: Writer): Int = {
    val template = FaultFs.tmpDir(s"fault-$tag") + "/t"
    FaultFs.disarm()
    w.setup(template)
    val clean = FaultFs.tmpDir(s"fault-$tag-clean") + "/t"
    copyTree(template, clean)
    val old = w.fold(clean)
    FaultFs.arm()
    w.write(clean)
    val n = FaultFs.calls.get.toInt
    FaultFs.disarm()
    val fresh = w.fold(clean)
    assert(old != fresh, s"$tag: the write changed nothing")
    // a replay must reproduce `fresh`, so one key check covers every k
    val ks = w.keys(clean)
    assert(ks.distinct.size == ks.size, s"$tag: duplicate key")
    info(s"$tag: $n mutating calls")
    (1 to n).foreach { k =>
      val dir = FaultFs.tmpDir(s"fault-$tag-$k") + "/t"
      copyTree(template, dir)
      FaultFs.arm(k)
      try scala.util.Try(w.write(dir))
      finally {
        FaultFs.disarm()
        quiesce()
      }
      val healed = w.fold(dir)
      assert(healed == old || healed == fresh,
        s"$tag: crash at call $k of $n left a mix of old and new content")
      w.write(dir)
      assert(w.fold(dir) == fresh, s"$tag: replay after a crash at call $k differs")
      for (root <- w.roots(dir); suffix <- Seq("__next", "__manifest", "__manifest.tmp"))
        assert(!exists(root + suffix), s"$tag: $root$suffix left after a crash at call $k")
    }
    n
  }

  private def docs(rows: (String, String, String, String)*): DataFrame =
    rows.toSeq.toDF("_id", "created", "scraped", "text")
      .select($"_id",
        struct($"text".as("clean_text")).as("content"),
        struct(to_timestamp($"created").as("created_at"),
          to_timestamp($"scraped").as("scraped_at")).as("metadata"),
        struct(lit(0L).as("likes")).as("metrics"))

  private def lakeFold(dir: String): Seq[String] = {
    val lake = s"$dir/lake"
    if (!exists(lake)) Nil
    else LakeMerge.readLake(spark, lake)
      .select(concat_ws("|", $"_id", $"content.clean_text",
        col(LakeMerge.PartitionCol).cast("string")))
      .as[String].collect().toSeq.sorted
  }
  private def lakeKeys(dir: String): Seq[String] =
    LakeMerge.readLake(spark, s"$dir/lake").select($"_id").as[String].collect().toSeq

  private def lakeWriter(first: DataFrame, second: DataFrame, cross: Boolean) = Writer(
    setup = dir => LakeMerge.mergeWrite(spark, first, s"$dir/lake"),
    write = dir => LakeMerge.mergeWrite(spark, second, s"$dir/lake", crossPartitionDedup = cross),
    fold = lakeFold, keys = lakeKeys, roots = dir => Seq(s"$dir/lake"))

  test("mergeWrite survives a crash at every commit step, both modes") {
    val first = docs(
      ("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a v1"),
      ("B", "2025-05-02 10:00:00", "2025-05-02 11:00:00", "b v1"),
      ("C", "2025-05-02 12:00:00", "2025-05-02 13:00:00", "c v1"))
    // a re-scrape rewriting 2025-05-02 plus a new day
    val n1 = crashEveryCall("merge", lakeWriter(first, docs(
      ("B", "2025-05-02 10:00:00", "2025-05-04 11:00:00", "b v2"),
      ("D", "2025-05-03 10:00:00", "2025-05-03 11:00:00", "d v1")), cross = false))
    // a drifted created_at: the stale copy's partition empties and drops
    val n2 = crashEveryCall("merge-dedup", lakeWriter(first, docs(
      ("A", "2025-05-05 09:00:00", "2025-05-05 12:00:00", "a v2")), cross = true))
    assert(n1 > 5 && n2 > 5, (n1, n2))
  }

  private val curatedSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", "long").add("text", "string").add("lang", "string")
  private def curated(rows: (Long, String)*): DataFrame =
    rows.toSeq.map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
  private def curatedWriter(setup: Seq[(Long, String)], batch: Seq[(Long, String)]) = {
    def merge(dir: String, rows: Seq[(Long, String)]): Unit =
      StreamingIngest.curatedMerge(spark, curated(rows: _*), s"$dir/store",
        Map.empty, defaultRate = 1.0, minTokens = 3)
    def read(dir: String): DataFrame = {
      val (fs, p) = BatchStore.fsPath(spark, s"$dir/store")
      BatchStore.heal(fs, p)
      if (fs.exists(p)) spark.read.parquet(s"$dir/store")
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        curatedSchema)
    }
    Writer(
      setup = dir => if (setup.nonEmpty) merge(dir, setup) else mkdir(dir),
      write = dir => merge(dir, batch),
      fold = dir => read(dir).select(concat_ws("|", $"doc_id", $"text"))
        .as[String].collect().toSeq.sorted,
      keys = dir => read(dir).select($"doc_id".cast("string")).as[String].collect().toSeq,
      roots = dir => Seq(s"$dir/store"))
  }

  test("curatedMerge survives a crash at every commit step, first and later batches") {
    val b1 = Seq(1L -> "first document with enough tokens",
      2L -> "second document with enough tokens")
    val b2 = Seq(3L -> "FIRST document with enough tokens",
      4L -> "a fresh document after the first")
    val n1 = crashEveryCall("curated-first", curatedWriter(Nil, b1))
    val n2 = crashEveryCall("curated-later", curatedWriter(b1, b2))
    assert(n1 > 3 && n2 > 3, (n1, n2))
  }

  test("MonthlyRollup.runIfNeeded survives a crash at every commit step") {
    val lakeDir = FaultFs.tmpDir("fault-rollup-lake")
    LakeMerge.mergeWrite(spark, docs(
      ("A", "2025-05-01 10:00:00", "2025-05-01 11:00:00", "a"),
      ("B", "2025-05-20 10:00:00", "2025-05-20 11:00:00", "b"),
      ("C", "2025-06-01 10:00:00", "2025-06-01 11:00:00", "c")), s"$lakeDir/lake")
    def read(dir: String): Seq[String] = {
      val (fs, p) = BatchStore.fsPath(spark, s"$dir/out")
      BatchStore.heal(fs, p)
      if (!fs.exists(p)) Nil
      else spark.read.parquet(s"$dir/out").select($"_id").as[String].collect().toSeq
    }
    val n = crashEveryCall("rollup", Writer(
      setup = mkdir,
      write = dir =>
        MonthlyRollup.runIfNeeded(spark, s"$lakeDir/lake", "2025-05", s"$dir/out"): Unit,
      fold = dir => read(dir).sorted, keys = read, roots = dir => Seq(s"$dir/out")))
    assert(n > 3, n)
  }

  test("a batch store compaction survives a crash at every commit step") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "the quick brown fox jumps over the lazy dog near the river bank again")
    def setup(dir: String): Unit = texts.zipWithIndex.foreach { case (t, i) =>
      IncrementalDedup.lshDedupBatch(spark, Seq((i.toLong + 1) -> t).toDF("doc_id", "text"),
        $"doc_id", $"text", s"$dir/store", i.toLong, bands = 1).collect(): Unit
    }
    def tree(root: String): Seq[String] = {
      val (fs, p) = BatchStore.fsPath(spark, root)
      BatchStore.heal(fs, p)
      spark.read.parquet(root).drop("batch").toJSON.collect().toSeq.sorted
    }
    val n = crashEveryCall("compact", Writer(
      setup = setup,
      write = dir => IncrementalDedup.compactStore(spark, s"$dir/store", upToBatch = 1L),
      // compaction keeps row content: what the crash must not change is
      // the layout's content fold, so the batch count rides along
      fold = dir => {
        val (fs, p) = BatchStore.fsPath(spark, s"$dir/store")
        BatchStore.heal(fs, p)
        val batches = BatchStore.listBatches(fs, p).size
        s"batches=$batches" +: (tree(s"$dir/store") ++ tree(s"$dir/store__bands"))
      },
      keys = dir => spark.read.parquet(s"$dir/store").select($"doc_id".cast("string"))
        .as[String].collect().toSeq,
      roots = dir => Seq(s"$dir/store", s"$dir/store__bands")))
    assert(n > 5, n)
  }
}
