package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BatchStore, IncrementalDedup, IncrementalImageDedup, IncrementalSemDedup, IvfIndex, IvfPqIndex, LakeMerge, Retrieval}
import graft.pipeline.MonthlyRollup
import graft.sources.TweetJsonSource
import graft.streaming.StreamingIngest
import graft.tools.StreamingCapstone

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

  /** Tasks of a failed job may still be finishing: wait out the job
    * group's.
    */
  private def quiesce(group: String): Unit = {
    val t = spark.sparkContext.statusTracker
    def active = t.getJobIdsForGroup(group).toSeq.flatMap(t.getJobInfo(_)).flatMap(_.stageIds)
      .flatMap(t.getStageInfo(_)).map(_.numActiveTasks).sum
    val deadline = System.nanoTime() + 10000000000L
    while (active > 0 && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Crash `w` at every mutating call k = 1..N of its clean run. The
    * crashes run concurrently, each on its own copy of the old state,
    * under its own fault scope and job group.
    */
  private def crashEveryCall(tag: String, w: Writer): Int = {
    val template = FaultFs.tmpDir(s"fault-$tag") + "/t"
    w.setup(template)
    val clean = FaultFs.tmpDir(s"fault-$tag-clean") + "/t"
    copyTree(template, clean)
    val old = w.fold(clean)
    val counted = FaultFs.arm(clean)
    try w.write(clean) finally FaultFs.disarm(counted)
    val n = counted.calls.get.toInt
    val fresh = w.fold(clean)
    assert(old != fresh, s"$tag: the write changed nothing")
    // a replay must reproduce `fresh`, so one key check covers every k
    val ks = w.keys(clean)
    assert(ks.distinct.size == ks.size, s"$tag: duplicate key")
    info(s"$tag: $n mutating calls")
    def crashAt(k: Int): Unit = {
      val dir = FaultFs.tmpDir(s"fault-$tag-$k") + "/t"
      copyTree(template, dir)
      val group = s"$tag-$k"
      spark.sparkContext.setJobGroup(group, group)
      try {
        val scope = FaultFs.arm(dir, k)
        try scala.util.Try(w.write(dir))
        finally {
          FaultFs.disarm(scope)
          quiesce(group)
        }
        val healed = w.fold(dir)
        assert(healed == old || healed == fresh,
          s"$tag: crash at call $k of $n left a mix of old and new content")
        w.write(dir)
        assert(w.fold(dir) == fresh, s"$tag: replay after a crash at call $k differs")
        for (root <- w.roots(dir); suffix <- Seq("__next", "__manifest", "__manifest.tmp"))
          assert(!exists(root + suffix), s"$tag: $root$suffix left after a crash at call $k")
      } finally spark.sparkContext.clearJobGroup()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (1 to n).map(k => pool.submit[Unit](() => crashAt(k))).foreach { f =>
      try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdown()
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
    val n = crashEveryCall("compact", Writer(
      setup = setup,
      write = dir => IncrementalDedup.compactStore(spark, s"$dir/store", upToBatch = 1L),
      // compaction keeps row content: what the crash must not change is
      // the layout's content fold, so the batch count rides along
      fold = dir => {
        val (fs, p) = BatchStore.fsPath(spark, s"$dir/store")
        val batches = BatchStore.listBatches(fs, p).size
        s"batches=$batches" +: trees(s"$dir/store", "", IncrementalDedup.BandsTree)
          .map(_.replaceAll(""","batch":\\d+""", ""))
      },
      keys = dir => keysOf(s"$dir/store", "doc_id"),
      roots = dir => Seq(s"$dir/store")))
    assert(n > 5, n)
  }

  /** The trees of a store root as sorted JSON rows, read after a heal
    * (`""` = the root's own batches); an absent tree reads as such.
    */
  private def trees(root: String, names: String*): Seq[String] = {
    val (fs, p) = BatchStore.fsPath(spark, root)
    BatchStore.heal(fs, p)
    names.flatMap { t =>
      val at = if (t.isEmpty) root else s"$root/$t"
      if (!exists(at)) Seq(s"$t absent")
      else spark.read.parquet(at).toJSON.collect().toSeq.sorted.map(r => s"$t $r")
    }
  }

  private def keysOf(path: String, cols: String*): Seq[String] =
    spark.read.parquet(path).select(concat_ws("|", cols.map(col): _*)).as[String]
      .collect().toSeq

  private def storeWriter(root: String, setup: String => Unit, write: String => Unit,
      foldTrees: Seq[String], keyTree: String, keyCols: String*) = Writer(
    setup = dir => setup(s"$dir/$root"), write = dir => write(s"$dir/$root"),
    fold = dir => trees(s"$dir/$root", foldTrees: _*),
    keys = dir => keysOf(if (keyTree.isEmpty) s"$dir/$root" else s"$dir/$root/$keyTree",
      keyCols: _*),
    roots = dir => Seq(s"$dir/$root"))

  // the smallest inputs that still write every tree: two 4-dim
  // clusters of 4 vectors, two 2-term documents per batch
  private def vecs(ids: Seq[Long], shift: Float): DataFrame =
    ids.map { i =>
      val base = if (i % 2 == 0) 0 else 2
      (i, Array.tabulate(4)(j => (if (j == base) 1.0f else 0.1f) + shift + i / 100f))
    }.toDF("vec_id", "embedding").repartition(1)
  private def terms(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text").repartition(1)

  test("index and store builds over an existing one survive a crash at every step") {
    val nIvf = crashEveryCall("ivf-build", storeWriter("idx",
      setup = IvfIndex.build(vecs(1L to 4L, 0f), $"vec_id", $"embedding", _, nlist = 2),
      write = IvfIndex.build(vecs(5L to 8L, 0.5f), $"vec_id", $"embedding", _, nlist = 2),
      foldTrees = Seq("centroids", "meta", "cells"), keyTree = "cells", "neighbor_id"))
    val nSem = crashEveryCall("sem-init", storeWriter("store",
      setup = dir => {
        IncrementalSemDedup.init(vecs(1L to 4L, 0f), $"vec_id", $"embedding", dir,
          nlist = 2, pqM = 2, pqKs = 2)
        IncrementalSemDedup.semDedupBatch(spark, vecs(1L to 4L, 0f), $"vec_id",
          $"embedding", dir, 0L).collect(): Unit
      },
      write = IncrementalSemDedup.init(vecs(5L to 8L, 0.5f), $"vec_id", $"embedding", _,
        nlist = 2, pqM = 2, pqKs = 2),
      foldTrees = Seq("centroids", "pq_books", "rows"), keyTree = "centroids", "cell"))
    val nBm25 = crashEveryCall("bm25-build", storeWriter("idx",
      setup = Retrieval.buildIndex(terms(1L -> "spark data", 2L -> "duck data"),
        $"doc_id", $"text", _, buckets = 1),
      write = Retrieval.buildIndex(terms(3L -> "spark join", 4L -> "duck join"),
        $"doc_id", $"text", _, buckets = 2),
      foldTrees = Seq("meta", "postings", "stats"), keyTree = "postings", "term", "doc_id"))
    assert(Seq(nIvf, nSem, nBm25).forall(_ > 5), (nIvf, nSem, nBm25))
  }

  test("index and store appends survive a crash at every step") {
    val nBm25 = crashEveryCall("bm25-append", storeWriter("idx",
      setup = Retrieval.buildIndex(terms(1L -> "spark data", 2L -> "duck data"),
        $"doc_id", $"text", _, buckets = 1),
      write = Retrieval.appendIndex(terms(3L -> "spark join", 4L -> "duck join"),
        $"doc_id", $"text", _, batchId = 1L),
      foldTrees = Seq("postings", "stats"), keyTree = "postings", "term", "doc_id"))
    val nPq = crashEveryCall("ivfpq-append", storeWriter("idx",
      setup = IvfPqIndex.build(vecs(1L to 4L, 0f), $"vec_id", $"embedding", _,
        nlist = 2, m = 2, ks = 2),
      write = IvfPqIndex.append(spark, vecs(5L to 8L, 0f), $"vec_id", $"embedding", _,
        batchId = 1L),
      foldTrees = Seq("cells"), keyTree = "cells", "neighbor_id"))
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "a slow green turtle walks under the busy bridge across the wide river")
    val nLsh = crashEveryCall("lsh-append", storeWriter("store",
      setup = IncrementalDedup.lshDedupBatch(spark, terms(1L -> texts(0)), $"doc_id",
        $"text", _, 0L, bands = 4).collect(): Unit,
      write = IncrementalDedup.lshDedupBatch(spark, terms(2L -> texts(1)), $"doc_id",
        $"text", _, 1L, bands = 4).collect(): Unit,
      foldTrees = Seq("", IncrementalDedup.BandsTree), keyTree = "", "doc_id"))
    val bits = Seq.tabulate(64)(i => if (i % 5 == 0) 1 else 0)
    def media(rows: (Long, Seq[Int])*): DataFrame =
      rows.map { case (i, b) => (i, TestImages.bmpOfBits(b)) }.toDF("media_id", "payload")
    val nImg = crashEveryCall("dhash-append", storeWriter("store",
      setup = IncrementalImageDedup.dhashDedupBatch(spark, media(1L -> bits), $"media_id",
        $"payload", _, 0L).collect(): Unit,
      write = IncrementalImageDedup.dhashDedupBatch(spark,
        media(2L -> TestImages.flip(bits, 3), 3L -> bits.map(1 - _)), $"media_id",
        $"payload", _, 1L).collect(): Unit,
      foldTrees = Seq(""), keyTree = "", "media_id"))
    assert(Seq(nBm25, nPq, nLsh, nImg).forall(_ > 3), (nBm25, nPq, nLsh, nImg))
  }

  test("the capstone's build batch stages, builds and commits its marker in one go") {
    // batch 0 stages below the build threshold; batch 1 stages, reaches
    // it, builds the index and commits the marker with the staged drop
    def feed(store: String, ids: Seq[Long], batchId: Long): Unit = {
      val landed = ids.toDF("doc_id")
      StreamingCapstone.maintainVectorIndex(spark, landed,
        vecs(ids, 0f).withColumn("embedding", concat($"embedding", $"embedding")),
        store, batchId, minVecBuildRows = 4, vecKs = 2)
    }
    def fold(store: String): Seq[String] = {
      val marker = s"$store/_built_through"
      val m = if (exists(marker)) spark.read.text(marker).as[String].collect().toSeq else Nil
      m ++ trees(store, "staged", "centroids", "cells")
    }
    val n = crashEveryCall("capstone-build", Writer(
      setup = dir => feed(s"$dir/vec", Seq(1L, 2L), 0L),
      write = dir => feed(s"$dir/vec", Seq(3L, 4L), 1L),
      fold = dir => fold(s"$dir/vec"),
      keys = dir => keysOf(s"$dir/vec/cells", "neighbor_id", "cell"),
      roots = dir => Seq(s"$dir/vec")))
    assert(n > 5, n)
  }

  test("the JSON export sinks survive a crash at every step") {
    def docs(n: Int): DataFrame = (1 to n).map(i => (i.toLong, s"t$i")).toDF("_id", "text")
    // the array export's fold is its text, so framing is checked too
    def readBack(path: String, array: Boolean, text: Boolean): Seq[String] = {
      val (fs, p) = BatchStore.fsPath(spark, path)
      BatchStore.heal(fs, p)
      if (!fs.exists(p)) Nil
      else if (text) spark.read.text(path).as[String].collect().toSeq
      else spark.read.option("multiLine", array).json(path)
        .select($"_id".cast("string")).as[String].collect().toSeq
    }
    val Seq(nJson, nArray) = Seq(false, true).map { array =>
      def write(path: String, n: Int): Unit =
        if (array) TweetJsonSource.writeJsonArray(docs(n), path)
        else TweetJsonSource.writeJson(docs(n), path)
      crashEveryCall(if (array) "json-array" else "json", Writer(
        setup = dir => write(s"$dir/out", 2), write = dir => write(s"$dir/out", 3),
        fold = dir => readBack(s"$dir/out", array, text = array).sorted,
        keys = dir => readBack(s"$dir/out", array, text = false),
        roots = dir => Seq(s"$dir/out")))
    }
    assert(nJson > 3 && nArray > 3, (nJson, nArray))
  }
}
