package graft

import org.apache.spark.sql.functions._

import graft.operators.{BatchStore, IvfIndex, Retrieval}

/** CONCURRENT serving: a reader thread querying a persistent index while
  * a (single) maintenance thread appends and compacts it. The crash
  * specs in RetrievalSpec / IvfIndexSpec kill BETWEEN operations; these
  * interleave DURING them and pin the serving contract: every answer a
  * concurrent reader observes equals the quiesced answer after some
  * prefix of the maintenance ops — never a torn state (one tree's
  * batches scored against another's), never silent staleness past the
  * last op, and transient swap failures are absorbed by
  * [[BatchStore.servingRead]], not surfaced.
  *
  * Mechanism under test (see [[Retrieval.queryIndex]] /
  * [[IvfIndex.probe]]): every append and compaction lands all of its
  * trees through one [[BatchStore]] manifest, serving reads pin their
  * batch set with one listing taken under the commit lock and read
  * through those explicit paths, and the adopt-vs-swap mutex in
  * [[BatchStore]].
  */
class ServingConcurrencySpec extends SparkSpec {
  import spark.implicits._

  /** Run `op` on a maintenance thread while `read` loops on this thread's
    * behalf; returns (observations, writer failure). Reader failures
    * propagate immediately — a serving read that exhausts its retries is
    * the defect this spec exists to catch.
    */
  private def interleave[A](ops: Seq[() => Unit], read: () => A): Seq[A] = {
    val observed = scala.collection.mutable.ListBuffer.empty[A]
    @volatile var writerFailure: Option[Throwable] = None
    @volatile var done = false
    val writer = new Thread(() => {
      try ops.foreach(op => op())
      catch { case t: Throwable => writerFailure = Some(t) }
      finally done = true
    })
    writer.start()
    while (!done) observed += read()
    writer.join()
    writerFailure.foreach(t => throw t)
    observed += read() // the final, quiesced answer
    observed.toSeq
  }

  test("BM25 queryIndex under concurrent append+compact always answers a quiesced state") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents").cache()
    val terms = Seq("vector", "merge", "window")
    def slice(i: Int) = docs.filter($"doc_id" % 4 === i)
    def answer(path: String): Seq[org.apache.spark.sql.Row] =
      BatchStore.servingRead() {
        Retrieval.queryIndex(spark, path, terms, k = 10)
          .orderBy($"rk").collect().toSeq
      }
    // ops 1..5 (op 0 = the build, applied before the reader starts)
    def ops(path: String): Seq[() => Unit] = Seq(
      () => Retrieval.appendIndex(slice(1), $"doc_id", $"text", path, batchId = 1L),
      () => Retrieval.appendIndex(slice(2), $"doc_id", $"text", path, batchId = 2L),
      () => Retrieval.compactIndex(spark, path, upToBatch = 2L),
      () => Retrieval.appendIndex(slice(3), $"doc_id", $"text", path, batchId = 3L),
      () => Retrieval.compactIndex(spark, path, upToBatch = 3L))
    // quiesced reference: the same op sequence, serialized on a shadow
    // index, answer captured after every op — the allowed-answer set
    val shadow = java.nio.file.Files.createTempDirectory("bm25shadow").toString
    Retrieval.buildIndex(slice(0), $"doc_id", $"text", shadow, buckets = 16)
    val allowed = scala.collection.mutable.LinkedHashSet[Seq[org.apache.spark.sql.Row]](
      answer(shadow))
    ops(shadow).foreach { op => op(); allowed += answer(shadow) }
    // appends must actually move the answer or the test can't distinguish
    // staleness from progress (compactions are answer-preserving by
    // contract, so not every op adds a distinct state)
    assert(allowed.size >= 3, s"op sequence produced only ${allowed.size} distinct answers")
    // live: same ops on the maintenance thread, reader looping throughout
    val live = java.nio.file.Files.createTempDirectory("bm25live").toString
    Retrieval.buildIndex(slice(0), $"doc_id", $"text", live, buckets = 16)
    val observed = interleave(ops(live), () => answer(live))
    assert(observed.nonEmpty)
    observed.zipWithIndex.foreach { case (a, i) =>
      assert(allowed.contains(a),
        s"concurrent read $i returned an answer matching NO quiesced index state: " +
          s"${a.take(3)}...")
    }
    // the post-join read sees the final state — no lost updates
    assert(observed.last == answer(shadow))
    docs.unpersist()
  }

  test("IVF probe under concurrent append+compact always answers a quiesced state") {
    val emb = Tables.wide(spark, "/root/testdata/sf0.001", "embeddings").cache()
    val probes = emb.filter($"vec_id" < 3).select($"vec_id", $"embedding").cache()
    probes.count()
    def slice(i: Int) = emb.filter($"vec_id" % 3 === i)
    def answer(path: String): Seq[org.apache.spark.sql.Row] =
      BatchStore.servingRead() {
        IvfIndex.probe(spark, path, probes, $"vec_id", $"embedding",
            k = 5, nprobe = 4)
          .orderBy($"probe_id", $"rk").collect().toSeq
      }
    def ops(path: String): Seq[() => Unit] = Seq(
      () => IvfIndex.append(spark, slice(1), $"vec_id", $"embedding", path, batchId = 1L),
      () => IvfIndex.compact(spark, path, upToBatch = 1L),
      () => IvfIndex.append(spark, slice(2), $"vec_id", $"embedding", path, batchId = 2L),
      () => IvfIndex.compact(spark, path, upToBatch = 2L))
    val shadow = java.nio.file.Files.createTempDirectory("ivfshadow").toString
    IvfIndex.build(slice(0), $"vec_id", $"embedding", shadow, nlist = 8, replicas = 1)
    val allowed = scala.collection.mutable.LinkedHashSet[Seq[org.apache.spark.sql.Row]](
      answer(shadow))
    ops(shadow).foreach { op => op(); allowed += answer(shadow) }
    assert(allowed.size >= 2, s"op sequence produced only ${allowed.size} distinct answers")
    val live = java.nio.file.Files.createTempDirectory("ivflive").toString
    IvfIndex.build(slice(0), $"vec_id", $"embedding", live, nlist = 8, replicas = 1)
    val observed = interleave(ops(live), () => answer(live))
    assert(observed.nonEmpty)
    observed.zipWithIndex.foreach { case (a, i) =>
      assert(allowed.contains(a),
        s"concurrent probe $i returned an answer matching NO quiesced index state")
    }
    assert(observed.last == answer(shadow))
    probes.unpersist(); emb.unpersist()
  }

  test("adopt-on-read heals an in-flight crashed swap under reader concurrency") {
    // crashed-swap state: the manifest published, the live batches
    // deleted, the ONLY copy of the cells tree in the stage (the window
    // between a commit's deletes and renames). N readers hit it
    // SIMULTANEOUSLY: exactly one roll-forward must run, every reader
    // must answer, and the store must end healed.
    val emb = Tables.wide(spark, "/root/testdata/sf0.001", "embeddings")
    val probes = emb.filter($"vec_id" < 2).select($"vec_id", $"embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfadopt").toString
    IvfIndex.build(emb, $"vec_id", $"embedding", path, nlist = 8, replicas = 1)
    val want = IvfIndex.probe(spark, path, probes, $"vec_id", $"embedding", k = 5)
      .orderBy($"probe_id", $"rk").collect().toSeq
    val (fs, root) = BatchStore.fsPath(spark, path)
    val cells = new org.apache.hadoop.fs.Path(root, "cells")
    val next = new org.apache.hadoop.fs.Path(s"${path}__next")
    BatchStoreSpec.crashMidSwap(spark, path)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[org.apache.spark.sql.Row]]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val readers = (0 until 6).map { _ =>
      new Thread(() => {
        try results.add(BatchStore.servingRead() {
          IvfIndex.probe(spark, path, probes, $"vec_id", $"embedding", k = 5)
            .orderBy($"probe_id", $"rk").collect().toSeq
        })
        catch { case t: Throwable => failures.add(t) }
      })
    }
    readers.foreach(_.start()); readers.foreach(_.join())
    assert(failures.isEmpty, s"reader failed during concurrent adoption: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    results.asScala.foreach(r => assert(r == want))
    assert(fs.exists(cells) && !fs.exists(next) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"${path}__manifest")),
      "store did not end healed")
  }

  test("servingRead rethrows deterministic failures immediately, retries only vanished-path classes") {
    // a deterministic failure (empty-store require, a query bug) must not
    // burn the backoff schedule: one attempt, immediate rethrow
    var calls = 0
    val boom = intercept[IllegalArgumentException] {
      BatchStore.servingRead(attempts = 5, backoffMs = 1) {
        calls += 1
        require(false, "no committed batches")
      }
    }
    assert(boom.getMessage.contains("no committed batches"))
    assert(calls == 1, s"deterministic failure was retried $calls times")

    // the two classes a mid-read swap can produce ARE retried to success
    var fnfCalls = 0
    val healed = BatchStore.servingRead(attempts = 5, backoffMs = 1) {
      fnfCalls += 1
      if (fnfCalls < 3) throw new java.io.FileNotFoundException("batch=0/part-0.parquet")
      42
    }
    assert(healed == 42 && fnfCalls == 3)

    // the execution-time shape: SparkException-style wrapper whose MESSAGE
    // embeds the cause class (task failures flatten causes into strings)
    var wrapCalls = 0
    val healed2 = BatchStore.servingRead(attempts = 5, backoffMs = 1) {
      wrapCalls += 1
      if (wrapCalls < 2) throw new RuntimeException(
        "Job aborted due to stage failure: java.io.FileNotFoundException: part-0 does not exist")
      7
    }
    assert(healed2 == 7 && wrapCalls == 2)
  }

  /** An index of batches 0 and 1, plus the crash states of appending
    * batch `torn`: its trees moved back into the stage, and — with
    * `published` — the manifest landed and the postings tree already
    * rolled forward (a crash between the two renames).
    */
  private def tornAppend(dir: String, torn: Long, published: Boolean): String = {
    import org.apache.hadoop.fs.Path
    val idx = s"$dir/idx"
    Retrieval.buildIndex(Seq((1L, "spark shuffles data"), (2L, "duck reads parquet"))
      .toDF("doc_id", "text"), $"doc_id", $"text", idx, buckets = 4)
    Retrieval.appendIndex(Seq((3L, "spark compacts stores")).toDF("doc_id", "text"),
      $"doc_id", $"text", idx, batchId = 1L)
    Retrieval.appendIndex(Seq((4L, "spark joins tables")).toDF("doc_id", "text"),
      $"doc_id", $"text", idx, batchId = torn)
    val st = BatchStore.stage(spark, idx)
    val rels = Seq(s"postings/batch=$torn", s"stats/batch=$torn")
    rels.foreach { rel =>
      st.fs.mkdirs(st.at(rel).getParent)
      require(st.fs.rename(new Path(st.root, rel), st.at(rel)))
    }
    if (published) {
      BatchStore.publish(BatchStore.Swap(st, rels))
      require(st.fs.rename(st.at(rels.head), new Path(st.root, rels.head)))
    }
    idx
  }

  private def sparkHits(idx: String): Set[Long] = BatchStore.servingRead() {
    Retrieval.queryIndex(spark, idx, Seq("spark"), k = 10)
      .select($"doc_id").as[Long].collect().toSet
  }

  test("a crashed append lands in both index trees or in neither") {
    val dir = java.nio.file.Files.createTempDirectory("idxtorn").toString
    // staged without a manifest: the batch is in neither tree, so the
    // compaction folds 0..1 alone and the stage is cleared
    val staged = tornAppend(s"$dir/a", torn = 2L, published = false)
    assert(sparkHits(staged) == Set(1L, 3L))
    Retrieval.compactIndex(spark, staged, upToBatch = 2L)
    assert(sparkHits(staged) == Set(1L, 3L))
    assert(!new java.io.File(s"${staged}__next").exists())
    // the stream's replay lands it whole
    Retrieval.appendIndex(Seq((4L, "spark joins tables")).toDF("doc_id", "text"),
      $"doc_id", $"text", staged, batchId = 2L)
    assert(sparkHits(staged) == Set(1L, 3L, 4L))
    // published, one tree rolled forward: the first read completes it
    val rolled = tornAppend(s"$dir/b", torn = 2L, published = true)
    assert(sparkHits(rolled) == Set(1L, 3L, 4L))
    Retrieval.compactIndex(spark, rolled, upToBatch = 2L)
    assert(sparkHits(rolled) == Set(1L, 3L, 4L))
    def batchDirs(sub: String) = new java.io.File(s"$rolled/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batchDirs("postings") == Set("batch=2") && batchDirs("stats") == Set("batch=2"))
  }

  test("a crashed append above the compaction range never blocks it") {
    val dir = java.nio.file.Files.createTempDirectory("idxscope").toString
    val idx = tornAppend(dir, torn = 5L, published = false)
    Retrieval.compactIndex(spark, idx, upToBatch = 1L)
    assert(sparkHits(idx) == Set(1L, 3L))
    // compacting through the crashed id finds only committed batches
    Retrieval.compactIndex(spark, idx, upToBatch = 5L)
    assert(sparkHits(idx) == Set(1L, 3L))
  }

  test("heal never adopts a stage without a manifest") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("healstage").toString
    val (fs, p) = BatchStore.fsPath(spark, s"$dir/store")
    val next = new Path(s"$dir/store__next")
    // an unfinished stage write beside a live tree, and beside an empty
    // one (the shape the rename-only heal used to adopt)
    fs.mkdirs(new Path(p, "batch=0"))
    fs.mkdirs(new Path(next, "batch=1"))
    fs.mkdirs(new Path(next, "_temporary/0"))
    assert(BatchStore.listBatches(fs, p).map(_._1) === Seq(0L))
    fs.delete(new Path(p, "batch=0"), true)
    assert(BatchStore.listBatches(fs, p).isEmpty)
    assert(fs.exists(new Path(next, "batch=1")), "heal touched the stage")
    // the next writer clears it
    val st = BatchStore.stage(spark, p.toString)
    assert(!fs.exists(st.dir))
  }

  test("concurrent heals in one JVM roll a published manifest forward once") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("healrace").toString
    val (fs, p) = BatchStore.fsPath(spark, s"$dir/store")
    (0 until 4).foreach(b => fs.create(new Path(p, s"batch=$b/part-0")).close())
    BatchStoreSpec.crashMidSwap(spark, p.toString)
    assert(fs.listStatus(p).isEmpty)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val healers = (0 until 8).map(_ => new Thread(() =>
      try BatchStore.heal(fs, p) catch { case t: Throwable => failures.add(t); () }))
    healers.foreach(_.start()); healers.foreach(_.join())
    assert(failures.isEmpty, s"a concurrent heal failed: ${failures.peek()}")
    assert(BatchStore.listBatches(fs, p).map(_._1).sorted === (0L until 4L))
    (0 until 4).foreach(b => assert(fs.exists(new Path(p, s"batch=$b/part-0"))))
    assert(!fs.exists(new Path(s"$dir/store__next")) &&
      !fs.exists(new Path(s"$dir/store__manifest")))
  }

  test("compaction keeps a zero-row batch above the range") {
    // a NESTED store's zero-row batch commits file-less (partitionBy of
    // an empty frame emits only _SUCCESS); compacting below it must keep
    // it listed, and an unfinished write (a stage without a manifest)
    // must never surface as a batch
    val dir = java.nio.file.Files.createTempDirectory("zerokeep").toString
    val path = s"$dir/store"
    Seq((1L, 0), (2L, 1)).toDF("v", "cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$path/batch=0")
    spark.range(0).select($"id".as("v"), $"id".cast("int").as("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$path/batch=1")
    val (fs, p) = BatchStore.fsPath(spark, path)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${path}__next/batch=2"))
    BatchStore.compact(spark, path, upToBatch = 0L,
      BatchStore.Tree(partitionCols = Seq("cell")))
    assert(BatchStore.listBatches(fs, p).map(_._1).sorted === Seq(0L, 1L),
      "compaction dropped the zero-row batch above the range")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${path}__next")))
    assert(spark.read.parquet(path).select($"v").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("deterministic 'does not exist' analysis failures are not retried as vanished paths") {
    // the retry classifier keys on PATH/FILE contexts — a missing-table
    // or missing-column message (e.g. "[TABLE_OR_VIEW_NOT_FOUND] The
    // table or view `x` cannot be found" / "Table x does not exist")
    // could never heal and must surface after ONE attempt
    var calls = 0
    val boom = intercept[RuntimeException] {
      BatchStore.servingRead(attempts = 5, backoffMs = 1) {
        calls += 1
        throw new RuntimeException("Table or view 'snapshots' does not exist")
      }
    }
    assert(boom.getMessage.contains("does not exist"))
    assert(calls == 1, s"deterministic analysis failure was retried $calls times")
    // while the two genuine path shapes stay retryable
    assert(BatchStore.isVanishedPathFailure(
      new RuntimeException("Path does not exist: file:/store/batch=0")))
    assert(BatchStore.isVanishedPathFailure(
      new RuntimeException("FAILED_READ_FILE.FILE_NOT_EXIST: File does not exist")))
  }
}
