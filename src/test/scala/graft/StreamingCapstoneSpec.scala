package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.DictionaryLocator
import graft.operators.IncrementalDedup
import graft.tools.StreamingCapstone

/** [[StreamingCapstone]] — the one-command pipeline must land enriched
  * batches, feed both dedup stores, and survive a mid-run kill/resume
  * with output identical to an uninterrupted run.
  */
class StreamingCapstoneSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = s"target/tmp/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(d))
    d
  }

  private def doc(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text","lang":"id"}"""

  private val boiler = (1 to 12).map(i => s"kalimat$i").mkString(" ")

  // FileStreamSource orders by modification time (ties arbitrary), so
  // slices get EXPLICIT distinct mtimes — otherwise sub-millisecond
  // writes arrive in any order and a different dup-cluster member
  // survives run-to-run
  private def writeSlice(dir: String, name: String, rows: Seq[String], seq: Int): Unit = {
    val p = Paths.get(s"$dir/$name")
    Files.write(p, rows.mkString("\n").getBytes("UTF-8"))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + seq * 60000L))
  }

  private def stores(dir: String) = StreamingCapstone.Stores(
    s"$dir/curated", s"$dir/lsh", s"$dir/seg", s"$dir/segout")

  private def slices: Seq[Seq[String]] = Seq(
    Seq(
      doc(1, s"program makan gratis di Bandung bagus sekali $boiler"),
      doc(2, s"program makan gratis di Bandung bagus sekali $boiler"), // exact dup of 1
      doc(3, "pendek")), // fails the quality gate (< minTokens)
    Seq(
      doc(4, s"pelaksanaan di Surabaya lancar dan teratur rapi $boiler"),
      doc(5, s"antri panjang dan lambat prosesnya buruk kacau $boiler")),
    Seq(
      doc(6, s"program makan gratis di Bandung bagus sekali $boiler"), // late dup of 1
      doc(7, s"laporan netral tanpa opini tentang kegiatan hari ini $boiler")))

  // deterministic synthetic media for the 7 doc ids: docs 1/2/6 share one
  // image (the cross-batch perceptual dup), 4 is a 2-bit tweak of it,
  // 5 is far, 7 is corrupt — exercising suppression, near-dup radius,
  // and the undecodable path inside the stream
  private def mediaDf = {
    val base = Seq.tabulate(64)(i => if (i % 5 == 0) 1 else 0)
    Seq[(Long, Array[Byte])](
      (1L, TestImages.bmpOfBits(base)),
      (2L, TestImages.bmpOfBits(base)),
      (4L, TestImages.bmpOfBits(TestImages.flip(base, 2, 11))),
      (5L, TestImages.bmpOfBits(Seq.tabulate(64)(i => if (i % 2 == 0) 1 else 0))),
      (6L, TestImages.bmpOfBits(base)),
      (7L, "not an image".getBytes("UTF-8"))
    ).toDF("media_id", "payload")
  }

  private def stWithImg(dir: String) =
    stores(dir).copy(imgStore = s"$dir/img", bm25Store = s"$dir/bm25",
      semStore = s"$dir/sem")

  // deterministic toy embeddings for the 7 doc ids: 2 and 6 are exact
  // copies of 1 (the in-batch and cross-batch semantic dups), 4/5/7 sit
  // in their own orthogonal modes, gated doc 3 never lands
  private def semEmb = {
    def mode(base: Int) = Array.tabulate(64)(j => if (j == base) 1.0f else 0.0f)
    Seq[(Long, Array[Float])](
      (1L, mode(0)), (2L, mode(0)), (3L, mode(48)), (4L, mode(8)),
      (5L, mode(16)), (6L, mode(0)), (7L, mode(24))
    ).toDF("vec_id", "embedding")
  }

  private def runAll(dir: String, landing: String): Unit = {
    // minSemInitRows=4: batch 0 stages 2 vectors, batch 1 reaches the
    // threshold (init + staged replay), batch 2 feeds the store directly
    // — every path of the staged lifecycle runs in every capstone test
    val q = StreamingCapstone.start(spark, landing, stWithImg(dir), s"$dir/ck",
      DictionaryLocator.Indonesian, maxFilesPerTrigger = 1,
      trigger = Trigger.AvailableNow(), media = Some(mediaDf),
      vectors = Some(semEmb), minSemInitRows = 4)
    q.awaitTermination()
  }

  test("pipeline lands enriched batches and feeds both stores") {
    val dir = tmpDir("capstone")
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    slices.zipWithIndex.foreach { case (s, i) => writeSlice(landing, s"b$i.json", s, i) }
    runAll(dir, landing)
    val curated = spark.read.parquet(stores(dir).curatedDir)
    // 7 docs in, 1 gated out
    assert(curated.count() == 6)
    assert(curated.columns.toSet.contains("sentiment") &&
      curated.columns.toSet.contains("location") &&
      curated.columns.toSet.contains("lang_id"))
    // the location cascade found the planted cities
    val locs = curated.select($"doc_id", $"location.city").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(locs(1) == "Bandung" && locs(4) == "Surabaya")
    // LSH store suppressed both the same-batch and the cross-batch dups:
    // docs 1, 2 and 6 share one text — exactly the first-arriving member
    // survives
    val surv = IncrementalDedup.survivors(spark, stores(dir).lshStore)
      .select($"doc_id").as[Long].collect().toSet
    assert(surv.intersect(Set(1L, 2L, 6L)) == Set(1L), s"survivors: $surv")
    assert(Set(4L, 5L, 7L).subsetOf(surv))
    // segment store: the shared boilerplate tail survives exactly once
    val segKept = spark.read.parquet(stores(dir).segOut)
      .filter($"kept_text".contains("kalimat1"))
    assert(segKept.count() >= 1)
  }

  test("vector stage maintains a probeable IVF-PQ index across batches") {
    val dir = tmpDir("capvec")
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    slices.zipWithIndex.foreach { case (s, i) => writeSlice(landing, s"b$i.json", s, i) }
    // deterministic toy embeddings for the 7 doc ids: two modes, ids
    // 1-3 near e1, ids 4-7 near e2 (gated doc 3 simply never lands)
    val emb = (1L to 7L).map { i =>
      val base = if (i <= 3) 0 else 32
      (i, Array.tabulate(64)(j =>
        (if (j == base) 1.0f else 0.0f) + (i.toFloat / 1000f)))
    }.toDF("vec_id", "embedding")
    val st = stores(dir).copy(vecStore = s"$dir/vecidx")
    // minVecBuildRows=4: batch 0 stages its 2 vectors, batch 1 reaches
    // the threshold and builds, batch 2 appends — all three paths of the
    // staged lifecycle run
    val q = StreamingCapstone.start(spark, landing, st, s"$dir/ck",
      DictionaryLocator.Indonesian, maxFilesPerTrigger = 1,
      trigger = Trigger.AvailableNow(), vectors = Some(emb),
      minVecBuildRows = 4, vecKs = 4)
    q.awaitTermination()
    // only LANDED docs' vectors enter the index (doc 3 was gated out)
    val indexed = spark.read.parquet(s"${st.vecStore}/cells")
      .select($"neighbor_id").as[Long].collect().toSet
    assert(!indexed.contains(3L), "gated doc's vector reached the index")
    assert(indexed.subsetOf(Set(1L, 2L, 4L, 5L, 6L, 7L)) && indexed.size >= 5)
    // the index is probeable and respects the planted modes
    val probes = emb.filter($"vec_id" === 4L)
    val got = graft.operators.IvfPqIndex.probe(spark, st.vecStore,
        probes, $"vec_id", $"embedding", k = 3, nprobe = 2)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.subsetOf(Set(5L, 6L, 7L)),
      s"probe of doc 4 pulled cross-mode neighbors: $got")
    // the staged tree is dead data once the build marker commits
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${st.vecStore}/staged")),
      "staged tree retained after build")
  }

  test("mid-run kill + checkpoint resume equals the uninterrupted run") {
    val interrupted = tmpDir("capstone-kill")
    val straight = tmpDir("capstone-straight")
    for (d <- Seq(interrupted, straight))
      Files.createDirectories(Paths.get(s"$d/landing"))

    // uninterrupted reference run over all three slices
    slices.zipWithIndex.foreach { case (s, i) =>
      writeSlice(s"$straight/landing", s"b$i.json", s, i)
    }
    runAll(straight, s"$straight/landing")

    // interrupted run: process slice 0, stop (the kill), add the rest,
    // resume from the same checkpoint
    writeSlice(s"$interrupted/landing", "b0.json", slices(0), 0)
    runAll(interrupted, s"$interrupted/landing")
    slices.zipWithIndex.drop(1).foreach { case (s, i) =>
      writeSlice(s"$interrupted/landing", s"b$i.json", s, i)
    }
    runAll(interrupted, s"$interrupted/landing")

    def curatedSet(dir: String) = spark.read.parquet(stores(dir).curatedDir)
      .select($"doc_id", $"clean_text", $"sentiment", $"lang_id")
      .as[(Long, String, String, String)].collect().toSet
    assert(curatedSet(interrupted) == curatedSet(straight))
    def survivors(dir: String) = IncrementalDedup.survivors(spark, stores(dir).lshStore)
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors(interrupted) == survivors(straight))
    def imgState(dir: String) = spark.read.parquet(stWithImg(dir).imgStore)
      .select($"media_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(imgState(interrupted) == imgState(straight))
    def semState(dir: String) = spark.read.parquet(s"${stWithImg(dir).semStore}/rows")
      .select($"vec_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(semState(interrupted) == semState(straight),
      "semantic store state diverged across kill/resume")
  }

  test("semantic stage suppresses embedding dups across batches in-stream") {
    val dir = tmpDir("capsem")
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    slices.zipWithIndex.foreach { case (s, i) => writeSlice(landing, s"b$i.json", s, i) }
    runAll(dir, landing)
    val state = spark.read.parquet(s"${stWithImg(dir).semStore}/rows")
      .select($"vec_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect()
      .map { case (v, r, s) => (v, (r, s)) }.toMap
    // doc 3 never lands (quality gate) → its vector never reaches the store
    assert(!state.contains(3L))
    // 1 survives; 2 (same staged batch) and 6 (arriving AFTER init, two
    // batches later, identical embedding) suppress under it; the
    // orthogonal modes 4, 5, 7 all survive
    assert(state(1L) == ((1L, true)))
    assert(state(2L) == ((1L, false)))
    assert(state(6L) == ((1L, false)), "cross-batch semantic dup kept")
    assert(state(4L)._2 && state(5L)._2 && state(7L)._2)
    assert(graft.operators.IncrementalSemDedup.survivors(
        spark, stWithImg(dir).semStore)
      .as[Long].collect().toSet == Set(1L, 4L, 5L, 7L))
    // the staged tree is dead data once the init marker commits
    // (a full float copy of the pre-init history) — it must be gone
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${stWithImg(dir).semStore}/staged")),
      "staged tree retained after init")
  }

  test("in-stream compaction across every store changes layout, never state") {
    // two identical full-config runs (all seven stores live); one folds
    // every store's committed prefix after EVERY batch (compactEvery=1 —
    // the most aggressive legal schedule: inside foreachBatch of batchId,
    // all batches < batchId are checkpoint-committed). Every store's
    // semantic state and the served BM25/vector answers must be
    // bit-identical; only the batch= layout may differ.
    val plain = tmpDir("capnocomp")
    val compacted = tmpDir("capcomp")
    def fullStores(dir: String) = stWithImg(dir).copy(vecStore = s"$dir/vecidx")
    def run(dir: String, compactEvery: Int): Unit = {
      val landing = s"$dir/landing"
      Files.createDirectories(Paths.get(landing))
      slices.zipWithIndex.foreach { case (s, i) =>
        writeSlice(landing, s"b$i.json", s, i)
      }
      val q = StreamingCapstone.start(spark, landing, fullStores(dir),
        s"$dir/ck", DictionaryLocator.Indonesian, maxFilesPerTrigger = 1,
        trigger = Trigger.AvailableNow(), media = Some(mediaDf),
        vectors = Some(semEmb), minSemInitRows = 4,
        minVecBuildRows = 4, vecKs = 4, compactEvery = compactEvery)
      q.awaitTermination()
    }
    run(plain, 0)
    run(compacted, 1)
    def batchDirs(path: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).toSeq.sorted
    }
    // layout DID change: the lsh store's three batches folded
    assert(batchDirs(fullStores(plain).lshStore) == Seq("batch=0", "batch=1", "batch=2"))
    assert(batchDirs(fullStores(compacted).lshStore) == Seq("batch=1", "batch=2"),
      "compactEvery=1 should have folded the committed prefix")
    // state did NOT: every store agrees row-for-row
    def lshState(dir: String) = spark.read.parquet(fullStores(dir).lshStore)
      .select($"doc_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(lshState(compacted) == lshState(plain))
    def segState(dir: String) = spark.read.parquet(fullStores(dir).segOut)
      .select($"id", $"n_seg", $"n_kept", $"kept_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(segState(compacted) == segState(plain))
    def imgState(dir: String) = spark.read.parquet(fullStores(dir).imgStore)
      .select($"media_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(imgState(compacted) == imgState(plain))
    def semState(dir: String) = spark.read.parquet(s"${fullStores(dir).semStore}/rows")
      .select($"vec_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(semState(compacted) == semState(plain))
    def bm25(dir: String) = graft.operators.Retrieval.queryIndex(
        spark, fullStores(dir).bm25Store, Seq("makan", "bandung"), k = 10)
      .as[(Int, Long, Double)].collect().toSeq
    assert(bm25(compacted) == bm25(plain) && bm25(plain).nonEmpty)
    def probe(dir: String) = graft.operators.IvfPqIndex.probe(spark,
        fullStores(dir).vecStore, semEmb.filter($"vec_id" === 4L),
        $"vec_id", $"embedding", k = 3, nprobe = 2)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(probe(compacted) == probe(plain))
  }

  test("BM25 stage: streamed index serves identically to a full rebuild") {
    val dir = tmpDir("capbm25")
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    slices.zipWithIndex.foreach { case (s, i) => writeSlice(landing, s"b$i.json", s, i) }
    runAll(dir, landing)
    val terms = Seq("makan", "bandung")
    val streamed = graft.operators.Retrieval.queryIndex(
        spark, stWithImg(dir).bm25Store, terms, k = 10)
      .as[(Int, Long, Double)].collect().toSeq
    // rebuild one-shot over exactly the landed corpus
    val rebuilt = s"$dir/bm25rebuild"
    graft.operators.Retrieval.buildIndex(
      spark.read.parquet(stWithImg(dir).curatedDir),
      col("doc_id"), col("clean_text"), rebuilt, buckets = 16)
    val want = graft.operators.Retrieval.queryIndex(spark, rebuilt, terms, k = 10)
      .as[(Int, Long, Double)].collect().toSeq
    assert(streamed == want && streamed.nonEmpty)
  }

  test("image stage suppresses perceptual dups across batches in-stream") {
    val dir = tmpDir("capimg")
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    slices.zipWithIndex.foreach { case (s, i) => writeSlice(landing, s"b$i.json", s, i) }
    runAll(dir, landing)
    val state = spark.read.parquet(stWithImg(dir).imgStore)
      .select($"media_id", $"rep_id", $"survivor")
      .as[(Long, Long, Boolean)].collect()
      .map { case (m, r, s) => (m, (r, s)) }.toMap
    // doc 3 never lands (quality gate) → its media never reaches the store
    assert(!state.contains(3L))
    // 1 survives; 2 (same batch) and 6 (two batches later, identical
    // image) suppress under it; 4 is within the hamming radius → also
    // suppressed under 1; 5 is far and survives; corrupt 7 survives
    assert(state(1L) == ((1L, true)))
    assert(state(2L) == ((1L, false)))
    assert(state(6L) == ((1L, false)), "cross-batch perceptual dup kept")
    assert(state(4L)._2 == false && state(4L)._1 == 1L)
    assert(state(5L)._2 == true && state(7L)._2 == true)
  }
}
