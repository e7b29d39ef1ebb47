package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IncrementalDedup}
import graft.streaming.StreamingIngest

/** Cross-batch MinHash-LSH suppression against the persistent signature
  * store. The planted corpus is a sliding 40-token window over 60 shared
  * tokens: A = t1..t40, B = t11..t50, G = t21..t60 — so adjacent windows
  * overlap 30 tokens (exact shingle Jaccard 28/48 ≈ 0.583, above the 0.45
  * test threshold) while the outer pair overlaps 20 (18/58 ≈ 0.31,
  * below). G therefore near-matches ONLY B; suppressing G under A's
  * cluster requires the chain through suppressed B — the transitivity
  * the store's suppressed-row signatures exist to provide.
  */
class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  private val Threshold = 0.45

  // r = 64/32 = 2 signature rows per band: P(a true pair shares no band)
  // = (1 - J^2)^32 — ~2e-6 at the planted J ≈ 0.58, so candidate
  // generation is effectively certain and the estimated-Jaccard filter is
  // the only semantic gate. The production default (16 bands, r = 4) is
  // tuned for threshold ~0.6+ corpora; at the planted geometry its
  // miss probability (~0.45 at est J ≈ 0.5) is a coin flip per pair —
  // the spec pins SEMANTICS, so it buys certainty with more bands.
  private val TestBands = 32

  private def toksText(lo: Int, hi: Int): String =
    (lo to hi).map(i => f"tok$i%02d").mkString(" ")

  private val textA = toksText(1, 40)
  private val textB = toksText(11, 50)
  private val textG = toksText(21, 60)
  private val textC = (1 to 40).map(i => f"other$i%02d").mkString(" ")
  private val textE = (1 to 40).map(i => f"fresh$i%02d").mkString(" ")

  private def tmpDir(name: String): String = {
    val d = s"target/tmp/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(d))
    d
  }

  private def sigOf(text: String): Array[Long] =
    Seq(text).toDF("t")
      .select(Dedup.minHashSignature(
        Dedup.wordShingles(col("t")), 64, 42L).as("s"))
      .head().getAs[scala.collection.Seq[Long]](0).toArray

  private def est(a: Array[Long], b: Array[Long]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(IncrementalDedup.estimatedJaccard(col("a"), col("b"), 64).as("e"))
      .head().getDouble(0)

  private def exactJ(x: String, y: String): Double =
    Seq((x, y)).toDF("x", "y")
      .select(Dedup.jaccard(
        Dedup.wordShingles(col("x")), Dedup.wordShingles(col("y"))).as("j"))
      .head().getDouble(0)

  test("estimated Jaccard tracks exact Jaccard within estimator tolerance; planted geometry holds") {
    val (sa, sb, sg) = (sigOf(textA), sigOf(textB), sigOf(textG))
    for ((x, y, nx, ny) <- Seq(
        (textA, textB, sa, sb), (textB, textG, sb, sg), (textA, textG, sa, sg))) {
      val e = est(nx, ny)
      val j = exactJ(x, y)
      // k=64 → estimator σ = sqrt(J(1−J)/64) ≤ 0.063; 0.15 ≈ 2.4σ
      assert(math.abs(e - j) <= 0.15, s"estimator drift: est=$e exact=$j")
    }
    // the geometry every other test in this suite depends on — fail HERE,
    // loudly, if the planted construction ever stops separating
    assert(est(sa, sb) >= Threshold, s"A~B must match: ${est(sa, sb)}")
    assert(est(sb, sg) >= Threshold, s"B~G must match: ${est(sb, sg)}")
    assert(est(sa, sg) < Threshold, s"A~G must NOT match directly: ${est(sa, sg)}")
  }

  test("cross-batch suppression: direct, transitive through a suppressed doc, in-batch, short docs") {
    val store = tmpDir("inc-dedup")
    def run(batchId: Long, rows: (Long, String)*): Map[Long, (Long, Boolean)] =
      IncrementalDedup.lshDedupBatch(
        spark, rows.toDF("doc_id", "text"), col("doc_id"), col("text"),
        store, batchId, threshold = Threshold, bands = TestBands)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap

    // batch 0: A and an unrelated doc and a shingle-less short doc
    val b0 = run(0L, 10L -> textA, 11L -> textC, 12L -> "hi")
    assert(b0 === Map(10L -> ((10L, true)), 11L -> ((11L, true)), 12L -> ((12L, true))))

    // batch 1: B near-matches stored A → suppressed under 10; E is fresh
    val b1 = run(1L, 20L -> textB, 21L -> textE)
    assert(b1 === Map(20L -> ((10L, false)), 21L -> ((21L, true))))

    // batch 2: G near-matches ONLY the SUPPRESSED B (geometry test above)
    // → still suppressed, under B's rep 10: cross-batch transitivity.
    // Plus an in-batch identical pair: min id survives.
    val b2 = run(2L, 30L -> textG, 31L -> textE.replace("fresh", "novel"),
      32L -> textE.replace("fresh", "novel"))
    assert(b2(30L) === ((10L, false)), s"chain through suppressed doc broken: ${b2(30L)}")
    assert(b2(31L) === ((31L, true)))
    assert(b2(32L) === ((31L, false)))

    val surv = IncrementalDedup.survivors(spark, store)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(surv.toSeq === Seq(10L, 11L, 12L, 21L, 31L))

    // one-shot equivalence: the same nine docs in ONE batch on a fresh
    // store give the same survivor set (no bridge doc in this corpus)
    val fresh = tmpDir("inc-dedup-oneshot")
    val all = IncrementalDedup.lshDedupBatch(
      spark, Seq(10L -> textA, 11L -> textC, 12L -> "hi", 20L -> textB,
        21L -> textE, 30L -> textG, 31L -> textE.replace("fresh", "novel"),
        32L -> textE.replace("fresh", "novel")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), fresh, 0L, threshold = Threshold, bands = TestBands)
    val oneShot = all.filter($"survivor").select($"doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(oneShot.toSeq === Seq(10L, 11L, 12L, 21L, 31L))
  }

  test("replayed batch rewrites its partition idempotently") {
    val store = tmpDir("inc-dedup-replay")
    def content(): Seq[(Long, Long, Boolean, Long)] =
      spark.read.parquet(store)
        .select($"doc_id", $"rep_id", $"survivor", $"batch".cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
        .toSeq.sorted
    IncrementalDedup.lshDedupBatch(spark, Seq(10L -> textA, 11L -> textC).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 0L, threshold = Threshold, bands = TestBands)
    IncrementalDedup.lshDedupBatch(spark, Seq(20L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 1L, threshold = Threshold, bands = TestBands)
    val before = content()
    // the failure-replay path: batch 1 runs again with the same batchId
    // and payload — the store's ROW SET must not change (the partition is
    // rewritten, never appended)
    IncrementalDedup.lshDedupBatch(spark, Seq(20L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 1L, threshold = Threshold, bands = TestBands)
    assert(content() === before, "replay changed the store's content")
  }

  test("monotonicity: a late bridge doc never retracts emitted survivors") {
    // H = t1..t40 and I = t21..t60 are NOT near-dups of each other; the
    // bridge K = t11..t50 matches both. Sequentially H and I are both
    // emitted before K arrives — K is suppressed under the smaller rep
    // and both stay. One-shot closure over the union merges all three.
    val store = tmpDir("inc-dedup-bridge")
    IncrementalDedup.lshDedupBatch(spark, Seq(1L -> textA, 2L -> textG).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 0L, threshold = Threshold, bands = TestBands)
    val b1 = IncrementalDedup.lshDedupBatch(spark, Seq(3L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 1L, threshold = Threshold, bands = TestBands)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(b1.toSeq === Seq((3L, 1L, false)))
    val seq = IncrementalDedup.survivors(spark, store)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(seq.toSeq === Seq(1L, 2L), "emitted survivors were retracted")

    val fresh = tmpDir("inc-dedup-bridge-oneshot")
    val oneShot = IncrementalDedup.lshDedupBatch(
      spark, Seq(1L -> textA, 2L -> textG, 3L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), fresh, 0L, threshold = Threshold, bands = TestBands)
      .filter($"survivor").select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(oneShot.toSeq === Seq(1L), "one-shot closure should merge the bridged clusters")
  }

  test("compactStore consolidates committed partitions; semantics and crash-swap both hold") {
    val store = tmpDir("inc-dedup-compact")
    IncrementalDedup.lshDedupBatch(spark, Seq(10L -> textA, 11L -> textC).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 0L, threshold = Threshold, bands = TestBands)
    IncrementalDedup.lshDedupBatch(spark, Seq(20L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 1L, threshold = Threshold, bands = TestBands)
    IncrementalDedup.lshDedupBatch(spark, Seq(21L -> textE).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 2L, threshold = Threshold, bands = TestBands)
    def rows(): Seq[(Long, Long, Boolean)] =
      spark.read.parquet(store).select($"doc_id", $"rep_id", $"survivor")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    def dirs(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq.sorted
    }
    val before = rows()
    assert(dirs() === Seq("batch=0", "batch=1", "batch=2"))

    // compact the committed prefix: batches 0 and 1 fold into batch=1;
    // the (possibly in-flight) batch 2 keeps its partition identity —
    // row content must be byte-identical
    IncrementalDedup.compactStore(spark, store, upToBatch = 1L)
    assert(dirs() === Seq("batch=1", "batch=2"))
    assert(rows() === before, "compaction changed store content")

    // suppression against compacted history still works, reps intact:
    // G chains to A (rep 10) through suppressed B, both now consolidated
    val b3 = IncrementalDedup.lshDedupBatch(spark, Seq(30L -> textG).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 3L, threshold = Threshold, bands = TestBands)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(b3.toSeq === Seq((30L, 10L, false)))

    // a target id above every existing partition must clamp to an
    // EXISTING id — a fresh consolidated id would collide with the
    // stream's next batch and be overwrite-replaced
    IncrementalDedup.compactStore(spark, store, upToBatch = 99L)
    assert(dirs() === Seq("batch=3"))
    val after = rows()

    // crash mid-swap: the manifest landed, the live partitions were
    // deleted, none renamed — the next reader rolls the swap forward
    BatchStoreSpec.crashMidSwap(spark, store)
    val sv = IncrementalDedup.survivors(spark, store)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(sv.toSeq === Seq(10L, 11L, 21L))
    assert(rows() === after, "adopted store content differs")
    assert(!new java.io.File(store + "__next").exists())
  }

  test("band-index tree: bucketed layout, legacy-store fallback, compaction-preserving prune") {
    val store = tmpDir("inc-dedup-bands")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def idxDirs(batch: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$store/_bands/$batch")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("bucket=")).toSeq.sorted
    }
    IncrementalDedup.lshDedupBatch(spark, Seq(1L -> textA, 4L -> textC).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 0L, threshold = Threshold, bands = TestBands)
    IncrementalDedup.lshDedupBatch(spark, Seq(2L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 1L, threshold = Threshold, bands = TestBands)
    // the index tree exists, hash-bucketed per batch
    assert(idxDirs("batch=0").nonEmpty && idxDirs("batch=0").forall(_.startsWith("bucket=")))

    // LEGACY FALLBACK: a store written before the index tree existed
    // must still suppress identically — delete the whole index tree and
    // replay batch 2's suppression
    val suppressed = IncrementalDedup.lshDedupBatch(
      spark, Seq(3L -> textG).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 2L, threshold = Threshold, bands = TestBands)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSeq
    assert(suppressed === Seq((3L, 1L, false)), "indexed path: G chains to A through B")
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_bands"), true)
    val replayed = IncrementalDedup.lshDedupBatch(
      spark, Seq(3L -> textG).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 2L, threshold = Threshold, bands = TestBands)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSeq
    assert(replayed === suppressed, "derived-bands fallback diverged from the indexed path")

    // compaction stages BOTH trees and preserves the bucket layout
    // (the replay above rebuilt batch=2's index; 0 and 1 re-derive)
    IncrementalDedup.compactStore(spark, store, upToBatch = 2L)
    assert(idxDirs("batch=2").nonEmpty && idxDirs("batch=2").forall(_.startsWith("bucket=")),
      "compacted index tree lost its bucket partitioning")
    // and post-compaction suppression still reads through the index
    val b3 = IncrementalDedup.lshDedupBatch(
      spark, Seq(5L -> textB).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 3L, threshold = Threshold, bands = TestBands)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSeq
    assert(b3 === Seq((5L, 1L, false)))
  }

  test("all-short seed batch: file-less committed index partitions crash neither arrivals nor compaction") {
    // an all-short batch has zero band rows, so its index write commits a
    // FILE-LESS partition (empty frame + partitionBy emits only _SUCCESS).
    // When every committed index partition is file-less, schema inference
    // has no parquet footer — the explicit-schema read is what keeps the
    // next arrival and compactStore alive (regression: both crashed with
    // 'Unable to infer schema', and since the partition was committed,
    // neither the derive fallback nor the backfill repaired it).
    val store = tmpDir("inc-dedup-allshort")
    def run(batchId: Long, rows: (Long, String)*): Map[Long, (Long, Boolean)] =
      IncrementalDedup.lshDedupBatch(
        spark, rows.toDF("doc_id", "text"), col("doc_id"), col("text"),
        store, batchId, threshold = Threshold, bands = TestBands)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap

    val b0 = run(0L, 1L -> "hi", 2L -> "yo") // seed: every doc shingle-less
    assert(b0 === Map(1L -> ((1L, true)), 2L -> ((2L, true))))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx0 = new org.apache.hadoop.fs.Path(s"$store/_bands/batch=0")
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx0, "_SUCCESS")),
      "precondition: the all-short index partition should be committed")
    assert(fs.listStatus(idx0).forall(_.getPath.getName.startsWith("_")),
      "precondition: the all-short index partition should be file-less")

    // compaction over ONLY the file-less index partition must not crash
    IncrementalDedup.compactStore(spark, store, upToBatch = 0L)
    // the next arrival reads the (still file-less) committed index
    val b1 = run(1L, 10L -> textA)
    assert(b1 === Map(10L -> ((10L, true))))
    // and suppression through the index still works downstream
    val b2 = run(2L, 20L -> textB)
    assert(b2 === Map(20L -> ((10L, false))))
    // full compaction across mixed file-less + real index partitions
    IncrementalDedup.compactStore(spark, store, upToBatch = 2L)
    val b3 = run(3L, 30L -> textG)
    assert(b3 === Map(30L -> ((10L, false))),
      "post-compaction suppression chain broken")
  }

  test("streaming wrapper: LSH dedup store survives checkpoint resume") {
    val dir = tmpDir("inc-dedup-stream")
    val landing = s"$dir/landing"
    val store = s"$dir/store"
    Files.createDirectories(Paths.get(landing))
    def doc(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text"}"""
    def run(): Unit = {
      val q = StreamingIngest.startLshDedup(spark, landing, store, s"$dir/ck",
        threshold = Threshold, bands = TestBands)
      q.awaitTermination()
    }
    Files.write(Paths.get(s"$landing/b1.json"),
      Seq(doc(10L, textA), doc(11L, textC)).mkString("\n").getBytes("UTF-8"))
    run()
    Files.write(Paths.get(s"$landing/b2.json"),
      Seq(doc(20L, textB)).mkString("\n").getBytes("UTF-8"))
    run()
    val surv = IncrementalDedup.survivors(spark, store)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(surv.toSeq === Seq(10L, 11L))
    // resume with nothing new: a no-op
    run()
    assert(IncrementalDedup.survivors(spark, store).count() === 2L)
  }

  test("streaming wrapper: in-stream compaction folds committed prefix, same survivors") {
    val dir = tmpDir("inc-dedup-stream-compact")
    val landing = s"$dir/landing"
    val store = s"$dir/store"
    Files.createDirectories(Paths.get(landing))
    def doc(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text"}"""
    // maxFilesPerTrigger=1 → one micro-batch per landed file, so batch
    // ids advance 0,1,2,... and compactEvery=2 fires inside batch 2
    def run(): Unit = {
      val q = StreamingIngest.startLshDedup(spark, landing, store, s"$dir/ck",
        threshold = Threshold, bands = TestBands,
        maxFilesPerTrigger = 1, compactEvery = 2)
      q.awaitTermination()
    }
    Files.write(Paths.get(s"$landing/b1.json"),
      Seq(doc(10L, textA), doc(11L, textC)).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$landing/b2.json"),
      Seq(doc(20L, textB)).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$landing/b3.json"),
      Seq(doc(21L, textE)).mkString("\n").getBytes("UTF-8"))
    run()
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq.sorted
    // batch 2's trigger compacted 0..1 into batch=1, then wrote batch=2
    assert(dirs === Seq("batch=1", "batch=2"))
    val surv = IncrementalDedup.survivors(spark, store)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(surv.toSeq === Seq(10L, 11L, 21L))
    // transitive suppression against the compacted store still holds
    val b = IncrementalDedup.lshDedupBatch(spark,
      Seq(30L -> textG).toDF("doc_id", "text"),
      col("doc_id"), col("text"), store, 3L,
      threshold = Threshold, bands = TestBands)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(b.toSeq === Seq((30L, 10L, false)))
  }

  test("seedLshChunked: any chunk count equals the one-shot seed; arrivals continue past it") {
    // a corpus with planted cross-chunk structure: 120 docs, every
    // (3i, 3i+1) a near-dup pair (overlap like A/B), so id-range chunk
    // boundaries land inside clusters as well as between them
    val docs = (0 until 120).map { i =>
      val base = (i / 3) * 100
      val text = i % 3 match {
        case 0 => (base + 1 to base + 40).map(t => f"w$t%05d").mkString(" ")
        case 1 => (base + 11 to base + 50).map(t => f"w$t%05d").mkString(" ")
        case _ => (0 until 40).map(t => f"u${i}x$t").mkString(" ")
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")

    def survSet(store: String): Set[Long] =
      IncrementalDedup.survivors(spark, store)
        .select($"doc_id").as[Long].collect().toSet

    val oneShot = tmpDir("seed-oneshot")
    IncrementalDedup.lshDedupBatch(spark, docs, $"doc_id", $"text",
      oneShot, 0L, threshold = Threshold, bands = TestBands)
    val expected = survSet(oneShot)

    for (chunks <- Seq(2, 5)) {
      val store = tmpDir(s"seed-chunked-$chunks")
      val lastId = IncrementalDedup.seedLshChunked(spark, docs,
        $"doc_id", $"text", store, chunks = chunks, compactEvery = 2,
        threshold = Threshold, bands = TestBands)
      assert(survSet(store) == expected, s"chunks=$chunks diverged")
      // an arrival continues past the seed: a near-dup of doc 0 is
      // suppressed, a fresh doc survives
      val arrival = Seq(
        (1000L, (6 to 45).map(t => f"w$t%05d").mkString(" ")),
        (1001L, textE)).toDF("doc_id", "text")
      IncrementalDedup.lshDedupBatch(spark, arrival, $"doc_id", $"text",
        store, lastId + 1, threshold = Threshold, bands = TestBands)
      assert(survSet(store) == expected + 1001L)
    }
  }

  test("driver labeling tail equals the distributed tail row-for-row") {
    // same corpus through both tails: default conf takes the driver tail
    // (local CC + bounded candidates); localCcEdgesMax=0 forces the
    // distributed fixpoint AND the distributed labeling joins
    val mk = () => Seq(
      (1L, textA), (2L, textB), (7L, textC)).toDF("doc_id", "text")
    val arrive = () => Seq(
      (10L, textG), (11L, textE), (12L, textC)).toDF("doc_id", "text")
    def rows(store: String): Set[(Long, Long, Boolean)] =
      spark.read.parquet(store)
        .select($"doc_id", $"rep_id", $"survivor")
        .as[(Long, Long, Boolean)].collect().toSet

    val sLocal = tmpDir("tail-local")
    IncrementalDedup.lshDedupBatch(spark, mk(), $"doc_id", $"text",
      sLocal, 0L, threshold = Threshold, bands = TestBands)
    IncrementalDedup.lshDedupBatch(spark, arrive(), $"doc_id", $"text",
      sLocal, 1L, threshold = Threshold, bands = TestBands)

    val sDist = tmpDir("tail-dist")
    spark.conf.set(graft.config.ScaleGates.LocalCcEdgesMaxKey, "0")
    try {
      IncrementalDedup.lshDedupBatch(spark, mk(), $"doc_id", $"text",
        sDist, 0L, threshold = Threshold, bands = TestBands)
      IncrementalDedup.lshDedupBatch(spark, arrive(), $"doc_id", $"text",
        sDist, 1L, threshold = Threshold, bands = TestBands)
    } finally spark.conf.unset(graft.config.ScaleGates.LocalCcEdgesMaxKey)

    assert(rows(sLocal) == rows(sDist))
    // and the geometry actually exercised suppression: B suppressed under
    // A (direct), G suppressed transitively through suppressed B
    val m = rows(sLocal).map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(2L) == ((1L, false)) && m(10L) == ((1L, false)))
    assert(m(11L)._2 && m(7L)._2)
  }

  test("driver-tail gate boundary: candCnt == cap, wide all-matched storeRep") {
    // adversarial geometry for the r16 driver tail (verdict #6): the
    // candidate count lands EXACTLY on localCcEdgesMax (the gate is <=),
    // and every candidate is a real match forming its OWN component —
    // zero batch-internal edges, so CC contributes nothing and the
    // driver-side structures (the storeRep collect, the LocalRelation
    // label frame) are as wide as the gate ever permits: one row per
    // candidate, no merging to shrink them. Equality is pinned on BOTH
    // sides of the boundary, and the boundary flip itself is pinned by
    // job count (the driver tail replaces four labeling joins with one
    // broadcast join — strictly fewer jobs on identical data; if the
    // candidate count were off by one, both runs would take the
    // distributed tail and the job assertion would fail loudly).
    val n = 32
    def storeDocs() = (0 until n).map { i =>
      (i.toLong, (0 until 40).map(t => f"s${i}t$t").mkString(" "))
    }.toDF("doc_id", "text")
    def arrivals() = (0 until n).map { i =>
      // 36/40 token overlap with store doc i (shingle Jaccard ~0.8, far
      // above threshold); token spaces disjoint across i, so arrival i
      // matches store doc i and nothing else
      ((1000 + i).toLong,
        ((0 until 36).map(t => f"s${i}t$t") ++
          (0 until 4).map(t => f"a${i}x$t")).mkString(" "))
    }.toDF("doc_id", "text")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def run(tag: String, cap: Long): (Set[(Long, Long, Boolean)], Long) =
      try {
        val store = tmpDir(s"tail-boundary-$tag")
        spark.conf.set(graft.config.ScaleGates.LocalCcEdgesMaxKey, cap.toString)
        IncrementalDedup.lshDedupBatch(spark, storeDocs(), $"doc_id", $"text",
          store, 0L, threshold = Threshold, bands = TestBands)
        org.apache.spark.graft.BenchTaps.drainListenerBus(spark.sparkContext)
        val j0 = jobs.get()
        IncrementalDedup.lshDedupBatch(spark, arrivals(), $"doc_id", $"text",
          store, 1L, threshold = Threshold, bands = TestBands)
        org.apache.spark.graft.BenchTaps.drainListenerBus(spark.sparkContext)
        val rows = spark.read.parquet(store)
          .select($"doc_id", $"rep_id", $"survivor")
          .as[(Long, Long, Boolean)].collect().toSet
        (rows, jobs.get() - j0)
      } finally spark.conf.unset(graft.config.ScaleGates.LocalCcEdgesMaxKey)

    try {
      val (atCap, jobsAtCap) = run("at", n.toLong)      // candCnt == cap
      val (underCap, jobsUnder) = run("under", n - 1L)  // candCnt == cap + 1
      assert(atCap == underCap)
      assert(jobsAtCap < jobsUnder,
        s"driver tail at the boundary must schedule fewer jobs " +
          s"($jobsAtCap vs $jobsUnder) — if equal, the candidate count " +
          "missed the cap and the boundary was never exercised")
      // the wide-storeRep shape actually materialized: every arrival
      // suppressed under its OWN counterpart — n distinct components,
      // all matched, none merged
      val m = atCap.map(r => r._1 -> ((r._2, r._3))).toMap
      (0 until n).foreach { i =>
        assert(m((1000 + i).toLong) == ((i.toLong, false)), s"arrival $i")
        assert(m(i.toLong) == ((i.toLong, true)), s"store doc $i")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
