package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalSemDedup

/** Cross-batch semantic dedup store: fixed centroid geometry, transitive
  * suppression through stored vectors, SemDeDup keep policy on fresh
  * clusters, replay idempotence.
  */
class IncrementalSemDedupSpec extends SparkSpec {

  private val Dim = 8

  /** Unit vector at angle `deg` in the (axis, axis+1) plane. */
  private def vec(axis: Int, deg: Double): Array[Float] = {
    val v = Array.fill(Dim)(0f)
    val r = math.toRadians(deg)
    v(axis) = math.cos(r).toFloat
    v(axis + 1) = math.sin(r).toFloat
    v
  }

  private def df(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "e")
  }

  private def initStore(store: String): Unit =
    // seed: two far-apart modes fix a 2-cell geometry
    IncrementalSemDedup.init(
      df(Seq((100L, vec(0, 0)), (101L, vec(4, 0)))), col("id"), col("e"),
      store, nlist = 2, refineIterations = 0, portableSample = true)

  private def run(store: String, batchId: Long,
      rows: Seq[(Long, Array[Float])], threshold: Double = 0.9,
      adcSlack: Double = 0.0) =
    IncrementalSemDedup.semDedupBatch(
        spark, df(rows), col("id"), col("e"), store, batchId, threshold,
        adcSlack)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq

  test("suppression is transitive across batches through stored vectors") {
    val store = java.nio.file.Files.createTempDirectory("semstore").toString
    initStore(store)
    // A at 0°, B at 20° (cos 0.94 to A), C at 40° (cos 0.94 to B, 0.77 to A)
    assert(run(store, 0, Seq((1L, vec(0, 0)))) == Seq((1L, 1L, true)))
    assert(run(store, 1, Seq((2L, vec(0, 20)))) == Seq((2L, 1L, false)))
    assert(run(store, 2, Seq((3L, vec(0, 40)))) == Seq((3L, 1L, false)),
      "C matches only the suppressed B; it must adopt B's rep (A)")
    // far item in the other mode survives untouched
    assert(run(store, 3, Seq((4L, vec(4, 0)))) == Seq((4L, 4L, true)))
    val surv = IncrementalSemDedup.survivors(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 4L))
  }

  test("a failing PQ re-init raises BEFORE destroying the existing store") {
    // init trains everything before anything destructive: a pqCodebooks
    // failure after the store delete would leave centroids-without-books
    // — a valid-looking FLOAT store, silently degrading every later
    // batch. Dim=8 is not divisible by pqM=3, so training must throw and
    // the prior generation must keep serving.
    val store = java.nio.file.Files.createTempDirectory("seminitatomic").toString
    initStore(store)
    assert(run(store, 0, Seq((1L, vec(0, 0)))) == Seq((1L, 1L, true)))
    intercept[IllegalArgumentException] {
      IncrementalSemDedup.init(
        df(Seq((100L, vec(0, 0)), (101L, vec(4, 0)))), col("id"), col("e"),
        store, nlist = 2, refineIterations = 0, portableSample = true,
        pqM = 3, pqKs = 2)
    }
    // the old store generation is untouched: history intact, next batch
    // still suppresses against it
    assert(IncrementalSemDedup.survivors(spark, store)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(run(store, 1, Seq((2L, vec(0, 15)))) == Seq((2L, 1L, false)))
  }

  test("fresh clusters keep the farthest-from-centroid member, not min id") {
    val store = java.nio.file.Files.createTempDirectory("semkeep").toString
    initStore(store)
    // one batch, one dup cluster: id 3 sits farthest from the cell
    // centroid (largest angle), so it must be the survivor although its
    // id is the largest — the SemDeDup keep rule
    val got = run(store, 0, Seq(
      (1L, vec(0, 2)), (2L, vec(0, 10)), (3L, vec(0, 24))))
    assert(got.count(_._3) == 1)
    assert(got.find(_._1 == 3L).get._3, s"expected 3 to survive: $got")
    assert(got.forall(_._2 == 3L))
  }

  test("replaying a batch id is idempotent; init is required") {
    val store = java.nio.file.Files.createTempDirectory("semreplay").toString
    val e = intercept[IllegalArgumentException] {
      run(store, 0, Seq((1L, vec(0, 0))))
    }
    assert(e.getMessage.contains("init"))
    initStore(store)
    run(store, 0, Seq((1L, vec(0, 0))))
    val first = run(store, 1, Seq((2L, vec(0, 15))))
    val replay = run(store, 1, Seq((2L, vec(0, 15))))
    assert(first == replay && first == Seq((2L, 1L, false)))
    assert(spark.read.parquet(s"$store/rows").count() == 2)
  }

  test("replay is structurally safe against a TORN prior write of the same batch") {
    // crash mid-write of batch=1 leaves partial/corrupt files; the replay
    // reads ONLY the explicit batch<1 paths (BatchStore.readPrior), so the
    // torn partition is never scanned — its overwrite repairs it
    val store = java.nio.file.Files.createTempDirectory("semtorn").toString
    initStore(store)
    run(store, 0, Seq((1L, vec(0, 0))))
    val clean = run(store, 1, Seq((2L, vec(0, 15))))
    // corrupt every data file of batch=1 in place (worse than torn: a
    // full-tree read would now fail outright on the footer)
    val b1 = new java.io.File(s"$store/rows/batch=1")
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(corrupt)
      else if (f.getName.endsWith(".parquet"))
        java.nio.file.Files.write(f.toPath, Array.fill[Byte](8)(0x7f))
    corrupt(b1)
    val replay = run(store, 1, Seq((2L, vec(0, 15))))
    assert(replay == clean && replay == Seq((2L, 1L, false)))
    // the store healed: full read works and holds exactly both batches
    assert(spark.read.parquet(s"$store/rows").count() == 2)
  }

  test("compactStore consolidates batches, keeps cell partitioning, survives crash-swap") {
    val store = java.nio.file.Files.createTempDirectory("semcompact").toString
    initStore(store)
    run(store, 0, Seq((1L, vec(0, 0)), (2L, vec(4, 0))))  // both cells
    run(store, 1, Seq((3L, vec(0, 15))))                  // dup of 1
    run(store, 2, Seq((4L, vec(4, 60))))                  // novel, cell 1
    def rows(): Set[(Long, Long, Boolean)] =
      spark.read.parquet(s"$store/rows")
        .select(col("vec_id"), col("rep_id"), col("survivor"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    def dirs(path: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(!_.startsWith("_")).toSeq.sorted
    }
    val before = rows()
    assert(dirs(s"$store/rows") == Seq("batch=0", "batch=1", "batch=2"))
    IncrementalSemDedup.compactStore(spark, store, upToBatch = 1L)
    assert(dirs(s"$store/rows") == Seq("batch=1", "batch=2"),
      "batches 0..1 consolidate under the largest committed id")
    assert(dirs(s"$store/rows/batch=1").forall(_.startsWith("cell=")),
      "cell partitioning must survive compaction (the prune contract)")
    // consolidation must actually consolidate: the shuffle-on-cell write
    // puts each cell's rows in exactly ONE parquet file (a bare
    // partitionBy would leave one file per input task per cell — the
    // small-files problem renamed, not fixed)
    dirs(s"$store/rows/batch=1").foreach { cellDir =>
      val fs = new org.apache.hadoop.fs.Path(s"$store/rows/batch=1/$cellDir")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$store/rows/batch=1/$cellDir"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1,
        s"compacted $cellDir holds ${files.length} files, want 1")
    }
    assert(rows() == before, "compaction changed row content")
    // suppression semantics unchanged: a post-compaction batch still
    // suppresses transitively against consolidated history
    assert(run(store, 3, Seq((5L, vec(0, 30)))) == Seq((5L, 1L, false)))
    // a crash mid-swap strands the tree in the stage under a published
    // manifest: every reader rolls it forward on entry
    BatchStoreSpec.crashMidSwap(spark, store)
    assert(IncrementalSemDedup.survivors(spark, store)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("keep-policy divergence at a cluster merge is pinned from BOTH sides") {
    // X(0°) and Y(40°) are not dups (cos .766 < .9); bridge Z(20°)
    // matches both (cos .9397). The monotonicity contract says the
    // incremental path must keep BOTH already-emitted survivors and
    // suppress Z under the min rep — while a one-shot over the union
    // merges all three and keeps its keep-policy winner (farthest from
    // centroid = Y). Both sides pinned, like the LSH store's bridge doc.
    val store = java.nio.file.Files.createTempDirectory("sembridge").toString
    initStore(store)
    assert(run(store, 0, Seq((1L, vec(0, 0)))) == Seq((1L, 1L, true)))
    assert(run(store, 1, Seq((2L, vec(0, 40)))) == Seq((2L, 2L, true)))
    assert(run(store, 2, Seq((3L, vec(0, 20)))) == Seq((3L, 1L, false)),
      "bridge suppresses under the minimum matched store rep")
    assert(IncrementalSemDedup.survivors(spark, store)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "emitted survivors were retracted")
    // one-shot over the union (same fixed geometry: fresh store, one batch)
    val fresh = java.nio.file.Files.createTempDirectory("sembridge1").toString
    initStore(fresh)
    val oneShot = run(fresh, 0,
      Seq((1L, vec(0, 0)), (2L, vec(0, 40)), (3L, vec(0, 20))))
    assert(oneShot == Seq((1L, 2L, false), (2L, 2L, true), (3L, 2L, false)),
      "one-shot closure merges the bridged cluster and keeps the " +
        "farthest-from-centroid member")
  }

  // ------------------------------------------------ PQ-coded rows

  private def initPqStore(store: String): Unit =
    // same 4-vector seed trains both the 2-cell geometry and the m=4/ks=4
    // codebooks (every seed vector becomes a codeword at refine=0, so the
    // modes reconstruct EXACTLY)
    IncrementalSemDedup.init(
      df(Seq((100L, vec(0, 0)), (101L, vec(0, 40)),
        (102L, vec(4, 0)), (103L, vec(4, 60)))),
      col("id"), col("e"), store, nlist = 2, refineIterations = 0,
      portableSample = true, pqM = 4, pqKs = 4)

  test("PQ rows: exact-dup clusters suppress identically to the float store") {
    val fStore = java.nio.file.Files.createTempDirectory("semfloat").toString
    val pStore = java.nio.file.Files.createTempDirectory("sempq").toString
    IncrementalSemDedup.init(
      df(Seq((100L, vec(0, 0)), (101L, vec(0, 40)),
        (102L, vec(4, 0)), (103L, vec(4, 60)))),
      col("id"), col("e"), fStore, nlist = 2, refineIterations = 0,
      portableSample = true)
    initPqStore(pStore)
    // three batches: one member per mode, then two waves of exact copies
    val waves = Seq(
      Seq((1L, vec(0, 0)), (2L, vec(0, 40)), (3L, vec(4, 0)), (4L, vec(4, 60))),
      Seq((11L, vec(0, 0)), (12L, vec(0, 40)), (13L, vec(4, 0))),
      Seq((21L, vec(0, 0)), (24L, vec(4, 60))))
    val (fOut, pOut) = (
      waves.zipWithIndex.flatMap { case (w, b) => run(fStore, b, w) },
      waves.zipWithIndex.flatMap { case (w, b) => run(pStore, b, w) })
    assert(fOut == pOut, s"PQ store diverged on exact dups:\n$fOut\n$pOut")
    assert(pOut.filter(_._3).map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // the PQ rows really are packed codes, not vectors
    val cols = spark.read.parquet(s"$pStore/rows").columns.toSet
    assert(cols.contains("code") && !cols.contains("emb"))
  }

  test("PQ rows: ADC reconstruction error is recoverable via adcSlack, pinned both ways") {
    // stored id 1 at 10° is NOT a codeword: its reconstruction snaps to
    // the (1,0) mode codeword. Arrival id 2 at 30° has exact cosine
    // cos(20°)=.94 >= .9 (the float store suppresses) but ADC cosine
    // cos(30°)=.866 < .9 — so at slack 0 the PQ store KEEPS it (the
    // documented recall loss), and at slack .05 it suppresses (parity
    // restored at the documented precision cost).
    val noSlack = java.nio.file.Files.createTempDirectory("sempq0").toString
    val slack = java.nio.file.Files.createTempDirectory("sempq5").toString
    for (s <- Seq(noSlack, slack)) {
      initPqStore(s)
      assert(run(s, 0, Seq((1L, vec(0, 10)))) == Seq((1L, 1L, true)))
    }
    assert(run(noSlack, 1, Seq((2L, vec(0, 30)))) == Seq((2L, 2L, true)),
      "slack-0 ADC must miss the reconstruction-eroded match")
    assert(run(slack, 1, Seq((2L, vec(0, 30))), adcSlack = 0.05)
      == Seq((2L, 1L, false)),
      "slack .05 must recover the float-store suppression")
  }

  test("PQ rows store at least 4x fewer bytes than float rows") {
    // 2000 pseudo-random vectors at the REGISTERED embedding width
    // (64-dim, m=8, ks=16): 256 incompressible float bytes vs one packed
    // 32-bit code per row. At toy dims the shared columns (ids, cosine,
    // flags) dominate both layouts and the ratio collapses — the claim
    // is about production-width embeddings, so the gate measures them.
    def corpus = spark.range(2000).select(col("id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(col("id"), j), lit(1999L)) - lit(999L))
          .cast("double") / 999.0).cast("float")).as("e"))
    val fStore = java.nio.file.Files.createTempDirectory("sembytesf").toString
    val pStore = java.nio.file.Files.createTempDirectory("sembytesp").toString
    IncrementalSemDedup.init(corpus, col("id"), col("e"), fStore,
      nlist = 4, refineIterations = 0, portableSample = true)
    IncrementalSemDedup.init(corpus, col("id"), col("e"), pStore,
      nlist = 4, refineIterations = 0, portableSample = true,
      pqM = 8, pqKs = 16)
    def runOn(store: String) = IncrementalSemDedup.semDedupBatch(
      spark, corpus, col("id"), col("e"), store, 0L)
    // random 8-dim cosines rarely cross .9 — but whatever suppression
    // happens must agree modulo ADC (sanity, not the gate)
    val (fN, pN) = (runOn(fStore).count(), runOn(pStore).count())
    assert(fN == 2000 && pN == 2000)
    def bytes(p: String): Long = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(root)
    }
    val (fB, pB) = (bytes(s"$fStore/rows"), bytes(s"$pStore/rows"))
    assert(pB * 4 < fB,
      s"PQ rows not smaller: pq=$pB float=$fB (${fB.toDouble / pB}%x)")
  }
}
