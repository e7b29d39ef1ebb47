package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch SEMANTIC near-duplicate suppression against a persistent
  * cell-partitioned embedding store — the incremental form of
  * [[Embeddings.semDeDup]], completing the incremental-store family
  * (text LSH, segments, perceptual hashes, and now embeddings): corpora
  * arrive over crawl batches, and each batch must suppress semantic
  * duplicates against everything already accepted without re-scoring
  * the accepted corpus.
  *
  * The store is anchored by a FIXED centroid set written once at
  * [[init]] (computed from a seed sample — the IvfIndex discipline:
  * assignment geometry must not drift batch-to-batch, or yesterday's
  * cell 3 is not today's cell 3). Each item ever seen keeps one row:
  * (vec_id, cell, emb, centroid_cosine, rep_id, survivor). Suppression
  * is cell-scoped exactly like the batch algorithm — the clustering IS
  * the candidate bound — and TRANSITIVE across batches through
  * suppressed items' stored vectors.
  *
  * Per batch:
  *  1. assign the batch to the stored centroids (broadcast matrix, one
  *     projection) with the rounded centroid cosine;
  *  2. batch-internal edges: cell-keyed self-join, cosine ≥ threshold;
  *  3. batch×store: join against stored rows OF THE SAME CELLS only;
  *     per item, the minimum store rep within the threshold;
  *  4. [[Dedup.connectedComponents]] + rep adoption (the
  *     [[IncrementalDedup]] shape) — a fresh cluster keeps its
  *     keep-policy winner: the member with the LOWEST centroid cosine
  *     (SemDeDup's farthest-from-centroid rule), not min id, so the
  *     one-shot and incremental keep policies agree on day one;
  *  5. land at `rows/batch=<batchId>` through one [[BatchStore]]
  *     commit (a replay replaces its own partition); the store read
  *     takes ONLY the explicit `batch < batchId` partition paths
  *     ([[BatchStore.readPrior]]), so a checkpoint-replayed micro-batch
  *     recomputes against the exact pre-batch state — structurally
  *     replay-idempotent, torn prior writes included.
  *
  * Monotonicity contract: identical to the other stores — emitted
  * survivors are never retracted; a bridge item suppresses under the
  * existing rep.
  *
  * Scale notes: the store carries one embedding per item ever seen —
  * inherent to semantic comparison (a sketch cannot rescore cosine) —
  * OR, with `pqM > 0` at [[init]], one PACKED PQ CODE per item
  * (m·log2(ks) bits in a single long vs dim·4 float bytes: 32× smaller
  * row payload at the registered 64-dim/m=8/ks=16 setting). In PQ mode
  * the batch×store comparison is ADC (exact float batch embedding
  * against the stored row's codeword reconstruction — the
  * [[IvfPqIndex]] asymmetric-distance argument), so cross-batch
  * suppression inherits PQ reconstruction error: callers compensate
  * with `adcSlack` (threshold − slack on the store side), trading
  * precision for recall exactly as the published ADC analysis
  * prescribes; batch-INTERNAL edges always use exact float cosine
  * (the batch's own vectors are in hand). The spec gates PQ-mode
  * recall on planted clusters against the float store, and the
  * store-bytes ratio. The batch×store join reads ONLY the cells the
  * batch touched (cell partition pruning on the store read).
  */
object IncrementalSemDedup {

  private def storeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, cell INT, emb ARRAY<FLOAT>, centroid_cosine DOUBLE, " +
      "rep_id BIGINT, survivor BOOLEAN")

  private def pqStoreSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, cell INT, code BIGINT, centroid_cosine DOUBLE, " +
      "rep_id BIGINT, survivor BOOLEAN")

  // The probe-side broadcast cap of the batch×store cell join lives in
  // [[graft.config.ScaleGates.semBroadcastVecRowsMax]] (conf-overridable,
  // default + derivation documented there).

  /** Write the fixed centroid geometry from a SEED corpus (typically the
    * first batch, or a representative sample). Must run once before any
    * [[semDedupBatch]]; re-running starts a new index generation: one
    * commit replaces the geometry and drops every stored row, so a crash
    * leaves either the old store or the new one, never centroids without
    * their codebooks.
    *
    * `pqM > 0` switches the store to PQ-CODED rows: per-subspace
    * codebooks (m = pqM, ks = pqKs, normalized inputs) are trained on
    * the same seed and persisted beside the centroids — like the
    * centroid geometry, the codebooks are FIXED for the store's
    * lifetime (a drifting codebook would decode yesterday's codes
    * against today's codewords). See the object doc for the
    * recall/bytes trade.
    */
  def init(
      seed: DataFrame, id: Column, emb: Column, storePath: String,
      nlist: Int = -1, refineIterations: Int = 1, seedValue: Long = 42L,
      portableSample: Boolean = false, pqM: Int = 0, pqKs: Int = 16): Unit = {
    val spark = seed.sparkSession
    val src = seed.select(id.cast("long").as("__id"), emb.as("__e"))
    val lists =
      if (nlist > 0) nlist
      else Embeddings.deriveNlist(src.count())
    // ALL training happens before the stage write: a pqCodebooks failure
    // (dim % m != 0, a seed smaller than ks, a null embedding) leaves the
    // store untouched
    val mat = Embeddings.computeCentroids(
      src, col("__id"), col("__e"), lists, refineIterations, seedValue,
      portableSample)
    val books =
      if (pqM > 0)
        Embeddings.pqCodebooks(
          src, col("__id"), col("__e"), pqM, pqKs, refineIterations,
          seedValue, portableSample, normalize = true)
      else Seq.empty
    // a float store drops the books of a previous PQ generation
    val booksTree = if (books.nonEmpty) Seq("pq_books") else Nil
    BatchStore.land(spark, storePath, "centroids" +: booksTree,
        drop = "rows" +: Seq("pq_books").diff(booksTree)) { st =>
      IvfCells.writeCentroids(spark, mat, st)
      if (books.nonEmpty) IvfCells.writeCodebooks(spark, books, st.at("pq_books"))
    }
  }

  /** Stored codebooks, or empty for a float-row store. */
  private def readPqBooks(
      spark: SparkSession, storePath: String): Seq[Seq[Seq[Double]]] = {
    val bPath = new org.apache.hadoop.fs.Path(s"$storePath/pq_books")
    val fs = bPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(bPath)) return Seq.empty
    spark.read.parquet(bPath.toString)
      .orderBy(col("j"), col("ci")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toSeq)
  }

  /** Codeword reconstruction of a packed code — the decompressed
    * stand-in ADC scores against.
    */
  private def reconOf(code: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val m = books.size
    val ks = books.head.size
    val codes = Embeddings.pqUnpack(code, m, ks)
    flatten(array((0 until m).map(j =>
      element_at(typedLit(books(j)), codes.getItem(j).cast("int"))): _*))
  }

  private def readCentroids(
      spark: SparkSession, storePath: String): Seq[Seq[Double]] = {
    val cPath = new org.apache.hadoop.fs.Path(s"$storePath/centroids")
    val fs = cPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cPath),
      s"IncrementalSemDedup: no centroids at $storePath (call init first)")
    val mat = spark.read.parquet(s"$storePath/centroids")
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1)).toSeq
    require(mat.nonEmpty, s"IncrementalSemDedup: no centroids at $storePath " +
      "(call init first)")
    mat
  }

  /** Suppress one batch against the store, then persist the labeled
    * batch into `rows/batch=<batchId>`. Returns (vec_id, rep_id,
    * survivor).
    */
  def semDedupBatch(
      spark: SparkSession, batch: DataFrame, id: Column, emb: Column,
      storePath: String, batchId: Long,
      threshold: Double = 0.9, adcSlack: Double = 0.0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(adcSlack >= 0.0 && adcSlack < threshold,
      s"adcSlack must be in [0, threshold), got $adcSlack")
    // heals the root first, so the geometry read below is committed
    val st = BatchStore.stage(spark, storePath)
    val mat = readCentroids(spark, storePath)
    val books = readPqBooks(spark, storePath)
    // persisted, not checkpointed (the r16 job-floor cut): the first
    // consumer's execution caches the assignment — no dedicated
    // materialization job — and lineage stays recomputable
    val assigned =
      batch.select(id.cast("long").as("vec_id"), emb.as("emb"))
        .withColumn("__best",
          array_min(Embeddings.cellScoresFor(mat)(col("emb"))))
        .select(col("vec_id"), col("emb"),
          col("__best").getField("cell").as("cell"),
          round(coalesce(-col("__best").getField("negDot") /
            nullif(Embeddings.norm(col("emb")), lit(0.0)), lit(0.0)), 4)
            .as("centroid_cosine"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally: a CC non-convergence or failed store write must not
    // leak the cached assignment for the session lifetime
    try {
      // batch-internal edges, cell-scoped
      val a = assigned.select(col("cell"), col("vec_id").as("id_a"), col("emb").as("__ea"))
      val b = assigned.select(col("cell"), col("vec_id").as("id_b"), col("emb").as("__eb"))
      // equal-sided batch self-join — merge-hinted (the
      // [[graft.operators.Dedup]] corpus-self-join rule), so the plan
      // never leans on the cached frame's stats
      val edges = a.hint("merge").join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(Embeddings.cosine(col("__ea"), col("__eb")), 4) >= threshold)
        .select(col("id_a"), col("id_b"))
      // batch×store: stored rows of the TOUCHED CELLS only — the batch's
      // distinct cell set is bounded by nlist (a small driver collect, the
      // IvfIndex.probe discipline), and the rows tree is partitioned by
      // cell under each batch dir, so the isin filter prunes cell=
      // directories at file-index time instead of scanning store history
      // one bounded driver row: the touched-cell set (≤ nlist, the
      // IvfIndex.probe discipline) AND the batch row count that picks the
      // batch×store join plan below
      val batchStats = assigned
        .agg(collect_set(col("cell")).as("cells"), count(lit(1)).as("n")).head()
      val touchedCells =
        batchStats.getAs[scala.collection.Seq[Int]](0).sorted.toIndexedSeq
      val batchRows = batchStats.getLong(1)
      // the pre-batch state from EXPLICIT batch < batchId paths (the
      // [[BatchStore]] replay-exclusion contract — until round 10 this
      // store read the whole rows tree and replay idempotence rested on a
      // fixed-point argument; now a replayed batch structurally cannot see
      // its own, possibly torn, prior write). Cell pruning survives: each
      // batch dir's cell= subdirs surface as the `cell` partition column,
      // so the isin filter still prunes directories at file-index time.
      // PQ mode: the store side is the packed code's codeword
      // reconstruction; the comparison is asymmetric (exact batch float vs
      // reconstructed store row) at threshold − adcSlack
      val store = BatchStore.readPrior(spark, storePath, batchId,
          if (books.nonEmpty) pqStoreSchema else storeSchema, tree = "rows")
        .filter(col("cell").isin(touchedCells: _*))
        .select(col("vec_id").as("__sid"), col("cell"),
          (if (books.nonEmpty) reconOf(col("code"), books) else col("emb"))
            .as("__se"),
          col("rep_id").as("__srep"))
      val storeThreshold = if (books.nonEmpty) threshold - adcSlack else threshold
      // PLAN, by measured size (the [[IncrementalDedup]] r15 discipline):
      // the natural plan shuffles BOTH sides on the cell key — a
      // history-sized exchange of the store's embedding (or
      // reconstruction) rows, on a key whose cardinality is ≤ nlist (so it
      // also skews into few tasks). The batch side is bounded and already
      // counted, so broadcast IT: the store side becomes one pruned scan +
      // hash probe with no exchange at all, and in PQ mode the codeword
      // reconstruction is computed inside the scan instead of riding a
      // shuffle. Explicit broadcast, not AQE — AQE converts a join only
      // after both map sides have materialized (SURVEY §18, "Unequal-join
      // broadcasts on the arrival path"). Bulk arrivals beyond the cap
      // take the shuffled join.
      val batchSide = assigned.select(col("vec_id"), col("emb"), col("cell"))
      val joined =
        if (batchRows <= graft.config.ScaleGates.semBroadcastVecRowsMax(spark))
          store.join(broadcast(batchSide), Seq("cell"))
        else batchSide.join(store, Seq("cell"))
      val storeRep = joined
        .filter(round(Embeddings.cosine(col("emb"), col("__se")), 4) >= storeThreshold)
        .groupBy(col("vec_id")).agg(min(col("__srep")).as("__crep"))
      val comp = Dedup.connectedComponents(edges, col("id_a"), col("id_b"))
      val ids = assigned.select(col("vec_id"), col("centroid_cosine"))
      val compOf = ids
        .join(comp, ids("vec_id") === comp("node"), "left")
        .select(col("vec_id"), col("centroid_cosine"),
          coalesce(col("cluster_rep"), col("vec_id")).as("__comp"))
      val compRep = compOf.join(storeRep, Seq("vec_id"), "left")
        .groupBy(col("__comp")).agg(min(col("__crep")).as("__compSrep"))
      // a FRESH cluster keeps the farthest-from-centroid member (SemDeDup's
      // keep policy), so the incremental path agrees with the one-shot
      // algorithm when the store is empty
      val freshKeep = compOf.groupBy(col("__comp"))
        .agg(min(struct(col("centroid_cosine"), col("vec_id"))).as("__k"))
        .select(col("__comp"), col("__k").getField("vec_id").as("__keepId"))
      val labeled = compOf
        .join(compRep, Seq("__comp"))
        .join(freshKeep, Seq("__comp"))
        .select(col("vec_id"),
          coalesce(col("__compSrep"), col("__keepId")).as("rep_id"))
      val out = assigned.join(labeled, Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("emb"), col("centroid_cosine"),
          col("rep_id"), (col("rep_id") === col("vec_id")).as("survivor"))
      val outRows =
        if (books.isEmpty) out
        else Embeddings.pqEncoded(out, col("emb"), books)
          .select(col("vec_id"), col("cell"),
            Embeddings.pqPack(col("__codes"), books.size, books.head.size)
              .as("code"),
            col("centroid_cosine"), col("rep_id"), col("survivor"))
      // one shuffle keyed on the cell: each cell lands in exactly ONE task
      // = one file per touched cell dir, instead of one per (write task ×
      // cell) — the compaction write's fan discipline, applied at append
      // time (an 8× production-rate cut at 32 tasks before compaction
      // ever runs)
      outRows.repartition(col("cell"))
        .write.partitionBy("cell")
        .parquet(st.at(s"rows/batch=$batchId").toString)
      BatchStore.commit(BatchStore.Swap(st, Seq(s"rows/batch=$batchId")))
      spark.read.parquet(s"$storePath/rows/batch=$batchId")
        .select(col("vec_id"), col("rep_id"), col("survivor"))
    } finally assigned.unpersist(false)
  }

  /** The store's accepted (surviving) items. */
  def survivors(spark: SparkSession, storePath: String): DataFrame = {
    val (fs, p) = BatchStore.fsPath(spark, storePath)
    BatchStore.heal(fs, p)
    spark.read.parquet(s"$storePath/rows")
      .filter(col("survivor"))
      .select(col("vec_id"))
  }

  /** Compact the rows tree: consolidate every `batch=` partition with
    * id <= `upToBatch` into one, PRESERVING the `cell=` partitioning
    * below it — the [[BatchStore.compact]] discipline with
    * `partitionCols = cell`, so [[semDedupBatch]]'s touched-cell
    * directory pruning survives compaction. An hourly-fed store
    * otherwise decays into thousands of tiny `batch=N/cell=M`
    * directories (the small-files failure every other store already
    * compacts away). Same SAFETY CONTRACT as the family: only compact
    * batch ids the producer's checkpoint has committed past. Suppression
    * decisions before and after are identical — row content is untouched
    * (spec-pinned).
    */
  def compactStore(
      spark: SparkSession, storePath: String, upToBatch: Long): Unit =
    BatchStore.compact(spark, storePath, upToBatch,
      BatchStore.Tree("rows", partitionCols = Seq("cell")))
}
