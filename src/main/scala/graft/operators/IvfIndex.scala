package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT IVF index — index-once, probe-many. [[Embeddings.ivfTopK]]
  * rebuilds its index (count, sample, Lloyd, full-corpus assignment)
  * inside every query, which is the right shape for one-shot analytics
  * and the wrong one for a serving/eval loop that probes the same corpus
  * thousands of times. This store splits the lifecycle:
  *
  *  - [[build]]: compute centroids ([[Embeddings.computeCentroids]], the
  *    SAME sample+Lloyd code path as ivfTopK) and write the index to the
  *    lake — centroids (nlist·dim doubles, config-scale) plus the corpus
  *    rows partitioned BY CELL, with per-row norms precomputed;
  *  - [[append]]: assign new rows against the STORED centroids and land
  *    them as a new `batch=` partition — arrival cost is one assignment
  *    pass over the new rows only, never a re-index (the incremental
  *    dedup store discipline, `IncrementalDedup.scala` precedent);
  *    replaying a batch id overwrites its own partition, idempotent;
  *  - [[probe]]: read centroids, pick each probe's `nprobe` cells,
  *    and scan ONLY those cells' rows — the probed cell ids become a
  *    static partition filter on their buckets (collected to the driver
  *    first: probes are small by contract, so the cell list is bounded
  *    by probes·nprobe), so the parquet reader prunes `cbk=` directories
  *    at file-index time and row-group-skips to the probed cells inside
  *    them. Probe cost is flat in corpus size at fixed
  *    geometry: ~|corpus|·nprobe/nlist rows scanned per probe batch,
  *    measured in `tools/IvfCrossover`'s probe-only column.
  *
  * Layout: `path/centroids` (cell, centroid), `path/meta` (nlist, dim,
  * replicas, seed), `path/cells/batch=B/cbk=K/` parquet files of
  * (neighbor_id, emb, nrm, cell) — `cbk = cell % 64` ([[IvfCells]]), the
  * `cell` itself a DATA column each file is sorted on. Bucketing the
  * directory dimension caps an append's file production at
  * O([[IvfCells.CellBuckets]]) instead of one-file-per-touched-cell ×
  * write tasks (measured ~1,350 files per 2k-row append at nlist≈170 —
  * the dominant small-files producer of the r14 capstone ladder, and at
  * a production nlist of 10k+ an unusable 10k files per append); probes
  * keep directory pruning on `cbk` and recover cell granularity from
  * parquet row-group min/max stats on the sorted `cell` column. Every
  * write (build, append, compaction, migration) lands the trees it
  * changes through one [[BatchStore]] commit on `path`.
  * Embeddings are stored in their source
  * precision; every dot runs in doubles either way (DotFExpr casts), so
  * probe() cosines are bit-identical to [[Embeddings.ivfTopK]]'s over
  * the same rows — IvfIndexSpec pins exactly that.
  */
object IvfIndex {

  private def metaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "nlist INT, dim INT, replicas INT, seed BIGINT, refine_iterations INT")

  /** Build the index from scratch at `path` (replaces a previous index
    * in one commit). Centroid geometry mirrors [[Embeddings.ivfTopK]]:
    * nlist = -1 derives ⌈√n⌉.
    */
  def build(
      corpus: DataFrame, id: Column, emb: Column, path: String,
      nlist: Int = -1, replicas: Int = 1, refineIterations: Int = 1,
      seed: Long = 42L): Unit = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    val spark = corpus.sparkSession
    val lists =
      if (nlist > 0) nlist else Embeddings.deriveNlist(corpus.count())
    val mat = Embeddings.computeCentroids(
      corpus, id, emb, lists, refineIterations, seed, portableSample = false)
    val dim = mat.headOption.map(_.length).getOrElse(0)
    // one commit replaces the index's three trees: a crashed rebuild
    // leaves the previous index serving, never new centroids beside old
    // cells
    BatchStore.land(spark, path, Seq("centroids", "meta", "cells")) { st =>
      IvfCells.writeCentroids(spark, mat, st)
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
            lists, dim, replicas, seed, refineIterations)), 1), metaSchema)
        .write.parquet(st.at("meta").toString)
      IvfCells.writeBucketed(assign(corpus, id, emb, mat, replicas), st, batchId = 0L)
    }
  }

  /** Assign `rows` to the STORED centroids and land them as `batch=
    * $batchId` — no re-index, no touch of earlier batches. Idempotent on
    * replay of the same batchId (the commit replaces its own dir).
    */
  def append(
      spark: SparkSession, rows: DataFrame, id: Column, emb: Column,
      path: String, batchId: Long): Unit = {
    require(batchId > 0L, s"append batchId must be > 0 (0 is the build), got $batchId")
    // resolve (heals a crashed compact) AND layout-guard BEFORE writing:
    // an append landed into a legacy cell= tree would create a
    // mixed-layout store whose reads fail with a conflicting-partition
    // error that never names the cause
    IvfCells.resolveCells(spark, path)
    val (mat, replicas) = readCentroids(spark, path)
    IvfCells.append(spark, assign(rows, id, emb, mat, replicas), path, batchId)
  }

  /** Top-k cosine neighbors for each probe against the stored index —
    * same output contract as [[Embeddings.ivfTopK]]:
    * (probe_id, rk, neighbor_id, cosine).
    */
  def probe(
      spark: SparkSession, path: String,
      probes: DataFrame, probeId: Column, probeEmb: Column,
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // SNAPSHOT PIN (the [[Retrieval.queryIndex]] serving discipline),
    // taken first so the centroids read below is healed too: the cells
    // tree is read through the explicit committed batch paths, listed
    // once; a concurrent compaction swap can only invalidate a pinned
    // path and fail loudly — retried under [[BatchStore.servingRead]],
    // never a torn answer.
    val (cellsRoot, committedCells) = IvfCells.pin(spark, path)
    val (mat, replicas) = readCentroids(spark, path)
    def cellScores(e: Column): Column = Embeddings.cellScoresFor(mat)(e)
    val probeScored = probes.select(probeId.as("probe_id"), probeEmb.as("__pe"))
      .select(col("probe_id"), col("__pe"), explode(cellScores(col("__pe"))).as("__c"))
    val wp = Window.partitionBy(col("probe_id"))
      .orderBy(col("__c.negDot"), col("__c.cell"))
    val probeCells = probeScored
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nprobe)
      .select(col("probe_id"), col("__pe"), col("__c.cell").as("cell"))
      .withColumn("__pn", Embeddings.norm(col("__pe")))
    // the probed cell set, collected: a STATIC filter on the cells'
    // cbk= buckets prunes directories at file-index time, and the
    // cell-isin filter row-group-skips to the probed cells inside them
    // via min/max stats on the sorted cell column — no full-store scan,
    // and no reliance on dynamic pruning kicking in. Bounded by
    // probes·nprobe.
    val neededCells = probeCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    // two-level prune: `cbk` is the partition dir (file-index-time
    // prune), `cell` the sorted data column (parquet row-group skip on
    // min/max stats — the bucketed-layout recovery of cell granularity)
    val neededBuckets = neededCells.map(IvfCells.bucketOf).distinct.sorted
    val cells = spark.read.option("basePath", cellsRoot)
      .parquet(committedCells: _*)
      .filter(col("cbk").isin(neededBuckets.toIndexedSeq: _*) &&
        col("cell").isin(neededCells.toIndexedSeq: _*))
      .select(col("neighbor_id"), col("emb"), col("nrm"), col("cell"))
    val scored = cells.join(broadcast(probeCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(Embeddings.cosinePrenormed(
          col("__pe"), col("emb"), col("__pn"), col("nrm")), 4).as("cosine"))
    // multi-assignment can surface one neighbor through several probed
    // cells; collapse before ranking (ivfTopK's rule)
    val distinctScored =
      if (replicas == 1) scored
      else scored.groupBy(col("probe_id"), col("neighbor_id"))
        .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    distinctScored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** Stored centroid matrix + build replicas, for [[probe]]/[[append]]. */
  private def readCentroids(
      spark: SparkSession, path: String): (Seq[Seq[Double]], Int) = {
    val mat = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell"))
      .collect()
      .map(r => r.getSeq[Double](1))
      .toSeq
    require(mat.nonEmpty, s"IvfIndex: no centroids at $path/centroids")
    val replicas = spark.read.parquet(s"$path/meta")
      .select(col("replicas")).head().getInt(0)
    (mat, replicas)
  }

  private def assign(
      rows: DataFrame, id: Column, emb: Column,
      mat: Seq[Seq[Double]], replicas: Int): DataFrame = {
    val base = rows.select(id.cast("long").as("neighbor_id"), emb.as("emb"))
    val scores = Embeddings.cellScoresFor(mat)(col("emb"))
    val assigned =
      if (replicas == 1)
        base.withColumn("cell", array_min(scores).getField("cell"))
      else
        base.withColumn("cell",
          explode(transform(
            slice(array_sort(scores), 1, math.min(replicas, mat.size)),
            c => c.getField("cell"))))
    assigned.withColumn("nrm", Embeddings.norm(col("emb")))
  }

  /** Consolidate `batch=` partitions with id <= `upToBatch` into one,
    * preserving the cell partitioning — see [[IvfCells.compact]] for the
    * safety contract.
    */
  def compact(spark: SparkSession, path: String, upToBatch: Long): Unit =
    IvfCells.compact(spark, path, upToBatch)

  /** One-time migration of a pre-bucketing `cell=`-partitioned cells
    * tree to the current `cbk=` layout — see [[IvfCells.migrate]].
    */
  def migrate(spark: SparkSession, path: String): Unit =
    IvfCells.migrate(spark, path)
}

/** Shared cells-tree layout + compaction for the persistent vector
  * indexes ([[IvfIndex]], [[IvfPqIndex]] — same `cells/batch=B/cbk=K`
  * bucketed layout, different row payloads). Append-many accumulates one
  * directory tree
  * per batch; a serving probe then pays per-batch file listing and one
  * parquet footer per tiny file. Compaction consolidates history the
  * same way [[IncrementalDedup.compactStore]] does:
  *
  *  - batches with id <= `upToBatch` merge under the LARGEST EXISTING
  *    id <= upToBatch (never a fresh id — the caller hands out ids past
  *    its last committed batch, and a future batch landing on a fresh
  *    consolidated id would overwrite-replace the whole consolidation);
  *  - later batches are never touched;
  *  - the consolidated partition is staged beside the index root and
  *    swapped in by one [[BatchStore]] commit, which every read rolls
  *    forward on entry.
  *
  * SAFETY CONTRACT: only compact batch ids whose producer is fully
  * committed — replaying a COMPACTED id afterward would land a fresh
  * `batch=` dir whose rows duplicate part of the consolidated one.
  * Probe results before and after compaction are identical (the scan
  * unions the same rows; spec-pinned).
  */
private[operators] object IvfCells {

  /** Bucket fan of the cells tree: `cbk = cell % CellBuckets` is the
    * directory dimension (the `IncrementalDedup.BandBuckets` pattern),
    * `cell` a sorted data column inside each file. An append lands
    * O(CellBuckets) files regardless of nlist; a probe prunes `cbk=`
    * dirs at file-index time and row-group-skips to its cells on the
    * sorted column's min/max stats. Plain modulo, not a hash: cell ids
    * are already dense 0..nlist-1, and the driver-side [[bucketOf]]
    * must agree with the executor-side expression exactly.
    */
  val CellBuckets = 64

  /** Driver-side twin of the write-path bucket expression. */
  def bucketOf(cell: Int): Int = ((cell % CellBuckets) + CellBuckets) % CellBuckets

  /** Write one batch's assigned/encoded rows in the bucketed layout
    * into the stage (`cells/batch=<batchId>`): one shuffle keyed on the
    * bucket (each bucket in exactly ONE task = one file per touched
    * `cbk=` dir), rows sorted by cell within the task for tight
    * row-group stats.
    */
  def writeBucketed(rows: DataFrame, st: BatchStore.Stage, batchId: Long): Unit =
    rows
      .withColumn("cbk", pmod(col("cell"), lit(CellBuckets)).cast("int"))
      .repartition(col("cbk"))
      .sortWithinPartitions(col("cbk"), col("cell"))
      .write
      .partitionBy("cbk")
      .parquet(st.at(s"cells/batch=$batchId").toString)

  /** The centroid matrix as `(cell, centroid)` rows, into the stage. */
  def writeCentroids(spark: SparkSession, mat: Seq[Seq[Double]], st: BatchStore.Stage): Unit =
    spark.createDataFrame(mat.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "centroid")
      .repartition(1)
      .write.parquet(st.at("centroids").toString)

  /** PQ codebooks as `(j, ci, sub)` rows (`ci` 1-based), at `dir`. */
  def writeCodebooks(
      spark: SparkSession, books: Seq[Seq[Seq[Double]]], dir: org.apache.hadoop.fs.Path): Unit =
    spark.createDataFrame(
        for ((bj, j) <- books.zipWithIndex; (cw, c) <- bj.zipWithIndex) yield (j, c + 1, cw))
      .toDF("j", "ci", "sub")
      .repartition(1)
      .write.parquet(dir.toString)

  /** Land one appended batch: one commit replacing its cells dir. */
  def append(spark: SparkSession, rows: DataFrame, path: String, batchId: Long): Unit =
    BatchStore.land(spark, path, Seq(s"cells/batch=$batchId"))(writeBucketed(rows, _, batchId))

  /** Resolve the readable cells tree at `path`, healing a crashed
    * commit first ([[BatchStore.heal]]): all read paths resolve through
    * here, so the store self-heals on first touch. Returns the cells
    * path string for `spark.read.parquet`.
    */
  def resolveCells(spark: SparkSession, path: String): String = {
    val (fs, root) = BatchStore.fsPath(spark, path)
    BatchStore.heal(fs, root)
    val cells = new org.apache.hadoop.fs.Path(root, "cells")
    assertCbkLayout(fs, cells)
    cells.toString
  }

  /** The serving snapshot: the cells root and its committed batch dirs,
    * listed once.
    */
  def pin(spark: SparkSession, path: String): (String, Seq[String]) = {
    val cellsRoot = resolveCells(spark, path)
    val (fs, root) = BatchStore.fsPath(spark, path)
    val batches = BatchStore.listBatches(fs, root, "cells").map(_._2.toString)
    require(batches.nonEmpty, s"IvfIndex: no committed batches at $cellsRoot")
    (cellsRoot, batches)
  }

  /** LAYOUT GUARD: indexes written before round 15 partitioned the
    * cells tree by `cell=` directory; the bucketed layout partitions by
    * `cbk=` with cell demoted to a sorted data column. The two are
    * mutually unreadable — probing or appending into a legacy tree
    * fails with an unresolved-`cbk` / conflicting-partition-column
    * error that never names the cause — so every read/write path
    * resolves through here and a legacy tree fails FAST with the fix
    * spelled out. O(committed batches) driver-side listings, paid once
    * per probe/append (the probe already lists the same dirs for its
    * snapshot pin).
    */
  private def assertCbkLayout(
      fs: org.apache.hadoop.fs.FileSystem,
      cells: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(cells)) return
    val legacy = fs.listStatus(cells).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap(b => fs.listStatus(b.getPath).iterator)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
    if (legacy) throw new IllegalStateException(
      s"IvfIndex at ${cells.getParent}: legacy cell= partition layout detected " +
        "(index written before the bucketed cbk= cells layout). Run " +
        "IvfIndex.migrate(spark, path) (or IvfPqIndex.migrate) to rewrite it " +
        "in the bucketed layout in place, or rebuild the index with build().")
  }

  /** One-time in-place migration of a legacy `cell=`-partitioned cells
    * tree to the bucketed `cbk=` layout: every legacy batch is rewritten
    * bucketed (`cell` recovered from its partition directories) into the
    * stage and swapped in by one [[BatchStore.commit]]; bucketed batches
    * are left as they are, so a MIXED tree — legacy build + crashed
    * post-upgrade append — heals too. Batch ids, row content, and probe
    * results are unchanged — IvfIndexSpec pins probe-equality across the
    * migration. No-op on an already-bucketed tree. The swap replaces only
    * the rewritten batch directories, so an append that lands meanwhile
    * is never swapped away; the caller is still the exclusive writer of
    * the batches being migrated.
    */
  def migrate(spark: SparkSession, path: String): Unit = {
    val (fs, root) = BatchStore.fsPath(spark, path)
    val legacy = BatchStore.listBatches(fs, root, "cells").filter { case (_, b) =>
      fs.listStatus(b).exists(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
    }
    if (legacy.isEmpty) return
    BatchStore.land(spark, path, legacy.map(b => s"cells/${b._2.getName}")) { st =>
      legacy.foreach { case (id, b) => writeBucketed(spark.read.parquet(b.toString), st, id) }
    }
  }

  /** Delegates to [[BatchStore.compact]] with the bucket partitioning
    * preserved and the consolidated files re-sorted on `cell` (the
    * row-group-skip key) — see its doc for the swap, the
    * largest-existing-id rule, and the SAFETY CONTRACT (only
    * committed-past batch ids).
    */
  def compact(spark: SparkSession, path: String, upToBatch: Long): Unit = {
    // layout-guard first: consolidating a legacy cell= tree under
    // partitionBy("cbk") would fail on an unresolved column mid-write
    resolveCells(spark, path)
    BatchStore.compact(spark, path, upToBatch,
      BatchStore.Tree("cells", partitionCols = Seq("cbk"), sortCols = Seq("cell")))
  }
}
