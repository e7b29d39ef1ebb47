package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT IVF-PQ index (IVFADC — Jégou, Douze & Schmid, TPAMI 2011
  * §V): the [[IvfIndex]] cell layout with PRODUCT-QUANTIZED residuals in
  * the cells instead of raw vectors. Each corpus row stores as
  * (neighbor_id, one packed BIGINT of PQ codes, recon norm) — at the
  * default (m=8, ks=16) geometry that is ~20 bytes against ~260 for a
  * 64-dim float row with its norm, the at-rest/at-scan compression that
  * makes a billion-vector index fit a node count the raw floats never
  * would. Probing composes the two prunes: the coarse quantizer limits
  * the scan to `nprobe` cell directories (static partition filter, the
  * [[IvfIndex.probe]] discipline) and ADC lookup tables score each
  * surviving row with m table lookups instead of a dim-wide dot
  * ([[Embeddings.pqTopKAdc]]'s trade, applied post-prune).
  *
  * RESIDUAL encoding: rows are L2-normalized, assigned to their nearest
  * centroid(s), and the PQ codebooks are trained on — and encode — the
  * residual `ne − centroid(cell)`. Residuals concentrate near 0 with far
  * less variance than the vectors themselves, so a 4-bit-per-subspace
  * codebook spends its 16 words on the local neighborhood instead of the
  * whole sphere (the reason IVFADC beats flat PQ at equal bits). A row's
  * scoring reconstruction is `centroid + residual_recon`, and the probe
  * side splits the dot accordingly: `dot(probe, recon) =
  * dot(probe, centroid)  [one value per probed cell, reused by every row
  * in it] + Σ_j tab[j·ks + code_j]` — both terms precomputed per probe,
  * never per row.
  *
  * Approximate by design (Lloyd refine + residual quantization), so
  * spec-gated on recall/size/prune rather than SQL-oracled — the
  * [[IvfIndex]] convention; the PQ MECHANISM itself is already under the
  * full oracle via q_embedding_pq_flat/q_embedding_pq_adc.
  *
  * Layout: `path/centroids` (cell, centroid), `path/codebooks`
  * (j, ci, sub), `path/meta` (nlist, dim, replicas, seed, m, ks),
  * `path/cells/batch=B/cbk=K/` parquet of (neighbor_id, code, nrm,
  * cell) — the [[IvfCells]] bucketed layout: `cbk = cell % 64` is the
  * directory dimension (so an append lands O(64) files instead of
  * one per touched cell × write task — the r14 capstone ladder's
  * dominant small-files producer at ~1,350 files/batch), and `cell` is
  * a sorted data column probes row-group-skip on.
  */
object IvfPqIndex {

  private def metaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "nlist INT, dim INT, replicas INT, seed BIGINT, m INT, ks INT")

  /** Build the index at `path` (batch=0; replaces a previous index). */
  def build(
      corpus: DataFrame, id: Column, emb: Column, path: String,
      nlist: Int = -1, replicas: Int = 1, refineIterations: Int = 1,
      m: Int = 8, ks: Int = 16, pqRefine: Int = 1,
      seed: Long = 42L): Unit =
    BatchStore.commit(stageBuild(corpus, id, emb, path, nlist, replicas,
      refineIterations, m, ks, pqRefine, seed))

  /** [[build]]'s trees written into the stage of `path`, and the [[BatchStore.Swap]]
    * that replaces them — uncommitted, so a caller can land more with the
    * build (the streaming capstone's build marker).
    */
  private[graft] def stageBuild(
      corpus: DataFrame, id: Column, emb: Column, path: String,
      nlist: Int = -1, replicas: Int = 1, refineIterations: Int = 1,
      m: Int = 8, ks: Int = 16, pqRefine: Int = 1,
      seed: Long = 42L): BatchStore.Swap = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    val spark = corpus.sparkSession
    val lists =
      if (nlist > 0) nlist else Embeddings.deriveNlist(corpus.count())
    val mat = Embeddings.computeCentroids(
      corpus, id, emb, lists, refineIterations, seed, portableSample = false)
    val dim = mat.headOption.map(_.length).getOrElse(0)
    require(dim % m == 0, s"IvfPqIndex: dim $dim not divisible by m $m")
    // residuals of the (replica-)assigned normalized corpus — the
    // codebook training set IS the encode input, one shared projection
    val resid = residuals(corpus, id, emb, mat, replicas)
    val books = Embeddings.pqCodebooks(
      resid, col("neighbor_id"), col("__r"),
      m, ks, pqRefine, seed, portableSample = false, normalize = false)
    // one commit replaces the index's four trees: a crashed rebuild
    // leaves the previous index serving
    val st = BatchStore.stage(spark, path)
    IvfCells.writeCentroids(spark, mat, st)
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
          lists, dim, replicas, seed, m, ks)), 1), metaSchema)
      .write.parquet(st.at("meta").toString)
    IvfCells.writeCodebooks(spark, books, st.at("codebooks"))
    IvfCells.writeBucketed(encode(resid, mat, books, m, ks), st, batchId = 0L)
    BatchStore.Swap(st, Seq("centroids", "meta", "codebooks", "cells"))
  }

  /** Assign + encode new rows against the STORED centroids and codebooks
    * into `batch=$batchId` — arrival cost is one pass over the new rows;
    * idempotent on replay (the commit replaces its own dir).
    */
  def append(
      spark: SparkSession, rows: DataFrame, id: Column, emb: Column,
      path: String, batchId: Long): Unit = {
    require(batchId > 0L, s"append batchId must be > 0 (0 is the build), got $batchId")
    IvfCells.resolveCells(spark, path)
    val (mat, books, replicas, mm, kk) = readIndex(spark, path)
    IvfCells.append(spark,
      encode(residuals(rows, id, emb, mat, replicas), mat, books, mm, kk), path, batchId)
  }

  /** Top-k cosine neighbors against the stored index — the
    * (probe_id, rk, neighbor_id, cosine) contract, cosine of the probe
    * against each row's IVFADC reconstruction, rounded to 4.
    */
  def probe(
      spark: SparkSession, path: String,
      probes: DataFrame, probeId: Column, probeEmb: Column,
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // committed-batch snapshot pin, taken first — the [[IvfIndex.probe]]
    // serving discipline
    val (cellsRoot, committedCells) = IvfCells.pin(spark, path)
    val (mat, books, replicas, m, ks) = readIndex(spark, path)
    val sub = books.head.head.size
    val probeScored = probes.select(probeId.as("probe_id"), probeEmb.as("__pe"))
      .select(col("probe_id"), col("__pe"),
        explode(Embeddings.cellScoresFor(mat)(col("__pe"))).as("__c"))
    val wp = Window.partitionBy(col("probe_id"))
      .orderBy(col("__c.negDot"), col("__c.cell"))
    // per probed cell: carry dot(probe, centroid) — the first ADC term,
    // shared by every row of the cell
    val p0 = probeScored
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nprobe)
      .select(col("probe_id"), col("__pe"),
        col("__c.cell").as("cell"), (-col("__c.negDot")).as("__cdot"))
      .withColumn("__pn", Embeddings.norm(col("__pe")))
      .withColumn("__ped", col("__pe").cast("array<double>"))
    val withSubs = (0 until m).foldLeft(p0) { (d, j) =>
      d.withColumn(s"__ps$j", slice(col("__ped"), j * sub + 1, sub))
    }
    val probeCells = withSubs
      .withColumn("__tab", flatten(array((0 until m).map(j =>
        transform(typedLit(books(j)), c => Embeddings.dot(col(s"__ps$j"), c))): _*)))
      .select(col("probe_id"), col("cell"), col("__cdot"), col("__pn"), col("__tab"))
    val neededCells = probeCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    // two-level prune: `cbk` dirs at file-index time, probed cells via
    // row-group skip on the sorted `cell` data column (bucketed layout)
    val neededBuckets = neededCells.map(IvfCells.bucketOf).distinct.sorted
    val cells = spark.read.option("basePath", cellsRoot)
      .parquet(committedCells: _*)
      .filter(col("cbk").isin(neededBuckets.toIndexedSeq: _*) &&
        col("cell").isin(neededCells.toIndexedSeq: _*))
      .select(col("neighbor_id"), col("code"), col("nrm"), col("cell"))
      .withColumn("__codes", Embeddings.pqUnpack(col("code"), m, ks))
    val adc = (0 until m).map(j =>
      element_at(col("__tab"),
        (col("__codes").getItem(j) + lit(j * ks)).cast("int")))
      .reduce(_ + _)
    val scored = cells.join(broadcast(probeCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(coalesce((col("__cdot") + adc) /
          nullif(col("__pn") * col("nrm"), lit(0.0)), lit(0.0)), 4).as("cosine"))
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

  /** [[probe]] with an exact-rescore tail: the PQ index produces a
    * `shortlist`-deep candidate set per probe (ADC-ranked), the float
    * corpus is joined back BY ID for those rows only, and the final
    * top-k ranks on exact cosine — the standard two-stage ANN serving
    * shape (shortlist from the compressed index, rescore from the
    * source of truth). This recovers exact rank order inside near-tie
    * clusters, where 32-bit residual codes rank ~randomly (see
    * IvfCrossover's containment-vs-rank-recall discussion), at the cost
    * of one id-equi-join touching probes·shortlist corpus rows — NOT a
    * corpus scan.
    *
    * `corpus` must carry the same (id, emb) rows the index was built
    * from; rows missing from it simply drop from the shortlist (the
    * caller deleted them — the rescore is the natural place stale index
    * entries fall out).
    */
  def probeRescored(
      spark: SparkSession, path: String,
      corpus: DataFrame, corpusId: Column, corpusEmb: Column,
      probes: DataFrame, probeId: Column, probeEmb: Column,
      k: Int = 5, nprobe: Int = 4, shortlist: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = probe(spark, path, probes, probeId, probeEmb,
        k = shortlist, nprobe = nprobe)
      .select(col("probe_id"), col("neighbor_id"))
    val p = probes.select(probeId.as("probe_id"), probeEmb.as("__pe"))
      .withColumn("__pn", Embeddings.norm(col("__pe")))
    val c = corpus.select(corpusId.as("neighbor_id"), corpusEmb.as("__ce"))
      .withColumn("__cn", Embeddings.norm(col("__ce")))
    val scored = short
      .join(c, Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(Embeddings.cosinePrenormed(
          col("__pe"), col("__ce"), col("__pn"), col("__cn")), 4).as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** Consolidate `batch=` partitions with id <= `upToBatch` into one,
    * preserving the cell partitioning — see [[IvfCells.compact]] for the
    * safety contract.
    */
  /** One-time migration of a pre-bucketing `cell=`-partitioned cells
    * tree to the current `cbk=` layout — see [[IvfCells.migrate]].
    */
  def migrate(spark: SparkSession, path: String): Unit =
    IvfCells.migrate(spark, path)

  def compact(spark: SparkSession, path: String, upToBatch: Long): Unit =
    IvfCells.compact(spark, path, upToBatch)

  // --------------------------------------------------------- internals

  /** Normalized rows, (replica-)assigned, with residual `__r` vs the
    * assigned cell's centroid: (neighbor_id, cell, __ne, __r).
    */
  private def residuals(
      rows: DataFrame, id: Column, emb: Column,
      mat: Seq[Seq[Double]], replicas: Int): DataFrame = {
    val base = rows.select(id.cast("long").as("neighbor_id"), emb.as("__e"))
      .withColumn("__n0", Embeddings.norm(col("__e")))
      .withColumn("__ne",
        when(col("__n0") === 0.0, col("__e").cast("array<double>"))
          .otherwise(transform(col("__e"), x => x.cast("double") / col("__n0"))))
      .drop("__n0", "__e")
    val scores = Embeddings.cellScoresFor(mat)(col("__ne"))
    val assigned =
      if (replicas == 1)
        base.withColumn("cell", array_min(scores).getField("cell"))
      else
        base.withColumn("cell",
          explode(transform(
            slice(array_sort(scores), 1, math.min(replicas, mat.size)),
            c => c.getField("cell"))))
    assigned
      .withColumn("__cent", element_at(typedLit(mat), col("cell") + 1))
      .withColumn("__r", zip_with(col("__ne"), col("__cent"), _ - _))
      .select(col("neighbor_id"), col("cell"), col("__cent"), col("__r"))
  }

  /** Encode residuals to packed codes + reconstruction norm:
    * (neighbor_id, cell, code, nrm).
    */
  private def encode(
      resid: DataFrame, mat: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], m: Int, ks: Int): DataFrame =
    Embeddings.pqEncoded(resid, col("__r"), books, normalize = false)
      .withColumn("__reconFull", zip_with(col("__cent"), col("__recon"), _ + _))
      .withColumn("nrm", Embeddings.norm(col("__reconFull")))
      .withColumn("code", Embeddings.pqPack(col("__codes"), m, ks))
      .select(col("neighbor_id"), col("cell"), col("code"), col("nrm"))

  private def readIndex(spark: SparkSession, path: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], Int, Int, Int) = {
    val mat = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](1)).toSeq
    require(mat.nonEmpty, s"IvfPqIndex: no centroids at $path/centroids")
    val meta = spark.read.parquet(s"$path/meta")
      .select(col("replicas"), col("m"), col("ks")).head()
    val (replicas, m, ks) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val books = spark.read.parquet(s"$path/codebooks")
      .orderBy(col("j"), col("ci")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toSeq)
    require(books.size == m && books.forall(_.size == ks),
      s"IvfPqIndex: codebook shape ${books.map(_.size)} != ${m}x$ks")
    (mat, books, replicas, m, ks)
  }
}
