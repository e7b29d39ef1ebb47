package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch PERCEPTUAL image near-duplicate suppression against a
  * persistent dHash store — the incremental form of
  * [[Multimodal.dHashNearDuplicates]], completing the incremental-store
  * family ([[IncrementalDedup]] for whole-document text,
  * [[IncrementalSegmentDedup]] for paragraphs): media arrives over crawl
  * batches, and each batch must suppress against every image ever
  * accepted without re-decoding or re-scanning the accepted corpus.
  *
  * The store keeps one slim row per media item EVER SEEN — survivors and
  * suppressed alike — holding its 64-bit perceptual hash and its cluster
  * representative. Keeping suppressed items' hashes makes suppression
  * TRANSITIVE across batches (the [[IncrementalDedup]] argument): an
  * image within the Hamming radius of a previously-suppressed near-dup
  * joins that item's cluster through its rep, even when it is outside
  * the radius of the cluster's own survivor. Payload bytes are NEVER
  * stored — 17 bytes of state per item, not the image.
  *
  * Per batch:
  *  1. batched REAL decode ([[Multimodal.ImageIODecoder]]) → dHash64;
  *     undecodable payloads carry a null hash: they can never match or
  *     be matched, and land as their own survivors (the short-doc
  *     convention);
  *  2. batch-internal edges: identical-hash pre-collapse (member→rep
  *     chain edges, NOT the C(m,2) intra clique — connected components
  *     only needs connectivity), then the 8×8-bit banded self-join over
  *     DISTINCT hashes with exact Hamming verification;
  *  3. batch×store: batch's distinct hashes join the store's distinct
  *     hashes on shared band bytes (store side pre-aggregated to
  *     (dh, min rep) — equal hashes share suppression fate, so the
  *     collapse is exact); per batch item, the minimum store rep within
  *     `maxHamming`;
  *  4. batch-internal clusters via [[Dedup.connectedComponents]]; each
  *     cluster adopts the minimum store rep any member matched, else its
  *     minimum member id;
  *  5. the labeled batch lands at `batch=<batchId>` through one
  *     [[BatchStore]] commit — idempotent under streaming replay,
  *     append-only across distinct batches, compactable by
  *     [[BatchStore.compact]] (content-agnostic consolidation).
  *
  * Monotonicity contract: identical to [[IncrementalDedup]] — emitted
  * survivors are never retracted; a later bridge image suppresses under
  * the smaller rep without merging already-emitted survivors.
  *
  * Scale shape: per batch, the store contributes 8 band rows per
  * DISTINCT hash (collapse absorbs placeholder floods — the store-side
  * analogue of [[Multimodal.dHashNearDuplicates]]'s guard); batch
  * payloads decode exactly once; all joins carry (hash, rep) longs.
  * Requirements: `id` non-negative long, unique across all batches ever
  * fed to one store.
  */
object IncrementalImageDedup {

  private def storeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "media_id BIGINT, dh BIGINT, rep_id BIGINT, survivor BOOLEAN")

  // The probe-side broadcast cap of the batch×store candidate join lives
  // in [[graft.config.ScaleGates.imageBroadcastBandRowsMax]]
  // (conf-overridable, default + derivation documented there).

  /** (band, key) rows for a 64-bit hash column: `maxHamming + 1`
    * disjoint segments ([[Multimodal.pigeonholeBands]] — exact recall
    * at every radius, with the widest keys the pigeonhole allows; bands
    * are DERIVED per call from stored hashes, so the store layout is
    * radius-agnostic and existing stores read unchanged).
    */
  private def bandStruct(dh: Column, maxHamming: Int): Column =
    Multimodal.pigeonholeBands(dh, maxHamming)

  /** Suppress one batch against the store at `storePath`, then persist
    * the labeled batch into `batch=<batchId>`. Returns (media_id,
    * rep_id, survivor).
    */
  def dhashDedupBatch(
      spark: SparkSession, batch: DataFrame, id: Column, payload: Column,
      storePath: String, batchId: Long,
      maxHamming: Int = 6, batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be within [0, 7] (64-bit pigeonhole bound), got $maxHamming")
    val decoded = Multimodal.decodeFeatures(
      batch.select(id.cast("long").as("media_id"), payload.as("__p")), "__p",
      Multimodal.ImageIODecoder(), batchSize)
    // hashed once, PERSISTED: feeds the member chain, both band joins,
    // and the final labeling — decode must not re-run per branch. Persist
    // over localCheckpoint (the r16 job-floor cut): the first consumer's
    // execution populates the cache instead of a dedicated eager job
    val hashed = decoded
      .select(col("media_id"),
        when(col("dec_width") > 0, Multimodal.dHash64(col("feat")))
          .otherwise(lit(null).cast("long")).as("dh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // scratch registry + try/finally: the persisted frames must not
    // outlive the batch on ANY exit — a CC non-convergence or failed
    // store write would otherwise leak cached blocks for the session
    // lifetime (unpersist is an idempotent no-op on freed frames)
    val scratch = scala.collection.mutable.ListBuffer.empty[DataFrame]
    scratch += hashed
    try {
      val members = hashed.filter(col("dh").isNotNull)
        .withColumn("__rep", min(col("media_id")).over(Window.partitionBy(col("dh"))))
      // chain edges connect identical-hash members to their in-batch rep;
      // band-join edges connect distinct hashes within the radius
      val chainEdges = members.filter(col("media_id") =!= col("__rep"))
        .select(col("__rep").as("a"), col("media_id").as("b"))
      val reps = members.filter(col("media_id") === col("__rep"))
        .select(col("__rep"), col("dh"), bandStruct(col("dh"), maxHamming).as("__b"))
      val ra = reps.select(col("__rep").as("a"), col("dh").as("__dha"), col("__b"))
      val rb = reps.select(col("__rep").as("b"), col("dh").as("__dhb"), col("__b"))
      // equal-sided batch self-join over a MATERIALIZED frame (8-bytes/row
      // planner stats) — merge-hinted, the [[Dedup]] corpus-self-join rule
      val repEdges = ra.hint("merge").join(rb, Seq("__b"))
        .filter(col("a") < col("b"))
        .filter(bit_count(col("__dha").bitwiseXOR(col("__dhb"))) <= maxHamming)
        .select(col("a"), col("b")).distinct()

      // the pre-batch state from EXPLICIT batch < batchId paths (the
      // [[BatchStore]] replay-exclusion contract; also heals a crashed
      // compact swap before reading)
      val store = BatchStore.readPrior(spark, storePath, batchId, storeSchema)
        .select(col("media_id"), col("dh"), col("rep_id"))
      // store side collapsed to (distinct hash, min rep): equal hashes
      // matched each other at ingest, so min-rep per hash is exactly the
      // rep the full row set would contribute. PLAN, by measured size (the
      // [[IncrementalDedup]] r15 discipline): the natural plan pays TWO
      // history-sized exchanges per arrival — the groupBy(dh) collapse of
      // the full store, then the band join's store side. The batch's
      // distinct (band, key) set is bounded, so broadcast IT as a probe
      // into one store scan (explode bands per row in place — a generator,
      // not a shuffle), and collapse equal hashes AFTER the probe: rows of
      // one hash carry identical band sets, so every row of a colliding
      // hash survives the probe and min-rep over the collided slice equals
      // min-rep over the full store for those hashes. Only colliding rows
      // ever reach an exchange. Explicit broadcast, not AQE — AQE converts
      // only after both map sides already materialized (SURVEY §18,
      // "Unequal-join broadcasts on the arrival path"). Flood batches
      // beyond the cap take the original collapsed-store plan.
      val bKeys = reps.select(col("__b")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scratch += bKeys
      val bKeyCnt = bKeys.count()
      val sReps =
        if (bKeyCnt <= graft.config.ScaleGates.imageBroadcastBandRowsMax(spark))
          store.filter(col("dh").isNotNull)
            .select(col("dh"), col("rep_id"), bandStruct(col("dh"), maxHamming).as("__b"))
            .join(broadcast(bKeys), Seq("__b"))
            .groupBy(col("__b"), col("dh"))
            .agg(min(col("rep_id")).as("__srep"))
            .select(col("__b"), col("dh").as("__sdh"), col("__srep"))
        else
          store.filter(col("dh").isNotNull)
            .groupBy(col("dh")).agg(min(col("rep_id")).as("__srep"))
            .select(col("dh").as("__sdh"), col("__srep"),
              bandStruct(col("dh"), maxHamming).as("__b"))
      val bEx = reps.select(col("__rep"), col("dh"), col("__b"))
      val storeRep = bEx.join(sReps, Seq("__b"))
        .filter(bit_count(col("dh").bitwiseXOR(col("__sdh"))) <= maxHamming)
        .groupBy(col("__rep")).agg(min(col("__srep")).as("__crep"))
        // back to every member of the batch hash group
        .join(members.select(col("media_id"), col("__rep")), Seq("__rep"))
        .select(col("media_id"), col("__crep"))

      val edges = chainEdges.unionByName(repEdges)
      val comp = Dedup.connectedComponents(edges, col("a"), col("b"))
      val ids = hashed.select(col("media_id"))
      val compOf = ids
        .join(comp, ids("media_id") === comp("node"), "left")
        .select(col("media_id"), coalesce(col("cluster_rep"), col("media_id")).as("__comp"))
      val compRep = compOf.join(storeRep, Seq("media_id"), "left")
        .groupBy(col("__comp")).agg(min(col("__crep")).as("__compSrep"))
      val labeled = compOf.join(compRep, Seq("__comp"))
        .select(col("media_id"),
          coalesce(col("__compSrep"), col("__comp")).as("rep_id"))
      val out = hashed.join(labeled, Seq("media_id"))
        .select(col("media_id"), col("dh"), col("rep_id"),
          (col("rep_id") === col("media_id")).as("survivor"))

      BatchStore.land(spark, storePath, Seq(s"batch=$batchId"))(st =>
        out.write.parquet(st.at(s"batch=$batchId").toString))
      spark.read.parquet(s"$storePath/batch=$batchId")
        .select(col("media_id"), col("rep_id"), col("survivor"))
    } finally scratch.foreach(_.unpersist(false))
  }

  /** The store's accepted (surviving) media ids. */
  def survivors(spark: SparkSession, storePath: String): DataFrame = {
    val (fs, p) = BatchStore.fsPath(spark, storePath)
    BatchStore.heal(fs, p)
    spark.read.parquet(storePath)
      .filter(col("survivor"))
      .select(col("media_id"))
  }
}
