package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch segment-level exact dedup against a PERSISTENT segment
  * store — the incremental form of [[Curation.segmentDedup]], and the
  * shape a crawl pipeline actually runs it in: batches arrive for months,
  * and every batch must drop segments (boilerplate, headers, license
  * blocks) already emitted by ANY earlier batch without re-scanning the
  * accepted corpus.
  *
  * Unlike the near-dup LSH store ([[IncrementalDedup]]), exact equality
  * is TRANSITIVE, so incrementality here costs nothing semantically:
  * with document ids increasing across batches, feeding batches
  * b₁…bₙ through one store yields EXACTLY the per-doc output of one-shot
  * [[Curation.segmentDedup]] over the concatenated corpus (spec-pinned) —
  * there is no monotonicity caveat to document away.
  *
  * The store keeps one row per DISTINCT segment ever kept —
  * `(seg_hash, seg, first_doc_id, first_idx)` under `batch=<id>`
  * partitions: the fingerprint, the text, and the provenance of the
  * segment's first occurrence (the audit columns a takedown or
  * attribution query needs).
  * The suppression join keys on the 8-byte portable fingerprint
  * ([[graft.functions.TextFunctions.fingerprint60]]) and CONFIRMS on the
  * segment text, so a 60-bit hash collision can never suppress a novel
  * segment — the hash bounds the join, the text decides it. Per batch:
  *
  *  1. segment the batch ([[Curation.segmentsCol]] — the same rule as the
  *     batch operator) and elect within-batch first occurrences by
  *     `min(struct(id, idx))` grouped on the hash+text pair
  *     (map-side combinable; the skew-immunity argument of
  *     [[Curation.segmentDedup]]);
  *  2. anti-join winners against store segments on (hash, text) — only
  *     batch docs' segments shuffle, keyed on the hash; store text rides
  *     the store side of the join and is never re-scanned otherwise;
  *  3. losers (within-batch or store-suppressed) drop; survivors
  *     reassemble per document in original order with the keep-fraction
  *     flag, exactly like the batch operator;
  *  4. the batch's NOVEL segments land at `batch=<batchId>` through one
  *     [[BatchStore]] commit. The store read EXCLUDES partitions >= the
  *     current batch id, so a checkpoint-replayed micro-batch recomputes
  *     against the exact pre-batch state and replaces its own partition
  *     byte-for-byte — idempotent under failure/restart replay
  *     (spec-pinned), append-only across distinct batches, and
  *     compactable by [[BatchStore.compact]].
  *
  * Requirements: ids non-negative, unique, and increasing across batches
  * fed to one store (the equality-with-one-shot contract orders election
  * by id; within a batch any unique ids work).
  */
object IncrementalSegmentDedup {

  private def storeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "seg_hash BIGINT, seg STRING")

  /** Cap on batch fingerprint rows for the probe-side broadcast of the
    * batch×store collision fetch: 4M 8-byte keys ≈ 32 MB of payload, a
    * few hundred MB as a hash relation (the [[IncrementalDedup]]
    * measured-size discipline). A batch with more distinct segments than
    * this is a bulk load, not a trickle — the shuffled anti-join is the
    * right plan there.
    */
  val BroadcastKeyRowsMax = 4000000L

  /** Cap on TEXT-carrying store rows for the anti-join broadcast: 1M
    * colliding segments × ~100 B ≈ 100 MB payload. Collisions are
    * bounded by the batch's own distinct segments, so this only trips
    * when the batch itself is flood-sized.
    */
  val BroadcastSegRowsMax = 1000000L

  /** STORE bytes at rest below which the plain shuffled anti-join stays
    * the plan. The probe-broadcast path exists to kill the
    * history-sized store exchange, but its fixed plumbing (a winner
    * materialization + two gate counts + two broadcast builds) is not
    * free — measured: a 100k-doc arrival reads 7.3 s classic vs 12.5 s
    * probed at a 1M-doc store (~90 MB at rest) and 5.8 vs 13.2 s at 4M
    * (~350 MB), because the exchange those stores' sizes buy back is
    * smaller than the plumbing. The crossover is where the store's
    * shuffle-read time exceeds those ~6 s of fixed cost — ~2 GiB at
    * rest on this hardware, far below any production crawl store, so
    * the deep-history regime always probes; the driver reads the size
    * from one FS listing ([[BatchStore.priorBytes]]), no job.
    */
  // The store-size floor of the probe-broadcast plan lives in
  // [[graft.config.ScaleGates.segmentStoreProbeBytesMin]]
  // (conf-overridable, default + derivation documented there). The
  // `storeProbeBytesMin` parameter overrides it per call when >= 0
  // (specs pass 0L to force the probe plan on a test-sized store).

  /** Suppress one batch's segments against the store, persist the novel
    * segments, and return the per-doc reassembly
    * `(id, n_seg, n_kept, keep_frac, kept, kept_text)`.
    */
  def segmentDedupBatch(
      spark: SparkSession, batch: DataFrame, id: Column, text: Column,
      storePath: String, batchId: Long,
      segTokens: Int = 10, minKeepFrac: Double = 0.5,
      storeProbeBytesMin: Long = -1L): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    // NOT materialized: base is consumed twice (election explode, per-doc
    // n_seg join) but it is a pure projection over the batch — recomputing
    // the segmentation is cheaper than checkpointing batch-sized text
    val base = batch.select(id.cast("long").as("__id"),
      Curation.segmentsCol(text, segTokens).as("__segs"))
    val exploded = base.select(col("__id"),
      posexplode(col("__segs")).as(Seq("__idx", "__seg")))
      .withColumn("__h", graft.functions.TextFunctions.fingerprint60(col("__seg")))
    val winners = exploded.groupBy(col("__h"), col("__seg"))
      .agg(min(struct(col("__id"), col("__idx"))).as("__w"))
      .select(col("__h"), col("__seg"),
        col("__w.__id").as("__id"), col("__w.__idx").as("__idx"))

    // the pre-batch state from EXPLICIT batch < batchId paths — the
    // replay-exclusion discipline this store pioneered, single-sourced
    // in [[BatchStore]] since round 10 (see its object doc for why
    // explicit paths, not a full-store read + filter)
    val store = BatchStore.readPrior(spark, storePath, batchId, storeSchema)
      .select(col("seg_hash"), col("seg"))

    // hash bounds the join, text decides it — a 60-bit collision can
    // never suppress a novel segment. PLAN, by TWO measured sizes (the
    // [[IncrementalDedup]] r15 discipline, extended to the STORE side):
    // the anti-join's natural plan shuffles the WHOLE store —
    // fingerprint AND segment text — on every arrival, a history-sized
    // exchange for a batch-sized question. Above
    // the store-bytes gate, the batch's bounded distinct fingerprints
    // broadcast as a probe into one store scan: the store contributes
    // only the rows whose key collides with the batch (≤ batch winners,
    // up to 60-bit collisions), and that bounded slice broadcasts into
    // the anti-join — the store never shuffles at all. An explicit
    // broadcast, not AQE: AQE converts a join only AFTER both map sides
    // have materialized, i.e. after the store-side exchange already
    // wrote (SURVEY §18, "Unequal-join broadcasts on the arrival path").
    // BELOW the store gate the plain shuffled anti-join stays — the probe
    // path's fixed plumbing costs more than a small store's exchange
    // (measured in the cap doc above); a flood batch beyond the
    // batch-side cap likewise degrades to the shuffled plan.
    val probeBytesMin =
      if (storeProbeBytesMin >= 0L) storeProbeBytesMin
      else graft.config.ScaleGates.segmentStoreProbeBytesMin(spark)
    val probeStore =
      BatchStore.priorBytes(spark, storePath, batchId) >= probeBytesMin
    // scratch registry + try/finally: the probe path's persisted frames
    // must not outlive the batch on ANY exit — a gate count or store
    // write that throws would otherwise leak cached blocks for the
    // session lifetime
    val scratch = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val novel =
        if (!probeStore)
          winners.join(store,
            winners("__h") === store("seg_hash") && winners("__seg") === store("seg"),
            "left_anti")
        else {
          // persist, not localCheckpoint (the r16 plumbing cut): the gate
          // count's execution IS the materialization — one pass that
          // caches, where the eager checkpoint paid a separate full
          // write job before the count could even run. Same for the
          // collision fetch: its gate count populates the cache the
          // broadcast build then reads. Two jobs and two batch-text
          // passes gone from the probe path's fixed floor.
          winners.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          scratch += winners
          val winnerCnt = winners.count()
          if (winnerCnt <= BroadcastKeyRowsMax) {
            val keys = winners.select(col("__h").as("seg_hash")).distinct()
            val h = store.join(broadcast(keys), Seq("seg_hash"))
              .select(col("seg_hash"), col("seg"))
            h.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            scratch += h
            val hitCnt = h.count()
            val right = if (hitCnt <= BroadcastSegRowsMax) broadcast(h) else h
            winners.join(right,
              winners("__h") === right("seg_hash") && winners("__seg") === right("seg"),
              "left_anti")
          } else
            winners.join(store,
              winners("__h") === store("seg_hash") && winners("__seg") === store("seg"),
              "left_anti")
        }

      // the store write IS the materialization: novel computes exactly once
      // into its partition, and the reassembly reads that partition back —
      // no checkpoint needed, and the returned frame's lineage (batch
      // projection + own written partition) stays re-executable because
      // both are fixed regardless of later batches landing in the store
      BatchStore.land(spark, storePath, Seq(s"batch=$batchId")) { st =>
        novel.select(col("__h").as("seg_hash"), col("__seg").as("seg"),
            col("__id").as("first_doc_id"), col("__idx").as("first_idx"))
          .write.parquet(st.at(s"batch=$batchId").toString)
      }
    } finally scratch.foreach(_.unpersist(false))
    val written = spark.read.parquet(s"$storePath/batch=$batchId")

    val reassembled = written.groupBy(col("first_doc_id").as("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(
          col("first_idx").as("__idx"), col("seg")))), s => s("seg")), " ")
          .as("kept_text"))
    base.select(col("__id"), size(col("__segs")).cast("long").as("n_seg"))
      .join(reassembled, Seq("__id"), "left")
      .select(col("__id").as("id"), col("n_seg"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .withColumn("__frac", when(col("n_seg") === 0, lit(1.0))
        .otherwise(col("n_kept").cast("double") / col("n_seg")))
      .withColumn("keep_frac", round(col("__frac"), 4))
      .withColumn("kept", col("__frac") >= minKeepFrac)
      .select(col("id"), col("n_seg"), col("n_kept"), col("keep_frac"),
        col("kept"), col("kept_text"))
  }

  /** Read the store's distinct kept segments (audit surface). */
  def storedSegments(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(storePath).select(col("seg_hash"), col("seg"))
}
