package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{DictionaryLocator, LexiconSentiment, TextFunctions}
import graft.operators.{BatchStore, IncrementalDedup, IncrementalImageDedup, IncrementalSegmentDedup, IncrementalSemDedup, IvfPqIndex, Retrieval}
import graft.sources.LocationDictSource

/** End-to-end STREAMING capstone: every stage of the reference pipeline
  * (ingest → clean → locate → label) plus the curation/dedup stores of
  * the LLM-data layer, wired into ONE driven Structured Streaming query —
  * the "all existing pieces, one command, one throughput number" run.
  *
  * Per micro-batch ([[processBatch]]):
  *  1. clean — NFC normalize + PII redact + the reference's tweet
  *     cleaner (all codegen column expressions);
  *  2. quality gate — the batch layer's keep rule (token minimum,
  *     punctuation ratio), a pure filter;
  *  3. enrich — language id, dictionary location cascade, lexicon
  *     sentiment label (the oracle-gated fast path — swap in
  *     [[graft.ml.MiniOnnxSentimentClassifier]] for model-based labels;
  *     the plumbing is identical);
  *  4. land the enriched batch as its own idempotent `batch=` partition
  *     (replay overwrites, never appends);
  *  5. feed the INCREMENTAL LSH near-dup store (signatures persisted,
  *     never recomputed), the segment-dedup store (cross-batch
  *     boilerplate suppression), and — when media payloads ride along —
  *     the PERCEPTUAL image-dedup store ([[IncrementalImageDedup]]:
  *     real decode, dHash, cross-batch suppression), and — when
  *     embeddings ride along — the SEMANTIC dedup store
  *     ([[IncrementalSemDedup]]: fixed centroid geometry, cell-scoped
  *     cosine suppression) — all checkpoint-replay-safe.
  *
  * The foreachBatch body is deterministic per (batch, store state), every
  * store write is an idempotent partition overwrite keyed by batchId, and
  * the sink partitions mirror that — so a checkpoint kill/resume replays
  * at most one batch onto identical state (StreamingCapstoneSpec pins
  * output equality across a mid-run kill).
  *
  * Run: SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.StreamingCapstone"
  * Prints one JSON line: docs ingested, wall seconds, docs/sec.
  */
object StreamingCapstone {

  final case class Stores(
    curatedDir: String, lshStore: String, segStore: String, segOut: String,
    vecStore: String = "", imgStore: String = "", bm25Store: String = "",
    semStore: String = "")

  /** One micro-batch through the full pipeline; returns rows landed.
    *
    * `vectors` (with a non-empty `stores.vecStore`) adds STREAMING ANN
    * INDEX MAINTENANCE: the landed batch's embeddings (vec_id = doc_id)
    * land in a persistent [[IvfPqIndex]] — built from the first
    * vector-bearing batch, appended thereafter as the idempotent
    * `batch=` partition append() already is. Replay safety follows the
    * other stores' argument: only the last uncommitted batch replays;
    * a replayed build batch rebuilds wholesale (only reachable before
    * any append committed), a replayed append overwrites its own
    * partition.
    */
  private[graft] def processBatch(
      spark: SparkSession, batch: DataFrame, stores: Stores, batchId: Long,
      dict: DictionaryLocator.LocationDict, minTokens: Int = 5,
      vectors: Option[DataFrame] = None,
      minVecBuildRows: Int = 64, vecKs: Int = 16,
      media: Option[DataFrame] = None,
      minSemInitRows: Int = 64, semThreshold: Double = 0.9,
      compactEvery: Int = 0): Long = {
    val enriched = batch
      .withColumn("clean_text",
        TextFunctions.cleanTweetText(
          TextFunctions.redactPii(TextFunctions.nfcNormalize(col("text")))))
      .withColumn("__nt", size(graft.operators.Dedup.tokens(col("clean_text"))))
      .filter(col("clean_text").isNotNull && col("__nt") >= minTokens &&
        TextFunctions.punctCount(col("clean_text")) <= col("__nt"))
      .withColumn("lang_id", TextFunctions.langId(col("clean_text")))
      .withColumn("sentiment",
        LexiconSentiment.label(col("clean_text"), LexiconSentiment.EngineWords))
      .drop("__nt")
    // location via the BROADCAST-JOIN cascade (detectViaJoin), not the
    // inlined when-chain: with the production 456-city dictionary the
    // when-chain expression alone pushed the batch projection's generated
    // processNext past janino's 64 KB limit — every micro-batch logged
    // "Failed to compile" and ran the whole enrichment stage interpreted.
    // The join is also the documented 100 TB shape (grams × broadcast
    // dim, first-match-wins as a map-side-combinable min)
    val loc = DictionaryLocator.detectViaJoin(
        enriched, col("doc_id"), col("clean_text"), dict)
      .select(col("id").as("__lid"),
        struct(col("province"), col("city"), col("detected_from")).as("location"))
    val cleaned = enriched
      .join(loc, enriched("doc_id") === col("__lid"), "left")
      .drop("__lid")
    // idempotent landing: a replayed batch rewrites its own partition
    cleaned.write.mode("overwrite")
      .parquet(s"${stores.curatedDir}/batch=$batchId")
    val landed = spark.read.parquet(s"${stores.curatedDir}/batch=$batchId")
    // both stores read the LANDED batch — the write above is the batch's
    // one materialization; the stores' own writes are their documented
    // idempotent partitions
    IncrementalDedup.lshDedupBatch(
      spark, landed, col("doc_id"), col("clean_text"),
      stores.lshStore, batchId)
    val seg = IncrementalSegmentDedup.segmentDedupBatch(
      spark, landed, col("doc_id"), col("clean_text"),
      stores.segStore, batchId)
    seg.write.mode("overwrite").parquet(s"${stores.segOut}/batch=$batchId")
    for (emb <- vectors if stores.vecStore.nonEmpty)
      maintainVectorIndex(spark, landed, emb, stores.vecStore, batchId,
        minVecBuildRows, vecKs)
    // semantic dedup stage: the landed docs' embeddings suppress against
    // the cross-batch SemDeDup store (fixed centroid geometry, staged
    // init — same deferred-build lifecycle as the vector index)
    for (emb <- vectors if stores.semStore.nonEmpty)
      maintainSemStore(spark, landed, emb, stores.semStore, batchId,
        minSemInitRows, semThreshold)
    // perceptual image stage: the landed docs' media suppress against the
    // cross-batch dHash store (batch=-keyed partition overwrite — the
    // same idempotent replay contract as the text stores)
    for (m <- media if stores.imgStore.nonEmpty) {
      val mb = m.join(landed.select(col("doc_id").as("__mid")),
          col("media_id") === col("__mid"))
        .select(col("media_id"), col("payload"))
      IncrementalImageDedup.dhashDedupBatch(
        spark, mb, col("media_id"), col("payload"), stores.imgStore, batchId)
      ()
    }
    // streaming BM25 index maintenance: every landed batch appends its
    // own idempotent batch= partitions; df/N/dl statistics merge at
    // query time, so the index serves identically to a full rebuild
    if (stores.bm25Store.nonEmpty) {
      Retrieval.ensureIndexMeta(spark, stores.bm25Store, buckets = 16)
      Retrieval.appendIndex(
        landed, col("doc_id"), col("clean_text"), stores.bm25Store, batchId)
    }
    // periodic in-stream compaction across EVERY read-per-batch store —
    // the single-sourced [[BatchStore]] discipline end-to-end: inside
    // foreachBatch of batchId, every batch < batchId is checkpoint-
    // committed, so upToBatch = batchId - 1 honors each store's SAFETY
    // CONTRACT. Stores that do not exist yet (semantic store pre-init,
    // vector index pre-build) no-op by construction (compact on a
    // missing/empty tree returns). Pure layout maintenance: suppression
    // decisions and query answers are unchanged (spec-pinned).
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      val upTo = batchId - 1
      IncrementalDedup.compactStore(spark, stores.lshStore, upTo)
      IncrementalDedup.compactStore(spark, stores.segStore, upTo)
      if (stores.imgStore.nonEmpty)
        IncrementalDedup.compactStore(spark, stores.imgStore, upTo)
      if (stores.semStore.nonEmpty)
        IncrementalSemDedup.compactStore(spark, stores.semStore, upTo)
      if (stores.vecStore.nonEmpty)
        IvfPqIndex.compact(spark, stores.vecStore, upTo)
      if (stores.bm25Store.nonEmpty)
        Retrieval.compactIndex(spark, stores.bm25Store, upTo)
    }
    landed.count()
  }

  /** The shared DEFERRED-INIT lifecycle of the two vector-backed stages
    * ([[maintainVectorIndex]], [[maintainSemStore]]) — single-sourced
    * here for the same reason [[graft.operators.BatchStore]] exists: the
    * crash-window reasoning lived in two hand-synced copies, and the
    * marker-ordering bug class was already hit once (an earlier version
    * wrote the vector marker BEFORE the build and keyed "built" on
    * centroids existence; a crash between centroids and the cells tree
    * then skipped both the rebuild and the append branch on replay,
    * silently dropping the staged base from the index).
    *
    * Shape: a store whose seed geometry cannot come from a toy sample
    * (PQ codebooks, SemDeDup centroids) STAGES each batch's rows as an
    * idempotent `batch=` partition until `minRows` accumulate, then
    * `build(allStaged)` runs, the staged history optionally REPLAYS per
    * batch in arrival order, and the marker commits LAST — it is the
    * ONLY signal a complete store exists, so a crash anywhere mid-build
    * re-stages and re-runs the whole deterministic sequence onto
    * identical state (every builder wipes/overwrites wholesale). After
    * the marker commits the staged tree is DELETED: it is dead data from
    * that point (a full float copy of the pre-init history, kept forever
    * otherwise), and it is re-creatable only before the marker, when it
    * is still needed. A crash between marker write and staged delete
    * self-heals on the next append-path batch. Replayed pre-init batches
    * (batchId <= marker) are already inside the built store and are
    * skipped; replayed post-init batches overwrite their own `batch=`
    * partition in `append`.
    */
  private[graft] def stagedInit(
      spark: SparkSession, rows: DataFrame, staged: String,
      markerPath: String, batchId: Long, minRows: Int,
      build: DataFrame => Unit,
      replayStaged: Option[(Long, DataFrame) => Unit],
      append: DataFrame => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(markerPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    def readMarker(): Long =
      if (!fs.exists(marker)) -1L
      else {
        val in = fs.open(marker)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong
        finally in.close()
      }
    if (readMarker() < 0L) {
      rows.write.mode("overwrite").parquet(s"$staged/batch=$batchId")
      val all = spark.read.parquet(staged)
        .select(col("vec_id"), col("embedding"))
      if (all.count() >= minRows) {
        build(all)
        replayStaged.foreach { f =>
          val (sfs, sp) = BatchStore.fsPath(spark, staged)
          BatchStore.listBatches(sfs, sp).sortBy(_._1).foreach {
            case (bid, path) => f(bid, spark.read.parquet(path.toString))
          }
        }
        // marker LAST: build-complete commit point
        val out = fs.create(marker, true)
        try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
        fs.delete(stagedP, true): Unit
      }
    } else if (batchId > readMarker() && !rows.isEmpty) {
      // self-heal the marker-write → staged-delete crash window
      if (fs.exists(stagedP)) fs.delete(stagedP, true): Unit
      append(rows)
    }
  }

  /** Streaming ANN-index maintenance ([[stagedInit]] with
    * [[IvfPqIndex.build]]/append): a PQ codebook cannot be seeded from a
    * toy sample, so the index build is deferred, not degraded. No staged
    * replay — the build over the full staged set IS the base.
    */
  private[graft] def maintainVectorIndex(
      spark: SparkSession, landed: DataFrame, embeddings: DataFrame,
      vecStore: String, batchId: Long,
      minVecBuildRows: Int, vecKs: Int): Unit = {
    val vecs = embeddings.join(landed.select(col("doc_id").as("__vid")),
        col("vec_id") === col("__vid"))
      .select(col("vec_id"), col("embedding"))
    stagedInit(spark, vecs, s"$vecStore/staged", s"$vecStore/_built_through",
      batchId, minVecBuildRows,
      build = all => IvfPqIndex.build(all, col("vec_id"), col("embedding"),
        vecStore, replicas = 2, ks = vecKs),
      replayStaged = None,
      append = b => IvfPqIndex.append(spark, b, col("vec_id"),
        col("embedding"), vecStore, batchId))
  }

  /** Streaming semantic-dedup store maintenance ([[stagedInit]] with
    * [[IncrementalSemDedup.init]] + a per-batch staged replay in arrival
    * order — suppression decisions are order-dependent, so the history
    * must re-run batch by batch, not as one blob). The staged tree is a
    * SIBLING (`<semStore>_staged`), not nested, because init clears the
    * store root wholesale. Centroid geometry seeded from a toy sample
    * would fix a degenerate cell structure forever — deferred, not
    * degraded.
    */
  private[graft] def maintainSemStore(
      spark: SparkSession, landed: DataFrame, embeddings: DataFrame,
      semStore: String, batchId: Long,
      minSemInitRows: Int, semThreshold: Double): Unit = {
    val vecs = embeddings.join(landed.select(col("doc_id").as("__sid")),
        col("vec_id") === col("__sid"))
      .select(col("vec_id"), col("embedding"))
    stagedInit(spark, vecs, s"${semStore}_staged", s"$semStore/_init_through",
      batchId, minSemInitRows,
      build = all => IncrementalSemDedup.init(
        all, col("vec_id"), col("embedding"), semStore),
      replayStaged = Some((bid, b) => {
        IncrementalSemDedup.semDedupBatch(spark, b, col("vec_id"),
          col("embedding"), semStore, bid, semThreshold)
        ()
      }),
      append = b => {
        IncrementalSemDedup.semDedupBatch(spark, b, col("vec_id"),
          col("embedding"), semStore, batchId, semThreshold)
        ()
      })
  }

  /** Start the capstone stream over a JSONL landing directory with
    * `(doc_id, text, lang)` rows.
    */
  def start(
      spark: SparkSession, landingDir: String, stores: Stores,
      checkpointDir: String, dict: DictionaryLocator.LocationDict,
      maxFilesPerTrigger: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      vectors: Option[DataFrame] = None,
      minVecBuildRows: Int = 64, vecKs: Int = 16,
      media: Option[DataFrame] = None,
      minSemInitRows: Int = 64, semThreshold: Double = 0.9,
      compactEvery: Int = 0): StreamingQuery = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lang", "string")
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          processBatch(spark, batch, stores, batchId, dict,
            vectors = vectors, minVecBuildRows = minVecBuildRows,
            vecKs = vecKs, media = media,
            minSemInitRows = minSemInitRows, semThreshold = semThreshold,
            compactEvery = compactEvery)
          ()
        }
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("capstone").toString)
    val slices = args.lift(1).map(_.toInt).getOrElse(24)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(0)
    Harness.withSession(Harness.LocalStoreListing)(run(_, sfDir, work, slices, compactEvery))
  }

  def run(spark: SparkSession, sfDir: String, work: String, slices: Int,
      compactEvery: Int): Unit = {
    // stage the documents table as JSONL slices — the arrival simulation;
    // staging cost stays out of the throughput window
    val landing = s"$work/landing"
    graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .repartition(slices)
      .write.mode("overwrite").json(landing)
    val total = spark.read.json(landing).count()

    val stores = Stores(s"$work/curated", s"$work/lsh_store",
      s"$work/seg_store", s"$work/seg_out", s"$work/vec_index",
      s"$work/img_store", s"$work/bm25_index", s"$work/sem_store")
    val dict = LocationDictSource.fromFileOrDefault(s"$sfDir/locations.json")
    val embeddings = graft.Tables(spark, sfDir, "embeddings")
    // synthetic media (the testdata ships no media table): the
    // q_dhash_pairs corpus — real BMP bytes, real decode downstream
    val media = graft.queries.MultimodalQueries.syntheticMedia(
      graft.Tables(spark, sfDir, "documents"), col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val q = start(spark, landing, stores, s"$work/ckpt", dict,
      vectors = Some(embeddings), media = Some(media),
      compactEvery = compactEvery)
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    val landed = spark.read.parquet(stores.curatedDir).count()
    val survivors = IncrementalDedup.survivors(spark, stores.lshStore).count()
    val vecRows = spark.read.parquet(s"${stores.vecStore}/cells").count()
    val imgSurvivors = IncrementalImageDedup.survivors(spark, stores.imgStore).count()
    val semSurvivors = IncrementalSemDedup.survivors(spark, stores.semStore).count()
    println(f"""{"metric":"capstone_docs_per_sec","value":${total / wallS}%.1f,"unit":"docs/sec","docs":$total,"landed":$landed,"lsh_survivors":$survivors,"vec_rows":$vecRows,"img_survivors":$imgSurvivors,"sem_survivors":$semSurvivors,"wall_s":$wallS%.1f,"sf":"$sfDir"}""")
  }
}
