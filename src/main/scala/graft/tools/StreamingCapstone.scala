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
  * store write is an idempotent [[BatchStore]] commit of the partition
  * keyed by batchId, and the sink partitions mirror that — so a
  * checkpoint kill/resume replays at most one batch onto identical state
  * (StreamingCapstoneSpec pins output equality across a mid-run kill).
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
    * a replayed build batch rebuilds (only reachable before any append
    * committed), a replayed append replaces its own partition.
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
    // idempotent landing: a replayed batch replaces its own partition
    landBatch(spark, stores.curatedDir, batchId, cleaned)
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
    landBatch(spark, stores.segOut, batchId, seg)
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
      BatchStore.compact(spark, stores.segStore, upTo)
      if (stores.imgStore.nonEmpty)
        BatchStore.compact(spark, stores.imgStore, upTo)
      if (stores.semStore.nonEmpty)
        IncrementalSemDedup.compactStore(spark, stores.semStore, upTo)
      if (stores.vecStore.nonEmpty)
        IvfPqIndex.compact(spark, stores.vecStore, upTo)
      if (stores.bm25Store.nonEmpty)
        Retrieval.compactIndex(spark, stores.bm25Store, upTo)
    }
    landed.count()
  }

  /** `rows` as the `batch=<batchId>` partition of `store`, in one commit. */
  private def landBatch(spark: SparkSession, store: String, batchId: Long, rows: DataFrame): Unit =
    BatchStore.land(spark, store, Seq(s"batch=$batchId"))(st =>
      rows.write.parquet(st.at(s"batch=$batchId").toString))

  /** The shared DEFERRED-INIT lifecycle of the two vector-backed stages
    * ([[maintainVectorIndex]], [[maintainSemStore]]).
    *
    * Shape: a store whose seed geometry cannot come from a toy sample
    * (PQ codebooks, SemDeDup centroids) STAGES each batch's rows as an
    * idempotent `staged/batch=` partition of the store until the staged
    * batches and this one hold `minRows`. That batch builds instead of
    * staging: `build` gets the staged batches plus this one in arrival
    * order and returns its uncommitted [[BatchStore.Swap]], and the
    * marker (the build batch id) and the drop of the staged tree land in
    * that same manifest — the marker is the ONLY signal a complete store
    * exists, so a crash before it lands leaves the staged state, and the
    * stream's replay of the batch re-runs the deterministic build onto
    * it. Replayed pre-init batches (batchId <= marker) are already inside
    * the built store and are skipped; later batches go to `append`, which
    * replaces its own `batch=` partition on replay.
    */
  private[graft] def stagedInit(
      spark: SparkSession, rows: DataFrame, store: String, marker: String,
      batchId: Long, minRows: Int,
      build: Seq[(Long, DataFrame)] => BatchStore.Swap,
      append: DataFrame => Unit): Unit = {
    val (fs, root) = BatchStore.fsPath(spark, store)
    BatchStore.heal(fs, root)
    val markerP = new org.apache.hadoop.fs.Path(root, marker)
    if (fs.exists(markerP)) {
      val in = fs.open(markerP)
      val built = try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
      if (batchId > built && !rows.isEmpty) append(rows)
    } else {
      val batches = BatchStore.listBatches(fs, root, "staged").filter(_._1 < batchId)
        .sortBy(_._1).map { case (b, p) => b -> spark.read.parquet(p.toString) } :+
        (batchId -> rows)
      if (batches.map(_._2.select(col("vec_id"), col("embedding")))
          .reduce(_ unionByName _).count() >= minRows) {
        val sw = build(batches)
        BatchStore.stageText(sw.stage, marker, batchId.toString)
        BatchStore.commit(sw.copy(replace = sw.replace :+ marker, drop = sw.drop :+ "staged"))
      } else BatchStore.land(spark, store, Seq(s"staged/batch=$batchId"))(st =>
        rows.write.parquet(st.at(s"staged/batch=$batchId").toString))
    }
  }

  /** Streaming ANN-index maintenance ([[stagedInit]] with
    * [[IvfPqIndex.stageBuild]]/append): a PQ codebook cannot be seeded
    * from a toy sample, so the index build is deferred, not degraded.
    * The build over the staged batches IS the base, landed in one commit
    * with its marker.
    */
  private[graft] def maintainVectorIndex(
      spark: SparkSession, landed: DataFrame, embeddings: DataFrame,
      vecStore: String, batchId: Long,
      minVecBuildRows: Int, vecKs: Int): Unit = {
    val vecs = embeddings.join(landed.select(col("doc_id").as("__vid")),
        col("vec_id") === col("__vid"))
      .select(col("vec_id"), col("embedding"))
    stagedInit(spark, vecs, vecStore, "_built_through", batchId, minVecBuildRows,
      build = batches => IvfPqIndex.stageBuild(
        batches.map(_._2.select(col("vec_id"), col("embedding"))).reduce(_ unionByName _),
        col("vec_id"), col("embedding"), vecStore, replicas = 2, ks = vecKs),
      append = b => IvfPqIndex.append(spark, b, col("vec_id"),
        col("embedding"), vecStore, batchId))
  }

  /** Streaming semantic-dedup store maintenance ([[stagedInit]] with
    * [[IncrementalSemDedup.init]] + a per-batch replay of the staged
    * batches in arrival order — suppression decisions are
    * order-dependent, so the history must re-run batch by batch, not as
    * one blob). The init and each replay commit on their own, and the
    * marker lands after them: a crash before it re-inits (dropping the
    * replayed rows) and replays again. Centroid geometry seeded from a
    * toy sample would fix a degenerate cell structure forever —
    * deferred, not degraded.
    */
  private[graft] def maintainSemStore(
      spark: SparkSession, landed: DataFrame, embeddings: DataFrame,
      semStore: String, batchId: Long,
      minSemInitRows: Int, semThreshold: Double): Unit = {
    val vecs = embeddings.join(landed.select(col("doc_id").as("__sid")),
        col("vec_id") === col("__sid"))
      .select(col("vec_id"), col("embedding"))
    def dedup(b: DataFrame, bid: Long): Unit = {
      IncrementalSemDedup.semDedupBatch(spark, b, col("vec_id"), col("embedding"),
        semStore, bid, semThreshold)
      ()
    }
    stagedInit(spark, vecs, semStore, "_init_through", batchId, minSemInitRows,
      build = batches => {
        IncrementalSemDedup.init(
          batches.map(_._2.select(col("vec_id"), col("embedding"))).reduce(_ unionByName _),
          col("vec_id"), col("embedding"), semStore)
        batches.foreach { case (bid, b) => dedup(b, bid) }
        BatchStore.Swap(BatchStore.stage(spark, semStore), Nil)
      },
      append = dedup(_, batchId))
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
    graft.streaming.StreamingIngest.landingStream(spark, landingDir, schema,
        checkpointDir, maxFilesPerTrigger, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        processBatch(spark, batch, stores, batchId, dict,
          vectors = vectors, minVecBuildRows = minVecBuildRows,
          vecKs = vecKs, media = media,
          minSemInitRows = minSemInitRows, semThreshold = semThreshold,
          compactEvery = compactEvery)
        ()
      }
    }
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
