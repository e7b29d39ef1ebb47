package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.LocationDictSource

/** The streaming-capstone SCALE LADDER: [[StreamingCapstone]]'s 97.6
  * docs/s was one point (sf0.1 = 5 k docs, 24 batches); this drives
  * 100 k+ synthetic docs through the same per-batch pipeline and records
  * the two curves the "in-stream compaction bounds small-files decay"
  * claim needs: docs/s per batch-window and store file counts over
  * time, with `compactEvery` ACTIVE versus OFF on the same corpus.
  *
  * Corpus: [[StoreBench.Lsh.corpus]] (40-token hash-derived docs,
  * every 7th a planted adjacent near-dup) with a constant lang column —
  * the dedup stores do real suppression work. Store sets:
  *  - mode `text` (default): curated sink, LSH signature store, segment
  *    store, BM25 index — the stores whose per-batch READ cost decays
  *    with file count;
  *  - mode `full`: text stores PLUS the media/vector stores — the
  *    perceptual dHash store ([[StoreBench.Image.corpus]]'s synthetic
  *    BMPs, first quarter planted dup clusters), the SemDeDup store and
  *    the IVF-PQ index ([[StoreBench.Sem.corpus]]'s 64-dim embeddings,
  *    same planted-cluster shape) — so the decay-bounded claim gets a
  *    measured curve on the media/vector side too, not just text.
  *
  * Output: one line per sample window — batch id, docs so far,
  * windowed docs/s, and per-store file counts — then a summary line per
  * configuration. Results → SURVEY §16/§18.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.CapstoneScaleBench"
  * (optional args: nDocs, batches, compactEverys csv, sampleEvery,
  * mode text|full).
  */
object CapstoneScaleBench {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(100000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(50)
    val compactEverys = args.lift(2).getOrElse("8,0")
      .split(",").map(_.trim.toInt).toSeq
    val sampleEvery = args.lift(3).map(_.toInt).getOrElse(5)
    val mode = args.lift(4).getOrElse("text")
    require(mode == "text" || mode == "full", s"mode must be text|full, got $mode")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Harness.withSession(Harness.LocalStoreListing)(
      run(_, sfDir, nDocs, nBatches, compactEverys, sampleEvery, mode))
  }

  def run(spark: SparkSession, sfDir: String, nDocs: Long, nBatches: Int,
      compactEverys: Seq[Int], sampleEvery: Int, mode: String): Unit = {
    val work = java.nio.file.Files.createTempDirectory("capladder").toString

    // stage the synthetic corpus as JSONL slices once; each slice is one
    // micro-batch (maxFilesPerTrigger = 1)
    val landing = s"$work/landing"
    StoreBench.Lsh.corpus(spark, nDocs)
      .withColumn("lang", lit("en"))
      .repartition(nBatches)
      .write.mode("overwrite").json(landing)
    val dict = LocationDictSource.fromFileOrDefault(s"$sfDir/locations.json")
    // full mode: deterministic synthetic embeddings and BMP payloads for
    // every doc id, materialized ONCE (the stream joins each landed
    // batch against them — the capstone's vectors/media contract)
    val (vectors, media) =
      if (mode == "full") (
        Some(StoreBench.Sem.corpus(spark, nDocs)
          .select(col("vec_id"), col("emb").as("embedding")).cache()),
        Some(StoreBench.Image.corpus(spark, nDocs).cache()))
      else (None, None)

    compactEverys.foreach { compactEvery =>
      val root = s"$work/ce_$compactEvery"
      val base = StreamingCapstone.Stores(
        s"$root/curated", s"$root/lsh_store", s"$root/seg_store",
        s"$root/seg_out", bm25Store = s"$root/bm25_index")
      val stores =
        if (mode == "full") base.copy(vecStore = s"$root/ivfpq",
          imgStore = s"$root/img_store", semStore = s"$root/sem_store")
        else base
      val watched = Seq(
        "lsh" -> stores.lshStore, "lsh_bands" -> (stores.lshStore + "/_bands"),
        "seg" -> stores.segStore,
        "bm25" -> stores.bm25Store, "curated" -> stores.curatedDir) ++
        (if (mode == "full") Seq(
          "ivfpq" -> stores.vecStore, "img" -> stores.imgStore,
          "sem" -> stores.semStore)
         else Seq.empty)
      val samples = scala.collection.mutable.ListBuffer.empty[String]
      var windowDocs = 0L
      var windowStart = System.nanoTime()
      val t0 = System.nanoTime()
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string").add("lang", "string")
      val q = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            windowDocs += StreamingCapstone.processBatch(
              spark, batch, stores, batchId, dict, compactEvery = compactEvery,
              vectors = vectors, media = media)
            if (batchId % sampleEvery == sampleEvery - 1) {
              val secs = (System.nanoTime() - windowStart) / 1e9
              val counts = watched
                .map { case (k, p) => s""""$k":${Harness.fileCount(spark, p)}""" }
                .mkString(",")
              samples += s"""{"compact_every":$compactEvery,"batch":$batchId,""" +
                s""""window_docs_per_sec":${math.round(windowDocs / secs)},$counts}"""
              windowDocs = 0L
              windowStart = System.nanoTime()
            }
          }
        }
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      samples.foreach(println)
      val finalCounts = watched
        .map { case (k, p) => s""""$k":${Harness.fileCount(spark, p)}""" }.mkString(",")
      println(f"""{"mode":"$mode","compact_every":$compactEvery,"docs":$nDocs,"batches":$nBatches,"wall_s":$wallS%.1f,"docs_per_sec":${nDocs / wallS}%.1f,"final_files":{$finalCounts}}""")
    }
  }
}
