package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Curation, Embeddings, IncrementalDedup, IncrementalImageDedup, IncrementalSegmentDedup, IncrementalSemDedup, Retrieval}
import Harness.{rmrf, timed}

/** What does each PERSISTENT incremental store buy over the naive
  * alternative — re-running the one-shot operator over the accumulated
  * corpus every time a crawl batch lands? One adapter per store
  * ([[StoreBench.Store]]: corpus, incremental step, one-shot run,
  * answer), two shared loops:
  *
  *  - '''frontier''' `[historyCsv] [arrival]`: the MARGINAL cost of one
  *    arrival at a deep history — the number that decides the
  *    architecture (totals over a short run are dominated by the cheap
  *    early prefixes). Seeds the store with `history` docs as batch 0,
  *    times the `arrival`-doc batch at batchId=1 twice (the second rep is
  *    an exact checkpoint replay — store reads exclude batch >= 1 — so
  *    both reps do identical work) against two one-shot runs over
  *    history+arrival, and requires the incremental answer to equal the
  *    one-shot answer. `frontier-incr` measures the arrival alone (for
  *    depths where the naive arm's stores exceed disk; no equality gate).
  *  - '''curve''' `[sizesCsv] [batches=5]`: B id-ordered slices fed to
  *    one store vs, for each prefix 0..b, a one-shot over the union
  *    (Σ prefix costs ~ quadratic in B); min of 2 repetitions per arm.
  *
  * Each corpus is staged through parquet first, so joins plan on
  * file-based stats like any real corpus (the `spark.range` generator
  * estimates 8 bytes/row, which once planned a corpus-sized broadcast).
  * Answers are compared as order-independent fingerprints — (rows, xor of
  * row hashes), [[graft.Bench.materialize]]'s fold — so a disjoint
  * union's fingerprint is the combination of its parts'.
  *
  * Store-only modes: `lsh frontier-chunked`, `segment probe`,
  * `bm25 serving` (see each adapter).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StoreBench <store> <mode> [args]"
  * with store lsh|segment|sem|image|bm25. Results are committed to
  * SURVEY.md §12 and §15.
  */
object StoreBench {

  /** Order-independent (rows, xor) fingerprint of a row set. */
  final case class Print(rows: Long, xor: Long) {
    def +(o: Print): Print = Print(rows + o.rows, xor ^ o.xor)
  }
  object Print { val Empty: Print = Print(0L, 0L) }

  /** Forces every output column of `df` once; its fingerprint. */
  def print(df: DataFrame): Print = {
    val (x, n) = graft.Bench.materialize(df)
    Print(n, x)
  }

  /** One store under measurement. Steps and one-shot runs return the
    * fingerprint of their (fully forced) output.
    */
  abstract class Store(val name: String, val id: String,
      val histories: Seq[Long], val arrival: Long) {
    def corpus(spark: SparkSession, n: Long): DataFrame
    /** Called before a store's first step, with the first batch. */
    def open(spark: SparkSession, first: DataFrame, path: String): Unit = ()
    /** Add `batch` to the store at `path` as `batchId`. */
    def arrive(spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Print
    /** One-shot run over `all`, with `path` as its scratch location. */
    def oneShot(spark: SparkSession, all: DataFrame, path: String): Print
    /** The incremental store's answer, given the combined step prints. */
    def answer(spark: SparkSession, path: String, steps: Print): Print
    /** A one-shot run's answer, given its output print. */
    def oneShotAnswer(spark: SparkSession, path: String, out: Print): Print =
      answer(spark, path, out)
    /** Seeds the store with `hist` as batch 0. */
    def seed(spark: SparkSession, hist: DataFrame, path: String): Print = {
      open(spark, hist, path)
      arrive(spark, hist, path, 0L)
    }
    /** Extra figure printed after the answer. */
    def note(spark: SparkSession, path: String): String = ""
    /** Store-only modes: (mode, args) => handled. */
    def extra(spark: SparkSession, base: String): PartialFunction[(String, Seq[String]), Unit] =
      PartialFunction.empty
  }

  /** Deterministic token: ~2^30 distinct values keyed on (salt, a, b). */
  private def tok(salt: String, a: Column, b: Column): Column =
    concat(lit("w"), pmod(xxhash64(lit(salt), a, b), lit(1073741824L)).cast("string"))

  private def longs(csv: String): Seq[Long] = csv.split(",").map(_.trim.toLong).toSeq

  /** Near-dup LSH signature store ([[IncrementalDedup.lshDedupBatch]]);
    * the naive arm runs the SAME operator (signatures, banding,
    * estimator, closure) on a throwaway store, so the delta is pure
    * architecture. Results: SURVEY §12.
    */
  object Lsh extends Store("lsh", "doc_id", Seq(1000000L, 2000000L, 4000000L, 8000000L), 100000L) {

    /** n docs, 40 tokens each; doc d with d%7==0 (d>0) copies doc d-1's
      * first 35 tokens and owns its last 5 — a planted adjacent near-dup
      * (shingle Jaccard 33/43 ≈ 0.767, above the 0.5 threshold; adjacent
      * only, so no bridge docs and incremental and one-shot survivor sets
      * must agree EXACTLY).
      */
    def corpus(spark: SparkSession, n: Long): DataFrame = {
      val src = when(col("id") % 7 === 0 && col("id") > 0, col("id") - 1)
        .otherwise(col("id"))
      spark.range(n)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            concat(
              transform(sequence(lit(0), lit(34)), j => tok("base", src, j)),
              transform(sequence(lit(35), lit(39)), j => tok("own", col("id"), j)))
          ).as("text"))
    }
    def arrive(spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Print =
      print(IncrementalDedup.lshDedupBatch(spark, batch, col("doc_id"), col("text"), path, batchId))
    def oneShot(spark: SparkSession, all: DataFrame, path: String): Print =
      arrive(spark, all, path, 0L)
    def answer(spark: SparkSession, path: String, steps: Print): Print =
      print(IncrementalDedup.survivors(spark, path).select(col("doc_id")))
    /** The frontier serves from the compacted layout (consolidated batch +
      * bucketed band index).
      */
    override def seed(spark: SparkSession, hist: DataFrame, path: String): Print = {
      val p = super.seed(spark, hist, path)
      IncrementalDedup.compactStore(spark, path, upToBatch = 0L)
      p
    }
    /** `frontier-chunked [history] [chunkDocs] [arrival]`: build a deep
      * store single-node as ceil(history/chunkDocs) id-ordered arrivals
      * ([[IncrementalDedup.seedLshChunked]] — no one-shot self-join ever
      * holds the full pair set, the r15 16M blocker), require its survivor
      * set to equal a 2-chunk composition of the same corpus, then time
      * one arrival at full depth.
      */
    override def extra(spark: SparkSession, base: String)
        : PartialFunction[(String, Seq[String]), Unit] = {
      case ("frontier-chunked", a) =>
        chunked(spark, base, a.headOption.map(_.toLong).getOrElse(16000000L),
          a.lift(1).map(_.toLong).getOrElse(2000000L),
          a.lift(2).map(_.toLong).getOrElse(arrival))
    }
    def chunked(spark: SparkSession, base: String, history: Long, chunkDocs: Long,
        arrival: Long): Unit = {
      val all = stage(spark, this, s"$base/corpus", history + arrival)
      val hist = all.filter(col("doc_id") < history)
      val chunks = ((history + chunkDocs - 1) / chunkDocs).toInt
      def seedChunks(path: String, n: Int): (Long, Double) = timed {
        IncrementalDedup.seedLshChunked(spark, hist, col("doc_id"), col("text"), path, n)
      }
      val storeA = s"$base/chunked"
      val (lastA, seedAT) = seedChunks(storeA, chunks)
      val a = answer(spark, storeA, Print.Empty)
      println(f"CHUNKED-SEED history=$history%9d chunks=$chunks%3d " +
        f"seed=$seedAT%8.1fs survivors=${a.rows}%9d")
      val storeB = s"$base/half"
      val (_, seedBT) = seedChunks(storeB, 2)
      val b = answer(spark, storeB, Print.Empty)
      require(a == b, s"chunked compositions diverged: $chunks-chunk $a vs 2-chunk $b")
      println(f"HALF-SEED    history=$history%9d chunks=  2 " +
        f"seed=$seedBT%8.1fs survivors=${b.rows}%9d (sets equal)")
      rmrf(spark, storeB)
      val incT = (0 until 2).map(_ => timed(
        arrive(spark, all.filter(col("doc_id") >= history), storeA, lastA + 1))._2).min
      println(f"ARRIVAL      history=$history%9d arrival=$arrival%8d " +
        f"incr=$incT%7.2fs survivors=${answer(spark, storeA, Print.Empty).rows}%9d")
    }
  }

  /** Exact segment store ([[IncrementalSegmentDedup]]) vs one-shot
    * [[Curation.segmentDedup]]. The answer is every doc's output row
    * (id, n_seg, n_kept, keep_frac, kept, kept_text): exact equality is
    * transitive, so the incremental per-doc outputs must equal the
    * one-shot rows for every doc. Results: SURVEY §12.
    */
  object Segment extends Store("segment", "doc_id", Seq(500000L, 2000000L), 100000L) {

    /** n docs, 40 tokens (4 segments of 10): tokens 0-9 are one of 20
      * shared BOILERPLATE segments (id % 20 — the crawl-header shape
      * segment dedup exists for, hot election keys), tokens 10-39 are
      * doc-owned; ~25 % of corpus volume is cross-doc duplicate mass.
      */
    def corpus(spark: SparkSession, n: Long): DataFrame =
      spark.range(n)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            concat(
              transform(sequence(lit(0), lit(9)), j => tok("boiler", col("id") % 20, j)),
              transform(sequence(lit(10), lit(39)), j => tok("own", col("id"), j)))
          ).as("text"))
    def arrive(spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Print = {
      val out = IncrementalSegmentDedup.segmentDedupBatch(
        spark, batch, col("doc_id"), col("text"), path, batchId)
      val p = print(out)
      Checkpoints.freeFrame(out)
      p
    }
    def oneShot(spark: SparkSession, all: DataFrame, path: String): Print =
      print(Curation.segmentDedup(all, col("doc_id"), col("text")))
    def answer(spark: SparkSession, path: String, steps: Print): Print = steps
    override def note(spark: SparkSession, path: String): String =
      s" kept_segs=${IncrementalSegmentDedup.storedSegments(spark, path).count()}"

    /** `probe [historyCsv] [arrival]` (the r16→r17 break-even
      * re-measure): seeds a store, then times the SAME arrival through
      * the probe-broadcast plan (`storeProbeBytesMin = 0`) and the
      * classic shuffled anti-join (`= Long.MaxValue`), min of 2 reps,
      * with per-path job counts and the store's at-rest bytes — the
      * gate's unit. The two paths' outputs must be equal.
      */
    override def extra(spark: SparkSession, base: String)
        : PartialFunction[(String, Seq[String]), Unit] = {
      case ("probe", a) =>
        a.headOption.map(longs).getOrElse(Seq(1000000L, 4000000L)).foreach(h =>
          probeVsClassic(spark, base, h, a.lift(1).map(_.toLong).getOrElse(arrival)))
    }
    def probeVsClassic(spark: SparkSession, base: String, history: Long,
        arrival: Long): Unit = {
      val all = stage(spark, this, s"$base/probe-corpus-$history", history + arrival)
      val path = s"$base/probe-$history"
      seed(spark, all.filter(col("doc_id") < history), path)
      val storeBytes = graft.operators.BatchStore.priorBytes(spark, path, 1L)
      val listener = Harness.StructListener.attach(spark)
      def run(gate: Long): (Set[org.apache.spark.sql.Row], Double, Long) = {
        val reps = (0 until 2).map { _ =>
          val ((rows, sec), c) = listener.measure(timed(
            IncrementalSegmentDedup.segmentDedupBatch(spark,
              all.filter(col("doc_id") >= history), col("doc_id"), col("text"),
              path, 1L, storeProbeBytesMin = gate)
              .select(col("id"), col("n_seg"), col("n_kept"), col("kept_text")).collect().toSet))
          (rows, sec, c.jobs)
        }
        (reps.last._1, reps.map(_._2).min, reps.last._3)
      }
      val ((probeOut, probeT, probeJobs), (classicOut, classicT, classicJobs)) =
        try (run(0L), run(Long.MaxValue)) finally listener.detach()
      require(probeOut == classicOut, s"probe/classic outputs diverged at history=$history")
      println(f"PROBE history=$history%9d arrival=$arrival%8d " +
        f"storeMB=${storeBytes / 1048576.0}%7.1f " +
        f"probe=$probeT%6.2fs/$probeJobs%3d jobs " +
        f"classic=$classicT%6.2fs/$classicJobs%3d jobs " +
        f"${classicT / probeT}%5.2fx")
    }
  }

  /** Semantic-dedup store ([[IncrementalSemDedup]]) vs one-shot
    * [[Embeddings.semDeDup]] at cosine threshold 0.9. Results: SURVEY §12.
    */
  object Sem extends Store("sem", "vec_id", Seq(200000L, 1000000L), 50000L) {
    private val Dim = 64
    private val Threshold = 0.9

    /** Components in [-1, 1] from xxhash64(salt, key, j). */
    private def vecOf(salt: String, key: Column): Column =
      transform(sequence(lit(0), lit(Dim - 1)), j =>
        ((pmod(xxhash64(lit(salt), key, j), lit(2000001L)) - lit(1000000L))
          .cast("double") / 1000000.0).cast("float"))

    /** n 64-dim vectors: ids below n/4 carry their CLUSTER's vector
      * (id % (n/40) — ~10 IDENTICAL members each), the rest their own
      * (random 64-dim cosines sit near 0). Identical clusters make the two
      * keep policies AGREE (all centroid cosines tie → min id wins under
      * both the incremental first-arrival rule and the one-shot
      * farthest-from-centroid rule), so survivor SETS must match exactly.
      */
    def corpus(spark: SparkSession, n: Long): DataFrame = {
      val clusters = math.max(1L, n / 40L)
      spark.range(n)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("vec_id"),
          when(col("id") < n / 4L, vecOf("cluster", col("id") % clusters))
            .otherwise(vecOf("own", col("id"))).as("emb"))
    }
    override def open(spark: SparkSession, first: DataFrame, path: String): Unit =
      IncrementalSemDedup.init(first, col("vec_id"), col("emb"), path)
    def arrive(spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Print =
      print(IncrementalSemDedup.semDedupBatch(
        spark, batch, col("vec_id"), col("emb"), path, batchId, Threshold))
    def oneShot(spark: SparkSession, all: DataFrame, path: String): Print =
      print(Embeddings.semDeDup(all, col("vec_id"), col("emb"), Threshold)
        .filter(col("keep")).select(col("vec_id")))
    def answer(spark: SparkSession, path: String, steps: Print): Print =
      print(IncrementalSemDedup.survivors(spark, path))
    override def oneShotAnswer(spark: SparkSession, path: String, out: Print): Print = out
  }

  /** Perceptual image store ([[IncrementalImageDedup]]) at `maxHamming =
    * 0` (exact perceptual dups: hash equality is transitive, so the keep
    * policies agree; the banding / store-join / CC machinery is the
    * near-dup radius's). Decode cost is common to both arms; the store's
    * point is never re-touching accepted payloads. Results: SURVEY §15.
    */
  object Image extends Store("image", "media_id", Seq(200000L, 1000000L), 50000L) {

    /** 54-byte BITMAPINFOHEADER BMP header for 9×8 24-bit bottom-up, file
      * size 0x116 — byte-identical to the test fixture generator's.
      */
    private val Header: Array[Byte] =
      ("424D16010000000000003600000028000000" +
        "0900000008000000" + "01001800" + "00000000" + "E0000000" +
        "130B0000130B0000" + "0000000000000000")
        .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    private def splitmix64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }

    /** 9×8 24-bit BMP whose gradient-sign pattern is the 64 bits of
      * `splitmix64(seed)` — decoded luma equals the pixel value at the 1:1
      * grid, so the image's dHash64 is exactly that bit pattern.
      */
    private def bmpOf(seed: Long): Array[Byte] = {
      val bits = splitmix64(seed)
      val out = new Array[Byte](Header.length + 8 * (9 * 3 + 1))
      System.arraycopy(Header, 0, out, 0, Header.length)
      var o = Header.length
      var ys = 0
      while (ys < 8) {
        val y = 7 - ys // bottom-up row order
        var v = 128
        var x = 0
        // column 0 then the 8 signed gradient steps
        while (x <= 8) {
          val b = v.toByte
          out(o) = b; out(o + 1) = b; out(o + 2) = b
          o += 3
          if (x < 8) v += (if (((bits >>> (y * 8 + x)) & 1L) == 1L) 2 else -2)
          x += 1
        }
        out(o) = 0 // row pad to 4-byte boundary (27 -> 28)
        o += 1
        ys += 1
      }
      out
    }

    /** n synthetic 9×8 BMPs (decoded by ImageIO and dHashed on an
      * executor — the real decode path): the first quarter of ids land in
      * clusters of ~10 IDENTICAL images (pattern seed = id % (n/40)), the
      * rest carry unique pseudo-random gradient patterns.
      */
    def corpus(spark: SparkSession, n: Long): DataFrame = {
      import spark.implicits._
      val quarter = n / 4
      val clusters = math.max(1L, n / 40)
      spark.range(n)
        .repartition(spark.sparkContext.defaultParallelism)
        .as[Long]
        .map(id => (id, bmpOf(if (id < quarter) id % clusters else id)))
        .toDF("media_id", "payload")
    }
    def arrive(spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Print =
      print(IncrementalImageDedup.dhashDedupBatch(spark, batch,
        col("media_id"), col("payload"), path, batchId, maxHamming = 0))
    def oneShot(spark: SparkSession, all: DataFrame, path: String): Print =
      arrive(spark, all, path, 0L)
    def answer(spark: SparkSession, path: String, steps: Print): Print =
      print(IncrementalImageDedup.survivors(spark, path))
  }

  /** Persistent BM25 index ([[Retrieval.appendIndex]] of each arrival —
    * one tokenize pass, additive stats) vs [[Retrieval.buildIndex]] full
    * re-index. The answer is the top-k of a fixed query set (one head +
    * two tail terms each — the realistic BM25 profile), which must be
    * identical (the RetrievalSpec bit-for-bit contract, at scale).
    * Results: SURVEY §15.
    */
  object Bm25 extends Store("bm25", "doc_id", Seq(500000L, 2000000L), 100000L) {
    private val Queries: Seq[Seq[String]] = Seq(
      Seq("h7", "w123", "w4567"),
      Seq("h42", "w999", "w17001"),
      Seq("h0", "w25000", "w31"))

    /** n docs, 60 tokens: position j ≡ 0 (mod 10) draws from a 100-term
      * HEAD vocabulary h0..h99 (heavy posting lists — the stopword
      * shape), the rest from a 30,000-term tail w0..w29999.
      */
    def corpus(spark: SparkSession, n: Long): DataFrame =
      spark.range(n)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            transform(sequence(lit(0), lit(59)), j =>
              when(j % 10 === 0,
                concat(lit("h"), pmod(xxhash64(col("id"), j), lit(100)).cast("string")))
              .otherwise(
                concat(lit("w"), pmod(xxhash64(col("id"), j), lit(30000)).cast("string"))))
          ).as("text"))
    override def open(spark: SparkSession, first: DataFrame, path: String): Unit =
      Retrieval.ensureIndexMeta(spark, path, buckets = 64)
    def arrive(spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Print = {
      Retrieval.appendIndex(batch, col("doc_id"), col("text"), path, batchId)
      Print.Empty
    }
    def oneShot(spark: SparkSession, all: DataFrame, path: String): Print = {
      Retrieval.buildIndex(all, col("doc_id"), col("text"), path)
      Print.Empty
    }
    /** (query, rank, doc_id, bm25) of every query's top-k. */
    def answers(spark: SparkSession, path: String): DataFrame =
      Queries.zipWithIndex.map { case (q, i) =>
        Retrieval.queryIndex(spark, path, q).withColumn("query", lit(i))
      }.reduce(_ unionByName _)
    def answer(spark: SparkSession, path: String, steps: Print): Print =
      print(answers(spark, path))

    /** `serving [n=500000] [batches=64]`: query latency decay as
      * append-many accumulates `batch=` partitions (per-batch listing +
      * one parquet footer per tiny file on every query), and what
      * [[Retrieval.compactIndex]] buys back, with data-file counts; the
      * answers must be identical across the compaction.
      */
    override def extra(spark: SparkSession, base: String)
        : PartialFunction[(String, Seq[String]), Unit] = {
      case ("serving", a) =>
        serving(spark, base, a.headOption.map(_.toLong).getOrElse(500000L),
          a.lift(1).map(_.toInt).getOrElse(64))
    }
    def serving(spark: SparkSession, base: String, n: Long, batches: Int): Unit = {
      val docs = stage(spark, this, s"$base/serving-corpus", n)
      val path = s"$base/serving-$n"
      open(spark, docs, path)
      slices(docs, id, n, batches).zipWithIndex.foreach { case (s, b) =>
        arrive(spark, s, path, b.toLong)
      }
      val before = answer(spark, path, Print.Empty) // pays codegen/listing warm-up once
      val filesBefore = Harness.fileCount(spark, path)
      val qBefore = (0 until 3).map(_ => timed(answer(spark, path, Print.Empty))._2).min
      // compact only committed batches — all of them are (the loop returned)
      Retrieval.compactIndex(spark, path, upToBatch = batches - 1L)
      val filesAfter = Harness.fileCount(spark, path)
      require(before == answer(spark, path, Print.Empty), "compaction changed query answers")
      val qAfter = (0 until 3).map(_ => timed(answer(spark, path, Print.Empty))._2).min
      println(f"SERVING n=$n%9d batches=$batches%4d " +
        f"files $filesBefore%5d -> $filesAfter%4d " +
        f"query ${qBefore * 1000}%7.0fms -> ${qAfter * 1000}%6.0fms " +
        f"(${qBefore / qAfter}%4.2fx)")
    }
  }

  val Stores: Seq[Store] = Seq(Lsh, Segment, Sem, Image, Bm25)

  /** `store.corpus(n)` written to `path` and read back. */
  def stage(spark: SparkSession, store: Store, path: String, n: Long): DataFrame = {
    store.corpus(spark, n).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def slices(docs: DataFrame, id: String, n: Long, batches: Int): Seq[DataFrame] = {
    val per = (n + batches - 1) / batches
    (0 until batches).map(b => docs.filter(col(id) >= b * per && col(id) < (b + 1) * per))
  }

  /** Prints one FRONTIER line; returns the incremental answer at
    * `history` + one `arrival` and the one-shot answer (None when
    * `incrOnly`).
    */
  def frontier(spark: SparkSession, store: Store, base: String, history: Long,
      arrival: Long, incrOnly: Boolean = false): (Print, Option[Print]) = {
    val all = stage(spark, store, s"$base/frontier-corpus-$history", history + arrival)
    val path = s"$base/frontier-$history"
    val (seedP, seedT) = timed(store.seed(spark, all.filter(col(store.id) < history), path))
    val arrivals = (0 until 2).map(_ =>
      timed(store.arrive(spark, all.filter(col(store.id) >= history), path, 1L)))
    val incT = arrivals.map(_._2).min
    val inc = store.answer(spark, path, seedP + arrivals.head._1)
    val line = f"FRONTIER ${store.name}%-7s history=$history%9d arrival=$arrival%8d " +
      f"seed=$seedT%7.2fs incr=$incT%7.2fs "
    val one = if (incrOnly) {
      println(line + f"naive=   SKIPPED        answer=${inc.rows}%9d" + store.note(spark, path))
      None
    } else {
      val naive = (0 until 2).map { rep =>
        val p = s"$base/frontier-naive-$history-$rep"
        val (out, t) = timed(store.oneShot(spark, all, p))
        (store.oneShotAnswer(spark, p, out), t)
      }
      val naiveT = naive.map(_._2).min
      require(naive.forall(_._1 == inc),
        s"${store.name}: incremental answer $inc != one-shot ${naive.map(_._1)}")
      println(line + f"naive=$naiveT%7.2fs ${naiveT / incT}%5.2fx answer=${inc.rows}%9d" +
        store.note(spark, path))
      Some(naive.head._1)
    }
    rmrf(spark, base)
    (inc, one)
  }

  /** Prints one CURVE line for `batches` slices of an `n`-doc corpus;
    * returns the incremental and the one-shot answer.
    */
  def curve(spark: SparkSession, store: Store, base: String, n: Long,
      batches: Int): (Print, Print) = {
    val docs = stage(spark, store, s"$base/curve-corpus-$n", n)
    val parts = slices(docs, store.id, n, batches)
    val inc = (0 until 2).map { rep =>
      val path = s"$base/incr-$n-$rep"
      val (steps, t) = timed {
        store.open(spark, parts.head, path)
        parts.zipWithIndex.map { case (s, b) => store.arrive(spark, s, path, b.toLong) }
      }
      (store.answer(spark, path, steps.reduce(_ + _)), t)
    }
    val naive = (0 until 2).map { rep =>
      val ((out, path), t) = timed {
        (0 until batches).map { b =>
          val path = s"$base/naive-$n-$rep-$b"
          (store.oneShot(spark, parts.take(b + 1).reduce(_ unionByName _), path), path)
        }.last
      }
      (store.oneShotAnswer(spark, path, out), t)
    }
    val incT = inc.map(_._2).min
    val naiveT = naive.map(_._2).min
    val ans = inc.head._1
    require((inc ++ naive).forall(_._1 == ans),
      s"${store.name}: incremental answers ${inc.map(_._1)} != one-shot ${naive.map(_._1)}")
    println(f"CURVE ${store.name}%-7s n=$n%9d batches=$batches%3d incr=$incT%8.2fs " +
      f"naive=$naiveT%8.2fs ${naiveT / incT}%7.2fx answer=${ans.rows}%9d" +
      store.note(spark, s"$base/incr-$n-0"))
    rmrf(spark, base)
    (ans, naive.head._1)
  }

  def run(spark: SparkSession, store: Store, mode: String, args: Seq[String]): Unit = {
    val base = s"target/tmp/storebench-${store.name}-${System.nanoTime()}"
    // warm-up: one throwaway step pays whole-stage codegen, so the first
    // measured row is not charged for janino
    val w = s"$base/warmup"
    val warm = store.corpus(spark, 2000L)
    store.open(spark, warm, w)
    store.arrive(spark, warm, w, 0L)
    rmrf(spark, w)
    (mode, args) match {
      case ("frontier" | "frontier-incr", a) =>
        a.headOption.map(longs).getOrElse(store.histories).foreach(h =>
          frontier(spark, store, base, h, a.lift(1).map(_.toLong).getOrElse(store.arrival),
            incrOnly = mode == "frontier-incr"))
      case ("curve", a) =>
        a.headOption.map(longs).getOrElse(Seq(50000L, 200000L)).foreach(n =>
          curve(spark, store, base, n, a.lift(1).map(_.toInt).getOrElse(5)))
      case other => store.extra(spark, base).applyOrElse(other,
        (m: (String, Seq[String])) => sys.error(s"unknown mode '${m._1}' for store ${store.name}"))
    }
    rmrf(spark, base)
  }

  def main(args: Array[String]): Unit = {
    val usage = s"usage: StoreBench ${Stores.map(_.name).mkString("|")} " +
      "frontier|frontier-incr|curve|<store mode> [args]"
    require(args.length >= 2, usage)
    val store = Stores.find(_.name == args(0)).getOrElse(sys.error(usage))
    Harness.withSession(Harness.LocalStoreListing) { spark =>
      run(spark, store, args(1), args.toSeq.drop(2))
    }
  }
}
