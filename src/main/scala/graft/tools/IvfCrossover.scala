package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench.materialize
import graft.operators.Embeddings

/** One-off measurement main: WHERE does [[Embeddings.ivfTopK]] beat
  * [[Embeddings.knnBruteForce]]?
  *
  * The bench gate's `embeddings` table (2k near-random vectors, probes =
  * corpus) is the index's worst case twice over: fixed costs (count,
  * Lloyd pass, nlist-wide assignment) are unamortized at n=2k, and
  * near-random vectors have no cluster structure for cells to exploit.
  * Real embedding corpora are CLUSTERED (topics, near-duplicates, modes),
  * and the production query shape is a bounded probe batch against a
  * large corpus. This tool measures that regime: a seeded clustered
  * corpus (n/50 tight gaussian-ish clusters in 64-d, built from pure
  * hash-derived expressions — deterministic, no driver-side data), a
  * fixed probe batch, exact-vs-IVF wall time (min of `reps` post-warm
  * runs each) and recall@k of IVF against the exact graph.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.IvfCrossover"
  * (optional args: corpusSizes csv, probes, k). Results are committed to
  * SURVEY.md §10's crossover table.
  */
object IvfCrossover {

  /** Deterministic pseudo-uniform double in [-0.5, 0.5) from any columns —
    * pure codegen, partition-independent (unlike seeded rand()).
    */
  private def hashUnit(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(1000003L)).cast("double") / 1000003.0 - 0.5

  /** n vectors in `dim`-space around n/clusterSize hash-derived centers:
    * center spread ±2.0 per coordinate, intra-cluster noise ±0.1 — tight
    * clusters, the regime real embedding corpora live in.
    */
  def clusteredCorpus(spark: SparkSession, n: Long, dim: Int,
      clusterSize: Int = 50): DataFrame = {
    val c = math.max(1L, n / clusterSize)
    spark.range(n)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (hashUnit(lit("center"), pmod(col("id"), lit(c)), j) * 4.0 +
            hashUnit(lit("noise"), col("id"), j) * 0.2).cast("float"))
          .as("embedding"))
  }

  private def timed(reps: Int)(build: => DataFrame): Double =
    (0 until reps).map(_ => Harness.timed(materialize(build))._2).min

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(5000L, 20000L, 50000L, 100000L))
    val nProbes = args.lift(1).map(_.toInt).getOrElse(1000)
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    Harness.withSession()(run(_, sizes, nProbes, k))
  }

  def run(spark: SparkSession, sizes: Seq[Long], nProbes: Int, k: Int): Unit = {
    import spark.implicits._

    println(f"| n | probes | nlist | exact s | ivf s | probe-only s | pq-probe s | speedup | recall@$k | pq recall@$k | pq containment |")
    println("|---|---|---|---|---|---|---|---|---|---|---|")
    sizes.foreach { n =>
      // materialized once per size so generation cost stays out of BOTH
      // timings; localCheckpoint puts the corpus where a parquet scan
      // would have it (executor blocks)
      val corpus = clusteredCorpus(spark, n, 64).localCheckpoint()
      val probes = corpus.filter($"vec_id" % lit(math.max(1L, n / nProbes)) === 0)
        .limit(nProbes).localCheckpoint()
      def exact = Embeddings.knnBruteForce(
        corpus, $"vec_id", $"embedding", probes, $"vec_id", $"embedding", k)
      def ivf = Embeddings.ivfTopK(
        corpus, $"vec_id", $"embedding", probes, $"vec_id", $"embedding",
        k, nprobe = 12, replicas = 2)
      // persistent-index probe-only path: build is paid ONCE (outside the
      // timer), then probes hit the stored, cell-partitioned index — the
      // serving-loop regime IvfIndex exists for
      val idxPath = java.nio.file.Files.createTempDirectory(s"ivfx$n").toString
      graft.operators.IvfIndex.build(
        corpus, $"vec_id", $"embedding", idxPath, replicas = 2)
      def probeOnly = graft.operators.IvfIndex.probe(
        spark, idxPath, probes, $"vec_id", $"embedding", k, nprobe = 12)
      // IVF-PQ: same coarse geometry, residual-quantized cells — the
      // memory-bound serving path (build also paid outside the timer)
      val pqPath = java.nio.file.Files.createTempDirectory(s"ivfpqx$n").toString
      graft.operators.IvfPqIndex.build(
        corpus, $"vec_id", $"embedding", pqPath, replicas = 2)
      def probePq = graft.operators.IvfPqIndex.probe(
        spark, pqPath, probes, $"vec_id", $"embedding", k, nprobe = 12)
      // warm each path once (codegen/janino), then min-of-2 steady runs
      materialize(exact); materialize(ivf); materialize(probeOnly); materialize(probePq)
      val tExact = timed(2)(exact)
      val tIvf = timed(2)(ivf)
      val tProbe = timed(2)(probeOnly)
      val tPq = timed(2)(probePq)
      val truth = exact.select($"probe_id", $"neighbor_id")
      def recallOf(res: DataFrame): Double = {
        val hits = truth.join(res.select($"probe_id", $"neighbor_id"),
          Seq("probe_id", "neighbor_id")).count()
        hits.toDouble / truth.count()
      }
      val rIvf = recallOf(ivf)
      val rPq = recallOf(probePq)
      // rank-recall penalizes PQ for reordering NEAR-TIES: inside a tight
      // 50-member cluster the exact top-5 are cosine-identical to ~1e-3,
      // and 32-bit residual codes cannot (and need not) rank them. The
      // honest serving metric is cluster containment: did every reported
      // neighbor come from the probe's true cluster?
      val c = math.max(1L, n / 50)
      val contPq = {
        val res = probePq.select($"probe_id", $"neighbor_id")
        val bad = res.filter(pmod($"probe_id", lit(c)) =!= pmod($"neighbor_id", lit(c))).count()
        1.0 - bad.toDouble / res.count()
      }
      val nlist = Embeddings.deriveNlist(n)
      println(f"| $n | $nProbes | $nlist | $tExact%.2f | $tIvf%.2f | $tProbe%.2f | $tPq%.2f | " +
        f"${tExact / tIvf}%.2fx | $rIvf%.3f | $rPq%.3f | $contPq%.3f |")
    }
  }
}
