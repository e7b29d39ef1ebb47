package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Checkpoints, Curation, Dedup}

/** At-scale measurement of the COMPOSED curation pipeline — the
  * q_curation_e2e stage chain (NFC → PII redact → exact dedup →
  * near-dup cluster suppression → benchmark decontamination → quality
  * keep rule) driven over 1–5 M synthetic docs instead of the 5 k-row
  * bench table, reporting docs/s and the shuffle read/write bytes of
  * EVERY stage. The per-operator crossover tables (SURVEY §12) say each
  * stage scales; this is the single number for the chain a corpus user
  * actually runs (VERDICT r9 #6).
  *
  * Corpus: the [[StoreBench.Lsh.corpus]] generator (40-token
  * hash-derived docs, every 7th a planted adjacent near-dup at Jaccard
  * ≈ 0.767) with a deterministic `lang` column — so the dedup stages do
  * real suppression work (~1/7 of the corpus is duplicate mass) and the
  * decontamination stage sees real contaminated docs (bench slice =
  * doc_id % 23 shares 35-token prefixes with neighbors).
  *
  * Same constants as q_curation_e2e: threshold 0.5, df-quantile cap
  * 0.999, bench mod 23, n-gram 5, quality ≥ 20 tokens. Stage boundaries
  * are materialized (the query's own discipline for the dedup frame,
  * extended to each measured seam), so per-stage wall + shuffle deltas
  * attribute honestly; docs/s is end-to-end wall including the
  * materializations.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.CurationScaleBench"
  * (optional arg: docCounts csv, default "1000000"). Results are
  * committed to SURVEY §15.
  */
object CurationScaleBench {

  private def mb(b: Long): String = f"${b / 1048576.0}%9.1f"

  def main(args: Array[String]): Unit =
    Harness.withSession()(run(_, args.headOption.map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1000000L))))

  def run(spark: SparkSession, sizes: Seq[Long]): Unit = {
    val meter = Harness.StructListener.attach(spark)
    sizes.foreach { n =>
      val docs = StoreBench.Lsh.corpus(spark, n)
        .select(col("doc_id"),
          element_at(typedLit(Seq("id", "en", "ms")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("lang"),
          col("text"))
      docs.cache().count()

      var stages = Vector.empty[(String, Double, Long, Long, Long)]
      def stage(name: String)(body: => DataFrame): DataFrame = {
        val (((frame, secs), rows), c) = meter.measure {
          val t = Harness.timed(Checkpoints.materializeFrame(body))
          (t, t._1.count())
        }
        stages :+= ((name, secs, rows, c.shuffleWrite, c.shuffleRead))
        frame
      }

      val t0 = System.nanoTime()
      // stage 1 — normalize + split bench slice + exact dedup on the
      // Python-strip key (one exchange, map-side combine)
      val normed = docs.select(col("doc_id"), col("lang"),
        TextFunctions.redactPii(TextFunctions.nfcNormalize(col("text"))).as("r"))
      val bench = normed.filter(col("doc_id") % 23 === 0)
      val corpus = normed.filter(col("doc_id") % 23 =!= 0)
      val deduped = stage("exact_dedup") {
        Dedup.exact(corpus, lower(TextFunctions.pyStrip(col("r"))),
          col("doc_id"), payload = Seq("doc_id", "lang", "r"))
      }
      // stage 2 — near-dup pairs (df-quantile-capped inverted shingle
      // index) + connected components + cluster suppression
      val afterDup = stage("near_dup_cc") {
        val pairs = Dedup.nearDuplicatePairsExact(deduped, col("doc_id"),
          col("r"), threshold = 0.5, maxShingleDfQuantile = Some(0.999))
        val dupDrop = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
          .filter(col("node") =!= col("cluster_rep"))
          .select(col("node").as("doc_id"))
        deduped.join(dupDrop, Seq("doc_id"), "left_anti")
      }
      // stage 3 — benchmark decontamination (broadcast bench shingles)
      val decon = stage("decontaminate") {
        val contaminatedIds = Curation.contaminationMarks(
            afterDup, col("doc_id"), col("r"), bench, col("r"), n = 5)
          .filter(col("contaminated"))
          .select(col("id").as("doc_id"))
        afterDup.join(contaminatedIds, Seq("doc_id"), "left_anti")
      }
      // stage 4 — quality keep rule (pure filter projection)
      val out = stage("quality_gate") {
        val nt = TextFunctions.tokenCount(col("r")).cast("long")
        decon.select(col("doc_id"), col("lang"), nt.as("n_tokens"),
            TextFunctions.punctCount(col("r")).cast("long").as("__np"))
          .filter(col("n_tokens") >= 20 && col("__np") <= col("n_tokens"))
          .select(col("doc_id"), col("lang"), col("n_tokens"))
      }
      val survivors = out.count()
      val wallS = (System.nanoTime() - t0) / 1e9

      println(f"n=$n%9d survivors=$survivors%9d wall=$wallS%7.1fs " +
        f"docs_per_sec=${n / wallS}%9.0f")
      println(f"${"stage"}%-14s ${"secs"}%7s ${"rows"}%9s " +
        f"${"shufW MB"}%9s ${"shufR MB"}%9s")
      stages.foreach { case (name, secs, rows, w, r) =>
        println(f"$name%-14s $secs%7.1f $rows%9d ${mb(w)} ${mb(r)}")
      }
      Seq(deduped, afterDup, decon, out).foreach(Checkpoints.freeFrame)
      docs.unpersist()
      ()
    }
    meter.detach()
  }
}
