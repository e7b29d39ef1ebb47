package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

object RetrievalSpec extends Serializable {

  /** Real-.onnx cross-encoder scorer (top-level so the closure ships
    * without an outer test-class reference): score = Gemm over
    * (query-overlap fraction, log1p doc length) features.
    */
  final case class OnnxRerankScorer(modelPath: String)
      extends Retrieval.RerankScorer {
    @transient private lazy val model = graft.ml.MiniOnnx.load(modelPath)
    override def scoreBatch(query: String, texts: Seq[String]): Seq[Double] = {
      val q = query.toLowerCase.split("\\s+").toSet
      val feats = texts.map { t =>
        val toks = Option(t).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
        val overlap = if (toks.isEmpty) 0f else toks.count(q).toFloat / toks.length
        Array(overlap, math.log1p(toks.length.toDouble).toFloat)
      }
      val x = graft.ml.MiniOnnx.Tensor(Seq(feats.size, 2), feats.flatten.toArray)
      graft.ml.MiniOnnx.run(model, Map("X" -> x))("score")
        .data.map(_.toDouble).toSeq
    }
  }
}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("BM25 ranks the term-dense document first and respects idf") {
    // "rare" appears in one doc, "common" in all four: the rare-term doc
    // must outrank every common-term-only doc for the query (rare, common)
    val docs = Seq(
      (1L, "rare common alpha beta gamma"),
      (2L, "common alpha beta gamma delta"),
      (3L, "common alpha beta gamma delta"),
      (4L, "common common alpha beta gamma")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, $"doc_id", $"text",
      Seq("rare", "common"), k = 4)
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.head._2 == 1L, s"rare-term doc not ranked first: $got")
    // doc 4 (tf=2 for common) outranks docs 2/3 (tf=1, same length)
    assert(got(1)._2 == 4L, s"tf ordering violated: $got")
    assert(got.map(_._1) == Seq(1, 2, 3, 4)) // rk dense ascending
  }

  test("BM25 length normalization: same tf, longer document scores lower") {
    val docs = Seq(
      (1L, "hit one two"),
      (2L, "hit one two three four five six seven eight nine")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, $"doc_id", $"text", Seq("hit"), k = 2)
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 2L), s"length norm violated: $got")
    assert(got(0)._3 > got(1)._3)
  }

  test("BM25 candidate set excludes documents without query terms") {
    val docs = Seq(
      (1L, "vector data"), (2L, "nothing relevant here")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, $"doc_id", $"text", Seq("vector"), k = 10)
      .select($"doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("RRF fuses arms by hand-computed reciprocal ranks") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rk")
    val vec = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rk")
    val got = Retrieval.reciprocalRankFusion(Seq(lex, vec), rrfK = 60, k = 10)
      .as[(Int, Long, Double)].collect().toSeq
    // doc 20: 1/62 + 1/61 = .032524; doc 10: 1/61 = .016393;
    // doc 40: 1/62 = .016129; doc 30: 1/63 = .015873
    assert(got.map(_._2) == Seq(20L, 10L, 40L, 30L), s"fusion order wrong: $got")
    val expected = Seq(
      math.round((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6,
      math.round(1.0 / 61 * 1e6) / 1e6,
      math.round(1.0 / 62 * 1e6) / 1e6,
      math.round(1.0 / 63 * 1e6) / 1e6)
    assert(got.map(_._3) == expected, s"fusion scores wrong: $got")
  }

  test("indexed BM25 equals the ad-hoc path bit-for-bit") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("vector", "merge", "window")
    val adhoc = Retrieval.bm25TopK(docs, $"doc_id", $"text", terms, k = 20)
      .orderBy($"rk").collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("bm25spec").toString
    Retrieval.buildIndex(docs, $"doc_id", $"text", path, buckets = 16)
    val indexed = Retrieval.queryIndex(spark, path, terms, k = 20)
      .orderBy($"rk").collect().toSeq
    assert(indexed == adhoc)
  }

  test("incremental append equals a full rebuild bit-for-bit, replay-idempotent") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("vector", "merge", "window")
    // reference: one-shot build over everything
    val full = java.nio.file.Files.createTempDirectory("bm25full").toString
    Retrieval.buildIndex(docs, $"doc_id", $"text", full, buckets = 16)
    val want = Retrieval.queryIndex(spark, full, terms, k = 20)
      .orderBy($"rk").collect().toSeq
    // incremental: build on a third, append the rest in two batches —
    // df / N / total-dl merge across batches must reproduce the same
    // statistics exactly (integer sums), so scores are bit-identical
    val inc = java.nio.file.Files.createTempDirectory("bm25inc").toString
    Retrieval.buildIndex(
      docs.filter($"doc_id" % 3 === 0), $"doc_id", $"text", inc, buckets = 16)
    Retrieval.appendIndex(
      docs.filter($"doc_id" % 3 === 1), $"doc_id", $"text", inc, batchId = 1L)
    Retrieval.appendIndex(
      docs.filter($"doc_id" % 3 === 2), $"doc_id", $"text", inc, batchId = 2L)
    val got = Retrieval.queryIndex(spark, inc, terms, k = 20)
      .orderBy($"rk").collect().toSeq
    assert(got == want)
    // replaying an append overwrites its own partitions, changing nothing
    Retrieval.appendIndex(
      docs.filter($"doc_id" % 3 === 2), $"doc_id", $"text", inc, batchId = 2L)
    val replayed = Retrieval.queryIndex(spark, inc, terms, k = 20)
      .orderBy($"rk").collect().toSeq
    assert(replayed == want)
  }

  test("rerank: batched second stage is split-independent and ranks by score") {
    import graft.operators.Retrieval.RerankScorer
    // deterministic arithmetic scorer: query-term overlap fraction
    object OverlapScorer extends RerankScorer {
      override def scoreBatch(query: String, texts: Seq[String]): Seq[Double] = {
        val q = query.toLowerCase.split("\\s+").toSet
        texts.map { t =>
          val toks = Option(t).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
          if (toks.isEmpty) 0.0 else toks.count(q).toDouble / toks.length
        }
      }
    }
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val cands = Retrieval.bm25TopK(
        docs, $"doc_id", $"text", Seq("vector", "merge", "window"), k = 30)
      .join(docs.select($"doc_id", $"text"), Seq("doc_id"))
    def run(parts: Int, batch: Int) = Retrieval.rerank(
        cands.repartition(parts), $"doc_id", $"text", "vector merge window",
        OverlapScorer, batchSize = batch, k = 10)
      .orderBy($"rk").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = run(3, 7)
    assert(got == run(1, 100), "rerank must not depend on the partition/batch split")
    assert(got.size == 10)
    // ranked by (score desc, doc_id): verify against a driver-side rescore
    val texts = cands.select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = texts
      .map { case (id, t) =>
        (id, math.round(OverlapScorer.scoreBatch("vector merge window", Seq(t)).head * 1e6) / 1e6)
      }
      .sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), i) => (i + 1, id, s) }
    assert(got == expected)
  }

  test("rerank drives a REAL MiniOnnx cross-encoder end-to-end") {
    import graft.operators.Retrieval.RerankScorer
    // tiny real .onnx: score = 2*overlap − 0.1*log-length, as a Gemm
    val m = new MiniOnnxSpec.Proto
    m.int(1, 8L)
    m.msg(7) { g =>
      g.msg(1)(MiniOnnxSpec.node("Gemm", Seq("X", "W", "bias"), Seq("score")))
      g.str(2, "mini-rerank")
      g.msg(5)(MiniOnnxSpec.tensorRaw("W", Seq(2, 1), Array(2f, -0.1f)))
      g.msg(5)(MiniOnnxSpec.tensorPackedFloats("bias", Seq(1), Array(0f)))
      g.msg(11)(_.str(1, "X"))
      g.msg(12)(_.str(1, "score"))
      ()
    }
    m.msg(8)(_.int(2, 13L))
    val path = java.nio.file.Files.createTempFile("rerank", ".onnx")
    java.nio.file.Files.write(path, m.toBytes)
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val cands = Retrieval.bm25TopK(
        docs, $"doc_id", $"text", Seq("vector", "merge"), k = 20)
      .join(docs.select($"doc_id", $"text"), Seq("doc_id"))
    val got = Retrieval.rerank(cands.repartition(4), $"doc_id", $"text",
        "vector merge", RetrievalSpec.OnnxRerankScorer(path.toString),
        batchSize = 6, k = 5)
      .orderBy($"rk").collect()
    assert(got.length == 5)
    // scores strictly ordered desc with id tie-break, and the model ran
    // (non-degenerate: at least one strictly positive score)
    val scores = got.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.exists(_ > 0.0))
  }

  test("compactIndex consolidates history without changing answers") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("vector", "merge", "window")
    val path = java.nio.file.Files.createTempDirectory("bm25cmp").toString
    Retrieval.buildIndex(
      docs.filter($"doc_id" % 3 === 0), $"doc_id", $"text", path, buckets = 16)
    Retrieval.appendIndex(
      docs.filter($"doc_id" % 3 === 1), $"doc_id", $"text", path, batchId = 1L)
    Retrieval.appendIndex(
      docs.filter($"doc_id" % 3 === 2), $"doc_id", $"text", path, batchId = 2L)
    val want = Retrieval.queryIndex(spark, path, terms, k = 20)
      .orderBy($"rk").collect().toSeq
    Retrieval.compactIndex(spark, path, upToBatch = 1L)
    def batchDirs(sub: String) = new java.io.File(s"$path/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    // batches 0 and 1 merged under batch=1; batch 2 preserved verbatim
    assert(batchDirs("postings") == Set("batch=1", "batch=2"))
    assert(batchDirs("stats") == Set("batch=1", "batch=2"))
    assert(Retrieval.queryIndex(spark, path, terms, k = 20)
      .orderBy($"rk").collect().toSeq == want)
    // appends keep working on the compacted store
    val path2 = java.nio.file.Files.createTempDirectory("bm25cmp2").toString
    Retrieval.buildIndex(docs, $"doc_id", $"text", path2, buckets = 16)
    val fullWant = Retrieval.queryIndex(spark, path2, terms, k = 20)
      .orderBy($"rk").collect().toSeq
    assert(want == fullWant)
  }

  test("a crashed compaction swap self-heals on the next read or append") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("vector", "merge")
    val path = java.nio.file.Files.createTempDirectory("bm25heal").toString
    Retrieval.buildIndex(docs, $"doc_id", $"text", path, buckets = 16)
    val want = Retrieval.queryIndex(spark, path, terms, k = 10)
      .orderBy($"rk").collect().toSeq
    // simulate the crash window: the manifest published, the live trees
    // deleted, the only copies stranded in the stage
    BatchStoreSpec.crashMidSwap(spark, path)
    val healed = Retrieval.queryIndex(spark, path, terms, k = 10)
      .orderBy($"rk").collect().toSeq
    assert(healed == want)
  }

  test("index query reads only the query terms' posting buckets") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val path = java.nio.file.Files.createTempDirectory("bm25prune").toString
    Retrieval.buildIndex(docs, $"doc_id", $"text", path, buckets = 16)
    val q = Retrieval.queryIndex(spark, path, Seq("vector", "merge"), k = 5)
    q.collect()
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(s.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val postingScans = allNodes(q.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(postingScans.nonEmpty, "no posting-store scan found")
    // the postings tree serves BOTH the tf read and the df derivation
    // (two scan nodes since the tdf tree was folded away); each must
    // prune to the two query terms' buckets
    assert(postingScans.size <= 2,
      s"${postingScans.size} posting scans, wanted <= 2 (tf + df)")
    postingScans.foreach { s =>
      val scanned = s.selectedPartitions.partitionCount
      // two query terms hash to at most 2 of the 16 buckets
      assert(scanned <= 2, s"a posting scan read $scanned buckets, wanted <= 2")
    }
  }

  test("BM25 top-k plans as TakeOrdered, not a global sort") {
    val docs = Tables.wide(spark, "/root/testdata/sf0.001", "documents")
    val plan = Retrieval.bm25TopK(docs, $"doc_id", $"text",
      Seq("vector", "merge"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in plan:\n$plan")
  }
}
