package graft

import graft.queries.{DedupQueries, RelationalQueries, TextQueries}

/** Plan-shape regression tests: the 100 TB properties the queries rely on
  * (filter pushdown, column pruning, dimension broadcast, no cartesian
  * blowups) asserted against the actual executed plans at sf0.001 — if a
  * refactor silently breaks one of these, correctness stays green but the
  * plan regresses; this suite makes that loud.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // The one authority for AQE plan-discipline parsing: executed final plan
  // (AQE appends the pre-reuse plan after "== Initial Plan =="), table scan
  // counting, and "no expensive expression tree in any Filter" assertions.
  private def finalExecutedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    plan(df).split("== Initial Plan ==").head
  }
  private def scanCount(finalPlan: String, table: String): Int =
    finalPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains(table))
  private def assertNoFilterTrees(finalPlan: String, forbidden: String*): Unit = {
    val filterish = finalPlan.linesIterator.filter(l =>
      l.contains("Filter") || l.contains("DataFilters")).toSeq
    forbidden.foreach(f =>
      assert(filterish.forall(!_.contains(f)),
        s"'$f' tree leaked into a filter:\n${filterish.mkString("\n")}"))
  }

  /** Run `body` with a QueryExecutionListener attached and poll (the
    * listener bus is async) until SOME executed plan satisfies `pred`.
    * This is the only way to observe plans that execute INSIDE an
    * operator — eager fixpoints, store writes — because by the time the
    * returned frame runs, their results are checkpoint-backed
    * `Scan ExistingRDD` nodes and `finalExecutedPlan` cannot see them.
    */
  private def assertInnerPlan(tag: String)(pred: String => Boolean)(body: => Unit): Unit = {
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var found = false
      while (!found && System.nanoTime() < deadline) {
        import scala.jdk.CollectionConverters._
        found = plans.asScala.exists(pred)
        if (!found) Thread.sleep(100)
      }
      assert(found, s"$tag: no executed plan matched the predicate")
    } finally spark.listenerManager.unregister(listener)
  }

  test("date-range predicate pushes down to the parquet scan") {
    val p = plan(RelationalQueries.ordersInRange(spark, sf))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(o_orderdate") ,
      s"expected o_orderdate pushdown in:\n$p")
  }

  test("projection queries prune the scan to referenced columns only") {
    val p = plan(TextQueries.fingerprints(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"scan reads unreferenced columns: $read")
  }

  test("region revenue broadcasts bounded dims but not the fact join") {
    val p = plan(RelationalQueries.regionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "dimension joins should broadcast")
    // no broadcast HINT on customer: at tiny SF AQE may still choose
    // broadcast, but the lineitem⋈orders join must never be a nested loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("near-dup pair join is an equi-join on the shingle, never a cross product") {
    val p = plan(DedupQueries.nearDupPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cross product in:\n$p")
    // the shingle expression must NOT be inlined into the scan filter
    val scanFilters = p.linesIterator.filter(_.contains("PushedFilters"))
    assert(scanFilters.forall(!_.contains("arrays_zip")))
  }

  test("capped near-dup keeps the equi-join shape and broadcast-free DF prune") {
    val p = plan(DedupQueries.nearDupPairsCapped(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cross product in:\n$p")
    // the DF prune joins on the same shingle key — no new join flavor
    val scanFilters = p.linesIterator.filter(_.contains("PushedFilters"))
    assert(scanFilters.forall(!_.contains("arrays_zip")))
  }

  test("corpus self-joins stay shuffled even when the planner estimates the side tiny") {
    // The merge hint on every EQUAL-SIDED corpus/batch SELF-join exists
    // because a stats misestimate (8-bytes/row range frames, inherited
    // through localCheckpoint) once planned an 8.3 GiB broadcast of the
    // exploded corpus side. sf0.001 is exactly the regime where the
    // planner WOULD broadcast everything — so the hinted join surviving
    // as a SortMergeJoin here proves the hint binds; if a refactor drops
    // it, AQE re-broadcasts on this tiny input and this test goes loud.
    //
    // This list is the round-13 AUDIT of the repo's whole corpus-scale
    // self-join surface. Pinned here (query-level): minhash, inverted
    // shingle, jaccard-prefix, simhash, cosine-LSH (rep pairs AND the
    // intra-bucket member pairs). SemDeDup's cell pairs execute INSIDE
    // the eager connected-components fixpoint (the returned frame reads
    // the CC labels as checkpoint-backed Scan ExistingRDD nodes and
    // carries only the label/keeper joins, which legitimately
    // broadcast) — pinned below via listener capture. Pinned in the
    // incremental-store test below (write-path plans): IncrementalDedup
    // band edges, IncrementalSemDedup cell edges, IncrementalImageDedup
    // band edges. Audited and EXEMPT, by shape:
    //  - knn/hard-negatives/mmr probe joins — DELIBERATE broadcast of the
    //    probe side; the brute-force baselines are quadratic by declared
    //    design (the scale path is ivf/ann/pq, themselves probe-broadcast
    //    over pruned cells);
    //  - simhash boundary recovery (Dedup tails×heads) — both sides are
    //    partition-boundary rows, O(#partitions) by construction;
    //  - batch×store joins in the incremental stores — UNEQUAL sides
    //    where broadcasting the bounded batch side is legitimately
    //    optimal, and the store side carries scan-backed stats;
    //  - SpanDedup pos⋉cand semi-joins — the cand side is an aggregate of
    //    a scan (real stats, no localCheckpoint lie), and broadcast
    //    genuinely wins when the duplicated-gram set is small;
    //  - as-of / sessionize — union + window formulations, zero joins
    //    (pinned by their own plan tests);
    //  - connected-components inner joins — edge-list × label frames,
    //    both sides re-derived each fixpoint round with real stats, and
    //    the small side SHRINKS monotonically (broadcast is the right
    //    endgame there).
    for ((name, df) <- Seq(
        "minhash" -> DedupQueries.minHashPairs(spark, sf),
        "inverted-shingle" -> DedupQueries.nearDupPairs(spark, sf),
        "jaccard-prefix" -> DedupQueries.jaccardPrefixPairs(spark, sf),
        "simhash" -> DedupQueries.simHashPairs(spark, sf),
        "cosine" -> graft.queries.EmbeddingQueries.cosineDedup(spark, sf))) {
      val finalPlan = finalExecutedPlan(df)
      assert(finalPlan.contains("SortMergeJoin"),
        s"$name: hinted self-join collapsed to broadcast:\n$finalPlan")
    }
    // semdedup: the hinted cell self-join is only visible in the INNER
    // edge-materialization plan (it feeds the eager CC fixpoint) — the
    // same shape the incremental-store test handles, so the same
    // listener discipline: the executed edge plan must show the join
    // surviving as a SortMergeJoin on the cell key even at sf0.001,
    // where AQE would broadcast any unhinted side.
    // the cell key must appear on the SortMergeJoin line ITSELF — a plan
    // with an unrelated SMJ plus the word "cell" elsewhere must not pass
    assertInnerPlan("semdedup: hinted cell self-join collapsed to broadcast")(
      p => p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("cell"))) {
      graft.queries.EmbeddingQueries.semDeDup(spark, sf).collect()
    }
    // cosine-LSH carries TWO hinted self-joins (rep pairs + intra-bucket
    // members): both must survive
    val cosinePlan = finalExecutedPlan(
      graft.queries.EmbeddingQueries.cosineDedup(spark, sf))
    val smj = cosinePlan.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj >= 2, s"cosine: expected both hinted self-joins as SMJ, got $smj:\n$cosinePlan")
  }

  test("incremental-store batch self-joins stay shuffled (write-path plans)") {
    // The incremental stores run their pair-generating self-joins inside
    // the batch WRITE job (the returned frame is a store re-read), so the
    // query-level test above cannot see them — capture every executed
    // plan via a QueryExecutionListener during one batch call and assert
    // the hinted edge join survived as a SortMergeJoin. At this corpus
    // size AQE broadcasts every unhinted join, so SMJ presence in the
    // write plan proves the hint binds.
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      def awaitPlan(tag: String, pred: String => Boolean): Unit = {
        // the listener bus is async — poll briefly for the write plan
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var found = false
        while (!found && System.nanoTime() < deadline) {
          import scala.jdk.CollectionConverters._
          found = plans.asScala.exists(pred)
          if (!found) Thread.sleep(100)
        }
        assert(found, s"$tag: no executed write plan with a surviving SortMergeJoin")
      }
      locally { // IncrementalDedup (MinHash-LSH band edges)
        val store = java.nio.file.Files.createTempDirectory("planlsh").toString
        val docs = (0L until 40L).map(i =>
          (i, s"tok${i % 7} alpha beta gamma delta epsilon zeta eta theta iota")).toDF("id", "text")
        graft.operators.IncrementalDedup.lshDedupBatch(
          spark, docs, $"id", $"text", store, batchId = 0L).collect()
        awaitPlan("lsh", p => p.linesIterator.exists(l =>
          l.contains("SortMergeJoin") && l.contains("__b")))
      }
      plans.clear()
      locally { // IncrementalSemDedup (cell edges)
        val store = java.nio.file.Files.createTempDirectory("plansem").toString
        def vec(deg: Double): Array[Float] = {
          val v = Array.fill(8)(0f)
          v(0) = math.cos(math.toRadians(deg)).toFloat
          v(1) = math.sin(math.toRadians(deg)).toFloat
          v
        }
        val seed = Seq((100L, vec(0)), (101L, vec(90))).toDF("id", "e")
        graft.operators.IncrementalSemDedup.init(
          seed, col("id"), col("e"), store, nlist = 2,
          refineIterations = 0, portableSample = true)
        val batch = (0 until 8).map(i => (i.toLong, vec(i * 5.0))).toDF("id", "e")
        graft.operators.IncrementalSemDedup.semDedupBatch(
          spark, batch, col("id"), col("e"), store, batchId = 0L,
          threshold = 0.9).collect()
        awaitPlan("semdedup", p => p.linesIterator.exists(l =>
          l.contains("SortMergeJoin") && l.contains("cell")))
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental-store batch-x-store joins broadcast the bounded batch probe") {
    // The r15 treatment: each store's batch×store join is UNEQUAL (a
    // bounded arrival against unbounded history), so the bounded side
    // broadcasts EXPLICITLY under a measured cap — AQE alone converts a
    // join only after both map sides have materialized, i.e. after the
    // history-sized exchange already wrote (SURVEY §18, "Unequal-join
    // broadcasts on the arrival path"). These arms pin the treated plan per store: a write-path
    // plan must carry a BroadcastHashJoin on the store-probe key. Runs
    // against a SEEDED store (batch 1) — against an empty store AQE
    // folds the join away entirely.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    locally { // segment store: anti-join consumes broadcast collision fetch
      val store = java.nio.file.Files.createTempDirectory("plansegstore").toString
      def docs(lo: Int) = (lo until lo + 20).map(i =>
        (i.toLong, (0 until 20).map(j => s"w${(i * 20 + j) % 97}").mkString(" ")))
        .toDF("id", "text")
      graft.operators.IncrementalSegmentDedup.segmentDedupBatch(
        spark, docs(0), $"id", $"text", store, batchId = 0L).collect()
      // storeProbeBytesMin = 0 forces the deep-history plan on a tiny
      // test store (the production gate keeps small stores classic)
      assertInnerPlan("segment: batch×store anti-join not broadcast")(
        p => p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))) {
        graft.operators.IncrementalSegmentDedup.segmentDedupBatch(
          spark, docs(20), $"id", $"text", store, batchId = 1L,
          storeProbeBytesMin = 0L).collect()
      }
    }
    locally { // image store: band probe of the store scan broadcasts batch keys
      val store = java.nio.file.Files.createTempDirectory("planimgstore").toString
      val imgs = graft.tools.StoreBench.Image.corpus(spark, 24L)
      graft.operators.IncrementalImageDedup.dhashDedupBatch(
        spark, imgs.filter($"media_id" < 12), $"media_id", $"payload",
        store, batchId = 0L).collect()
      assertInnerPlan("image: batch×store band probe not broadcast")(
        p => p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("__b"))) {
        graft.operators.IncrementalImageDedup.dhashDedupBatch(
          spark, imgs.filter($"media_id" >= 12), $"media_id", $"payload",
          store, batchId = 1L).collect()
      }
    }
    locally { // sem store: cell join broadcasts the counted batch side
      val store = java.nio.file.Files.createTempDirectory("plansemstore").toString
      def vec(deg: Double): Array[Float] = {
        val v = Array.fill(8)(0f)
        v(0) = math.cos(math.toRadians(deg)).toFloat
        v(1) = math.sin(math.toRadians(deg)).toFloat
        v
      }
      val seed = Seq((100L, vec(0)), (101L, vec(90))).toDF("id", "e")
      graft.operators.IncrementalSemDedup.init(
        seed, col("id"), col("e"), store, nlist = 2,
        refineIterations = 0, portableSample = true)
      graft.operators.IncrementalSemDedup.semDedupBatch(
        spark, (0 until 8).map(i => (i.toLong, vec(i * 5.0))).toDF("id", "e"),
        col("id"), col("e"), store, batchId = 0L, threshold = 0.9).collect()
      assertInnerPlan("sem: batch×store cell join not broadcast")(
        p => p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("cell"))) {
        graft.operators.IncrementalSemDedup.semDedupBatch(
          spark, (8 until 16).map(i => (i.toLong, vec(i * 5.0))).toDF("id", "e"),
          col("id"), col("e"), store, batchId = 1L, threshold = 0.9).collect()
      }
    }
  }

  test("partial-ratio locator broadcasts the dictionary and evaluates the sweep once") {
    val df = TextQueries.fuzzyPartialRatio(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // condition-free broadcast join against the ~13-row dim: BNLJ is the
    // EXPECTED plan here (constant per-row work); a shuffle join would
    // mean the dim lost its broadcast
    assert(p.contains("BroadcastNestedLoopJoin"), s"dim not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
    // selection is the hash aggregate, not filter+window: no Filter node
    // may carry the levenshtein sweep (the pushdown-inlining double-eval)
    val filterLines = p.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq
    assert(filterLines.forall(!_.contains("levenshtein")),
      s"levenshtein sweep inlined into a Filter:\n${filterLines.mkString("\n")}")
    assert(!p.contains("Window"), "selection should be an aggregate, not a window")
  }

  test("native partial-ratio expression runs inside whole-stage codegen") {
    val df = TextQueries.fuzzyPartialRatio(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("partial_ratio_sim")).getOrElse("")
    assert(line.nonEmpty, s"native expression missing from plan:\n$p")
    // the asterisk marks the WholeStageCodegen span the projection sits in
    assert(line.trim.matches(".*\\*\\(\\d+\\).*"),
      s"partial_ratio_sim fell out of codegen: $line")
    assert(!p.contains("ScalaUDF"))
  }

  test("ANN fingerprint is computed once: never re-evaluated in a scan or Filter") {
    // a bare null-rejecting hamming join condition makes the optimizer
    // push isnotnull(sparse_sign_sketch(emb)) below the fingerprint
    // projection into the scan — doubling index-build work; the
    // coalesce(_, false) wrapper in annTopK must keep it out
    val df = graft.queries.EmbeddingQueries.embeddingAnn(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val filterish = p.linesIterator.filter(l =>
      l.contains("Filter") || l.contains("DataFilters")).toSeq
    assert(filterish.forall(!_.contains("sparse_sign_sketch")),
      s"sketch re-evaluated in a filter:\n${filterish.mkString("\n")}")
  }

  test("Charikar rotation exchange materializes once: pairs and edge runs share it") {
    // Boundary recovery is only sound if the sliding-pair scan and the
    // edge-run scan observe the SAME range-partition boundaries.
    // RangePartitioner's sample seed involves the RDD id, so two separate
    // materializations of the rotation exchange could pick different
    // bounds and the recovered pairs would target boundaries the pair
    // scan never had. The final AQE plan must therefore contain exactly
    // ONE real rangepartitioning(__rot, __rv) exchange, with every other
    // consumer a ReusedExchange of it.
    val finalPlan = finalExecutedPlan(graft.queries.DedupQueries.simHashPairs(spark, sf))
    val real = finalPlan.linesIterator
      .filter(!_.contains("ReusedExchange"))
      .count(_.contains("Exchange rangepartitioning(__rot"))
    val reused = finalPlan.linesIterator.count(l =>
      l.contains("ReusedExchange") && l.contains("rangepartitioning(__rot"))
    assert(real == 1, s"rotation exchange materialized $real times:\n$finalPlan")
    assert(reused >= 2, s"edge-run consumers not reusing the exchange ($reused):\n$finalPlan")
    // the expensive pass — tokenize + simHash over the corpus — must run
    // ONCE: every other consumer reads the narrow (id, fp) exchange. One
    // real documents scan in the final plan; the rest are ReusedExchange.
    val scans = scanCount(finalPlan, "documents")
    assert(scans == 1, s"documents scanned $scans times (fingerprints recomputed):\n$finalPlan")
    // and tokenization must not leak into the scan-stage filter: the
    // non-empty gate is a base-column rlike predicate, so no Filter may
    // carry the split+HOF token tree (which would tokenize each row a
    // second time, serialized on the scan's task before the widen)
    assertNoFilterTrees(finalPlan, "split(")
  }

  test("corpus curation: one documents scan, no regex trees in any filter") {
    // the composed pipeline must keep its components' plan discipline: the
    // dedup is a min-over-struct sort aggregate with no Filter at all, so
    // no pushdown may inline pyStrip/tokenCount regex trees into the scan
    // stage, and the whole chain reads documents ONCE
    val finalPlan = finalExecutedPlan(TextQueries.corpusCuration(spark, sf))
    val scans = scanCount(finalPlan, "documents")
    assert(scans == 1, s"documents scanned $scans times:\n$finalPlan")
    assertNoFilterTrees(finalPlan, "regexp_", "split(")
  }

  test("decontamination broadcasts the benchmark shingle set, never cross-joins") {
    // the benchmark side is small by contract (eval sets vs a corpus) — it
    // must reach the corpus as a broadcast, and the corpus text must only be
    // tokenized in projections, never in a scan filter
    val finalPlan = finalExecutedPlan(graft.queries.CurationQueries.decontaminate(spark, sf))
    assert(finalPlan.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"))
    assertNoFilterTrees(finalPlan, "arrays_zip")
  }

  test("training-order shuffle is a range-partitioned global sort, not a single-partition window") {
    val finalPlan = finalExecutedPlan(graft.queries.CurationQueries.trainingOrder(spark, sf))
    assert(finalPlan.contains("rangepartitioning"),
      s"global orderBy must range-partition:\n$finalPlan")
    assert(!finalPlan.contains("SinglePartition") || !finalPlan.contains("Window"),
      s"single-partition window leaked into the shuffle:\n$finalPlan")
  }

  test("span removal: corpus-at-large never joins; only hit docs rejoin for slicing") {
    // every join after the candidate pass must be on doc/hash keys over the
    // (tiny) marked-position side — no cartesian, no broadcast of the corpus
    val finalPlan = finalExecutedPlan(DedupQueries.spanRemoval(spark, sf))
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$finalPlan")
  }

  test("span removal: island frame is materialized once (reuse-race guard)") {
    // r17 finding: with islands left declarative its four consumers hung
    // the gram pipeline's re-execution on Spark's exchange-reuse RACE —
    // one analyzed plan, two byte-deterministic shuffle modes (the 41 MB
    // candidate aggregate read once or twice per run). The fix pins the
    // pipeline to one execution via Checkpoints.materializeFrame. Guard
    // the shape: the returned plan reads the checkpointed islands (an
    // RDD scan) and contains NO gram explode — the position-grain
    // pipeline must live entirely BEHIND the materialization.
    val analyzed = DedupQueries.spanRemoval(spark, sf)
      .queryExecution.analyzed.toString
    assert(analyzed.contains("LogicalRDD"),
      s"islands no longer materialized (reuse-race fix reverted?):\n$analyzed")
    assert(!analyzed.toLowerCase.contains("explode"),
      s"gram explode leaked past the materialization:\n$analyzed")
  }

  test("stratified sample is a pure filtered scan — zero shuffle at any scale") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Curation.stratifiedSample(
      Tables(spark, sf, "documents"), col("lang"), col("doc_id"),
      Map("en" -> 0.3), 0.5)
    val finalPlan = finalExecutedPlan(df)
    assert(scanCount(finalPlan, "documents") == 1)
    assert(!finalPlan.contains("Exchange"), s"sampling must not shuffle:\n$finalPlan")
  }

  test("temperature mix: broadcast rates, codegen filter, no corpus shuffle") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Curation.temperatureMix(
      Tables(spark, sf, "documents"), col("lang"), col("doc_id"), alpha = 0.5)
    val finalPlan = finalExecutedPlan(df)
    // the rate derivation aggregates a tiny counts frame; the DATA path
    // must be a broadcast join + filter — the corpus itself never
    // exchanges (sort-merge or otherwise)
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"rates must broadcast:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"corpus shuffled for the rates join:\n$finalPlan")
  }

  test("passage chunking is a single-scan generate — zero shuffle at any scale") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Curation.chunkPassages(
      Tables(spark, sf, "documents"), col("doc_id"), col("text"),
      width = 24, stride = 16)
    val finalPlan = finalExecutedPlan(df)
    assert(scanCount(finalPlan, "documents") == 1)
    assert(!finalPlan.contains("Exchange"), s"chunking must not shuffle:\n$finalPlan")
    // tokenization stays in projections, never re-inlined into a filter
    assertNoFilterTrees(finalPlan, "split(")
  }

  test("repetition signals are a single-scan projection") {
    val finalPlan = finalExecutedPlan(graft.queries.CurationQueries.repetitionSignals(spark, sf))
    val scans = scanCount(finalPlan, "documents")
    assert(scans == 1, s"documents scanned $scans times:\n$finalPlan")
    assertNoFilterTrees(finalPlan, "arrays_zip", "split(")
  }

  test("as-of join is a union-merge, never a range nested-loop") {
    // the defining property of the merge formulation: NO join operator at
    // all on the as-of path (a range-condition join would plan as a
    // nested-loop and go quadratic per key) — just union, one hash
    // exchange, and a running window
    val finalPlan = finalExecutedPlan(graft.queries.TemporalQueries.asofClickView(spark, sf))
    // the strong form of the claim: NO join node of ANY kind — a rewrite
    // to an equi-key range join (SortMergeJoin + row_number) would still
    // pass a no-nested-loop assert while going quadratic per key
    assert(!finalPlan.contains("Join"), s"as-of path grew a join node:\n$finalPlan")
    assert(finalPlan.contains("Window"), "merge window missing")
    val scans = scanCount(finalPlan, "events")
    assert(scans <= 2, s"events scanned $scans times:\n$finalPlan")
  }

  test("quality-quantile gate: one documents scan, tokenization stays out of filters") {
    val finalPlan = finalExecutedPlan(graft.queries.CurationQueries.qualityQuantile(spark, sf))
    val scans = scanCount(finalPlan, "documents")
    assert(scans == 1, s"documents scanned $scans times:\n$finalPlan")
    // the percent_rank filter runs on the window output column — the
    // token-count regex must never be inlined into a pushed filter
    assertNoFilterTrees(finalPlan, "regexp_")
  }

  test("sessionization is one events scan and no join (session merge is per-key state)") {
    val finalPlan = finalExecutedPlan(graft.queries.TemporalQueries.sessionize(spark, sf))
    assert(scanCount(finalPlan, "events") == 1)
    assert(!finalPlan.contains("Join"), s"session grouping grew a join:\n$finalPlan")
  }

  test("whole-stage codegen covers the text operators (no UDF interpreter gaps)") {
    val df = TextQueries.qualityScores(spark, sf)
    df.collect() // AQE only shows codegen spans in the FINAL executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(")) // the asterisk marks WholeStageCodegen spans
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("plan_shape_hash is stable across session encoder churn (r16 q_audio_energy drift)") {
    // LambdaVariable ids come from a JVM-global counter that advances with
    // every object-encoder the session constructs; Bench.normalizedPlan
    // masks them. Build the mapPartitions query, churn encoders the way a
    // mid-suite position does, build it again: both the masked shape
    // string and the exact normalized string must be byte-identical.
    def frame() = graft.SparkEntry.queries("q_audio_energy")(spark, sf)
    val before = Bench.normalizedPlan(frame(), maskLiterals = true)
    val beforeExact = Bench.normalizedPlan(frame())
    import spark.implicits._
    // encoder churn: each Dataset construction with an array-typed row
    // encoder allocates fresh LambdaVariable ids
    (1 to 3).foreach { i =>
      Seq((i.toLong, Array(1.0f, 2.0f))).toDF("id", "v")
        .as[(Long, Array[Float])].map(identity).collect()
    }
    assert(Bench.normalizedPlan(frame(), maskLiterals = true) === before)
    assert(Bench.normalizedPlan(frame()) === beforeExact)
    assert(!before.contains(", 0x"), "sanity: masked string has no raw lambda ids")
  }

  test("normalizedPlan orients comparisons deterministically (r17 q_langid_confusion drift)") {
    // Canonicalize picks `a > b` vs `b < a` by child hashCode, and the
    // canonical form of +/* chains (MultiCommutativeOp) hashes a
    // java.lang.Class by identityHashCode — JVM-state-dependent, so the
    // orientation of any comparison against such a chain flips with
    // session history. normalizedPlan rewrites the GT family to LT form
    // and orders symmetric-equality operands by rendered string, making
    // the hash independent of hashCode. Pin: author-side-flipped but
    // semantically identical predicates normalize byte-identically, and
    // no GT-family node survives in the normalized string.
    import org.apache.spark.sql.functions._
    val base = Tables(spark, sf, "documents")
      .groupBy("lang").agg(sum(length(col("text"))).as("tot"))
    val gt = base.filter(col("tot") > lit(0L) && col("lang") === lit("en"))
    val lt = base.filter(lit(0L) < col("tot") && lit("en") === col("lang"))
    val a = Bench.normalizedPlan(gt, maskLiterals = true)
    val b = Bench.normalizedPlan(lt, maskLiterals = true)
    assert(a === b, s"flipped-operand predicates normalized differently:\n$a\nvs\n$b")
    assert(Bench.normalizedPlan(gt) === Bench.normalizedPlan(lt))
    assert(!a.contains(" > ") && !a.contains(" >= "),
      s"GT family should be rewritten to LT form in:\n$a")
  }
}
