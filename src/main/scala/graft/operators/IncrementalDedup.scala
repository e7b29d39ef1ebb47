package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch MinHash-LSH near-duplicate suppression against a
  * PERSISTENT signature store — the incremental form of
  * [[Dedup.minHashNearDuplicates]], and the shape a 100 TB training-data
  * pipeline actually runs: the corpus arrives over weeks of crawl
  * batches, and each new batch must dedup against everything already
  * accepted without ever re-scanning the accepted corpus's text.
  *
  * The store keeps one row per document EVER SEEN — survivors and
  * suppressed alike — holding its MinHash signature, its LSH band
  * hashes, and the id of its cluster representative (`rep_id`; a
  * survivor is its own rep). Keeping suppressed docs' signatures is what
  * makes suppression TRANSITIVE across batches: a doc that near-matches
  * only a previously-suppressed doc still joins that doc's cluster
  * (through its rep), exactly as the batch connected-components closure
  * would have merged them. Text is stored for survivors' downstream use;
  * the suppression joins only ever touch (sig, bands, rep_id).
  *
  * Per batch:
  *  1. signatures + band hashes for the batch's docs (one aggregate
  *     projection — [[Dedup.minHashSignature]]); docs shorter than the
  *     shingle length carry no bands and can never match or be matched;
  *  2. candidate pairs via band-bucket equality — batch×batch (self-join)
  *     and batch×store (join against the NARROW band-index tree at
  *     `<store>/_bands`, partition-pruned to the batch's colliding
  *     buckets; the store's signatures are fetched afterwards for the
  *     distinct colliding ids alone);
  *  3. verification by ESTIMATED Jaccard — the fraction of agreeing
  *     signature components (the store holds no shingles, so exact
  *     Jaccard is unavailable by design; at k=64 the estimator's σ is
  *     ≤ 0.063, and the spec gates it against exact Jaccard on planted
  *     pairs);
  *  4. batch-internal clusters via [[Dedup.connectedComponents]] over the
  *     batch×batch edges; each cluster adopts the minimum store rep any
  *     member matched, else its minimum member id — so store-connected
  *     clusters suppress entirely and fresh clusters keep exactly one
  *     survivor;
  *  5. the labeled batch lands at `batch=<batchId>`, and its band rows
  *     at `_bands/batch=<batchId>`, in one [[BatchStore]] commit — a
  *     REPLAYED micro-batch replaces its own partitions instead of
  *     appending duplicates, so the store is idempotent under
  *     failure/restart replay (partitions are append-only across
  *     DISTINCT batches), and the two trees never disagree on a batch.
  *
  * Monotonicity contract (the honest cost of incrementality): emitted
  * survivors are never retracted. If a later "bridge" doc near-matches
  * two clusters that were emitted separately, batch-mode closure over
  * the union would have merged them under one survivor; the incremental
  * path keeps both earlier survivors and suppresses the bridge under the
  * smaller rep. Docs connected through any CHAIN of suppressed docs
  * still suppress correctly (that is what storing suppressed signatures
  * buys); only already-emitted survivors are immune. The spec pins both
  * sides of this contract.
  *
  * Requirements: `id` must be a non-negative long, unique across ALL
  * batches ever fed to one store (rep resolution relies on min-id order
  * and on store ids never colliding with batch ids).
  *
  * Choosing (k, bands): banding is the RECALL dial — a true pair is a
  * candidate with probability 1 − (1 − J^(k/bands))^bands, so the
  * default (64, 16) is sharp around J ≈ 0.6+ and a COIN FLIP near
  * J ≈ 0.5; callers thresholding below ~0.55 should raise `bands`
  * (32 → r = 2 makes J = 0.5 pairs near-certain candidates) and accept
  * the larger candidate volume the estimated-Jaccard filter then
  * discards. Precision is unaffected either way — every emitted
  * suppression passed the estimator gate.
  *
  * Scale shape: the only wide operations are the band-bucket joins
  * (keyed on 8-byte band hashes over 16-byte rows), the component loop
  * over the batch-internal edge list, and the final label join — so
  * STORE text is never read at all, and NEITHER side's signatures ride
  * the band explosion at scale: the batch×store candidate join reads
  * the 16-byte-row band-index tree, partition-pruned to the batch's
  * colliding `bucket=` dirs; the batch×batch self-join is size-gated
  * ([[graft.config.ScaleGates.lshNarrowSelfJoinBandRowsMin]]) — a trickle batch keeps the classic
  * one-shuffle plan (signatures ride its batch-sized exchange), a
  * seed-scale batch exchanges bare (band, id) rows with signatures
  * fetched afterwards for the distinct colliding ids alone,
  * broadcast-probed below the measured caps. BATCH text moves through
  * exactly one exchange (batch-sized,
  * not corpus-sized). Store growth is one row per doc ever seen plus
  * `bands` index rows per doc; the index layout ([[BandBuckets]]
  * hash-bucketed dirs per batch, preserved through compaction) is
  * exactly the band-hash-partitioned layout a trillion-doc store needs.
  */
object IncrementalDedup {

  /** Estimated Jaccard from two equal-length MinHash signatures: the
    * fraction of agreeing components — the standard signature-only
    * estimator (unbiased; σ = sqrt(J(1−J)/k)).
    */
  def estimatedJaccard(a: Column, b: Column, k: Int): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / k

  private def storeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, sig ARRAY<BIGINT>, bands ARRAY<BIGINT>, rep_id BIGINT, survivor BOOLEAN")

  /** Partition fan of the band-index tree (`<store>/_bands`): each
    * batch's exploded (band hash, doc id) rows land under
    * `batch=<id>/bucket=pmod(hash(band), BandBuckets)`. The index is
    * what the batch×store candidate join reads INSTEAD of exploding the
    * store's signature rows: 16 bytes/row versus the 8 KB/doc
    * (k=64 signature × bands) the old exploded join shuffled. The
    * bucket layout additionally lets a SMALL batch (the hourly-trickle
    * regime) partition-prune the store read to its colliding buckets —
    * the batch's band keys are known before the store is touched.
    */
  val BandBuckets = 64

  // The measured-size plan gates of this store — probe-side broadcast
  // cap, signature-fetch broadcast cap, narrow-self-join threshold —
  // live in [[graft.config.ScaleGates]] (conf-overridable, defaults +
  // derivations documented there): lshBroadcastBandRowsMax,
  // lshBroadcastSigRowsMax, lshNarrowSelfJoinBandRowsMin.

  /** Explicit broadcast only when the frame is known driver-bounded (the
    * r16 driver-tail label frame); a batch-sized frame keeps the
    * planner's shuffled join.
    */
  private def broadcastIfLocal(df: DataFrame, isLocal: Boolean): DataFrame =
    if (isLocal) broadcast(df) else df

  /** The band index's tree under the store root: the `_` name keeps it
    * out of every read of the root, which Spark's file listing sees as
    * the store's batches only.
    */
  private[graft] val BandsTree = "_bands"

  private def bandIndexSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "__b BIGINT, __sid BIGINT, bucket INT")

  /** One batch partition's rows as band-index rows — the exact content
    * the index write lands for that batch (shared by the batch write,
    * the derive fallback, and the compaction backfill, so all three are
    * row-identical by construction).
    */
  private def deriveBands(main: DataFrame): DataFrame =
    main.select(col("doc_id").as("__sid"), explode(col("bands")).as("__b"))
      .select(col("__b"), col("__sid"),
        pmod(hash(col("__b")), lit(BandBuckets)).cast("int").as("bucket"))

  /** The pre-batch band index: every prior batch's (band, doc_id)
    * rows. A batch commits its main and index partitions together, so
    * an index partition present is a whole one. Batches with NO index
    * partition — legacy stores written before the index tree existed —
    * are DERIVED from the main tree's `bands` column on the fly:
    * correctness never depends on the index, only speed does.
    */
  private def readPriorBands(
      spark: SparkSession, storePath: String, batchId: Long): DataFrame = {
    val (fs, root) = BatchStore.fsPath(spark, storePath)
    val mainIds = BatchStore.listBatches(fs, root).filter(_._1 < batchId)
    val indexedIds = BatchStore.listBatches(fs, root, BandsTree)
      .filter(_._1 < batchId)
    val indexed =
      if (indexedIds.nonEmpty)
        // EXPLICIT schema: an all-short batch writes a file-less index
        // partition (empty frame + partitionBy emits only _SUCCESS); when
        // every prior partition is file-less, schema inference has no
        // footer to read and the whole arrival crashes. The index schema
        // is a constant of the layout — never infer it.
        spark.read.schema(bandIndexSchema)
          .option("basePath", s"$storePath/$BandsTree")
          .parquet(indexedIds.map(_._2.toString): _*)
          .select(col("__b"), col("__sid"), col("bucket"))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], bandIndexSchema)
    val missing = mainIds.filterNot { case (b, _) => indexedIds.exists(_._1 == b) }
    if (missing.isEmpty) indexed
    else indexed.unionByName(deriveBands(
      spark.read.option("basePath", storePath)
        .parquet(missing.map(_._2.toString): _*)))
  }

  /** Suppress one batch against the store at `storePath`, then persist
    * the labeled batch into `batch=<batchId>`. Returns the labeled batch
    * (doc_id, text, rep_id, survivor). See the object doc for semantics.
    */
  def lshDedupBatch(
      spark: SparkSession, batch: DataFrame, id: Column, text: Column,
      storePath: String, batchId: Long,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
      shingleLen: Int = 3, seed: Long = 42L): DataFrame = {
    val keyed = batch.select(id.cast("long").as("doc_id"), text.cast("string").as("text"))
      .withColumn("__toks", Dedup.tokens(col("text")))
    // signatures once, bands from them; CHECKPOINT-materialized, not
    // persist()ed — measured, not stylistic (r16): under persist the
    // planner sees the cache's REAL size stats, and every downstream
    // label/union join over this deliberately-small frame flips to a
    // broadcast build (~29 broadcast jobs per arrival, +37 % composed
    // wall); the LogicalRDD's opaque stats are what keep those joins in
    // the one batch-sized exchange the store's plan shape promises. The
    // hints/explicit gates only cover the self-join and candidate joins,
    // not the labeling tail.
    val banded = Checkpoints.materializeFrame(
      keyed.filter(size(col("__toks")) >= shingleLen)
        .select(col("doc_id"), col("text"),
          Dedup.shinglesOfTokens(col("__toks"), shingleLen).as("__sh"))
        .withColumn("sig", Dedup.minHashSignature(col("__sh"), k, seed))
        .select(col("doc_id"), col("text"), col("sig"),
          Dedup.lshBandHashes(col("sig"), k, bands).as("bands")))
    // scratch registry: every persist()ed intermediate below registers
    // here, and the finally block frees whatever is still cached on ANY
    // exit — an exception mid-batch (ccFixpoint's non-convergence
    // IllegalStateException, a failed store write) must not leak cached
    // blocks for the session lifetime
    val scratch = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val short = keyed.filter(size(col("__toks")) < shingleLen)
        .select(col("doc_id"), col("text"),
          lit(null).cast("array<bigint>").as("sig"),
          array().cast("array<bigint>").as("bands"))

      // the pre-batch state from EXPLICIT batch < batchId paths (the
      // BatchStore replay-exclusion contract): a replayed micro-batch
      // recomputes against the exact pre-batch store, never its own
      // (possibly torn) prior write. The bands column is NOT selected —
      // candidate generation reads the narrow band-index tree instead,
      // and this scan only serves the candidate signature fetch
      val store = BatchStore.readPrior(spark, storePath, batchId, storeSchema)
        .select(col("doc_id"), col("sig"), col("rep_id"))

      // one bounded driver row, measured BEFORE any join plan is chosen:
      // the batch's colliding bucket set (the store-read prune below) and
      // its band-row count (the plan dial for both the self-join and the
      // candidate join)
      val bandStats = banded
        .select(explode(col("bands")).as("__b"))
        .select(pmod(hash(col("__b")), lit(BandBuckets)).cast("int").as("bucket"))
        .agg(collect_set(col("bucket")).as("bk"), count(lit(1)).as("n"))
        .head() // bounded: one row, <= BandBuckets bucket ids
      val batchBuckets: Seq[Int] = bandStats.getAs[scala.collection.Seq[Int]](0).toSeq
      val batchBandRows = bandStats.getLong(1)
      val broadcastBandRowsMax = graft.config.ScaleGates.lshBroadcastBandRowsMax(spark)
      val broadcastSigRowsMax = graft.config.ScaleGates.lshBroadcastSigRowsMax(spark)
      val narrowSelfJoinBandRowsMin = graft.config.ScaleGates.lshNarrowSelfJoinBandRowsMin(spark)

      val nEx = banded.select(col("doc_id"), explode(col("bands")).as("__b"))
      // batch×batch candidate edges, by MEASURED batch size. The self-join
      // is merge-hinted either way (the [[Dedup]] corpus-scale self-join
      // rule): both sides are the same batch-sized frame, so a broadcast
      // build can never win — and a stats misestimate (range-generator
      // frames weigh 8 bytes/row to the planner, inherited through
      // localCheckpoint) measurably turned this into an 8.3 GiB broadcast
      // attempt of the exploded side at 500 k docs.
      //
      // CLASSIC plan (batch below the narrow-self-join gate):
      // signatures ride the band exchange — one shuffle, zero extra jobs.
      // NARROW plan (seed-scale batch): bare 16-byte (band, id) rows ride
      // the exchange — until round 15 each exploded row also carried the
      // k=64 signature (~530 bytes), so a seed's self-join shuffled
      // ~bands×530 B/doc (~68 GB at 8 M docs — the spill that
      // disk-blocked the r14 frontier's 8 M rung); the pair set is
      // materialized and signatures are fetched afterwards for the
      // colliding ids alone, broadcast-probed under the measured caps.
      val (nnEdges, selfJoinScratch) =
        if (batchBandRows <= narrowSelfJoinBandRowsMin) {
          val sEx = banded.select(
            col("doc_id"), col("sig"), explode(col("bands")).as("__b"))
          val edges = sEx.as("x").hint("merge").join(sEx.as("y"),
              col("x.__b") === col("y.__b") && col("x.doc_id") < col("y.doc_id"))
            .filter(estimatedJaccard(col("x.sig"), col("y.sig"), k) >= threshold)
            .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
            .distinct()
          (edges, Seq.empty[DataFrame])
        } else {
          // persist + gate-count (one pass) instead of eager checkpoint +
          // count (two) — the r16 job-floor cut, here and below
          val pairIds = nEx.as("x").hint("merge").join(nEx.as("y"),
                col("x.__b") === col("y.__b") && col("x.doc_id") < col("y.doc_id"))
              .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
              .distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          scratch += pairIds
          val pairCnt = pairIds.count()
          // the colliding-id set is bounded by 2×pairs, so a bounded pair
          // set broadcasts the id probe into one scan of the batch
          // signature frame — signatures never shuffle at all; and the
          // fetched slice (collision-bounded, << batch) broadcasts into
          // both sides of the pair verify, so the PAIR exchange carries
          // 16-byte rows too. A flood batch beyond the caps degrades to
          // shuffled joins whose widest exchange is one batch-sized
          // signature table — still bands× narrower than the pre-r15
          // exploded join.
          val sigsB = banded.select(col("doc_id"), col("sig"))
          val collIds = pairIds.select(col("a").as("doc_id"))
            .unionByName(pairIds.select(col("b").as("doc_id"))).distinct()
          val collSigs = (
            if (pairCnt * 2 <= broadcastBandRowsMax)
              sigsB.join(broadcast(collIds), Seq("doc_id"))
            else sigsB.join(collIds, Seq("doc_id")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          scratch += collSigs
          val collCnt = collSigs.count()
          val sigA = collSigs.select(col("doc_id").as("a"), col("sig").as("__sa"))
          val sigB = collSigs.select(col("doc_id").as("b"), col("sig").as("__sb"))
          val paired =
            if (collCnt <= broadcastSigRowsMax)
              pairIds.join(broadcast(sigA), Seq("a")).join(broadcast(sigB), Seq("b"))
            else pairIds.join(sigA, Seq("a")).join(sigB, Seq("b"))
          val edges = paired
            .filter(estimatedJaccard(col("__sa"), col("__sb"), k) >= threshold)
            .select(col("a"), col("b"))
          (edges, Seq(pairIds, collSigs))
        }
      // batch×store: min matched store REP per batch doc (matching a
      // suppressed store doc adopts ITS rep — cross-batch transitivity).
      // Candidates come from the NARROW band-index tree, partition-pruned
      // to the batch's colliding buckets (known before the store read) —
      // the store's 8 KB/doc signature rows never ride the band explosion
      // (~67 % of the incremental bill at 1 M history before this). The
      // batch band side is the bounded side of an UNEQUAL join (exempt
      // from the merge-hint audit: broadcasting it is legitimately
      // optimal); signatures are fetched ONLY for the distinct colliding
      // ids, whose bounded frame broadcasts against one narrow store scan.
      val idx = readPriorBands(spark, storePath, batchId)
        .filter(col("bucket").isin(batchBuckets: _*))
      // the candidate join is UNEQUAL (arrival << store history): when the
      // batch band-key side is bounded, BROADCAST it so the store index is
      // a pure pruned scan + hash probe — measured at 4M-doc history, the
      // unhinted SortMergeJoin exchanged the whole 64M-row index (~2.5 GB
      // shuffle, the dominant arrival cost); the probe-side broadcast
      // removes that exchange entirely and the arrival cost drops to the
      // index SCAN term. Above the cap (a bulk arrival, not a trickle),
      // the shuffled join is the right plan and AQE keeps it.
      val batchBands = nEx
      val candRaw =
        if (batchBandRows <= broadcastBandRowsMax)
          idx.join(broadcast(batchBands), Seq("__b"))
        else idx.join(batchBands, Seq("__b"))
      // materialize the candidate id pairs and pick the fetch plan by their
      // MEASURED size: an explicit broadcast keeps the store's signature
      // table out of the exchange entirely (AQE alone plans the fetch as a
      // sort-merge and only converts after BOTH map sides already shuffled
      // — at 4M-doc history that map side writes the whole ~1.5 GB sig
      // table before the conversion can see the tiny candidate count).
      // Degenerate flood batches (every doc matching thousands of store
      // rows) exceed the cap and take the shuffled join — correct, just
      // wide, exactly when the candidate side stops being small.
      val candIds = candRaw.select(col("doc_id"), col("__sid")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scratch += candIds
      val candCnt = candIds.count()
      val sigTable = store.select(col("doc_id").as("__sid"),
        col("sig").as("__ssig"), col("rep_id").as("__srep"))
      val fetched =
        if (candCnt <= broadcastBandRowsMax)
          sigTable.join(broadcast(candIds), Seq("__sid"))
        else sigTable.join(candIds, Seq("__sid"))
      // the verify join against the batch's own signatures: when the
      // fetched slice (≤ candCnt rows, sig-carrying) is bounded, broadcast
      // it so the batch signature frame is scanned in place rather than
      // exchanged — the same measured-size rule as the batch-side fetch
      val verifyJoined =
        if (candCnt <= broadcastSigRowsMax)
          banded.select(col("doc_id"), col("sig")).join(broadcast(fetched), Seq("doc_id"))
        else fetched.join(banded.select(col("doc_id"), col("sig")), Seq("doc_id"))
      val storeRep = verifyJoined
        .filter(estimatedJaccard(col("sig"), col("__ssig"), k) >= threshold)
        .groupBy(col("doc_id")).agg(min(col("__srep")).as("__crep"))

      val ccRes = Dedup.ccLabels(nnEdges, col("a"), col("b"))
      // the component closure is EAGER (its edge list materializes inside
      // the call), so the narrow path's scratch frames are consumed now —
      // free them before the batch-sized labeling joins below, not after
      // the write: at seed scale they pin ~0.7 GB of block-manager state
      // through the heaviest stage of the job
      selfJoinScratch.foreach(_.unpersist(false))
      // DRIVER TAIL (r16): when the closure fit the driver cap AND the
      // candidate set is bounded, the whole labeling tail is bounded
      // driver data — docs outside (closure nodes ∪ store-matched docs)
      // are their own survivors, so only the affected docs need labels.
      // One bounded collect of storeRep + a LongMap merge replaces FOUR
      // joins (two of them shuffles: the per-component min and the
      // label-back), and banded takes ONE broadcast left-join. Over-cap
      // batches (seed-scale, or flood candidates) keep the distributed
      // tail unchanged — same labeling by construction, spec-pinned.
      val driverCap = graft.config.ScaleGates.localCcEdgesMax(spark)
      val labeled: DataFrame = (ccRes, candCnt <= driverCap) match {
        case (Left(ccPairs), true) =>
          val compMap = scala.collection.mutable.LongMap.empty[Long]
          ccPairs.foreach { case (n, r) => compMap.update(n, r) }
          // per-component min store rep over the members that matched one
          val srep = storeRep.collect() // ≤ batch docs with a store match ≤ candCnt
          val groupMin = scala.collection.mutable.LongMap.empty[Long]
          srep.foreach { row =>
            val d = row.getLong(0); val sr = row.getLong(1)
            val c = compMap.getOrElse(d, d)
            val cur = groupMin.getOrElse(c, Long.MaxValue)
            if (sr < cur) groupMin.update(c, sr)
          }
          val affected = (compMap.keysIterator ++
            srep.iterator.map(_.getLong(0))).toArray.distinct
          val labels = affected.map { d =>
            val c = compMap.getOrElse(d, d)
            (d, groupMin.getOrElse(c, c))
          }
          import spark.implicits._
          labels.toSeq.toDF("doc_id", "rep_id")
        case _ =>
          val comp = ccRes.fold(
            pairs => { import spark.implicits._
              pairs.toSeq.toDF("node", "cluster_rep") },
            identity)
          val ids = banded.select(col("doc_id"))
          val compOf = ids
            .join(comp, ids("doc_id") === comp("node"), "left")
            .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("__comp"))
          // one store rep per component: the minimum any member matched
          val compRep = compOf.join(storeRep, Seq("doc_id"), "left")
            .groupBy(col("__comp")).agg(min(col("__crep")).as("__compSrep"))
          compOf.join(compRep, Seq("__comp"))
            .select(col("doc_id"),
              coalesce(col("__compSrep"), col("__comp")).as("rep_id"))
      }
      // left join + coalesce: on the driver tail only AFFECTED docs carry
      // a label row (everyone else is their own rep); on the distributed
      // tail every doc carries one, so the coalesce is a no-op there
      val bandedOut = banded
        .join(broadcastIfLocal(labeled.withColumnRenamed("rep_id", "__lab"),
          ccRes.isLeft && candCnt <= driverCap), Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"), col("sig"), col("bands"),
          coalesce(col("__lab"), col("doc_id")).as("rep_id"),
          (coalesce(col("__lab"), col("doc_id")) === col("doc_id")).as("survivor"))
      val shortOut = short
        .select(col("doc_id"), col("text"), col("sig"), col("bands"),
          col("doc_id").as("rep_id"), lit(true).as("survivor"))
      val out = bandedOut.unionByName(shortOut)

      // both trees in one commit; repartition(bucket) puts each bucket in
      // exactly one task = one file per bucket dir
      BatchStore.land(spark, storePath,
          Seq(s"batch=$batchId", s"$BandsTree/batch=$batchId")) { st =>
        out.write.parquet(st.at(s"batch=$batchId").toString)
        deriveBands(banded)
          .repartition(col("bucket"))
          .write.partitionBy("bucket")
          .parquet(st.at(s"$BandsTree/batch=$batchId").toString)
      }
      spark.read.parquet(s"$storePath/batch=$batchId")
        .select(col("doc_id"), col("text"), col("rep_id"), col("survivor"))
    } finally {
      // unpersist and Checkpoints.freeFrame are idempotent on already-freed
      // frames, so the eager success-path frees above stay: they release
      // block-manager memory BEFORE the heavy labeling stage rather than
      // merely eventually
      Checkpoints.freeFrame(banded)
      scratch.foreach(_.unpersist(false))
    }
  }

  /** Seed a LARGE corpus into the store as `chunks` bounded arrivals
    * through the incremental path itself, instead of one giant batch 0.
    * A one-shot seed's cost is front-loaded into a single batch whose
    * self-join must process every pair at once — at 16M docs on one
    * node, the final labeling join's sort-spill merge exhausts the
    * process fd ceiling (the r15 frontier blocker) — while the store's
    * measured arrival cost is near-FLAT in history (13.7/12.3/13.6/19.4 s
    * at 1M/2M/4M/8M), so k chunked arrivals cost ~k arrival floors plus
    * periodic compaction and never hold more than one chunk's pair set
    * in flight.
    *
    * Chunks are ID-ORDERED ranges (cuts from one approxQuantile pass
    * over the id column alone): emission order follows id order, so
    * first-seen rep == min-id rep and the chunked seed's survivor set
    * equals the one-shot's on any corpus where one-shot equality holds
    * at all (the monotonicity contract's bridge caveat applies equally
    * to both; spec-pinned, and the frontier bench gates a 2M-chunk
    * against an 8M-chunk composition at 16M docs).
    *
    * `compactEvery` folds committed chunks into the serving layout every
    * that-many chunks (and always once at the end) — safe mid-seed
    * because each chunk is fully committed when its call returns (the
    * compaction SAFETY CONTRACT). Returns the last batch id used;
    * continue arrivals at that + 1.
    */
  def seedLshChunked(
      spark: SparkSession, docs: DataFrame, id: Column, text: Column,
      storePath: String, chunks: Int, firstBatchId: Long = 0L,
      compactEvery: Int = 4,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
      shingleLen: Int = 3, seed: Long = 42L): Long = {
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    val keyed = docs.select(
      id.cast("long").as("doc_id"), text.cast("string").as("__text"))
    val cuts: Array[Long] =
      if (chunks == 1) Array.empty
      else keyed.stat.approxQuantile("doc_id",
        (1 until chunks).map(_.toDouble / chunks).toArray, 0.001)
        .map(_.toLong).distinct.sorted
    // ranges: (-inf, c0], (c0, c1], ..., (c_last, +inf) — disjoint,
    // covering, ascending; duplicate cuts collapse (skewed ids simply
    // yield fewer, larger chunks)
    val ranges: Seq[(Option[Long], Option[Long])] = {
      val los = None +: cuts.map(Some(_)).toSeq
      val his = cuts.map(Some(_)).toSeq :+ None
      los.zip(his)
    }
    var bid = firstBatchId
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val chunk = keyed
        .filter(lo.map(col("doc_id") > _).getOrElse(lit(true)) &&
          hi.map(col("doc_id") <= _).getOrElse(lit(true)))
      lshDedupBatch(spark, chunk, col("doc_id"), col("__text"), storePath,
        bid, threshold, k, bands, shingleLen, seed)
      val last = i == ranges.size - 1
      if (compactEvery > 0 && (last || (i + 1) % compactEvery == 0))
        compactStore(spark, storePath, upToBatch = bid)
      bid += 1
    }
    bid - 1
  }

  /** Read a store's accepted (surviving) corpus. */
  def survivors(spark: SparkSession, storePath: String): DataFrame = {
    val (fs, p) = BatchStore.fsPath(spark, storePath)
    BatchStore.heal(fs, p)
    spark.read.parquet(storePath)
      .filter(col("survivor"))
      .select(col("doc_id"), col("text"))
  }

  /** Compact the store: consolidate every `batch=<id>` partition with
    * id <= `upToBatch` into a single partition of `targetFiles` files
    * under the largest existing id <= `upToBatch`, in both trees (the
    * band index keeps its bucket layout, so the batch-bucket prune stays
    * valid over consolidated history), preserving later partitions
    * verbatim. A store fed hourly for months carries thousands of tiny
    * partitions whose listing and open costs come to dominate every
    * batch's read — the standard small-files decay of any append-only
    * layout.
    *
    * SAFETY CONTRACT: only compact batches the stream's checkpoint has
    * committed past. foreachBatch replays AT MOST the last uncommitted
    * batch after a crash, so `upToBatch = lastBatchId - 1` is always
    * safe while the stream is live (a replay of a COMPACTED id would
    * recreate its partition beside the consolidated copy and duplicate
    * its rows). Row content is untouched — doc_id, sig, bands, rep_id,
    * survivor all survive byte-identical, only physical layout changes,
    * so suppression semantics before and after compaction are equal
    * (spec-pinned).
    *
    * The consolidated index partition covers the consolidated main
    * batches EXACTLY: its rows are [[readPriorBands]]'s, so a legacy
    * batch without an index partition is derived into it — compaction
    * collapses batch identity, after which no per-batch fallback could
    * catch the gap. Crash safety: both trees land through one
    * [[BatchStore]] commit, which every reader ([[lshDedupBatch]],
    * [[survivors]], this method) rolls forward on entry.
    */
  def compactStore(
      spark: SparkSession, storePath: String, upToBatch: Long,
      targetFiles: Int = 8): Unit =
    BatchStore.compact(spark, storePath, upToBatch,
      BatchStore.Tree(targetFiles = targetFiles),
      BatchStore.Tree(BandsTree, partitionCols = Seq("bucket"),
        rows = Some(readPriorBands(spark, storePath, upToBatch + 1))))
}
