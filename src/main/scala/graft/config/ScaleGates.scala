package graft.config

import org.apache.spark.sql.SparkSession

/** The measured-size plan gates, consolidated. Every adaptive plan
  * choice in the incremental store family (and the connected-components
  * entry point) switches on a MEASURED size — batch band rows, store
  * bytes from one FS listing, collected-edge caps — never on a hope.
  * The defaults below were each derived by before/after measurement on
  * the development container (local[32], 32 cores, 128 GiB RAM, single
  * JVM, local SSD-backed filesystem; `SURVEY.md` §19 records the runs),
  * and the right values move with executor memory, broadcast limits,
  * and cluster fan-out — so every gate is overridable at runtime
  * through a Spark conf key, settable per session
  * (`spark.conf.set(ScaleGates.LocalCcEdgesMaxKey, "1000000")`) or at
  * submit time (`--conf spark.graft.gates.localCcEdgesMax=1000000`),
  * without touching call sites.
  *
  * Retuning rule of thumb at cluster scale: the broadcast caps bound a
  * HASH RELATION that must fit one executor beside its working set —
  * scale them with executor memory (the defaults assume ~4 GB of
  * headroom); the narrow-self-join and probe-bytes gates trade a fixed
  * driver-side plumbing cost (~5–6 s of localCheckpoint + gate-count
  * floors on this container) against a data-proportional exchange —
  * scale them with the measured plumbing floor of the target cluster
  * (more executors = cheaper exchange, so the break-even moves UP);
  * the local-CC cap bounds a driver collect — scale it with driver
  * memory (16 B/edge collected).
  */
object ScaleGates {

  /** Parse failures name the key (a bare NumberFormatException from deep
    * inside an operator is undebuggable at submit time), and negatives
    * are rejected up front: every gate is a size, and 0 already encodes
    * the "always take the distributed/classic path" setting the specs
    * rely on — a negative value would otherwise surface later as a
    * confusing Spark error (e.g. `limit(-N)` inside ccLabels).
    */
  private def longConf(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { raw =>
      val v =
        try raw.trim.toLong
        catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$key: cannot parse '$raw' as a long", e)
        }
      require(v >= 0, s"$key must be >= 0, got $v")
      v
    }.getOrElse(default)

  // ------------------------------------------------------------ LSH store

  /** Cap on batch band-key rows for the probe-side broadcast of the
    * LSH store's batch×store candidate join
    * (`IncrementalDedup.startLshDedup`). 4M rows ≈ 64 MB of
    * (band, doc_id) payload, a few hundred MB as a hash relation —
    * comfortably inside an executor. 4M band rows = a 250k-doc arrival
    * at the default bands=16; bulk arrivals beyond that take the
    * shuffled join, which is the right plan when the arrival stops
    * being the small side. Derivation: r14 frontier runs — the
    * broadcast probe held arrival cost flat (13.7/12.3/13.6/19.4 s at
    * 1M→8M history) where the shuffled join grew with history.
    */
  val LshBroadcastBandRowsMaxKey = "spark.graft.gates.lshBroadcastBandRowsMax"
  val LshBroadcastBandRowsMaxDefault = 4000000L
  def lshBroadcastBandRowsMax(spark: SparkSession): Long =
    longConf(spark, LshBroadcastBandRowsMaxKey, LshBroadcastBandRowsMaxDefault)

  /** Cap on SIGNATURE-carrying rows for the LSH store's broadcast fetch
    * joins (the colliding-id slices of the batch and store signature
    * tables): 1M rows × ~530 B (k=64 longs + id) ≈ 530 MB as payload —
    * the hash relation fits a reasonably-sized executor, and 1M
    * colliding docs per batch is already a flood regime where the
    * shuffled fallback is the right plan anyway.
    */
  val LshBroadcastSigRowsMaxKey = "spark.graft.gates.lshBroadcastSigRowsMax"
  val LshBroadcastSigRowsMaxDefault = 1000000L
  def lshBroadcastSigRowsMax(spark: SparkSession): Long =
    longConf(spark, LshBroadcastSigRowsMaxKey, LshBroadcastSigRowsMaxDefault)

  /** Band-row threshold above which the LSH batch self-join switches
    * from the CLASSIC plan (signatures ride the band exchange — ONE
    * shuffle, zero extra jobs) to the NARROW plan (bare 16-byte
    * (band, id) rows through the exchange, signatures fetched
    * afterwards for the colliding ids alone). 8M band rows = a 500k-doc
    * batch at bands=16, whose classic exchange is ~4 GB — fine; a
    * SEED-scale batch (8M docs = 128M band rows, ~68 GB classic
    * exchange, the spill that disk-blocked the r14 frontier) needs
    * narrow. Below the threshold the narrow plan's eager plumbing (two
    * localCheckpoint materializations + three gate counts) COSTS more
    * than the exchange it saves — measured at a 100k-doc arrival:
    * 16.3 s narrow vs 8.0 s classic wall, over half the narrow wall
    * being driver-side job floors. On a cluster the exchange
    * distributes while the job floors stay fixed, so the break-even
    * moves UP with executor count.
    */
  val LshNarrowSelfJoinBandRowsMinKey =
    "spark.graft.gates.lshNarrowSelfJoinBandRowsMin"
  val LshNarrowSelfJoinBandRowsMinDefault = 8000000L
  def lshNarrowSelfJoinBandRowsMin(spark: SparkSession): Long =
    longConf(spark, LshNarrowSelfJoinBandRowsMinKey,
      LshNarrowSelfJoinBandRowsMinDefault)

  // ------------------------------------------------------- semantic store

  /** Cap on counted batch vector rows for the semantic store's
    * batch-side broadcast (`IncrementalSemDedup`): under the cap the
    * batch's (cell, id, emb) rows broadcast into one pruned store scan
    * + hash probe, so the STORE side never exchanges — the classic plan
    * shuffled the store's embedding rows on a key of cardinality
    * ≤ nlist (history-sized AND skewed into few tasks). 1M rows ×
    * ~1.1 KB (256-dim float emb + id + cell) ≈ 1.1 GB as a hash
    * relation. Derivation: 55.5 → 16.4 s arrival at 1M history /
    * 50k-doc batches (3.4×; speedup vs naive 2.57× → 8.84×).
    */
  val SemBroadcastVecRowsMaxKey = "spark.graft.gates.semBroadcastVecRowsMax"
  val SemBroadcastVecRowsMaxDefault = 1000000L
  def semBroadcastVecRowsMax(spark: SparkSession): Long =
    longConf(spark, SemBroadcastVecRowsMaxKey, SemBroadcastVecRowsMaxDefault)

  // ---------------------------------------------------------- image store

  /** Cap on the batch's distinct (band, key) rows for the image store's
    * probe broadcast (`IncrementalImageDedup`): under the cap the set
    * broadcasts into one store scan with bands exploded in place (a
    * generator, not a shuffle) and equal hashes collapsed AFTER the
    * probe — killing the classic plan's TWO history-sized exchanges
    * (full-store groupBy(dh) collapse, then the band join). 4M rows ×
    * 16 B ≈ 64 MB payload. Derivation: locally neutral at 1M history
    * (4.16 → 4.20 s) — the win is the removed history exchanges, which
    * this container's store sizes cannot surface.
    */
  val ImageBroadcastBandRowsMaxKey =
    "spark.graft.gates.imageBroadcastBandRowsMax"
  val ImageBroadcastBandRowsMaxDefault = 4000000L
  def imageBroadcastBandRowsMax(spark: SparkSession): Long =
    longConf(spark, ImageBroadcastBandRowsMaxKey,
      ImageBroadcastBandRowsMaxDefault)

  // -------------------------------------------------------- segment store

  /** Store-size floor (BYTES at rest, from one driver-side FS listing —
    * `BatchStore.priorBytes`, no Spark job) above which the segment
    * store takes the probe-broadcast plan (`IncrementalSegmentDedup`):
    * batch fingerprints probe one store scan, the colliding slice
    * broadcasts into the anti-join, and the history-sized
    * (hash + segment text) exchange disappears. The probe path costs a
    * fixed plumbing floor (8 extra jobs: persist + gate counts + the
    * broadcast builds) — MORE than the exchange it saves at any locally
    * reachable store size, so local-scale stores keep the classic plan.
    * A production crawl store (tens of GB+) always probes.
    *
    * Derivation (r17 re-measure after the r16 plumbing cut removed the
    * probe path's two eager localCheckpoints; `StoreBench segment probe`,
    * warm JVM, 100k arrival, min of 2 reps): probe 7.43 s/16 jobs vs
    * classic 6.86 s/8 jobs at 1M history (291 MB at rest), probe
    * 7.76 s vs classic 5.87 s at 4M (1,164 MB) — the cut shrank the
    * probe's penalty from +5.2/+7.4 s (pre-cut, same rungs) to
    * +0.6/+1.9 s, and the classic plan shows NO measurable
    * store-proportional term up to 1.16 GB on this container (its
    * exchange rides the page cache at 32 local threads), so the local
    * break-even cannot be bracketed below 2 GiB by direct measurement —
    * the default stays at the floor-parity estimate. On a cluster the
    * exchange distributes while the probe's job floor stays fixed, so
    * the break-even moves UP with executor count (the retuning rule in
    * the object doc).
    */
  val SegmentStoreProbeBytesMinKey =
    "spark.graft.gates.segmentStoreProbeBytesMin"
  val SegmentStoreProbeBytesMinDefault = 2L << 30
  def segmentStoreProbeBytesMin(spark: SparkSession): Long =
    longConf(spark, SegmentStoreProbeBytesMinKey,
      SegmentStoreProbeBytesMinDefault)

  // ------------------------------------------------------ scratch persist

  /** Plan-estimated size cap (bytes) under which a multi-scan operator
    * persists its narrow scratch projection (MEMORY_AND_DISK) instead of
    * re-deriving it from the source scan on every pass
    * ([[graft.operators.Quantiles]]'s bracketing rounds, the LM / BM25
    * tokenize passes). Below the cap the persist turns R re-scans
    * (parquet decode + regex/projection CPU, R = rounds + 1) into one
    * materialization plus R cheap cached reads; above it the operator
    * keeps the stateless re-scan plan — a column-pruned parquet scan
    * streams, while a corpus-scale persist competes with execution
    * memory and churns spill (guide §5: cache only when recompute beats
    * the memory pressure). The estimate is the optimizer's
    * `stats.sizeInBytes` of the PROJECTED frame — an upper bound tied to
    * file bytes, available without running a job. Retuning rule: the cap
    * bounds storage-memory pressure per executor — scale it with
    * aggregate cluster storage memory (the 8 GiB default assumes the
    * single-JVM 128 GiB dev container; a cluster with N executors of
    * M GiB storage headroom can run with ~N·M/2).
    */
  val ScratchPersistBytesMaxKey = "spark.graft.gates.scratchPersistBytesMax"
  val ScratchPersistBytesMaxDefault = 8L << 30
  def scratchPersistBytesMax(spark: SparkSession): Long =
    longConf(spark, ScratchPersistBytesMaxKey, ScratchPersistBytesMaxDefault)

  // -------------------------------------------------- connected components

  /** Edge cap for the driver-local closure short-circuit of
    * `Dedup.connectedComponents`: 250k (a, b) longs collect to ~4 MB —
    * a bounded driver sip, and far above any trickle batch's edge set
    * (the composed-curation profile measured the distributed fixpoint
    * as the largest FIXED per-arrival cost: 3 jobs per alternating
    * round on kilobytes of edges; the short-circuit cut profiled jobs
    * per steady window 374 → 236). Corpus-scale edge sets exceed the
    * cap after one bounded limit-probe and take the
    * large-star/small-star fixpoint unchanged. Scale with driver
    * memory: 16 B/edge collected, so 250k ≈ 4 MB, 10M ≈ 160 MB.
    *
    * DUAL ROLE: the same cap also bounds the LSH store's driver-side
    * labeling tail (`IncrementalDedup.lshDedupBatch`) — when the edge
    * set fit the cap AND the candidate count is ≤ cap, the
    * store-representative aggregate collects to the driver and the
    * batch labels via an up-to-~cap-row LocalRelation broadcast instead
    * of a distributed join. Both structures are O(cap) driver rows of a
    * few dozen bytes each, so one knob sizes both; but raising the cap
    * to avoid a CC fixpoint also raises the labeling tail's driver
    * footprint proportionally. If those ever need to diverge, split the
    * tail onto its own key then.
    */
  val LocalCcEdgesMaxKey = "spark.graft.gates.localCcEdgesMax"
  val LocalCcEdgesMaxDefault = 250000L
  def localCcEdgesMax(spark: SparkSession): Long =
    longConf(spark, LocalCcEdgesMaxKey, LocalCcEdgesMaxDefault)
}
