package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation (SURVEY.md §2.5
  * D1/D2 generalized to the training-data-pipeline north star).
  *
  * Scale design: every operator here is shuffle-minimal —
  *  - exact dedup is one hash aggregate on the key;
  *  - MinHash signatures/SimHash fingerprints are computed in a single
  *    codegen'd projection per row (higher-order array functions, no
  *    explode, no UDF), so the only shuffle is the LSH band-bucket
  *    self-join, which touches candidate pairs instead of the O(n²) cross
  *    product;
  *  - verification joins carry only (id, shingles) pairs, never full rows.
  */
object Dedup {

  /** D1/D2 exact dedup: deterministic keep-lowest-tiebreak representative
    * per key (the reference's hash-set membership drop,
    * src/resilient_scraper.py:352-358, made distributed + idempotent).
    *
    * Shape: min-over-struct aggregate, NOT a row_number window. Struct
    * min/max plans as a SORT-based aggregate (struct buffers are not
    * hash-aggregable), but the partial side still combines map-side: each
    * task sorts ITS input and ships one candidate per key it saw, so
    * shuffle volume drops by the duplication factor — the window instead
    * shuffles every duplicate row and sorts them all post-shuffle.
    * Selection is also stronger: a tied tiebreak falls through to
    * payload-struct comparison (deterministic), where row_number on a
    * tied orderBy picks whichever row the shuffle delivered first.
    *
    * `payload` = the columns the caller actually needs back (default: all
    * of df's). The aggregate buffers and shuffles the payload per
    * candidate, so pruning here is pruning the shuffle; every payload
    * column must be an ORDERABLE type (maps are not — exclude them).
    */
  def exact(df: DataFrame, key: Column, tiebreak: Column,
      payload: Seq[String] = Seq.empty): DataFrame = {
    val cols = if (payload.nonEmpty) payload else df.columns.toSeq
    df.groupBy(key.as("__k"))
      .agg(min(struct(tiebreak.as("__tb"),
        struct(cols.map(col): _*).as("__row"))).as("__m"))
      .select(col("__m.__row.*"))
  }

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Distinct n-token shingles ("w1 w2 w3" strings). Documents shorter than
    * n tokens yield an empty array (the `when` guard also keeps `slice`
    * from seeing a negative length, which throws under ANSI mode).
    *
    * Implementation note: shingle k-grams are built by zipping n shifted
    * `slice`s of the token array, NOT by `element_at` lookups inside a
    * `transform` lambda — a lambda re-evaluates any outer expression it
    * captures once per element, so the element_at formulation re-ran the
    * whole regex tokenization O(tokens²) times per row (20s for 5k docs at
    * sf0.1; this shape is ~100x cheaper).
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(tokens(text), n)

  /** [[wordShingles]] over an already-computed token array. Callers on a
    * hot path should materialize the token array as its own projection
    * first (`withColumn("__toks", tokens(text))`) so the tokenization runs
    * once per row — this expression references its input ~n+2 times, and
    * CollapseProject will not inline a non-trivial alias that many times.
    */
  def shinglesOfTokens(ts: Column, n: Int = 3): Column = {
    val m = size(ts) - (n - 1) // shingle count
    val shifted = (0 until n).map(k => slice(ts, lit(k + 1), m))
    when(size(ts) >= n,
      array_distinct(
        transform(arrays_zip(shifted: _*),
          s => concat_ws(" ", (0 until n).map(k => s.getField(k.toString)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Jaccard similarity of two array columns (distinct-element semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    coalesce(inter / nullif(uni, lit(0.0)), lit(0.0))
  }

  // ---------------------------------------------------------------- MinHash

  /** Modulus for the universal-hash permutation family: prime > 2^32 keeps
    * residues below 2^32, and with multipliers < 2^30 the product stays
    * well inside signed-64 range (no silent overflow in codegen'd
    * arithmetic).
    */
  private val MinHashP = 4294967311L

  /** Deterministic permutation parameters (seeded — identical plan every
    * run, a requirement for the driver's reproducibility checks).
    * `private[graft]` so the oracle-SQL generator embeds the SAME constants
    * (shared-constant discipline — the engines cannot drift).
    */
  private[graft] def perms(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Array.fill(k)(1L + rnd.nextInt((1 << 30) - 1).toLong)
    val bs = Array.fill(k)(rnd.nextInt(1 << 30).toLong)
    (as, bs)
  }

  /** The modulus, exposed for the oracle-SQL generator. */
  private[graft] def minHashModulus: Long = MinHashP

  /** The default (production) shingle hash: xxhash64 folded into [0, p).
    * Full 64-bit spread before the fold — the right choice when nothing
    * external needs to re-derive signatures.
    */
  private def defaultShingleHash(s: Column): Column = pmod(xxhash64(s), lit(MinHashP))

  /** MinHash signature (k longs) of a shingle-array column, computed in one
    * aggregate pass: sig[i] = min over shingles of (a_i * h(s) + b_i) mod p.
    *
    * `shingleHash` defaults to xxhash64 mod p (production). Pass
    * [[graft.functions.TextFunctions.fingerprint]] for the portable
    * Karp–Rabin variant: values stay below 2^30 (~30 bits of entropy per
    * shingle — ample for min-selection), but every step is reproducible in
    * ANSI SQL, so an external engine re-derives the signatures bit-for-bit
    * (q_minhash_pairs' oracle does exactly that; same trade as
    * [[simHash]]'s tokenHash).
    */
  def minHashSignature(shingles: Column, k: Int = 64, seed: Long = 42L,
      shingleHash: Column => Column = defaultShingleHash): Column = {
    val (as, bs) = perms(k, seed)
    val pa = lit(as)
    val pb = lit(bs)
    val hashes = transform(shingles, s => shingleHash(s))
    aggregate(
      hashes,
      array_repeat(lit(Long.MaxValue), k),
      (acc, x) => zip_with(
        zip_with(pa, pb, (a, b) => pmod(a * x + b, lit(MinHashP))),
        acc,
        (h, m) => least(h, m)))
  }

  /** LSH band hashes: signature split into `bands` bands of `k/bands` rows,
    * each band hashed to one long. Docs sharing any band hash are candidate
    * near-duplicates.
    */
  def lshBandHashes(signature: Column, k: Int = 64, bands: Int = 16): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(signature, b * r + 1, lit(r))))
  }

  /** Portable LSH band keys: `"<band>:<v1>,<v2>,…"` strings instead of
    * xxhash64 band hashes. Key equality is EXACTLY slice equality (decimal
    * rendering of longs is injective; the band index prefix stops
    * cross-band collisions), so the candidate set is identical to what a
    * band-hash join yields minus hash collisions — and an external SQL
    * engine reproduces it verbatim (`array_to_string(list_slice(sig…))`).
    * The keys are wider than 8-byte hashes (~r·20 chars), acceptable
    * shuffle overhead for the verifiable variant; production stays on
    * [[lshBandHashes]].
    */
  def lshBandKeys(signature: Column, k: Int = 64, bands: Int = 16): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(":", b.cast("string"),
        concat_ws(",", transform(slice(signature, b * r + 1, lit(r)), _.cast("string")))))
  }

  /** End-to-end MinHash LSH near-duplicate pairs: signature → band buckets →
    * bucket self-join (keyed on (band, hash), carrying IDS AND SIZES ONLY) →
    * count-based exact Jaccard verification on the candidates. Returns
    * (id_a, id_b, jaccard) with id_a < id_b, deduplicated across bands.
    *
    * Verification is the [[prefixJaccardPairs]] shape: no shingle ARRAY
    * ever crosses a join. The band join ships (id, n, band) rows — a
    * previous formulation duplicated each document's full shingle array
    * across all `bands` band rows through the exchange and then carried
    * TWO arrays per candidate pair into an `array_intersect`, a linear
    * 16× shuffle-freight constant this shape deletes. Candidate pairs
    * re-join the exploded (doc, shingle) stream with a map-side-combinable
    * count to recover c = |A∩B| (shingle arrays are distinct, so the match
    * count IS the intersection size), and jaccard = c / (na + nb − c) —
    * the same double, to the bit, as size(∩)/size(∪), which is what keeps
    * the q_minhash_pairs oracle hash unchanged across the rewrite.
    *
    * `portable = true` swaps the xxhash64 shingle hash for the Karp–Rabin
    * fold and the band hashes for value-rendering string keys, making every
    * step — tokenize, shingle, hash, permute, min, band, bucket-join,
    * Jaccard — reproducible in ANSI SQL: the q_minhash_pairs oracle
    * re-derives the signatures in DuckDB from the same `perms(k, seed)`
    * constants and must agree on the full pair set bit-for-bit. The
    * candidate-generation MECHANISM (banded bucket join) is identical in
    * both modes; only the hash family differs, so the oracle genuinely
    * gates the LSH machinery, not a parallel implementation.
    */
  def minHashNearDuplicates(
      df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
      shingleLen: Int = 3, seed: Long = 42L,
      portable: Boolean = false,
      maxBandBucketQuantile: Option[Double] = None): DataFrame = {
    require(threshold > 0.0,
      s"minHashNearDuplicates: threshold must be > 0 (count-based " +
        s"verification drops zero-overlap candidates), got $threshold")
    // Empty-shingle docs (shorter than shingleLen tokens) all hash to the
    // identity signature [Long.MaxValue]*k, i.e. the SAME band buckets — on a
    // real corpus (many short docs) that one bucket makes the self-join
    // quadratic. They can never be near-dups anyway (jaccard(∅,·) = 0), so
    // drop them before the band explode. The guard is expressed on the
    // TOKEN count, not on size(shingles): a filter on the shingle array
    // would be predicate-pushed below the projection and re-inline the
    // whole shingle expression into the scan filter (it more than tripled
    // this operator's runtime before the rewrite).
    val shingleHash: Column => Column =
      if (portable) graft.functions.TextFunctions.fingerprint(_) else defaultShingleHash
    val bandCol =
      if (portable) lshBandKeys(col("__sig"), k, bands)
      else lshBandHashes(col("__sig"), k, bands)
    // Materialized once: four downstream branches read this frame (the
    // band join's two sides and the verification stream's two sides).
    // Without the checkpoint each branch would re-scan the source and
    // re-run tokenize+shingle — four corpus scans where one suffices.
    val docs = Checkpoints.materializeFrame(
      df.select(id.as("__id"), tokens(text).as("__toks"))
        .filter(size(col("__toks")) >= shingleLen)
        .select(col("__id"), shinglesOfTokens(col("__toks"), shingleLen).as("__sh")))
    val base = docs
      .withColumn("__sig", minHashSignature(col("__sh"), k, seed, shingleHash))
      .select(col("__id"), size(col("__sh")).as("__n"),
        explode_outer(bandCol).as("__band"))
    // Opt-in hot-bucket guard (the nearDuplicatePairsExact
    // maxShingleDfQuantile shape): m documents landing in one band bucket
    // contribute m²/2 candidate rows on that join key, so a degenerate
    // corpus — boilerplate-heavy, or un-pre-deduped exact copies — goes
    // quadratic on its hottest buckets. The cap drops (band, bucket)s
    // whose size exceeds the given quantile of the OBSERVED bucket-size
    // distribution before the self-join. One-sided trade: a dropped
    // bucket only removes candidates (recall loss confined to pairs whose
    // every shared band is outlier-hot), never adds a spurious pair. The
    // default None keeps the exact LSH pair set — the q_minhash_pairs
    // oracle verifies that path; DedupSpec pins the capped form on a
    // planted degenerate corpus. Pipeline discipline still applies: run
    // exact dedup FIRST (as CurationQueries.curationE2e does) so identical
    // documents never reach the band join at all.
    val banded = maxBandBucketQuantile match {
      case None => base
      case Some(q) =>
        val sizes = base.groupBy(col("__band")).agg(count(lit(1)).as("__bs"))
        val capRow = sizes.agg(expr(s"percentile(__bs, $q)").as("__cap"))
        val kept = sizes.join(broadcast(capRow),
            col("__bs").cast("double") <= col("__cap"))
          .select(col("__band"))
        base.join(kept, Seq("__band"))
    }
    val a = banded.select(col("__id").as("id_a"), col("__n").as("__na"), col("__band"))
    val b = banded.select(col("__id").as("id_b"), col("__n").as("__nb"), col("__band"))
    // `merge` hint on every corpus-scale SELF-join in this file: both
    // sides are by construction the same corpus-sized frame, so a
    // broadcast build can never win — yet a stats misestimate (measured:
    // a range-generator corpus weighs 8 bytes/row to the planner, and
    // localCheckpoint's LogicalRDD inherits the estimate) made the
    // planner attempt an 8.3 GiB broadcast of the exploded side at
    // n=500k. At 100 TB that is a guaranteed job abort on estimate
    // drift; the hint pins the shuffled join the operator is designed
    // around (one exchange, reused by both sides) with zero answer
    // change.
    val cand = a.hint("merge").join(b, Seq("__band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb")).distinct()
    // count-based verification: recover c = |A∩B| by re-joining the
    // candidates against the exploded (doc, shingle) stream. explode_outer
    // for the InferFiltersFromGenerate reason documented at
    // [[nearDuplicatePairsExact]]; the null __s rows die in the equi-join.
    // A hash-collision candidate with zero common shingles loses every
    // match row and drops out of the inner join — jaccard 0 < threshold,
    // exactly what the array formulation's filter did.
    //
    // Join order matters: cand joins FIRST (left side), so when the
    // candidate set is broadcast-sized — the common case after banding —
    // AQE builds the hash relation from cand and the exploded stream
    // passes through both joins with ZERO exchanges; only the matched
    // rows reach the (map-side-combined) count aggregate. When candidates
    // outgrow broadcast the joins degrade to shuffles of the exploded
    // stream — linear in corpus token volume, vs the array formulation's
    // 16× band freight plus two arrays per candidate pair.
    val ex = docs.select(col("__id"), explode_outer(col("__sh")).as("__s"))
    val exA = ex.select(col("__id").as("id_a"), col("__s"))
    val exB = ex.select(col("__id").as("id_b"), col("__s"))
    cand.join(exA, Seq("id_a")).join(exB, Seq("id_b", "__s"))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__c"))
      .select(col("id_a"), col("id_b"),
        (col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT near-duplicate pairs via an inverted-index (shared-shingle)
    * self-join — the deterministic counterpart of [[minHashNearDuplicates]],
    * suitable for an external SQL oracle. Correctness: any pair with
    * jaccard >= threshold > 0 shares at least one shingle, so the
    * shingle-keyed join loses nothing; and because shingle arrays are
    * distinct, the per-pair join match count c IS |A∩B|, giving
    * jaccard = c / (|A| + |B| − c) with no array intersection at all.
    *
    * Scale shape: one explode + one shuffle keyed on the shingle + one
    * hash aggregate on (id_a, id_b). Candidate volume is bounded by shingle
    * co-occurrence (not O(n²)) — except at hot "stop shingles": a phrase
    * shared by d documents contributes d·(d−1)/2 candidate rows on that one
    * join key, so a single boilerplate phrase across a corpus goes
    * quadratic. `maxShingleDf` is the production guard: shingles whose
    * document frequency exceeds the cap are dropped before the self-join
    * (computed with one extra aggregate + join on the same key, so no new
    * shuffle shape). The trade is one-sided: a dropped shingle can only
    * REMOVE join matches, so with the cap on, reported jaccard is a lower
    * bound of the true value and pairs can be missed (recall loss on pairs
    * whose overlap is mostly stop-shingles) but never spuriously added.
    *
    * `maxShingleDfQuantile` is the scale-aware form of the cap: the cap
    * becomes the given quantile of the OBSERVED df distribution (one tiny
    * extra aggregate, broadcast as a single row), so only the outlier-hot
    * tail — exactly the keys that go quadratic — is dropped, whatever the
    * corpus. A constant cap cannot serve two corpora: 4 binds correctly
    * on a corpus whose duplicate clusters have df <= 7 and silently
    * erases EVERY pair on one with 16-to-25-member near-dup clusters
    * (measured on the sf0.1 documents table). With the quantile at 0.999,
    * candidate work is bounded by cap·Σdf with cap tracking the corpus's
    * own tail, and recall loss is confined to pairs whose overlap lives
    * entirely in top-0.1 % shingles.
    *
    * Default None/None keeps the exact pair set — the SQL oracle verifies
    * that path; DedupSpec's planted-hot-shingle tests pin both capped
    * forms.
    */
  def nearDuplicatePairsExact(
      df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.5, shingleLen: Int = 3,
      maxShingleDf: Option[Int] = None,
      maxShingleDfQuantile: Option[Double] = None): DataFrame = {
    require(maxShingleDf.isEmpty || maxShingleDfQuantile.isEmpty,
      "nearDuplicatePairsExact: set maxShingleDf or maxShingleDfQuantile, not both")
    // explode_outer, not explode: for a plain explode the optimizer's
    // InferFiltersFromGenerate rule adds a size(__sh) > 0 filter and then
    // pushes it below the projections, re-inlining the entire shingle
    // expression into the scan filter (~3x this operator's cost). The
    // outer variant infers nothing; the empty-shingle rows it keeps carry
    // a null __s, which the equi-join below drops anyway.
    // (r17 note: a scratch checkpoint of `sh` was measured here and
    // REVERTED — unlike prefixJaccardPairs' four consumers, this shape
    // has 2–3 cheap re-derivations and its cost lives in the pair
    // self-join exchange, so the checkpoint only added a job; it also
    // taxed q_curation_e2e, whose input is already materialized.)
    val sh = df.select(id.as("__id"), tokens(text).as("__toks"))
      .select(col("__id"), shinglesOfTokens(col("__toks"), shingleLen).as("__sh"))
      .select(col("__id"), col("__sh"), size(col("__sh")).as("__n"))
    val exAll = sh.select(col("__id"), col("__n"), explode_outer(col("__sh")).as("__s"))
    // Stop-shingle pruning: keep only shingles whose document frequency is
    // within the cap. Shingle arrays are distinct per doc, so count(*) per
    // shingle IS its document frequency. The inner equi-join also drops the
    // null rows explode_outer kept for empty-shingle docs.
    val ex = (maxShingleDf, maxShingleDfQuantile) match {
      case (None, None) => exAll
      case (Some(cap), _) =>
        val kept = exAll.groupBy(col("__s"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
          .select(col("__s"))
        exAll.join(kept, Seq("__s"))
      case (None, Some(q)) =>
        // the null __s rows explode_outer kept (empty-shingle docs) form a
        // pseudo-group that must not pollute the df distribution
        val dfCounts = exAll.filter(col("__s").isNotNull)
          .groupBy(col("__s")).agg(count(lit(1)).as("__df"))
        // exact interpolated percentile (cross-engine: DuckDB
        // quantile_cont uses the same type-7 definition — proven by
        // q_price_quantiles), broadcast as one row
        val capRow = dfCounts.agg(
          expr(s"percentile(__df, $q)").as("__cap"))
        val kept = dfCounts.join(broadcast(capRow),
            col("__df").cast("double") <= col("__cap"))
          .select(col("__s"))
        exAll.join(kept, Seq("__s"))
    }
    val a = ex.select(col("__id").as("id_a"), col("__n").as("__na"), col("__s"))
    val b = ex.select(col("__id").as("id_b"), col("__n").as("__nb"), col("__s"))
    // corpus-scale self-join: merge-hinted (see the band-join note)
    a.hint("merge").join(b, Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("jaccard",
        round(col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT near-duplicate pairs via PREFIX FILTERING — the AllPairs /
    * PPJoin family (Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW'07; Xiao, Wang, Lin & Yu, "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW'08). Same
    * contract and output as [[nearDuplicatePairsExact]] (bit-for-bit: the
    * filters below are LOSSLESS for jaccard >= threshold), but the
    * candidate join touches only each document's PREFIX shingles instead
    * of all of them.
    *
    * Why this is the sharper scale shape: under a global rarest-first
    * shingle order, a document with n shingles only needs its first
    * p = n − ⌈t·n⌉ + 1 shingles indexed — any pair with jaccard >= t
    * must collide inside both prefixes (prefix-filter theorem: the
    * first common shingle in global order sits within both). At t=0.8
    * that indexes ~20 % of each document, and because the global order is
    * document-frequency ASCENDING, prefixes concentrate on the RAREST
    * shingles — exactly the join keys with the smallest df² candidate
    * blowup. The boilerplate "stop shingles" that force
    * [[nearDuplicatePairsExact]]'s df-cap guard land at the END of the
    * order and never enter the index at all, so the hot-key quadratic
    * failure mode is designed out rather than capped out.
    *
    * Three stacked LOSSLESS filters on the candidate join:
    *  1. prefix filter — join keyed on prefix shingles only;
    *  2. length filter — t·na <= nb and t·nb <= na (a size-imbalanced
    *     pair cannot reach t);
    *  3. positional filter (PPJoin) — a prefix collision at 1-based
    *     positions (pa, pb) caps the achievable overlap at
    *     1 + min(na−pa, nb−pb), which must reach the minimum overlap
    *     ⌈t/(1+t)·(na+nb)⌉. Applied per collision; a qualifying pair's
    *     FIRST common shingle always passes (all its common shingles sit
    *     at or after that position in both prefixes).
    * Verification restricts the COUNT-BASED intersection
    * ([[nearDuplicatePairsExact]]'s identity jaccard = c/(na+nb−c)) to
    * the candidate set: candidates re-join the exploded shingle stream on
    * (doc, shingle) and a map-side-combinable count recovers c — no
    * shingle ARRAY ever crosses a join (an earlier array-fetch-and-
    * compare verification shuffled two ~100-element arrays per candidate
    * and was 2–3× slower at sf0.1).
    *
    * Epsilon slack (1e-9) on every real-valued bound keeps float rounding
    * from STRENGTHENING an integer threshold (ceil(t·n) computed as
    * 2.0000000001 would shorten the prefix and lose recall); slack only
    * ever weakens a filter, which costs candidates, never correctness.
    * The candidate filters additionally run at threshold − 5e-5 (the
    * 4-decimal rounding quantum): verification keeps round(j, 4) >= t,
    * which admits true jaccard down to t − 5e-5, so losslessness must
    * cover that window too (see [[prefixCandidates]]).
    *
    * Cost vs [[nearDuplicatePairsExact]]: one extra df aggregate and one
    * per-doc sort of its own shingles (bounded by document length). The
    * payoff grows with threshold and with boilerplate skew; see
    * DedupSpec's measured candidate-count comparison.
    *
    * Block retention: each invocation checkpoints its size-gated
    * doc-grain shingle scratch; the localCheckpoint blocks live until
    * driver GC (the returned frame consumes them — no eager release
    * possible). Many in-flight results hold one gated block set each;
    * see [[Retrieval.bm25TopK]] for the same convention.
    */
  def prefixJaccardPairs(
      df: DataFrame, id: Column, text: Column,
      threshold: Double, shingleLen: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardPairs: threshold must be in (0, 1], got $threshold")
    // explode_outer, not explode/size-filter — the
    // InferFiltersFromGenerate re-inlining trap documented at
    // [[nearDuplicatePairsExact]]; null __s rows die in the equi-joins
    // r17: the exploded shingle stream feeds FOUR consumers (the df
    // aggregate, the prefix-index build, and both sides of the
    // verification join) — left declarative, each re-derived the
    // tokenize+shingle projection from the source scan (probe: three
    // extra full-text exchanges per run). Checkpoint the DOC-grain
    // shingle arrays once under the scratch size gate; every consumer
    // explodes from the cached arrays.
    val sh = Checkpoints.materializeScratch(
      df.select(id.as("__id"), tokens(text).as("__toks"))
        .select(col("__id"), shinglesOfTokens(col("__toks"), shingleLen).as("__sh"))
        .select(col("__id"), col("__sh"), size(col("__sh")).as("__n")))
    val ex = sh.select(col("__id"), col("__n"), explode_outer(col("__sh")).as("__s"))
    val cand = prefixCandidates(ex, threshold)
    val exA = ex.select(col("__id").as("id_a"), col("__s"))
    val exB = ex.select(col("__id").as("id_b"), col("__s"))
    cand.join(exA, Seq("id_a")).join(exB, Seq("id_b", "__s"))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("jaccard",
        round(col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidate (id_a, id_b, __na, __nb) pairs of [[prefixJaccardPairs]] —
    * the state of the join AFTER the prefix/length/positional filters and
    * BEFORE exact verification. `private[graft]` so DedupSpec can measure
    * candidate counts against the full inverted-index join.
    *
    * Input: the EXPLODED shingle stream (__id, __n, __s) — possibly with
    * null __s rows from explode_outer; they die in the df join here.
    */
  private[graft] def prefixCandidates(
      ex: DataFrame, threshold: Double): DataFrame = {
    val eps = 1e-9
    // The verification filter keeps pairs by round(jaccard, 4) >=
    // threshold, which admits TRUE jaccard down to threshold − 5e-5 —
    // but the prefix/length/positional filters are only lossless for
    // true jaccard >= threshold. A pair in that half-open rounding
    // window (reachable once shingle counts hit ~1e4, i.e. long
    // documents) would pass the exact path's rounded filter yet be
    // pruned here, diverging from [[nearDuplicatePairsExact]]. Loosen
    // every candidate-side bound by the rounding quantum: losslessness
    // then covers everything the rounded verification can admit, at the
    // cost of a few extra candidates (one-sided, correctness-safe).
    val t0 = math.max(threshold - 5e-5 - eps, 1e-6)
    // Global order = (document frequency ASC, shingle ASC): rarest first,
    // deterministic. Positions are per-document ranks under that order —
    // derived by sorting each doc's own (df, shingle) structs, so no
    // global rank assignment (no sort of the full shingle universe) is
    // ever materialized.
    val dfs = ex.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    val prefix = ex.join(dfs, Seq("__s"))
      .groupBy(col("__id"), col("__n"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__s")))).as("__ord"))
      // p = n − ⌈t·n⌉ + 1 prefix shingles suffice for jaccard ≥ t
      .withColumn("__p",
        (col("__n") - ceil(lit(t0) * col("__n") - lit(eps)) + 1)
          .cast("int"))
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), col("__p"))).as(Seq("__pos0", "__e")))
      .select(col("__id"), col("__n"),
        (col("__pos0") + 1).as("__pos"), col("__e.__s").as("__s"))
    val pa = prefix.select(col("__id").as("id_a"), col("__n").as("__na"),
      col("__pos").as("__pa"), col("__s"))
    val pb = prefix.select(col("__id").as("id_b"), col("__n").as("__nb"),
      col("__pos").as("__pb"), col("__s"))
    val t = lit(t0)
    // corpus-scale self-join: merge-hinted (see the band-join note)
    pa.hint("merge").join(pb, Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      // length filter: size-imbalanced pairs cannot reach t
      .filter(col("__nb").cast("double") >= t * col("__na") - lit(eps) &&
        col("__na").cast("double") >= t * col("__nb") - lit(eps))
      // positional filter: overlap ubound from this collision must reach
      // the minimum overlap t/(1+t)·(na+nb)
      .filter((lit(1) + least(col("__na") - col("__pa"),
        col("__nb") - col("__pb"))).cast("double") >=
        t / (lit(1.0) + t) * (col("__na") + col("__nb")) - lit(eps))
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb")).distinct()
  }

  // ------------------------------------------------ components / clusters

  /** Connected components over an undirected pair list — the step that
    * turns near-duplicate PAIRS into dedup CLUSTERS: every node gets the
    * minimum node id reachable from it (`cluster_rep`), so "keep one per
    * cluster" is the filter `node == cluster_rep`. This is the canonical
    * final stage of MinHash/SimHash dedup (a pair list alone over-deletes:
    * dropping the greater id of every pair can eliminate BOTH members of
    * a triangle's edges — components make the keep-set decision
    * per-cluster, exactly one survivor each).
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * GraphFrames production algorithm), replacing the min-label
    * propagation of earlier rounds whose round count was ∝ diameter(G).
    * The edge list itself is rewritten each round, both halves a
    * join + hash aggregate over it:
    *
    *  - large-star(u): every neighbor LARGER than u re-points to the
    *    minimum of u's closed neighborhood — long chains fold onto their
    *    local minima;
    *  - small-star(u): u and its smaller neighbors all re-point to the
    *    smallest of them — stars flatten to depth 1.
    *
    * Both steps preserve connectivity and never create a new minimum, and
    * the joint fixpoint is one depth-1 star per component rooted at the
    * component MINIMUM (edges are kept canonical larger→smaller, so at
    * the fixpoint the b-side IS `cluster_rep`). Convergence is
    * O(log diameter) alternating rounds (DedupSpec pins a diameter-64
    * chain at ≤ 9) versus diameter rounds for label propagation — the
    * difference between 6 and 64 shuffle rounds on a 100 TB corpus with
    * one adversarial boilerplate chain. `maxIterations` still bounds the
    * loop, and non-convergence RAISES rather than returning a silently
    * half-merged clustering. Per-round [[Checkpoints.materializeFrame]]
    * truncates the logical plan (the iterated self-reference would
    * otherwise grow the lineage exponentially and planning, not
    * execution, becomes the bottleneck); the superseded round's blocks
    * are freed eagerly, so the loop holds at most two edge-set copies.
    *
    * Scale shape: each round shuffles the EDGE list only — (long, long)
    * pairs, never text or embeddings — twice (once per star step), plus
    * the distinct; edge count is bounded by the original m throughout
    * (each step emits ≤ one edge per input edge, deduplicated).
    */
  /** Canonical larger→smaller edge list — the shared input of both
    * closure paths (self-pairs carry no information).
    */
  private def canonEdges(pairs: DataFrame, src: Column, dst: Column): DataFrame =
    pairs
      .select(greatest(src.cast("long"), dst.cast("long")).as("a"),
        least(src.cast("long"), dst.cast("long")).as("b"))
      .filter(col("a") =!= col("b"))

  def connectedComponents(
      pairs: DataFrame, src: Column, dst: Column,
      maxIterations: Int = 20): DataFrame = {
    // measured-size short-circuit (the store-family plan discipline): a
    // batch-scale edge set union-finds on the driver in microseconds —
    // ONE CollectLimit job versus 2 + 3·rounds distributed jobs whose
    // scheduling floors dominate at trickle size. The labeling is the
    // same canonical node → min(component) the fixpoint converges to,
    // so the two paths are output-identical (spec-pinned both ways).
    // Cap via [[graft.config.ScaleGates.localCcEdgesMax]] (conf-tunable;
    // 16 B/edge collected). Probe/persist mechanics live in [[ccLabels]].
    val spark = pairs.sparkSession
    ccLabels(pairs, src, dst, maxIterations) match {
      case Left(labels) =>
        import spark.implicits._
        labels.toSeq.toDF("node", "cluster_rep")
      case Right(df) => df
    }
  }

  /** The closure with the path EXPOSED: `Left(node → rep pairs)` when the
    * edge set fit the driver cap (the caller can then keep its whole
    * labeling tail on the driver — [[IncrementalDedup.lshDedupBatch]]'s
    * r16 driver-tail cut), `Right(frame)` when the fixpoint ran
    * distributed. Same labeling either way.
    */
  private[operators] def ccLabels(
      pairs: DataFrame, src: Column, dst: Column,
      maxIterations: Int = 20): Either[Array[(Long, Long)], DataFrame] = {
    val spark = pairs.sparkSession
    val cap = graft.config.ScaleGates.localCcEdgesMax(spark)
    require(cap <= Int.MaxValue - 1, s"localCcEdgesMax too large: $cap")
    val canon = canonEdges(pairs, src, dst)
    // persist() BEFORE the probe so the two paths share ONE execution of
    // the upstream pair pipeline: the limit-probe runs every ancestor
    // shuffle map stage in full, and without the cache an over-cap edge
    // set would then re-execute the entire pipeline from scratch inside
    // the fixpoint — doubling the most expensive stage of exactly the
    // largest jobs. With the cache, partitions the probe computed are
    // reused and only the ones its incremental CollectLimit skipped run
    // in the fixpoint; the trickle path pays nothing beyond the block
    // bookkeeping (its probe IS the full computation).
    canon.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probe = canon.limit(cap.toInt + 1).collect()
      if (probe.length > cap) Right(ccFixpoint(canon, maxIterations)._1)
      else {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        probe.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
        }
        val nodes = parent.keysIterator.toArray
        Left(nodes.map(n => (n, find(n))))
      }
    } finally {
      // safe on both paths: the local result is driver data, and the
      // fixpoint's first move materializes localContract(canon) — no
      // descendant of the raw canon executes after either returns
      canon.unpersist(blocking = false)
    }
  }

  /** Partition-local union-find contraction — the zero-shuffle pre-pass
    * in front of the global large-star/small-star fixpoint. Each task
    * unions the edges it already holds and emits one spanning STAR per
    * local component (node → local minimum), so k locally-connected
    * edges collapse to (distinct local nodes − 1) before the first
    * global round ever shuffles. Contracting edges never changes
    * connectivity (the union of per-partition spanning stars connects
    * exactly what the originals did), and the fixpoint's output is the
    * CANONICAL node → min(component) labeling — so the result is
    * bit-identical with or without the pre-pass (spec-pinned, and the
    * q_dedup_clusters oracle replays the closure independently).
    * Pair generators feed edges still partitioned by their candidate
    * keys (shared shingles / bands / cells), which co-locates much of
    * each cluster's edge fan — exactly the mass worth collapsing early;
    * path-compressed union-find keeps the local pass O(α·edges) with
    * state bounded by the partition's distinct nodes.
    */
  private def localContract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a").as[Long], col("b").as[Long]).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by MIN root — the root IS the local component minimum,
        // so emission needs no second sweep
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      // snapshot the keys before the emission sweep: find()'s path
      // compression may insert a previously value-only root, and LongMap
      // mutation during keysIterator is undefined
      val nodes = parent.keysIterator.toArray
      nodes.iterator.map(n => (n, find(n))).filter { case (n, r) => n != r }
    }.toDF("a", "b")
  }

  /** [[connectedComponents]] plus the number of alternating rounds it
    * took — the observable the convergence-rate spec pins.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, src: Column, dst: Column,
      maxIterations: Int = 20): (DataFrame, Int) =
    ccFixpoint(canonEdges(pairs, src, dst), maxIterations)

  /** The distributed fixpoint over an already-canonical edge frame —
    * split from [[connectedComponentsWithRounds]] so the over-cap path
    * of [[connectedComponents]] can feed it the SAME (persisted) canon
    * frame its limit-probe just executed, instead of re-deriving and
    * re-executing the upstream pair pipeline from scratch.
    */
  private def ccFixpoint(
      canon: DataFrame, maxIterations: Int): (DataFrame, Int) = {
    // the local contraction pre-pass preserves canonicity: star edges
    // point node → a strictly smaller local min
    var e = Checkpoints.materializeFrame(localContract(canon).distinct())
    var eCount = e.count()
    var it = 0
    var converged = false
    while (!converged && it < maxIterations) {
      // large-star: u's larger neighbors re-point to min(Γ⁺(u))
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mnAll = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = Checkpoints.materializeFrame(sym.join(mnAll, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), least(col("mn"), col("u")).as("b"))
        .distinct())
      // small-star: u and its smaller neighbors re-point to their min
      // (edges are canonical a > b, so N_small(a) is just the b side)
      val mnSmall = ls.groupBy(col("a").as("u")).agg(min(col("b")).as("mn"))
      val ss = Checkpoints.materializeFrame(
        ls.join(mnSmall, ls("a") === mnSmall("u"))
          .filter(col("b") =!= col("mn"))
          .select(col("b").as("a"), col("mn").as("b"))
          .unionByName(mnSmall.select(col("u").as("a"), col("mn").as("b")))
          .distinct())
      Checkpoints.freeFrame(ls)
      val ssCount = ss.count()
      converged = ssCount == eCount &&
        ss.join(e, Seq("a", "b"), "left_anti").isEmpty
      Checkpoints.freeFrame(e)
      e = ss
      eCount = ssCount
      it += 1
    }
    if (!converged && eCount > 0) {
      // release the live edge copy before raising — the error path must
      // not leak executor storage (or reliable-checkpoint files) that
      // only session teardown would otherwise reclaim
      Checkpoints.freeFrame(e)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIterations rounds — " +
          "raise maxIterations")
    }
    // fixpoint edges are one star per component rooted at its minimum
    val result = e.select(col("a").as("node"), col("b").as("cluster_rep"))
      .unionByName(
        e.select(col("b").as("node"), col("b").as("cluster_rep")).distinct())
    (result, it)
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash fingerprint of a token-array column: per-token hash,
    * per-bit +1/−1 vote, sign → bit. One aggregate pass, fully codegen'd.
    *
    * `tokenHash` defaults to xxhash64 (full 64-bit spread — the production
    * choice). Pass [[graft.functions.TextFunctions.fingerprint]] for the
    * portable Karp–Rabin variant: its values stay below 2^30, so bits
    * 30-63 can never vote positive and the fingerprint carries 30 bits of
    * entropy — but every step is reproducible in ANSI SQL, which lets an
    * external engine verify the vote/assemble machinery bit-for-bit
    * (q_simhash's oracle does exactly that).
    */
  def simHash(tokenArr: Column, tokenHash: Column => Column = xxhash64(_)): Column = {
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(
      transform(tokenArr, t => tokenHash(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitIdx,
        (a, kk) => a + when((call_function("shiftrightunsigned", h, kk.cast("int"))
          .bitwiseAND(lit(1L))) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitIdx, (v, kk) =>
        when(v > 0, call_function("shiftleft", lit(1L), kk.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Rotate a 64-bit fingerprint left by `k` bits (k in 1..63). */
  private def rotl64(x: Column, k: Int): Column =
    call_function("shiftleft", x, lit(k))
      .bitwiseOR(call_function("shiftrightunsigned", x, lit(64 - k)))

  /** SimHash near-duplicate pairs via Charikar's sorted-rotation
    * candidates (the sub-quadratic path this file's SimHash section
    * promises): two fingerprints within Hamming distance d agree on long
    * bit runs, so after SOME rotation they sort adjacently — explode each
    * doc into `rotations` rotated copies, sort within each rotation, and
    * only compare each row to its previous `window` neighbors. Candidate
    * volume is rotations · window · n instead of n²/2; exact Hamming
    * verification then keeps only true pairs (candidates are a superset
    * heuristic, recall rises with rotations/window — the planted-pair
    * spec pins it at the defaults). Hamming-0 pairs bypass the heuristic
    * entirely via an exact fingerprint equi-join, so exact-duplicate
    * clusters of ANY size report every pair. Token-less documents all
    * fingerprint to 0 — no shared content, yet pairwise "hamming 0" — so
    * they are dropped up front (the same degenerate-input guard as
    * [[minHashNearDuplicates]]'s empty-shingle filter; without it the
    * equi-join goes quadratic on that one key).
    *
    * Scale shape: fingerprints are 8 bytes/doc; ONE range exchange on
    * (rotation, value) spreads every rotation over many partitions (no
    * task holds a whole rotation), `sortWithinPartitions` puts each chunk
    * in Charikar order, and the neighbor scan is a per-partition
    * `mapPartitions` sliding buffer — no second shuffle (a window keyed
    * by anything would force one; this is the file's one justified
    * mapPartitions beside the model/decoder runners).
    *
    * Boundary recovery: the sliding scan cannot see pairs straddling a
    * range-partition edge. A second consumer of the SAME range exchange
    * (deduped by plan-level exchange reuse) emits each partition's
    * leading and trailing same-rotation runs — at most `window` rows
    * each — and a join of tail(p) × head(p+1) at combined sorted
    * distance <= window restores exactly the pairs the per-partition
    * scan missed. The recovery is exact for adjacent partitions; a pair
    * can still be lost only if a MIDDLE partition holds fewer than
    * `window` rows of the boundary rotation (possible only under extreme
    * key skew, where the values are near-identical and the hamming-0
    * equi-join already covers the cluster exactly).
    */
  def simHashNearDuplicates(
      df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, rotations: Int = 8, window: Int = 4,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    // > 64 rotations would truncate step to 0 and silently make every
    // rotation the identity (Spark masks shift amounts to 6 bits): the
    // caller would pay rotations x the cost for rotations=1 coverage
    require(rotations >= 1 && rotations <= 64 && 64 % rotations == 0,
      s"rotations must divide 64, got $rotations")
    require(window >= 1, s"window must be >= 1, got $window")
    // The fingerprint table feeds THREE subplans (both sides of the
    // hamming-0 equi-join and the rotation exchange); without a shuffle
    // boundary each one rescans the corpus and recomputes tokenization +
    // simHash — the expensive pass — from scratch. The narrow
    // repartition materializes (id, fp) — 16 bytes/doc — once, and
    // plan-level exchange reuse serves every consumer from it.
    //
    // Two deliberate shapes make the reuse actually fire (pushdown walks
    // straight through RepartitionByExpression, so any predicate the
    // equi-join INFERS lands below the exchange and de-canonicalizes one
    // copy — before this fix the join side's scan filter carried the
    // ENTIRE simHash tree as isnotnull(aggregate(...)), evaluated per
    // row on top of the projection that already computes it):
    //  - coalesce(fp, 0L) marks the fingerprint NON-NULLABLE (the branch
    //    never fires: simHash of a non-empty token array is never null),
    //    so no isnotnull(fp) is inferred at all;
    //  - the explicit id.isNotNull filter subsumes the isnotnull(id) the
    //    join's id comparisons would otherwise infer (a null-id document
    //    has no meaningful pair identity anyway).
    // The non-empty gate is the BASE-column predicate rlike("\S") —
    // exactly size(tokens(..)) > 0: tokens splits on regex \s+ and keeps
    // non-empty pieces, so "has a token" == "has a char outside \s", and
    // rlike's \S is the same Java regex class (NOT trim, which strips
    // only ASCII spaces and would let tab/newline-only docs through to
    // fingerprint 0L — the quadratic degenerate key this gate exists to
    // drop); null drops either way. Filtering on the projected token
    // array instead would predicate-push the whole split+filter tree
    // into the scan stage and tokenize every row twice — once below the
    // widen exchange on the scan's task, once in the fingerprint
    // projection. PlanSpec pins one documents scan in the final plan.
    val fps = df.filter(text.rlike("\\S") && id.isNotNull)
      .select(id.as("__id"), tokens(lower(text)).as("__toks"))
      .select(col("__id"),
        coalesce(simHash(col("__toks"), tokenHash), lit(0L)).as("__fp"))
      .repartition(col("__id"))
    // Identical fingerprints sort by __id in EVERY rotation (equal values
    // everywhere), so extra rotations recover nothing for them and the
    // neighbor scan only sees pairs within `window` steps — an exact-dup
    // cluster of more than window+1 docs would silently lose its far
    // pairs. Hamming-0 pairs are instead generated EXACTLY by an
    // equi-join on the fingerprint (output size for an n-cluster is
    // n(n-1)/2 pairs — quadratic because the answer is).
    val fa = fps.select(col("__id").as("id_a"), col("__fp"))
    val fb = fps.select(col("__id").as("id_b"), col("__fp"))
    // corpus-scale self-join: merge-hinted (see the band-join note)
    val exactPairs = fa.hint("merge").join(fb, Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    val step = 64 / rotations
    val sorted = fps.select(col("__id"), col("__fp"),
      explode(array((0 until rotations).map { r =>
        struct(lit(r).as("rot"),
          (if (r == 0) col("__fp") else rotl64(col("__fp"), r * step)).as("rv"))
      }: _*)).as("__r"))
      .select(col("__r.rot").as("__rot"), col("__r.rv").as("__rv"),
        col("__id"), col("__fp"))
      .repartitionByRange(col("__rot"), col("__rv"))
      .sortWithinPartitions(col("__rot"), col("__rv"), col("__id"))
    val idType = sorted.schema("__id").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ia", idType),
      org.apache.spark.sql.types.StructField("ib", idType),
      org.apache.spark.sql.types.StructField("hamming",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val rawPairs = sorted.mapPartitions { it =>
      // sliding buffer of the previous `window` rows of the sorted chunk;
      // each row pairs with buffered predecessors of the SAME rotation
      val buf = new scala.collection.mutable.ArrayDeque[(Int, Any, Long)]()
      it.flatMap { row =>
        val rot = row.getInt(0)
        val rid = row.get(2)
        val fp = row.getLong(3)
        val out = buf.iterator.collect {
          case (prot, pid, pfp) if prot == rot =>
            org.apache.spark.sql.Row(pid, rid, java.lang.Long.bitCount(pfp ^ fp))
        }.toVector
        buf.append((rot, rid, fp))
        if (buf.size > window) buf.removeHead()
        out
      }
    }
    val cands = rawPairs
      .select(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("hamming"))
      .filter(col("id_a") < col("id_b"))
    // edge runs: kind 0 = the partition's first rows (its leading
    // rotation only), pos = 1-based distance from the partition START;
    // kind 1 = last rows (trailing rotation), pos = distance from the
    // END. The global predecessors of head row q in partition p+1 are
    // the tail rows i of partition p with i + q <= window + 1.
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("pidx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("erot",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("eid", idType),
      org.apache.spark.sql.types.StructField("efp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val eenc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(edgeSchema)
    val edges = sorted
      .select(spark_partition_id().as("__pidx"), col("__rot"), col("__id"), col("__fp"))
      .mapPartitions { it =>
        val head = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        val tail = new scala.collection.mutable.ArrayDeque[(Int, Any, Long)]()
        var pidx = -1
        var headRot = Int.MinValue
        var lastRot = Int.MinValue
        it.foreach { row =>
          pidx = row.getInt(0)
          val rot = row.getInt(1)
          val rid = row.get(2)
          val fp = row.getLong(3)
          if (headRot == Int.MinValue) headRot = rot
          if (rot == headRot && head.size < window) {
            head += org.apache.spark.sql.Row(0, pidx, head.size + 1, rot, rid, fp)
          }
          if (rot != lastRot) { tail.clear(); lastRot = rot }
          tail.append((rot, rid, fp))
          if (tail.size > window) tail.removeHead()
        }
        val n = tail.size
        head.iterator ++ tail.iterator.zipWithIndex.map { case ((rot, rid, fp), j) =>
          org.apache.spark.sql.Row(1, pidx, n - j, rot, rid, fp)
        }
      }(eenc)
    val heads = edges.filter(col("kind") === 0)
      .select(col("pidx").as("__hp"), col("pos").as("__q"),
        col("erot").as("__hrot"), col("eid").as("__hid"), col("efp").as("__hfp"))
    val tails = edges.filter(col("kind") === 1)
      .select(col("pidx").as("__tp"), col("pos").as("__i"),
        col("erot").as("__trot"), col("eid").as("__tid"), col("efp").as("__tfp"))
    val boundary = tails.join(heads,
        col("__tp") + 1 === col("__hp") && col("__trot") === col("__hrot") &&
          col("__i") + col("__q") <= window + 1)
      .select(
        least(col("__tid"), col("__hid")).as("id_a"),
        greatest(col("__tid"), col("__hid")).as("id_b"),
        bit_count(col("__tfp").bitwiseXOR(col("__hfp"))).as("hamming"))
      .filter(col("id_a") < col("id_b"))
    cands.unionByName(boundary)
      .filter(col("hamming") <= maxHamming)
      .unionByName(exactPairs)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }
}
