package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SortableDoubleBitsExpr
import org.apache.spark.sql.types._

/** Exact grouped quantiles with BOUNDED aggregation state — the scale-safe
  * alternative to `percentile(...)`, whose partial aggregate buffers every
  * group value (a full per-group sort that cannot stream; the documented
  * ceiling on q_price_quantiles and the reason ADVICE r6 flagged the exact
  * percentile pattern).
  *
  * Algorithm: distributed selection by iterative histogram bracketing over
  * the ORDER-ISOMORPHIC BIT PATTERNS of the values
  * ([[SortableDoubleBitsExpr]]: `b ^ ((b >> 63) & Long.MaxValue)` of
  * `doubleToLongBits`, a signed-long total order that refines numeric
  * double order) — the classic k-th-order-statistic refinement, seeded by
  * a radix histogram instead of a (min, max) extent scan:
  *
  *  1. one SEED scan (r18): a fixed-domain radix histogram on the top
  *     `seedBits` bits of the sortable pattern, grouped by (group,
  *     bucket), carrying `(Σw, rows, min(bits), max(bits))` per bucket.
  *     Because the bit domain is data-independent, this single scan
  *     replaces the former per-group `(count, min, max)` extent scan AND
  *     the first refinement round — one fewer distributed pass + driver
  *     collect per invocation (guide §1.2: fewer passes). The weight sum
  *     doubles as the per-group `n`; a group's target ranks derive from
  *     it after the collect.
  *  2. per further round, one scan: each unresolved rank's bracket — an
  *     exact sortable-bits interval `[lo, hi]` tightened to the observed
  *     min/max of its rows — subdivides by the next `log2(buckets)` bits
  *     of `(bits - lo)`. O(brackets × buckets) driver state, never a
  *     function of n. The sub-bucket containing the target rank becomes
  *     the next bracket; min == max resolves DIRECTLY on the driver (the
  *     bit pattern IS the value — no leaf scan for single-valued
  *     brackets).
  *  3. one final scan: rows of each leaf bracket aggregate by DISTINCT
  *     value (duplicates collapse map-side) and the rank resolves by
  *     walking the sorted (value, Σw) run.
  *
  * A bracket leafs when its row count ≤ `maxLeafValues`. The min/max
  * tightening makes every post-seed round divide the bracket's OBSERVED
  * value span (exactly like the former adaptive-extent rounds, but in
  * integer bit space), so n ≤ maxLeafValues·buckets^(maxRounds-1) resolves
  * within `maxRounds` total histogram scans — the registered defaults
  * cover 67 M rows per group in two scans (seed + one round) and 68 G in
  * three, one scan FEWER than the r17 shape at every size. Every scan is
  * either a plain (group, bucket) aggregate (seed) or a broadcast join
  * against the tiny bracket table plus a map-side-combinable aggregate —
  * no shuffle ever carries per-row state, which is exactly what
  * `percentile` cannot say.
  *
  * Numeric discipline: bucketing, membership and descent all run in
  * INTEGER bit arithmetic (shifts and comparisons on the sortable
  * pattern) — no floating-point bucket-width division anywhere, so the
  * one-ulp boundary hazards of the former `floor((v-lo)/w)` scheme are
  * structurally gone. The only float operations left are the final
  * interpolation (`lo + (hi-lo)·t`, unchanged) and the leaf aggregate's
  * group-by-value, where Spark normalizes -0.0 to 0.0 exactly as the
  * former plan did. Because the sortable order refines numeric order
  * (equal doubles stay adjacent; -0.0 sorts one below +0.0 but resolves
  * through the same normalized leaf), every order statistic — and hence
  * every interpolated quantile — is IDENTICAL to the former scheme's.
  *
  * Contract: groups with at least one non-null, non-NaN value are emitted
  * as `(group, n, qs)` where `qs(i)` is the exact percentage `ps(i)`
  * order statistic with linear interpolation — `lower + (upper-lower)·
  * (rank - floor(rank))`, the `percentile`/`quantile_cont` definition.
  * Groups whose every row is dropped (all values null/NaN, or all weights
  * null/non-positive) are emitted as `(group, 0, NULL)`, matching
  * `percentile`'s grouped behavior — never silently omitted.
  */
object Quantiles {

  /** Bits of seed-histogram resolution BEYOND the per-round bits: the
    * seed bucket count is `buckets · 2^SeedExtraBits` (1024 → 65536
    * buckets = sign + full exponent + 4 mantissa bits). Rationale: the
    * seed divides the FIXED bit domain, not the observed span, so it
    * needs headroom to land realistic in-range data under
    * `maxLeafValues` rows per bucket in one scan; the driver collect
    * stays bounded by groups × OCCUPIED buckets (≤ distinct values, ≤
    * the bucket count — real corpora occupy a few hundred: contiguous
    * ranges touch ~2^SeedExtraBits buckets per power of two spanned).
    */
  private val SeedExtraBits = 6

  /** A bracket: one (group, order-statistic) target, narrowed each round
    * to an exact sortable-bits interval [lob, hib] (observed min/max of
    * its rows). `k` is the remaining rank in weight units within the
    * interval; `value` set = resolved on the driver (single distinct
    * value); `leaf` = resolve via the final by-value scan.
    */
  private final class Bracket(val g: Any, val origK: Long) {
    var k: Long = 0L
    var lob: Long = 0L
    var hib: Long = 0L
    var leaf: Boolean = false
    var value: Option[Double] = None
  }

  def exactGroupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      percentages: Seq[Double], buckets: Int = 1024,
      maxLeafValues: Int = 1 << 16, maxRounds: Int = 4,
      maxGroups: Int = 4096): DataFrame =
    exactWeightedQuantiles(df, groupCol, valueCol, None, percentages,
      buckets, maxLeafValues, maxRounds, maxGroups)

  /** Frequency-weighted form: each row counts `weightCol` times, exactly
    * as if it were repeated that many times before an unweighted run —
    * Spark's `percentile(v, p, frequency)` definition, which the spec
    * gates against. Non-positive-weight rows are DROPPED
    * (`percentile` throws on negative frequency; this operator filters —
    * the documented divergence, pinned by the spec), and `weightCol`
    * must already be an INTEGRAL column: a silent cast('long') used to
    * truncate fractional weights (0.7 → 0) and then drop those rows
    * entirely, so the operator now rejects float/double/decimal weights
    * at the API boundary — round or floor explicitly, as the registered
    * q_weighted_quantiles caller does. The corpus use: length-weighted
    * token/latency percentiles where a row stands for `n` underlying
    * events, so re-exploding would multiply the data `n`-fold — here
    * weights ride the SAME bounded histogram state. Rank search runs in
    * weight units; the leaf decision stays on ROW counts (the
    * collect-size bound), so a single heavy value with weight 10^9 still
    * leafs instantly.
    *
    * Driver-state contract: per-group bookkeeping (one Bracket per
    * (group, order statistic), plus each histogram's non-empty rows —
    * ≤ brackets × buckets per refinement round, ≤ groups × occupied seed
    * buckets for the seed scan, the latter bounded by `buckets ·
    * 2^SeedExtraBits` per group and in practice by the distinct values)
    * lives on the DRIVER — bounded in per-group n, but LINEAR in group
    * count. The operator targets low-cardinality grouping (dashboard
    * dimensions, return flags, label buckets); `maxGroups` (default
    * 4096) fails fast past that, where plain `percentile` — whose state
    * lives per-group on executors — is the right tool.
    *
    * Groups whose rows are ALL dropped (every value null/NaN, or every
    * weight null/non-positive) are emitted as `(group, 0, NULL)` —
    * matching `percentile`'s grouped behavior of emitting the group with
    * a NULL aggregate rather than silently omitting it.
    */
  def exactWeightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: Option[String], percentages: Seq[Double], buckets: Int = 1024,
      maxLeafValues: Int = 1 << 16, maxRounds: Int = 4,
      maxGroups: Int = 4096): DataFrame = {
    require(percentages.nonEmpty && percentages.forall(p => p >= 0.0 && p <= 1.0),
      s"percentages must be within [0, 1], got $percentages")
    require(buckets >= 2 && maxLeafValues >= 1 && maxRounds >= 1 && maxGroups >= 1)
    weightCol.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType,
        s"exactWeightedQuantiles: weightCol '$c' must be integral, got " +
          s"${dt.simpleString} — fractional weights would truncate (0.7 -> 0) " +
          "and sub-unit rows would vanish; floor()/round() and cast explicitly")
    }
    val spark = df.sparkSession
    val gField = df.schema(groupCol)
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val valid = col("v").isNotNull && !isnan(col("v")) && col("w").isNotNull &&
      col("w") > 0L
    // per-round sub-bucket bits (⌊log2⌋ so driver state stays within the
    // documented brackets × buckets bound) and seed resolution
    val histBits = 63 - java.lang.Long.numberOfLeadingZeros(buckets.toLong)
    val seedBits = math.min(histBits + SeedExtraBits, 30)
    // r17: the operator makes 1 + rounds passes over the same 3-column
    // projection (seed scan, then per-round histogram scans, leaf scan).
    // Under the scratch gate the projection persists ONCE, so the later
    // passes read cached narrow rows instead of re-decoding the source
    // scan (guide §5 cache rule; the first action — the seed scan —
    // materializes it, no extra pass). NOT widened: a repartition-up
    // was measured to EXPLODE the histogram exchange (partial-agg rows
    // scale as tasks × keyspace: 32 tasks × 18k (bid, bucket) keys put
    // 458k rows / 6.6 MB through an exchange that carries 2.8k rows at
    // scan-native parallelism) and its own 6.7 MB shuffle on top. Over
    // the gate: unchanged stateless re-scans (column-pruned parquet
    // streams; a corpus-scale persist would churn spill). Passes and
    // arithmetic are identical either way.
    val (raw, releaseScratch) = Checkpoints.scratchPersist(
      df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"),
        w.as("w")))
    try {
    // sortable bit pattern, null for dropped rows (null/NaN value, null or
    // non-positive weight) — every later pass filters on sk IS NOT NULL
    val withSk = raw.select(col("g"), col("v"), col("w"),
      when(valid, SortableDoubleBitsExpr.sortableBits(col("v"))).as("sk"))

    // SEED scan (merged extent + first histogram): radix histogram on the
    // top seedBits of the fixed bit domain — needs no per-group extent.
    // Dropped rows land in the NULL bucket, so all-dropped groups still
    // surface (and emit (group, 0, NULL)) instead of disappearing. The
    // arithmetic shift keeps seed bucket ids in signed sortable order.
    val seedRows = withSk
      .groupBy(col("g"), shiftright(col("sk"), 64 - seedBits).as("bucket"))
      .agg(sum(col("w")).as("ws"), count(col("sk")).as("nr"),
        min(col("sk")).as("lo"), max(col("sk")).as("hi"))
      .collect()
    val byGroup = seedRows.groupBy(_.get(0))
    require(byGroup.size <= maxGroups,
      s"exactWeightedQuantiles: ${byGroup.size} groups exceeds maxGroups=" +
        s"$maxGroups — driver state is O(groups × percentages × buckets); " +
        "this operator targets low-cardinality grouping (use percentile() " +
        "for high-cardinality groupCols, or raise maxGroups deliberately)")
    // per group: non-null seed buckets ascending = the value-ordered runs
    // (ws, nr, lo, hi); n = Σ ws in weight units
    val runsByGroup: Map[Any, Array[(Long, Long, Long, Long)]] =
      byGroup.view.mapValues { rows =>
        rows.filterNot(_.isNullAt(1)).sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      }.toMap
    val emptyGroups = runsByGroup.filter(_._2.isEmpty).keys.toSeq
    val stats: Seq[(Any, Long)] = runsByGroup.toSeq
      .filter(_._2.nonEmpty)
      .map { case (g, runs) => (g, runs.map(_._1).sum) }

    // target ranks per group: r = (n-1)·p needs order statistics ⌊r⌋ and ⌈r⌉
    val ranks: Map[Any, Seq[Double]] =
      stats.map { case (g, n) =>
        g -> percentages.map(p => (n - 1).toDouble * p)
      }.toMap
    val neededKs: Map[Any, Seq[Long]] =
      ranks.map { case (g, rs) =>
        g -> rs.flatMap(r => Seq(math.floor(r).toLong, math.ceil(r).toLong)).distinct
      }

    // walk a bucket run for remaining rank k (weight units): the bucket
    // holding it, as (k within bucket, rows, lo, hi)
    def locate(runs: IndexedSeq[(Long, Long, Long, Long)],
        k0: Long): (Long, Long, Long, Long) = {
      var cum = 0L
      var i = 0
      var res: (Long, Long, Long, Long) = null
      while (res == null && i < runs.length) {
        val (ws, nr, lo, hi) = runs(i)
        if (k0 < cum + ws) res = (k0 - cum, nr, lo, hi) else cum += ws
        i += 1
      }
      if (res == null) throw new IllegalStateException(
        s"rank $k0 not found in histogram (total weight $cum)")
      res
    }
    // narrow bracket b to the located bucket: min == max resolves the
    // exact double from its bit pattern right here (no leaf scan);
    // otherwise the child interval is the bucket's OBSERVED [lo, hi]
    def descend(b: Bracket, kin: Long, nr: Long, lo: Long, hi: Long): Unit = {
      b.k = kin
      if (lo == hi) b.value = Some(SortableDoubleBitsExpr.invert(lo))
      else {
        b.lob = lo; b.hib = hi
        if (nr <= maxLeafValues) b.leaf = true
      }
    }

    val brackets = stats.flatMap { case (g, _) =>
      neededKs(g).map { k =>
        val b = new Bracket(g, k)
        val (kin, nr, lo, hi) = locate(runsByGroup(g).toIndexedSeq, k)
        descend(b, kin, nr, lo, hi)
        b
      }
    }

    // descriptor table for the broadcast join: one representative per
    // distinct (g, lob, hib) — ⌊r⌋/⌈r⌉ rank pairs (and at low spread,
    // different percentiles) share intervals, so the join never
    // multiplies source rows by ranks-per-group (the r17 ×6 finding).
    // LocalRelation, not parallelize: broadcasting an RDD-backed frame
    // runs a collect JOB per round to rebuild rows the driver already
    // holds — a LocalTableScan broadcast builds driver-side with none.
    val descSchema = StructType(Seq(
      StructField("did", IntegerType), StructField("bg", gField.dataType),
      StructField("lob", LongType), StructField("hib", LongType),
      StructField("bshift", IntegerType)))
    def descriptors(bs: Seq[Bracket]): Seq[(Bracket, Int)] =
      bs.groupBy(b => (b.g, b.lob, b.hib)).values.map(_.head).toSeq.zipWithIndex
    def descFrame(ds: Seq[(Bracket, Int)]): DataFrame = {
      val rows = ds.map { case (b, did) =>
        // sub-bucket window: high enough that ((hib-lob) >> bshift) <
        // buckets; span is non-negative (seed buckets never mix signs —
        // the sign bit is part of the seed prefix)
        val span = b.hib - b.lob
        val bshift = math.max(0,
          64 - java.lang.Long.numberOfLeadingZeros(span) - histBits)
        Row(did, b.g, b.lob, b.hib, bshift)
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, descSchema)
    }
    // bracket membership: an exact closed interval in sortable-bit space
    val member: Column = col("sk") >= col("lob") && col("sk") <= col("hib")

    // refinement rounds: one histogram scan narrows EVERY active bracket
    // (the seed scan was round 1)
    var active = brackets.filter(b => !b.leaf && b.value.isEmpty)
    var round = 1
    while (active.nonEmpty && round < maxRounds) {
      round += 1
      val ds = descriptors(active)
      val descOf: Map[(Any, Long, Long), Int] =
        ds.map { case (b, did) => (b.g, b.lob, b.hib) -> did }.toMap
      val hist = withSk
        .join(broadcast(descFrame(ds)), col("g") <=> col("bg") && member)
        .groupBy(col("did"),
          expr("shiftright(sk - lob, bshift)").as("sub"))
        .agg(sum(col("w")).as("ws"), count(lit(1)).as("nr"),
          min(col("sk")).as("lo"), max(col("sk")).as("hi"))
        .collect()
        .groupBy(_.getInt(0))
      active.foreach { b =>
        val runs = hist.getOrElse(descOf((b.g, b.lob, b.hib)), Array.empty[Row])
          .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5))))
          .sortBy(_._1).map(_._2).toIndexedSeq
        val (kin, nr, lo, hi) = locate(runs, b.k)
        descend(b, kin, nr, lo, hi)
      }
      active = brackets.filter(b => !b.leaf && b.value.isEmpty)
    }
    // rounds exhausted with brackets still wide: resolve them exactly
    // anyway (correct, just a larger final collect) — maxRounds bounds
    // SCANS, never correctness
    active.foreach(_.leaf = true)

    // final scan: leaf-bracket rows aggregate by distinct value; the rank
    // walks the sorted run on the driver (deduplicated like the rounds:
    // floor/ceil rank pairs share their leaf interval, so the distinct
    // descriptor set is typically half the bracket count or less).
    // Driver-resolved brackets (value already set) don't participate.
    val leaves = brackets.filter(b => b.value.isEmpty)
    if (leaves.nonEmpty) {
      val ds = descriptors(leaves)
      val descOf: Map[(Any, Long, Long), Int] =
        ds.map { case (b, did) => (b.g, b.lob, b.hib) -> did }.toMap
      val byValue = withSk
        .join(broadcast(descFrame(ds)), col("g") <=> col("bg") && member)
        .groupBy(col("did"), col("v")).agg(sum(col("w")).as("wsum"))
        .collect()
        .groupBy(_.getInt(0))
      leaves.foreach { b =>
        val run = byValue.getOrElse(descOf((b.g, b.lob, b.hib)), Array.empty[Row])
          .map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
        var rem = b.k
        var out = Option.empty[Double]
        for ((v, c) <- run if out.isEmpty) {
          if (rem < c) out = Some(v) else rem -= c
        }
        b.value = out
        assert(out.isDefined, s"bracket (${b.g}, ${b.origK}) resolved no value")
      }
    }

    val resolveMap: Map[(Any, Long), Double] =
      brackets.map(b => ((b.g, b.origK), b.value.get)).toMap

    // rows ascend by group (nulls first, as orderBy sorts), not in the
    // iteration order of the driver's hash maps
    val groupOrder = TypeUtils.getInterpretedOrdering(gField.dataType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(gField.dataType)
    val outRows = (stats.map { case (g, n) =>
      val qs = ranks(g).map { r =>
        val k0 = math.floor(r).toLong
        val k1 = math.ceil(r).toLong
        val lo = resolveMap((g, k0))
        val hi = resolveMap((g, k1))
        lo + (hi - lo) * (r - k0)
      }
      Row(g, n, qs)
    } ++ emptyGroups.map(g => Row(g, 0L, null)))
      .map(r => (Option(toCatalyst(r.get(0))), r))
      .sortBy(_._1)(Ordering.Option(groupOrder)).map(_._2)
    val outSchema = StructType(Seq(
      StructField(groupCol, gField.dataType, gField.nullable),
      StructField("n", LongType, nullable = false),
      StructField("qs", ArrayType(DoubleType), nullable = true)))
    // LocalRelation output (same rationale as descFrame: no one-partition
    // RDD job when the caller materializes)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(outRows.toSeq.asJava, outSchema)
    } finally releaseScratch()
  }

  /** Composite-key form: group by several columns at once. The columns
    * pack into one struct for the selection core (struct equality is
    * null-safe value equality, so every mechanism — the grouping, the
    * bracket broadcast join, the driver maps — carries over unchanged)
    * and unpack in the output, which keeps the original column names
    * beside `(n, qs)`.
    */
  def exactGroupedQuantiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, percentages: Seq[Double], buckets: Int = 1024,
      maxLeafValues: Int = 1 << 16, maxRounds: Int = 4,
      maxGroups: Int = 4096): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    if (groupCols.sizeIs == 1)
      return exactGroupQuantiles(df, groupCols.head, valueCol, percentages,
        buckets, maxLeafValues, maxRounds, maxGroups)
    val packed = df.select(
      struct(groupCols.map(col).toSeq: _*).as("__g"),
      col(valueCol).as("__v"))
    exactGroupQuantiles(packed, "__g", "__v", percentages,
        buckets, maxLeafValues, maxRounds, maxGroups)
      .select(groupCols.map(c => col("__g").getField(c).as(c)) ++
        Seq(col("n"), col("qs")): _*)
  }
}
