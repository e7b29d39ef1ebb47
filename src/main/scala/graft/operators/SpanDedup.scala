package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Character-level duplicate-SPAN detection — the "exact substring dedup"
  * of Lee et al., ''Deduplicating Training Data Makes Language Models
  * Better'' (ACL 2022), re-expressed relationally: a position is
  * duplicated when its k-char gram occurs in at least two distinct
  * documents. Word- and paragraph-grain dedup (Dedup / Curation) miss
  * these: a 300-char boilerplate footer pasted mid-sentence into
  * otherwise-distinct pages is invisible to whole-doc keys and shingle
  * Jaccard below threshold, but every one of its positions lights up
  * here.
  *
  * Scale shape (the suffix-array build of the paper is replaced by
  * grouping, Spark's native strength):
  *
  *  - '''Grams never shuffle.''' Each position ships as a 128-bit
  *    composite hash (two independent xxhash64 probes) plus (doc, pos) —
  *    ~24 bytes/row regardless of k. Collision risk at the composite key
  *    is ~n²/2¹²⁹ (≈10⁻¹⁴ even at 10¹² positions); the DuckDB oracle
  *    groups by the RAW gram, so any collision would surface as a hash
  *    mismatch — none ever has.
  *  - '''Two cheap scans instead of a cache.''' The position projection
  *    is recomputed for the candidate filter and the semi-join rather
  *    than materialized — at 100 TB a narrow double-scan beats caching
  *    position-grain data ~k× the corpus size.
  *  - '''No pair join anywhere.''' A gram duplicated across m documents
  *    costs m rows, never m² — hot boilerplate grams are linear by
  *    construction (contrast: the banded dedup family needs explicit hot
  *    bucket guards).
  *  - '''Integer-exact coverage.''' Duplicated-span char coverage per doc
  *    is the union of equal-length intervals: with positions sorted,
  *    that's sum(min(k, pos - lag(pos))) with k for the first row — a
  *    pure integer window over ONLY the duplicated positions (tiny), no
  *    floats until the final display ratio.
  */
object SpanDedup {

  /** One row per position whose k-gram appears in >= 2 distinct docs:
    * (carry..., idCol, pos). `carry` columns ride the position rows
    * (keep them small — e.g. a source/partition tag).
    */
  def duplicateSpanPositions(docs: DataFrame, idCol: String, textCol: String,
      k: Int, carry: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val pos = positions(docs, idCol, textCol, k, carry)
    val cand = pos.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col(idCol)).as("__cd"))
      .filter(col("__cd") >= 2)
      .select(col("h1"), col("h2"))
    pos.join(cand, Seq("h1", "h2"), "leftsemi")
      .select((carry :+ idCol :+ "pos").map(col): _*)
  }

  /** Per-document duplicated-char coverage: (carry..., idCol, n_dup_pos,
    * dup_chars). Only documents with at least one duplicated position
    * appear; the window runs over duplicated positions only.
    */
  def duplicateSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int, carry: Seq[String] = Nil): DataFrame = {
    val hits = duplicateSpanPositions(docs, idCol, textCol, k, carry)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("__cov", coalesce(
        least(lit(k), col("pos") - lag(col("pos"), 1).over(w)), lit(k)))
      .groupBy((carry :+ idCol).map(col): _*)
      .agg(count(lit(1)).as("n_dup_pos"),
        sum(col("__cov")).cast("long").as("dup_chars"))
  }

  /** Duplicate-span REMOVAL — detection turned into action, the actual
    * Lee et al. rewrite step. Rule, deterministic by construction: for
    * each duplicated k-gram the CANONICAL occurrence is the
    * lexicographically minimal (doc, pos) — one `min(struct(doc, pos))`
    * per gram group; every other occurrence is remove-marked. A doc's
    * removed char set is the interval union of its marked spans
    * ([pos, pos+k-1], merged while gaps ≤ 0 chars); its kept text is the
    * remaining chars in order. Intra-doc repeats of a cross-doc
    * duplicated gram collapse too (only the canonical position
    * survives); grams repeated ONLY within one doc are untouched — the
    * duplication predicate stays "≥ 2 distinct docs".
    *
    * Everything after the [[duplicateSpanPositions]]-shaped candidate
    * pass runs on marked positions only (tiny): two integer windows
    * (island grouping, gap segmentation), then ONE doc-grain join back
    * to the hit docs' text to slice kept segments — the corpus at large
    * never shuffles. Text reconstruction is relational (sorted segment
    * concat), so an external SQL engine reproduces kept_text
    * byte-for-byte.
    *
    * Returns one row per CHANGED doc: (idCol, removed_chars, kept_text).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val pos = positions(docs, idCol, textCol, k, carry = Nil)
    val dupAgg = pos.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col(idCol)).as("__cd"),
        min(struct(col(idCol), col("pos"))).as("__canon"))
      .filter(col("__cd") >= 2)
      .select(col("h1"), col("h2"), col("__canon"))
    val marked = pos.join(dupAgg, Seq("h1", "h2"))
      .filter(!(col(idCol) === col(s"__canon.$idCol") &&
        col("pos") === col("__canon.pos")))
      .select(col(idCol), col("pos"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // islands feeds FOUR consumers below (gaps, hit-doc semi-join, tail,
    // removed_chars) — left declarative, each consumer re-derives the
    // whole gram pipeline above unless Spark's exchange/stage reuse
    // happens to fire, and that reuse is a runtime RACE, not a guarantee
    // (r17 finding, `Probe counters`: the same analyzed plan ran in two
    // byte-deterministic modes at sf0.1 — the 41 MB candidate aggregate
    // exchange read once or twice with identical jobs/stages/tasks —
    // selected per run by whether the duplicate subtrees' builds were
    // reused). islands is island-grain — aggregated far below the
    // position grain the pipeline above shuffles — so ONE eager
    // materialization pins the corpus-scale work to exactly one
    // execution; at 100 TB the alternative is a reuse-race whose miss
    // mode re-runs the heaviest exchange per consumer.
    val islands = Checkpoints.materializeFrame(marked
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(wOrd) > k, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k - 1).as("e")))
    // gap segments between islands (+ the tail to end-of-text); every hit
    // doc gets at least the tail row, so fully-removed docs still emit ''
    val wS = Window.partitionBy(col(idCol)).orderBy(col("s"))
    val gaps = islands.select(col(idCol),
      (coalesce(lag(col("e"), 1).over(wS), lit(0)) + 1).as("gs"),
      (col("s") - 1).as("ge"))
    val hitText = docs.select(col(idCol), col(textCol))
      .join(islands.select(col(idCol)).distinct(), Seq(idCol), "leftsemi")
    val tail = islands.groupBy(col(idCol)).agg((max(col("e")) + 1).as("gs"))
      .join(hitText, Seq(idCol))
      .select(col(idCol), col("gs"), length(col(textCol)).as("ge"))
    val segs = gaps.unionByName(tail)
      .join(hitText, Seq(idCol))
      .select(col(idCol), col("gs"),
        col(textCol).substr(col("gs"), greatest(col("ge") - col("gs") + 1, lit(0)))
          .as("seg"))
    val kept = segs.groupBy(col(idCol))
      .agg(array_join(expr("transform(sort_array(collect_list(struct(gs, seg))), x -> x.seg)"), "")
        .as("kept_text"))
    val removed = islands.groupBy(col(idCol))
      .agg(sum(col("e") - col("s") + 1).cast("long").as("removed_chars"))
    removed.join(kept, Seq(idCol))
      .select(col(idCol), col("removed_chars"), col("kept_text"))
  }

  /** The k-gram position projection: (carry..., idCol, pos, h1, h2).
    * Docs shorter than k emit nothing. h2 salts the gram with a suffix
    * byte so the two probes are computed over distinct byte streams.
    */
  private def positions(docs: DataFrame, idCol: String, textCol: String,
      k: Int, carry: Seq[String]): DataFrame = {
    val t = col(textCol)
    val seqCol = when(length(t) >= k,
      sequence(lit(1), length(t) - k + 1)).otherwise(array().cast("array<int>"))
    docs
      .select((carry :+ idCol).map(col) :+ t.as("__t") :+ explode(seqCol).as("pos"): _*)
      .select((carry :+ idCol).map(col) :+ col("pos") :+
        xxhash64(col("__t").substr(col("pos"), lit(k))).as("h1") :+
        xxhash64(concat(col("__t").substr(col("pos"), lit(k)), lit("#"))).as("h2"): _*)
  }
}
