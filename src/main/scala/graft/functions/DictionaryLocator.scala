package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{LocateCascade, LocateCascadeExpr, LocateStage}

/** Dictionary-based location detection (SURVEY.md §2.4 E1,
  * utils.py:336-437): find a (province, city) in free text, reproducing the
  * reference's iteration semantics exactly (verified against the executed
  * reference — scripts/ref_locator_truth.py):
  *
  *   0. lowercase, then replace separators `- / \ | _ , ; .` with spaces
  *      (utils.py:358-362) before any word-boundary matching;
  *   1. provinces are scanned in dictionary order (province-major): within a
  *      province, the FIRST city with an exact word-boundary match wins and
  *      stops everything (utils.py:368-372); if no exact match, the LAST
  *      city with a >2-char-token match survives (the reference's token
  *      branch breaks only the inner token loop, so later cities overwrite
  *      earlier token hits — utils.py:374-381); the first province with any
  *      city hit short-circuits the rest (utils.py:401-402);
  *   2. if no city anywhere: first province whose name (word-boundary) or
  *      any of its 9 hand-rolled variations (space-stripped, `dki `/`di `/
  *      `provinsi ` dropped, nusa-tenggara/kalimantan/sulawesi/maluku
  *      contractions — utils.py:414-424) matches.
  *
  * The reference's abbreviation branch (utils.py:384-397) is *unreachable*:
  * its guard `province in full_name` compares a capitalized province
  * against a lowercased expansion and is never true, so `jaksel`/`sby`
  * detect nothing — reproduced here by omitting the stage. The
  * `abbreviations` field stays on [[LocationDict]] for callers that want
  * the repaired behavior ([[detectRepaired]]).
  *
  * Dictionary order is semantically load-bearing (SURVEY §7.4 risk 5), so
  * entries are a Seq, never a sorted map.
  *
  * Implementation: the cascade is flattened into one ordered stage list
  * ([[cascadeStages]]) and evaluated by a single native Catalyst node,
  * [[org.apache.spark.sql.graft.LocateCascadeExpr]], whose first hitting
  * stage wins. Each stage test is the `rlike` of its `\b<word>\b` pattern
  * (RLike semantics), guarded by a `contains` check of the lowercased word,
  * which every match must include, so a regex runs only on rows that hold
  * its word.
  * The node count of the expression does not grow with the dictionary, so
  * per-batch planning costs the same for the 45-city compact dictionary
  * and the 456-city production file, and the projection stays
  * whole-stage codegen'd.
  */
object DictionaryLocator {

  /** province -> cities, in dictionary file order. */
  final case class LocationDict(
      entries: Seq[(String, Seq[String])],
      abbreviations: Seq[(String, (String, String))] = Nil) {
    def provinces: Seq[String] = entries.map(_._1)
    def cities: Seq[(String, String)] = // (province, city) in file order
      entries.flatMap { case (p, cs) => cs.map(p -> _) }
  }

  /** Engine-topic dictionary for the synthetic `documents` table. */
  val EngineTopics: LocationDict = LocationDict(Seq(
    "storage" -> Seq("scan", "table", "column"),
    "compute" -> Seq("hash", "sort", "merge", "join"),
    "streaming" -> Seq("stream", "window", "batch")))

  /** Compact Indonesian dictionary for the tweet-parity pipeline — a
    * representative subset of config/indonesia_locations.json (38 provinces
    * / 456 cities in the reference); the full dictionary loads from the same
    * JSON shape via [[graft.sources.LocationDictSource]].
    */
  val Indonesian: LocationDict = LocationDict(
    entries = Seq(
      "DKI Jakarta" -> Seq("Jakarta Pusat", "Jakarta Utara", "Jakarta Barat",
        "Jakarta Selatan", "Jakarta Timur", "Jakarta"),
      "Jawa Barat" -> Seq("Bandung", "Bekasi", "Bogor", "Depok", "Cimahi", "Sukabumi"),
      "Jawa Tengah" -> Seq("Semarang", "Solo", "Surakarta", "Magelang", "Pekalongan"),
      "DI Yogyakarta" -> Seq("Yogyakarta", "Jogja", "Sleman", "Bantul"),
      "Jawa Timur" -> Seq("Surabaya", "Malang", "Kediri", "Madiun", "Batu"),
      "Banten" -> Seq("Tangerang", "Serang", "Cilegon", "Tangerang Selatan"),
      "Sumatera Utara" -> Seq("Medan", "Binjai", "Pematangsiantar"),
      "Sumatera Barat" -> Seq("Padang", "Bukittinggi", "Payakumbuh"),
      "Sulawesi Selatan" -> Seq("Makassar", "Parepare", "Palopo"),
      "Bali" -> Seq("Denpasar")),
    abbreviations = Seq(
      "jaksel" -> ("DKI Jakarta", "Jakarta Selatan"),
      "jakut" -> ("DKI Jakarta", "Jakarta Utara"),
      "jakbar" -> ("DKI Jakarta", "Jakarta Barat"),
      "jaktim" -> ("DKI Jakarta", "Jakarta Timur"),
      "jakpus" -> ("DKI Jakarta", "Jakarta Pusat"),
      "sby" -> ("Jawa Timur", "Surabaya"),
      "bdg" -> ("Jawa Barat", "Bandung"),
      "jogja" -> ("DI Yogyakarta", "Yogyakarta"),
      "makasar" -> ("Sulawesi Selatan", "Makassar")))

  private def quote(s: String): String =
    java.util.regex.Pattern.quote(s.toLowerCase)

  def boundary(word: String): String = "\\b" + quote(word) + "\\b"

  /** The reference's 9 province-name variations (utils.py:414-424), plus
    * the word-boundary name itself first. Deduplicated (most variations
    * no-op on short names) but order-preserving.
    */
  def provincePatterns(province: String): Seq[String] = {
    val pl = province.toLowerCase
    (pl +: Seq(
      pl.replace(" ", ""),
      pl.replace("dki ", ""),
      pl.replace("di ", ""),
      pl.replace("provinsi ", ""),
      pl.replace("nusa tenggara", "nt").replace("barat", "b"),
      pl.replace("nusa tenggara", "nt").replace("timur", "t"),
      pl.replace("kalimantan", "kalt"),
      pl.replace("sulawesi", "sul"),
      pl.replace("maluku", "mal")).filter(_.nonEmpty)).distinct
  }

  /** The cascade as a broadcast n-gram join — the 100 TB path for the full
    * 456-city dictionary, where [[detect]]'s cascade holds ~500 regex
    * stages. Here the text is tokenized once, its 1..3-gram token
    * sequences joined (broadcast) against a dimension of dictionary match
    * strings, and the reference's first-match-wins cascade becomes a
    * single sort key per candidate:
    *
    *   (stage: cities-anywhere=0 / province-names=1,
    *    province index,
    *    kind: exact=0 / token=1,
    *    city index for exacts, NEGATED city index for tokens —
    *    the reference keeps the FIRST exact but the LAST token hit)
    *
    * row_number over that key reproduces the cascade exactly on
    * separator-normalized text. Caveat vs [[detect]]: `\b` also matches at
    * punctuation OUTSIDE the reference's separator set (e.g. "jakarta!"),
    * where token equality does not — [[detect]] stays the parity-exact
    * variant; this is the plan for scale. The gap is pinned
    * by test, not only prose: DictionaryLocatorSpec's punctuation spec
    * shows full agreement on separator-set punctuation and measures the
    * join path blind on every non-separator case (`!?():'"#@+`).
    *
    * Returns (id, province, city, detected_from) — one row per input row
    * that matched anything.
    */
  def detectViaJoin(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      dict: LocationDict): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val cityRows = dict.entries.zipWithIndex.flatMap { case ((p, cities), ip) =>
      cities.zipWithIndex.flatMap { case (c, ic) =>
        val exact = (c.toLowerCase, 0, ip, 0, ic, p, c, "city_match")
        val tokenRows =
          if (!c.contains(' ')) Nil
          else c.toLowerCase.split("\\s+").filter(_.length > 2).toSeq
            .map(t => (t, 0, ip, 1, -ic, p, c, "city_token_match"))
        exact +: tokenRows
      }
    }
    val provRows = dict.provinces.zipWithIndex.flatMap { case (p, ip) =>
      provincePatterns(p).map(v => (v, 1, ip, 0, 0, p, null: String, "province_match"))
    }
    val dim = (cityRows ++ provRows).toDF(
      "__m", "__stage", "__ip", "__kind", "__ick", "province", "city", "detected_from")

    // widest dictionary match string decides how many n-gram passes the
    // text needs (2 for the production Indonesian dictionary)
    val maxN = (cityRows.map(_._1) ++ provRows.map(_._1))
      .map(_.split(" ").length).max
    val normalized = translate(lower(text), "-/\\|_,;.", "        ")
    val gramCols = (1 to maxN).map {
      case 1 => col("__toks")
      case n => graft.operators.Dedup.shinglesOfTokens(col("__toks"), n)
    }
    val grams = df
      .select(id.as("id"), graft.operators.Dedup.tokens(normalized).as("__toks"))
      .select(col("id"), array_distinct(concat(gramCols: _*)).as("__gr"))
      .select(col("id"), explode_outer(col("__gr")).as("__m"))

    // First-match-wins as a hash AGGREGATE (min over the cascade sort key),
    // not a row_number window: partial aggregation folds candidates
    // map-side and there is no per-partition sort. Two grams of one doc
    // can hit dim rows with an identical key — e.g. two tokens of the same
    // multi-word city, or two variations of one province — but those rows
    // carry the same payload by construction, so the min is deterministic.
    grams.join(broadcast(dim), Seq("__m"))
      .groupBy(col("id"))
      .agg(min(struct(col("__stage"), col("__ip"), col("__kind"), col("__ick"),
        col("province"), col("city"), col("detected_from"))).as("__best"))
      .select(col("id"), col("__best.province").as("province"),
        col("__best.city").as("city"),
        col("__best.detected_from").as("detected_from"))
  }

  /** NON-PARITY opt-in repair of the reference's dead abbreviation branch
    * (utils.py:384-397): the original guard `province in full_name`
    * compares a capitalized province against a lowercased expansion (never
    * true), and even if it fired it would assign the loop's CURRENT city,
    * not the abbreviation's expansion. The repaired stage does what the
    * table plainly intends: a word-boundary hit on an abbreviation (over
    * separator-normalized text — substring matching would fire inside
    * unrelated words) maps to its expansion's (province, city), first
    * entry in [[LocationDict.abbreviations]] order wins, tagged
    * `abbreviation_match`.
    */
  def abbreviationHit(text: Column, dict: LocationDict): Column =
    cascade(text, abbreviationStages(dict))

  /** [[detect]] plus the repaired abbreviation stage as a FALLBACK: the
    * parity cascade runs unchanged and abbreviations only decide rows the
    * reference semantics leave undetected — the minimal divergence that
    * makes `jaksel` work. Explicitly non-parity; [[detect]] remains the
    * reference-exact variant.
    */
  def detectRepaired(text: Column, dict: LocationDict): Column =
    cascade(text, cascadeStages(dict) ++ abbreviationStages(dict))

  /** The cascade as one nullable struct(province, city, detected_from).
    * Null when nothing matches (caller decides the fallback shape).
    */
  def detect(text: Column, dict: LocationDict): Column =
    cascade(text, cascadeStages(dict))

  /** The reference cascade as ordered first-hit-wins stages:
    *
    *  - per province, in dictionary order: its exact-city stages in city
    *    order, then one token stage per multi-word city in REVERSE city
    *    order (the reference keeps the LAST token hit). Single-word city
    *    tokens are the exact regex again — if exact failed they fail too —
    *    so only multi-word cities get token stages, over their >2-char
    *    tokens;
    *  - then one stage per province over its name variations
    *    ([[provincePatterns]]).
    */
  private def cascadeStages(dict: LocationDict): Seq[LocateStage] = {
    val cityStages = dict.entries.flatMap { case (p, cities) =>
      val exact = cities.map(c => stage(Seq(c), p, c, "city_match"))
      val tokens = cities.reverse.collect {
        case c if c.contains(' ') && c.split("\\s+").exists(_.length > 2) =>
          stage(c.split("\\s+").filter(_.length > 2).toSeq, p, c, "city_token_match")
      }
      exact ++ tokens
    }
    cityStages ++ dict.provinces.map(p =>
      stage(provincePatterns(p), p, null, "province_match"))
  }

  /** The repaired abbreviation stages, in [[LocationDict.abbreviations]]
    * order.
    */
  private def abbreviationStages(dict: LocationDict): Seq[LocateStage] =
    dict.abbreviations.map { case (ab, (p, c)) => stage(Seq(ab), p, c, "abbreviation_match") }

  /** A stage hitting on any of `words` at word boundaries. */
  private def stage(words: Seq[String], province: String, city: String,
      via: String): LocateStage =
    LocateStage(words.map(boundary), words.map(_.toLowerCase), province, city, via)

  // utils.py:358-362 — separators become spaces so `bandung-bogor`
  // word-boundary-matches both cities.
  private def cascade(text: Column, stages: Seq[LocateStage]): Column =
    LocateCascadeExpr.locate(translate(lower(text), "-/\\|_,;.", "        "),
      LocateCascade(stages))
}
