package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocateCascadeExpr
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.DictionaryLocator
import graft.functions.DictionaryLocator.{LocationDict, boundary, provincePatterns}

/** Parity spec for the E1 location cascade: expected values were recorded by
  * executing the reference's detect_location_from_text with the same compact
  * dictionary injected (scripts/ref_locator_truth.py). Covers the
  * province-major ordering, first-exact-else-last-token city semantics, the
  * separator preprocessing, province variations, and the (unreachable)
  * abbreviation branch. The parity specs at the end hold the cascade
  * expression to a test-only oracle: the folded when/coalesce chain of
  * `rlike` tests that `detect` was built from before it became one node.
  */
class DictionaryLocatorSpec extends SparkSpec {

  private val truth: Seq[(String, (String, String))] = Seq(
    "jakarta" -> ("DKI Jakarta", "Jakarta"),
    "jakarta selatan" -> ("DKI Jakarta", "Jakarta Selatan"),
    "warga jakarta pusat senang" -> ("DKI Jakarta", "Jakarta Pusat"),
    "selatan" -> ("DKI Jakarta", "Jakarta Selatan"),
    "tangerang" -> ("Banten", "Tangerang"),
    // province-major: DKI's token match beats Banten's exact match
    "tangerang selatan" -> ("DKI Jakarta", "Jakarta Selatan"),
    "di selatan kota" -> ("DKI Jakarta", "Jakarta Selatan"),
    "visiting bandung today" -> ("Jawa Barat", "Bandung"),
    "bandung-bogor" -> ("Jawa Barat", "Bandung"),
    "jalan_jogja|besok" -> ("DI Yogyakarta", "Jogja"),
    // the reference's abbreviation branch is unreachable: no match
    "jaksel" -> (null, null),
    "sby" -> (null, null),
    // token 'barat' of Jakarta Barat wins before the province pass runs
    "jawa barat" -> ("DKI Jakarta", "Jakarta Barat"),
    "sumatera" -> (null, null),
    "sumatera utara" -> ("DKI Jakarta", "Jakarta Utara"),
    // province variation: 'di yogyakarta'.replace(' ','') = 'diyogyakarta'
    "diyogyakarta" -> ("DI Yogyakarta", null),
    "yogyakarta" -> ("DI Yogyakarta", "Yogyakarta"),
    "dki jakarta" -> ("DKI Jakarta", "Jakarta"),
    "jawabarat" -> ("Jawa Barat", null),
    "provinsi bali" -> ("Bali", null),
    "bali" -> ("Bali", null),
    "no location here" -> (null, null),
    "Depok.Sleman" -> ("Jawa Barat", "Depok"),
    "magelang; surakarta" -> ("Jawa Tengah", "Surakarta"),
    "utara" -> ("DKI Jakarta", "Jakarta Utara"),
    "MAKAN DI MEDAN" -> ("Sumatera Utara", "Medan"),
    // exact 'Jakarta' breaks before 'Jakarta Timur' token semantics matter
    "timur jakarta" -> ("DKI Jakarta", "Jakarta"),
    "pusat kota" -> ("DKI Jakarta", "Jakarta Pusat"))

  test("detect() matches the executed reference on the Indonesian dictionary") {
    import spark.implicits._
    val det = DictionaryLocator.detect(col("t"), DictionaryLocator.Indonesian)
    val got = truth.map(_._1).toDF("t")
      .select(det.getField("province"), det.getField("city"))
      .as[(String, String)].collect().toSeq
    truth.zip(got).foreach { case ((in, exp), g) =>
      assert(g == exp, s"mismatch for '$in': got $g, reference gives $exp")
    }
  }

  test("author-name concatenation path") {
    import spark.implicits._
    val det = DictionaryLocator.detect(
      concat_ws(" ", col("t"), col("author")), DictionaryLocator.Indonesian)
    val g = Seq(("makan enak", "Budi Bandung")).toDF("t", "author")
      .select(det.getField("province"), det.getField("city"))
      .as[(String, String)].head()
    assert(g == (("Jawa Barat", "Bandung")))
  }

  test("null and empty text detect nothing") {
    import spark.implicits._
    val det = DictionaryLocator.detect(col("t"), DictionaryLocator.Indonesian)
    val g = Seq(Some(""), None).toDF("t")
      .select(det.isNull).as[Boolean].collect().toSeq
    assert(g == Seq(true, true))
  }

  test("repaired abbreviation stage: parity mode stays blind, repaired mode expands") {
    import spark.implicits._
    val dict = DictionaryLocator.Indonesian
    val parity = DictionaryLocator.detect(col("t"), dict)
    val repaired = DictionaryLocator.detectRepaired(col("t"), dict)
    val df = Seq(
      "jaksel",                 // repaired: DKI Jakarta / Jakarta Selatan
      "ketemu di sby besok",    // repaired: Jawa Timur / Surabaya
      "jaksel bandung",         // parity city hit wins over the abbreviation
      "jakselx",                // word boundary: no hit in either mode
      "no location here")
      .toDF("t")
      .select(
        parity.getField("province").as("pp"), parity.getField("city").as("pc"),
        repaired.getField("province").as("rp"), repaired.getField("city").as("rc"),
        repaired.getField("detected_from").as("rf"))
      .as[(String, String, String, String, String)].collect().toSeq
    // the reference's branch is dead code (utils.py:384-397): parity mode
    // must detect nothing for bare abbreviations
    assert(df(0) == ((null, null, "DKI Jakarta", "Jakarta Selatan", "abbreviation_match")))
    assert(df(1) == ((null, null, "Jawa Timur", "Surabaya", "abbreviation_match")))
    // the parity cascade still decides rows it can see (fallback-only stage)
    assert(df(2) == (("Jawa Barat", "Bandung", "Jawa Barat", "Bandung", "city_match")))
    assert(df(3) == ((null, null, null, null, null)))
    assert(df(4) == ((null, null, null, null, null)))
  }

  test("detectViaJoin (broadcast n-gram scale path) matches the when-chain cascade") {
    import spark.implicits._
    // the 28 recorded truth cases are all separator-normalizable, so the
    // join path must agree with the regex chain on every one
    val df = truth.map(_._1).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val viaJoin = DictionaryLocator
      .detectViaJoin(df, col("id"), col("t"), DictionaryLocator.Indonesian)
      .select(col("id"), col("province"), col("city"))
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    truth.zipWithIndex.foreach { case ((in, exp), i) =>
      val got = viaJoin.get(i.toLong).map(g => (g._1, g._2)).getOrElse((null, null))
      assert(got == exp, s"join-path mismatch for '$in': got $got, chain/reference gives $exp")
    }
  }

  test("detectViaJoin vs detect() at punctuation: the divergence is exactly the non-separator set") {
    import spark.implicits._
    val dict = DictionaryLocator.Indonesian
    // Punctuation INSIDE the reference's separator set (- / \ | _ , ; .) is
    // normalized to spaces by both paths — they must agree. Punctuation
    // OUTSIDE it is where the paths differ by construction: `\b` anchors at
    // any non-word char, token equality needs the name to be its own
    // whitespace-delimited token.
    val separatorCases = Seq(
      "bandung-bogor", "jakarta.pusat", "depok,hari", "jogja|besok", "medan_kota")
    val punctCases = Seq(
      "jakarta!", "ke bandung?", "(semarang)", "medan:", "'jogja'",
      "\"depok\"", "#bandung", "@medan", "bali+lombok")
    val all = separatorCases ++ punctCases
    val df = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val chainCol = DictionaryLocator.detect(col("t"), dict)
    val chain = df.select(col("id"), chainCol.getField("province"), chainCol.getField("city"))
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val join = DictionaryLocator.detectViaJoin(df, col("id"), col("t"), dict)
      .select(col("id"), col("province"), col("city"))
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def at(i: Int) = (chain.getOrElse(i.toLong, (null, null)),
      join.getOrElse(i.toLong, (null, null)))
    // separator-set punctuation: full agreement, and everything detects
    separatorCases.indices.foreach { i =>
      val (c, j) = at(i)
      assert(c == j, s"separator case '${all(i)}' must agree: chain=$c join=$j")
      assert(c._1 != null, s"separator case '${all(i)}' must detect")
    }
    // non-separator punctuation: the chain's \b sees every name, the token
    // join is blind to ALL of them — the gap is total on this set, which is
    // the measured price of the scale path (9/9 here, 0 partial overlap)
    val disagreements = punctCases.indices.map(i => at(separatorCases.size + i))
    disagreements.zip(punctCases).foreach { case ((c, j), t) =>
      assert(c._1 != null, s"chain must detect punctuation-adjacent '$t'")
      assert(j == ((null, null)), s"token join is blind at '$t' by construction, got $j")
    }
  }

  test("detectViaJoin agrees with detect() on the full 456-city dictionary") {
    import spark.implicits._
    import graft.sources.LocationDictSource
    val refPath = "/root/reference/config/indonesia_locations.json"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(refPath)))
    val dict = LocationDictSource.fromFile(refPath)
    val texts = Seq(
      "pengumuman di banda aceh hari ini", "warga medan antri", "padang panjang ramai",
      "jalan-jalan ke tanjung balai", "makan di jakarta selatan enak",
      "bukittinggi dan payakumbuh", "provinsi sumatera barat maju",
      "tidak ada lokasi", "kota bakti damai", "lubuk pakam macet")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val chain = DictionaryLocator.detect(col("t"), dict)
    val expected = df.select(col("id"), chain.getField("province"), chain.getField("city"))
      .as[(Long, String, String)].collect()
      .filter(r => r._2 != null || r._3 != null).map(r => r._1 -> ((r._2, r._3))).toMap
    val got = DictionaryLocator.detectViaJoin(df, col("id"), col("t"), dict)
      .select(col("id"), col("province"), col("city"))
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    assert(expected.nonEmpty) // the planted cities actually hit
  }

  test("LocationDictSource preserves file order and parses the province->cities shape") {
    import graft.sources.LocationDictSource
    val json =
      """{
        |  "Zeta Province": ["City B", "City A"],
        |  "Alpha Province": ["City C"],
        |  "Mid Province": []
        |}""".stripMargin
    val dict = LocationDictSource.fromJsonString(json)
    // NOT alphabetical: document order is the cascade's priority order
    assert(dict.provinces == Seq("Zeta Province", "Alpha Province", "Mid Province"))
    assert(dict.entries.head._2 == Seq("City B", "City A"))
    assert(dict.cities == Seq(
      ("Zeta Province", "City B"), ("Zeta Province", "City A"),
      ("Alpha Province", "City C")))
  }

  test("detect() analyzes and runs over a full-size (~456-city) dictionary") {
    // ADVICE r2: the per-province when-chains double expression depth vs
    // the flat chain; prove Spark still analyzes/executes a full-size
    // dictionary (the production config has 38 provinces x 456 cities).
    import spark.implicits._
    import graft.sources.LocationDictSource
    val refPath = "/root/reference/config/indonesia_locations.json"
    val dict =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(refPath)))
        LocationDictSource.fromFile(refPath)
      else // synthetic fallback of the same size/shape
        DictionaryLocator.LocationDict(
          (1 to 38).map(p => s"prov$p" -> (1 to 12).map(c => s"city${p}x$c")))
    assert(dict.cities.size >= 400)
    val det = DictionaryLocator.detect(col("t"), dict)
    val got = Seq(
      "pengumuman di banda aceh hari ini",
      "warga medan antri",
      "tidak ada lokasi disini").toDF("t")
      .select(det.getField("province"), det.getField("city"))
      .as[(String, String)].collect().toSeq
    if (got.head._1 != null) { // real dictionary loaded
      assert(got(0) == (("Aceh", "Banda Aceh")))
      assert(got(1) == (("Sumatera Utara", "Medan")))
    }
    assert(got(2) == ((null, null)))
  }

  // ---- parity against the when-chain oracle ----------------------------

  private object Oracle {
    private val NullHit =
      lit(null).cast("struct<province:string,city:string,detected_from:string>")

    private def hit(province: String, city: String, via: String): Column =
      struct(lit(province).as("province"),
        (if (city == null) lit(null).cast("string") else lit(city)).as("city"),
        lit(via).as("detected_from"))

    private def chain(stages: Seq[(Column, Column)]): Column =
      stages.foldRight(NullHit) { case ((cond, value), acc) =>
        when(cond, value).otherwise(acc)
      }

    private def matchable(text: Column): Column =
      translate(lower(text), "-/\\|_,;.", "        ")

    def detect(text: Column, dict: LocationDict): Column = {
      val m = matchable(text)
      val perProvince: Seq[Column] = dict.entries.map { case (p, cities) =>
        val exactChain = chain(cities.map { c =>
          (m.rlike(boundary(c)), hit(p, c, "city_match"))
        })
        val tokenChain = chain(cities.reverse.collect {
          case c if c.split("\\s+").count(_.length > 2) > 0 && c.contains(' ') =>
            val toks = c.split("\\s+").filter(_.length > 2)
            (toks.map(t => m.rlike(boundary(t))).reduce(_ || _),
              hit(p, c, "city_token_match"))
        })
        coalesce(exactChain, tokenChain)
      }
      val provinceChain = chain(dict.provinces.map { p =>
        (provincePatterns(p).map(v => m.rlike(boundary(v))).reduce(_ || _),
          hit(p, null, "province_match"))
      })
      coalesce(perProvince :+ provinceChain: _*)
    }

    def abbreviationHit(text: Column, dict: LocationDict): Column =
      chain(dict.abbreviations.map { case (ab, (p, c)) =>
        (matchable(text).rlike(boundary(ab)), hit(p, c, "abbreviation_match"))
      })

    def detectRepaired(text: Column, dict: LocationDict): Column =
      coalesce(detect(text, dict), abbreviationHit(text, dict))
  }

  /** 38 provinces × 12 cities, shaped to reach every cascade branch: the
    * province names trigger each of the 9 variations, half the cities are
    * multi-word with tokens shared across cities and provinces (`utara`,
    * `barat`, ...) or too short to count (`di`, `ko`).
    */
  private val synthetic38x12: LocationDict = {
    val heads = Seq("Nusa Tenggara Barat", "Nusa Tenggara Timur", "Kalimantan",
      "Sulawesi", "Maluku", "DKI", "DI", "Provinsi", "Jawa", "Sumatera Barat")
    val dirs = Seq("Utara", "Selatan", "Barat", "Timur", "Pusat", "Di", "Ko")
    val names = Seq("Aru", "Bima", "Cepu", "Dompu", "Ende", "Fakfak", "Garut",
      "Halmahera", "Indramayu", "Jepara", "Kudus", "Lumajang", "Muna")
    LocationDict(
      entries = (1 to 38).map { p =>
        val prov = s"${heads(p % heads.size)} ${names(p % names.size)}$p"
        prov -> (1 to 12).map { c =>
          val base = s"${names((p + c) % names.size)}${(p * c) % 17}"
          c % 4 match {
            case 0 => base
            case 1 => s"$base ${dirs(c % dirs.size)}"
            case 2 => s"${dirs((p + c) % dirs.size)} ${names(c % names.size)}"
            case _ => s"${names(c % names.size)} ${dirs(p % dirs.size)} Raya"
          }
        }
      },
      abbreviations = Seq("ntb1" -> ("Nusa Tenggara Barat Aru1", "Aru1 Utara"),
        "kal" -> ("Kalimantan Bima2", "Cepu4"), "jkt" -> ("DKI Garut6", "Garut6")))
  }

  /** Seeded texts that exercise every path of the cascade: null, "", each
    * separator and non-separator punctuation mark, mixed case (including
    * `İ`, whose lowercase is two chars) and other non-ASCII text, and
    * whole names, single tokens, province variations and abbreviations,
    * glued by spaces, punctuation or nothing at all.
    */
  private def parityTexts(dict: LocationDict, n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val words = (dict.cities.map(_._2) ++ dict.provinces ++
      dict.cities.flatMap(_._2.split(" ")) ++ dict.provinces.flatMap(provincePatterns) ++
      dict.abbreviations.map(_._1)).distinct.toIndexedSeq
    val filler = IndexedSeq("warga", "hari", "ini", "ke", "di", "kota", "dan",
      "café", "straße", "İstanbul", "ΣΟΦΙΑ", "naïve", "x", "123")
    val glue = IndexedSeq(" ", " ", " ", "", "-", "/", "\\", "|", "_", ",", ";",
      ".", "!", "?", "(", ")", ":", "'", "\"", "#", "@", "+", "  ", "\t", "İ")
    def casing(w: String): String = rnd.nextInt(5) match {
      case 0 => w.toUpperCase
      case 1 => w.toLowerCase
      case 2 => w.map(ch => if (rnd.nextBoolean()) ch.toUpper else ch.toLower)
      case 3 => w.replace('i', 'İ')
      case _ => w
    }
    val fixed = Seq(null, "", " ") ++ glue ++ filler
    fixed ++ Iterator.continually {
      val k = 1 + rnd.nextInt(6)
      (0 until k).map { _ =>
        val w = if (rnd.nextInt(3) == 0) filler(rnd.nextInt(filler.size))
          else words(rnd.nextInt(words.size))
        casing(w) + glue(rnd.nextInt(glue.size))
      }.mkString
    }.take(n - fixed.size).toSeq
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (id, text) over an RDD, so the projection runs in an executed plan
    * rather than being folded into a LocalRelation by the optimizer. */
  private def textFrame(texts: Seq[String]) = spark.createDataFrame(
    spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 4),
    StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType), StructField("t", StringType))))

  private def results(texts: Seq[String], det: Column): (Map[Long, Row], Boolean) = {
    val df = textFrame(texts).select(col("id"), det.as("d"))
    val codegend = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }.exists(_.child.expressions.exists(_.exists(_.isInstanceOf[LocateCascadeExpr])))
    (df.collect().map(r => r.getLong(0) -> r).toMap, codegend)
  }

  private val codegenModes = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
    "interpreted (NO_CODEGEN)" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((dictName, dict) <- Seq("Indonesian" -> DictionaryLocator.Indonesian,
      "synthetic 38x12" -> synthetic38x12)) {
    test(s"cascade expression matches the when-chain oracle on 24k seeded texts ($dictName)") {
      val texts = parityTexts(dict, 24000, seed = 20261018L)
      val (oracle, _) = results(texts, Oracle.detect(col("t"), dict))
      val (oracleRepaired, _) = results(texts, Oracle.detectRepaired(col("t"), dict))
      val hits = oracle.values.count(!_.isNullAt(1))
      assert(hits > texts.size / 3 && hits < texts.size, s"oracle hits $hits of ${texts.size}")
      for ((mode, conf) <- codegenModes) withConf(conf: _*) {
        val (got, codegend) = results(texts, DictionaryLocator.detect(col("t"), dict))
        assert(codegend == mode.startsWith("whole"), s"$mode: codegen'd=$codegend")
        val bad = oracle.keys.toSeq.sorted.filter(i => got(i) != oracle(i))
        assert(bad.size == 0, s"$mode: ${bad.size} mismatches, first: " +
          bad.take(3).map(i => s"'${texts(i.toInt)}' -> ${got(i)} vs ${oracle(i)}"))
        val (gotRepaired, _) = results(texts, DictionaryLocator.detectRepaired(col("t"), dict))
        val badRepaired = oracleRepaired.keys.count(i => gotRepaired(i) != oracleRepaired(i))
        assert(badRepaired == 0, s"$mode: detectRepaired has $badRepaired mismatches")
      }
    }
  }

  test("detect() is a constant-size expression tree, whatever the dictionary size") {
    import spark.implicits._
    def nodes(dict: LocationDict): Int = Seq("x").toDF("t")
      .select(DictionaryLocator.detect(col("t"), dict).as("d"))
      .queryExecution.analyzed.expressions.map(_.collect { case e => e }.size).sum
    val sizes = Seq(DictionaryLocator.EngineTopics, DictionaryLocator.Indonesian,
      synthetic38x12).map(nodes)
    assert(sizes.distinct.size == 1, s"node counts $sizes")
    assert(sizes.head <= 8, s"node counts $sizes")
    // the plan string names the stage count, not the dictionary
    val plan = Seq("x").toDF("t").select(DictionaryLocator.detect(col("t"), synthetic38x12))
      .queryExecution.analyzed.toString
    assert(!plan.contains("Garut") && plan.contains("stages="), plan)
  }
}
