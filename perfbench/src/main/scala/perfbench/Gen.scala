package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.{DictionaryLocator, LexiconSentiment}

/** Seeded input generator. Every input of every workload is a pure
  * function of the seed: the same seed gives the same bytes, another
  * seed gives other bytes (BenchSpec pins both). Sizes are fixed per
  * workload; the seed only changes content, so runs on different seeds
  * do the same amount of work.
  */
object Gen {

  /** Raw scrape record, the shape `TweetJsonSource.readRawScrape` reads. */
  final case class Raw(id: String, text: String, author: String, handle: String,
      createdAt: String, location: Option[String], replies: Int, retweets: Int,
      likes: Int) {
    def json: String = {
      val loc = location.fold("null")(Json.str)
      s"""{"_id":${Json.str(id)},"text":${Json.str(text)},"author_name":${Json.str(author)},""" +
        s""""author_handle":${Json.str(handle)},"created_at":${Json.str(createdAt)},""" +
        s""""location":$loc,"tweet_url":${Json.str(s"https://x.com/$handle/status/$id")},""" +
        s""""metrics":{"reply_count":$replies,"retweet_count":$retweets,"like_count":$likes}}"""
    }
  }

  /** One landed file: its records and its exact bytes. */
  final case class RawFile(name: String, records: Seq[Raw]) {
    lazy val bytes: Array[Byte] = records.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8)
  }

  /** The month every tweet workload covers (days 1..30). */
  val Year = 2025
  val MonthNo = 1
  val YearMonth = f"$Year%04d-$MonthNo%02d"
  val Days: Seq[Int] = 1 to 30

  private val Filler = Vector("program", "makan", "siang", "sekolah", "anak", "siswa",
    "guru", "menu", "hari", "ini", "itu", "yang", "dan", "pemerintah", "anggaran",
    "dapur", "umum", "nasi", "ayam", "sayur", "susu", "buah", "porsi", "distribusi",
    "kualitas", "gizi", "orang", "tua", "minggu", "besok", "kemarin", "pagi", "lagi",
    "sudah", "belum", "akan", "bisa", "harus", "juga", "untuk", "dari", "ke", "dengan",
    "pada", "tidak", "ada", "banyak", "semua", "kami", "mereka", "kita", "warga",
    "rakyat", "presiden", "menteri", "badan", "nasional", "layanan", "petugas",
    "katering", "laporan", "berita", "video", "foto", "antrian", "jadwal", "target",
    "juta", "ribu", "rupiah", "wilayah", "daerah", "tahun", "bulan", "kantin", "piring")
  private val FirstNames = Vector("Budi", "Siti", "Agus", "Dewi", "Rina", "Andi",
    "Putri", "Joko", "Wati", "Rudi", "Nur", "Eko", "Lina", "Hendra", "Maya")
  private val LastNames = Vector("Santoso", "Rahayu", "Pratama", "Lestari",
    "Wijaya", "Hidayat", "Saputra", "Kusuma", "Nugroho", "Permata")
  private val UiLocations = Vector("Indonesia", "Jakarta", "Bandung, Jawa Barat",
    "Surabaya", "Bumi", "Medan", "Nusantara", "Makassar")
  private val Cities = DictionaryLocator.Indonesian.cities.map(_._2).toVector
  private val Provinces = DictionaryLocator.Indonesian.provinces.toVector
  private val Positive = LexiconSentiment.Indonesian.positive.toVector
  private val Negative = LexiconSentiment.Indonesian.negative.toVector

  /** Share of tweets given positive / negative lexicon words; the rest
    * carry none and score neutral. Calibrated to the reference's published
    * label mix, ~45 % positive / ~30 % neutral / ~25 % negative (its
    * README.md:136; BASELINE.md).
    */
  val PositiveShare = 0.45
  val NegativeShare = 0.25
  /** Shares of tweets naming a city, else a province. The reference
    * publishes no location-hit rate; these are assumptions.
    */
  val CityShare = 0.30
  val ProvinceShare = 0.12

  /** Planted-property counters, reported with every run. */
  final class TweetProps {
    var docs = 0L; var bytes = 0L; var city = 0L; var province = 0L
    var positive = 0L; var negative = 0L; var overlap = 0L
    def add(f: RawFile): Unit = { docs += f.records.size; bytes += f.bytes.length }
    def toJson: String = Json.obj(Seq(
      "docs" -> docs, "bytes" -> bytes,
      "city_share" -> share(city), "province_share" -> share(province),
      "lexicon_share" -> share(positive + negative), "positive_share" -> share(positive),
      "negative_share" -> share(negative), "rescrape_overlap_share" -> share(overlap)))
    private def share(n: Long): Double = if (docs == 0) 0.0 else n.toDouble / docs
  }

  /** Tweet generator for one seed. `doc(day, slot)` is a pure function of
    * (seed, day, slot), so the same tweet can be re-scraped later with
    * identical text and newer metrics.
    */
  final class Tweets(seed: Long) {
    val props = new TweetProps

    private def rng(parts: Long*): java.util.SplittableRandom =
      new java.util.SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)(
        (h, p) => java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 27) * 0x94D049BB133111EBL))

    def id(day: Int, slot: Int): String = (1880000000000000000L + day * 1000000L + slot).toString

    /** The tweet at (day, slot) as first scraped. */
    def doc(day: Int, slot: Int): Raw = {
      val r = rng(day, slot)
      def pick[T](v: Vector[T]): T = v(r.nextInt(v.size))
      val words = Vector.fill(10 + r.nextInt(19))(pick(Filler)).toBuffer
      def insert(w: String): Unit = words.insert(r.nextInt(words.size + 1), w)
      val text =
        if (r.nextDouble() < 0.02) "wkwk" // dropped by the 5-char minimum-length gate
        else {
          if (r.nextDouble() < CityShare) { insert(pick(Cities)); props.city += 1 }
          else if (r.nextDouble() < ProvinceShare) { insert(pick(Provinces)); props.province += 1 }
          val mood = r.nextDouble()
          if (mood < PositiveShare) {
            (0 to r.nextInt(2)).foreach(_ => insert(pick(Positive))); props.positive += 1
          } else if (mood < PositiveShare + NegativeShare) {
            (0 to r.nextInt(2)).foreach(_ => insert(pick(Negative))); props.negative += 1
          }
          if (r.nextDouble() < 0.25) insert(s"@warga${r.nextInt(500)}")
          if (r.nextDouble() < 0.20) insert("#MakanBergiziGratis")
          if (r.nextDouble() < 0.15) insert(s"https://t.co/${Integer.toString(r.nextInt(1 << 30), 36)}")
          words.mkString(" ")
        }
      val first = pick(FirstNames)
      val last = pick(LastNames)
      val created = f"$Year%04d-$MonthNo%02d-$day%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
      val loc = if (r.nextDouble() < 0.4) Some(pick(UiLocations)) else None
      Raw(id(day, slot), text, s"$first $last", s"${first.toLowerCase}${r.nextInt(10000)}",
        created, loc, r.nextInt(20), r.nextInt(50), r.nextInt(200))
    }

    /** The same tweet re-scraped `generation` times later: same text and
      * identity, grown engagement counters.
      */
    def rescraped(d: Raw, generation: Int): Raw = {
      val r = rng(d.id.toLong, generation)
      d.copy(replies = d.replies + generation + r.nextInt(5),
        retweets = d.retweets + generation + r.nextInt(9),
        likes = d.likes + 3 * generation + r.nextInt(30))
    }

    /** month_ingest: one daily scrape for each of the month's first
      * `days` days; each also re-scrapes `overlap` of the previous day's
      * tweets, so the merge is nearly append-only.
      */
    def dailyFiles(perDay: Int, overlap: Int, days: Int = Days.size): Seq[RawFile] =
      Days.take(days).map { d =>
        val fresh = (0 until perDay).map(doc(d, _))
        val again = if (d == Days.head) Nil else {
          val r = rng(-1, d)
          r.ints(0, perDay).distinct().limit(overlap).toArray.toSeq.sorted
            .map(s => rescraped(doc(d - 1, s), 1))
        }
        props.overlap += again.size
        f"tweets_$YearMonth-$d%02d.json" -> (fresh ++ again)
      }.map { case (n, rs) => val f = RawFile(n, rs); props.add(f); f }

    /** rescrape_stream base lake: the month scraped once, no overlap. */
    def baseMonth(perDay: Int): Seq[RawFile] = Days.map { d =>
      val f = RawFile(f"base_$YearMonth-$d%02d.json", (0 until perDay).map(doc(d, _)))
      props.add(f); f
    }

    /** Tweets landed half-processed (nested, never cleaned or labelled):
      * the rows `BackfillJob` has to repair.
      */
    def unprocessed(count: Int): RawFile = {
      val f = RawFile("unprocessed.json", (0 until count).map { k =>
        val d = Days(k % Days.size)
        val x = doc(d, 800000 + k)
        if (x.text.length < 5) x.copy(text = x.text + " makan siang") else x
      })
      props.add(f); f
    }

    /** rescrape_stream: file `j` re-scrapes a sliding 7-day window —
      * `existing` known tweets per day with grown metrics plus `fresh`
      * new tweets per day.
      */
    def rescrapeFile(j: Int, basePerDay: Int, existing: Int, fresh: Int): RawFile = {
      val start = (j * 3) % (Days.size - 6) + 1
      val r = rng(-2, j)
      val recs = (start until start + 7).flatMap { d =>
        val again = r.ints(0, basePerDay).distinct().limit(existing).toArray.toSeq.sorted
          .map(s => rescraped(doc(d, s), j + 1))
        val neu = (0 until fresh).map(k => doc(d, 500000 + j * 1000 + k))
        props.overlap += again.size
        again ++ neu
      }
      val f = RawFile(f"rescrape_$j%04d.json", recs)
      props.add(f); f
    }
  }

  private sealed trait Role
  private case object Plain extends Role
  private case object Exact extends Role
  private case object Near extends Role
  private case object Short extends Role
  private case object Punct extends Role
  private case object Contam extends Role

  /** Curation corpus document with its planted ground truth. */
  final case class Doc(id: Long, text: String, lang: String, family: Long, exactOf: Long)

  final class CorpusProps(val docs: Seq[Doc]) {
    val bytes: Array[Byte] = docs.map(d =>
      s"""{"doc_id":${d.id},"text":${Json.str(d.text)},"lang":${Json.str(d.lang)}}""")
      .mkString("", "\n", "\n").getBytes(UTF_8)
    def toJson: String = {
      val n = docs.size.toDouble
      Json.obj(Seq("docs" -> docs.size, "bytes" -> bytes.length,
        "exact_dup_rate" -> docs.count(_.exactOf >= 0) / n,
        "near_dup_rate" -> docs.count(d => d.family != d.id && d.exactOf < 0) / n))
    }
  }

  private val CorpusVocab: Vector[String] = {
    val r = new java.util.SplittableRandom(7L) // fixed vocabulary, seed-independent
    val letters = "abcdefghijklmnoprstuwy"
    Filler ++ Vector.fill(900) {
      (0 until 3 + r.nextInt(6)).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
    }
  }

  /** Curation corpus: `n` docs with ids 1..n. Planted properties:
    * exact duplicates (case/whitespace variants of an earlier doc), near
    * duplicates made by deterministic token substitution (never verbatim
    * copies), PII spans, short and punctuation-heavy docs the quality
    * gate drops, and copies of benchmark-slice runs (doc_id % 23 == 0)
    * that decontamination removes.
    */
  def corpus(seed: Long, n: Int): CorpusProps = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    def pick[T](v: Vector[T]): T = v(r.nextInt(v.size))
    // exact planted counts, placed by a seeded shuffle: the seed moves
    // content, never the rates (the first 23 docs are plain, so a
    // benchmark-slice doc exists before any contamination copies one)
    val special = Seq(Exact -> 0.06, Near -> 0.10, Short -> 0.08, Punct -> 0.03, Contam -> 0.04)
      .flatMap { case (role, rate) => Seq.fill(math.round(rate * n).toInt)(role) }
    val roles = Array.fill(n + 1)(Plain: Role)
    val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((24 to n).toVector)
    special.zip(slots).foreach { case (role, i) => roles(i) = role }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def toks(d: Doc) = d.text.trim.split("\\s+").toVector
    for (id <- 1 to n) {
      val doc = roles(id) match {
        case Exact =>
          val o = originals(r.nextInt(originals.size))
          val variant = if (r.nextBoolean()) o.text.toUpperCase else s"  ${o.text} "
          Doc(id, variant, o.lang, o.family, o.id)
        case Near =>
          val o = originals(r.nextInt(originals.size))
          val t = toks(o).toBuffer
          (0 until 1 + t.size / 20).foreach(_ => t(r.nextInt(t.size)) = pick(CorpusVocab))
          Doc(id, t.mkString(" "), o.lang, o.family, -1)
        case role =>
          val len = if (role == Short) 8 + r.nextInt(10) else 25 + r.nextInt(35)
          val t = Vector.fill(len)(pick(CorpusVocab)).toBuffer
          def insert(w: String): Unit = t.insert(r.nextInt(t.size + 1), w)
          if (r.nextDouble() < 0.10) insert(s"${pick(FirstNames).toLowerCase}.${r.nextInt(99)}@contoh.co.id")
          if (r.nextDouble() < 0.05) insert(f"${r.nextInt(1000)}%03d-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d")
          if (r.nextDouble() < 0.03) insert(s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}")
          if (r.nextDouble() < 0.05) insert("cafe\u0301") // decomposed e-acute: NFC composes it
          if (role == Punct) (0 until len).foreach(i => t(i) = "?!")
          if (role == Contam) {
            val b = toks(docs(23 * (1 + r.nextInt((id - 1) / 23)) - 1))
            val at = r.nextInt(math.max(1, b.size - 6))
            t.insertAll(r.nextInt(t.size + 1), b.slice(at, at + 6))
          }
          val d = Doc(id, t.mkString(" "), if (r.nextDouble() < 0.7) "id" else "en", id, -1)
          if (role == Plain) originals += d
          d
      }
      docs += doc
    }
    new CorpusProps(docs.toSeq)
  }
}
