package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Seeded inputs, the tail rule and the metric table — no Spark needed. */
class GenAndStatsSpec extends AnyFunSuite {

  private def tweetBytes(seed: Long): Seq[Seq[Byte]] = {
    val g = new Gen.Tweets(seed)
    ((g.baseMonth(20) :+ g.unprocessed(5)) ++ (0 until 3).map(g.rescrapeFile(_, 20, 4, 2)))
      .map(_.bytes.toSeq)
  }

  test("the same seed gives the same input bytes") {
    assert(tweetBytes(7) == tweetBytes(7))
    assert(Gen.corpus(7, 300).bytes.toSeq == Gen.corpus(7, 300).bytes.toSeq)
    assert(new Gen.Tweets(7).dailyFiles(30, 3).map(_.bytes.toSeq) ==
      new Gen.Tweets(7).dailyFiles(30, 3).map(_.bytes.toSeq))
  }

  test("a different seed gives different input bytes") {
    assert(tweetBytes(7) != tweetBytes(8))
    assert(Gen.corpus(7, 300).bytes.toSeq != Gen.corpus(8, 300).bytes.toSeq)
  }

  test("sizes do not depend on the seed") {
    assert(tweetBytes(7).size == tweetBytes(8).size)
    assert(Gen.corpus(7, 300).docs.size == Gen.corpus(8, 300).docs.size)
  }

  test("near duplicates are perturbed, never verbatim copies") {
    val c = Gen.corpus(3, 600)
    val byId = c.docs.map(d => d.id -> d).toMap
    val near = c.docs.filter(d => d.family != d.id && d.exactOf < 0)
    assert(near.nonEmpty)
    near.foreach { d =>
      val orig = byId(d.family)
      assert(d.text != orig.text, s"doc ${d.id} copies doc ${orig.id} verbatim")
      assert(d.text.split(" ").length == orig.text.split(" ").length)
    }
  }

  test("the tail rule reports its percentile and sample count") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.samples == 40)
    assert(t.beyond == 10)
    assert(t.value == 30.0)
    assert(t.percentile == 75.0)
    assert(t.toJson.contains("\"samples\":40"))
  }

  test("with too few samples the tail rule says so") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(t.samples == 3 && t.beyond == 0 && t.value == 3.0 && t.percentile == 100.0)
  }

  test("every metric has a name and a unit, and names are unique") {
    val all = Main.EndToEnd ++ Main.PerLayer
    all.foreach { case (n, u) =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n)
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), s"$n: unit '$u'")
    }
    assert(all.map(_._1).distinct.size == all.size)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark prints") {
    val f = new File("../BENCHMARK.json")
    assume(f.exists(), "BENCHMARK.json is beside the benchmark directory")
    val json = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val names = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSet
    val workloads = Set("month_ingest", "rescrape_stream", "curation")
    assert(names -- workloads == (Main.EndToEnd ++ Main.PerLayer).map(_._1).toSet)
  }

  test("peak heap is read after collections, not between them") {
    Jvm.resetPeakHeap()
    var keep = List.empty[Array[Byte]]
    (1 to 64).foreach(_ => keep = new Array[Byte](1 << 20) :: keep)
    System.gc()
    val (mb, collections) = Jvm.peakHeapMb()
    assert(collections >= 1)
    assert(mb >= 64.0, s"64 MiB held across the collection, peak read $mb")
    assert(keep.size == 64)
  }

  test("a thrown operation lowers ok_ratio and yields no timing") {
    val l = new Ledger
    assert(l.timed("fine")(1).isDefined)
    assert(l.timed("boom")(throw new IllegalStateException("boom")).isEmpty)
    l.check("holds")(true)
    assert(l.attempted == 3 && l.failed == 1)
    assert(l.okRatio < 1.0)
  }
}

/** The lake checks catch a corrupted lake. */
class LakeCheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = {
    val d = new File("target/spec-lake")
    d.mkdirs()
    d
  }

  override def beforeAll(): Unit = {
    spark = Main.session(dir, 2)
  }
  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(dir)
  }

  test("a corrupted lake lowers ok_ratio") {
    val ledger = new Ledger
    val ctx = new Ctx(spark, dir, 5L, new Probe, ledger)
    val wl = new MonthIngest(ctx)
    val files = new Gen.Tweets(5L).dailyFiles(20, 3).take(3)
      .map(ctx.write(ctx.path("landing"), _))
    val lake = ctx.path("lake")
    val rollup = ctx.path("rollup")
    files.foreach(wl.job.run(spark, _, lake, wl.nowCol(wl.T0)))
    val total = wl.publish(None, lake, rollup)
    val sources = files.zipWithIndex.map { case (f, i) => (f, i, wl.T0) }
    wl.checkLake(lake, rollup, wl.expectedLake(sources), Some(total), None, (files.last, wl.T0))
    assert(ledger.failed == 0, ledger.failures.mkString("; "))
    assert(ledger.okRatio == 1.0)

    // corrupt: a stray copy of one data file duplicates that partition's rows
    val part = new File(lake).listFiles().filter(_.getName.startsWith("event_date=")).minBy(_.getName)
    val data = part.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(data.toPath, new File(part, "part-99999-stray.snappy.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    wl.checkLake(lake, rollup, wl.expectedLake(sources), Some(total), None, (files.last, wl.T0))
    assert(ledger.failed > 0)
    assert(ledger.okRatio < 1.0)
  }
}
