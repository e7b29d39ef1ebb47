package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantiles

/** [[Quantiles.exactGroupQuantiles]] — bounded-state exact selection must
  * equal the buffer-everything `percentile` aggregate bit-for-bit-ish
  * (same interpolation formula, compared at 1e-9 relative tolerance to
  * allow the one-ulp association difference of `lo + (hi-lo)·t`).
  */
class QuantilesSpec extends SparkSpec {

  import spark.implicits._

  private val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.95, 1.0)

  private def sparkExact(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Seq[Double])] = {
    val pcts = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    df.groupBy($"g")
      .agg(expr(s"percentile(v, $pcts)").as("qs"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getSeq[Double](1))))
      .toMap
  }

  private def bounded(df: org.apache.spark.sql.DataFrame,
      buckets: Int = 64, maxLeaf: Int = 8, rounds: Int = 4): Map[String, (Long, Seq[Double])] =
    Quantiles.exactGroupQuantiles(df, "g", "v", ps,
        buckets = buckets, maxLeafValues = maxLeaf, maxRounds = rounds)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Double](2))))
      .toMap

  private def assertSame(a: Map[String, (Long, Seq[Double])],
      b: Map[String, (Long, Seq[Double])]): Unit = {
    assert(a.keySet === b.keySet)
    a.foreach { case (g, (n, qs)) =>
      val (n2, qs2) = b(g)
      assert(n === n2, s"group $g count")
      qs.zip(qs2).zip(ps).foreach { case ((x, y), p) =>
        val tol = math.max(math.abs(x), 1.0) * 1e-9
        assert(math.abs(x - y) <= tol, s"group $g p=$p: $x vs $y")
      }
    }
  }

  test("matches percentile() on mixed continuous data across groups, tiny leaf + few rounds") {
    // deterministic pseudo-random doubles incl. duplicates and negatives
    val rows = (0 until 5000).map { i =>
      val g = s"g${i % 3}"
      val v = ((i * 2654435761L) % 10007).toDouble / 7.0 - 500.0
      (g, v)
    }
    val df = rows.toDF("g", "v").repartition(7)
    assertSame(sparkExact(df), bounded(df))
  }

  test("heavy duplication (one value is half the data) and n=1 / all-equal groups") {
    val rows =
      (0 until 2000).map(i => ("spiky", if (i % 2 == 0) 42.0 else i.toDouble)) ++
      Seq(("single", 7.5)) ++
      (0 until 100).map(_ => ("flat", -3.25))
    val df = rows.toDF("g", "v").repartition(5)
    assertSame(sparkExact(df), bounded(df))
  }

  test("rounds exhausted still resolves exactly (maxRounds=1 forces wide leaf collect)") {
    val rows = (0 until 3000).map(i => ("g", math.sin(i.toDouble) * 1000.0))
    val df = rows.toDF("g", "v")
    assertSame(sparkExact(df), bounded(df, buckets = 4, maxLeaf = 2, rounds = 1))
  }


  test("weighted quantiles equal percentile(v, p, frequency); non-positive weights drop") {
    val rows = (0 until 800).map { i =>
      val g = s"g${i % 2}"
      val v = ((i * 2654435761L) % 997).toDouble / 7.0
      val w = (i % 5) + 1L // weights 1..5
      (g, v, w)
    } :+ (("g0", 12345.0, 1000000L)) // one heavy value dominates its group
    val withJunk = rows ++ Seq(("g1", 99999.0, 0L), ("g1", 88888.0, -3L))
    val df = withJunk.toDF("g", "v", "w").repartition(5)
    val pcts = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    // oracle side: positive-weight rows only (percentile rejects negatives)
    val expect = rows.toDF("g", "v", "w").groupBy($"g")
      .agg(expr(s"percentile(v, $pcts, w)").as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val got = Quantiles.exactWeightedQuantiles(df, "g", "v", Some("w"), ps,
        buckets = 32, maxLeafValues = 8)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (g, qs) =>
      qs.zip(expect(g)).foreach { case (x, y) =>
        assert(math.abs(x - y) <= math.max(math.abs(y), 1.0) * 1e-9, s"$g: $x vs $y")
      }
    }
    // the heavy value carries ~34% of g0 weight: the median must hit it
    assert(got("g0")(ps.indexOf(0.95)) === 12345.0)
  }

  test("composite group keys match percentile() grouped on the same columns") {
    val rows = (0 until 3000).map { i =>
      (s"a${i % 3}", i % 2, ((i * 2654435761L) % 9973).toDouble / 3.0)
    }
    val df = rows.toDF("g1", "g2", "v").repartition(7)
    val pcts = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val expect = df.groupBy($"g1", $"g2")
      .agg(expr(s"percentile(v, $pcts)").as("qs"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(3), r.getSeq[Double](2))))
      .toMap
    val got = Quantiles.exactGroupedQuantiles(df, Seq("g1", "g2"), "v", ps,
        buckets = 32, maxLeafValues = 16)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getSeq[Double](3))))
      .toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (k, (n, qs)) =>
      assert(n === expect(k)._1)
      qs.zip(expect(k)._2).foreach { case (x, y) =>
        assert(math.abs(x - y) <= math.max(math.abs(y), 1.0) * 1e-9, s"$k: $x vs $y")
      }
    }
  }

  test("a NULL group value is a group like any other (null-safe bracket join)") {
    val rows: Seq[(String, Double)] =
      (0 until 300).map(i => (null.asInstanceOf[String], i.toDouble)) ++
      (0 until 100).map(i => ("g", i * 2.0))
    val df = rows.toDF("g", "v").repartition(3)
    val got = bounded(df)
    val expect = sparkExact(df)
    assert(got.keySet === expect.keySet) // includes the null key
    assertSame(expect, got)
  }

  test("all-null/NaN groups emit (group, 0, NULL) like percentile(), not silence") {
    val rows: Seq[(String, java.lang.Double)] =
      (0 until 50).map(i => ("good", java.lang.Double.valueOf(i.toDouble))) ++
      Seq(("allnull", null), ("allnull", null),
        ("allnan", java.lang.Double.valueOf(Double.NaN)))
    val df = rows.toDF("g", "v")
    val got = Quantiles.exactGroupQuantiles(df, "g", "v", ps)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), Option(r.getSeq[Double](2)))))
      .toMap
    assert(got.keySet == Set("good", "allnull", "allnan"))
    assert(got("allnull") == ((0L, None)) && got("allnan") == ((0L, None)))
    assert(got("good")._1 == 50L && got("good")._2.isDefined)
    // weighted form: a group whose every weight is non-positive also rides
    // the NULL path instead of vanishing
    val wrows = Seq(("live", 1.0, 5L), ("live", 2.0, 5L), ("dead", 9.0, 0L))
    val wgot = Quantiles.exactWeightedQuantiles(
        wrows.toDF("g", "v", "w"), "g", "v", Some("w"), ps)
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Double](2))).toMap
    assert(wgot("dead").isEmpty && wgot("live").isDefined)
  }

  test("fractional weight columns are rejected at the API boundary") {
    val df = Seq(("g", 1.0, 0.7)).toDF("g", "v", "w")
    val e = intercept[IllegalArgumentException] {
      Quantiles.exactWeightedQuantiles(df, "g", "v", Some("w"), ps)
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("maxGroups guards the driver-side bracket state") {
    val df = (0 until 100).map(i => (s"g$i", i.toDouble)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Quantiles.exactGroupQuantiles(df, "g", "v", ps, maxGroups = 10)
    }
    assert(e.getMessage.contains("maxGroups"))
    // and under the cap the same frame resolves fine
    assert(Quantiles.exactGroupQuantiles(df, "g", "v", ps).count() == 100)
  }

  test("nulls and NaNs are ignored like percentile(); result is partitioning-invariant") {
    val rows: Seq[(String, java.lang.Double)] =
      (0 until 500).map(i => ("g", java.lang.Double.valueOf(i.toDouble))) ++
      Seq(("g", null), ("g", java.lang.Double.valueOf(Double.NaN)))
    val df = rows.toDF("g", "v")
    val a = bounded(df.coalesce(1))
    val b = bounded(df.repartition(11))
    assert(a === b)
    assert(a("g")._1 === 500L) // null + NaN excluded from n
    assert(a("g")._2.head === 0.0 && a("g")._2.last === 499.0)
  }

  test("output rows ascend by group, nulls first, whatever the driver map order") {
    // 64 groups inserted in a scrambled order, plus a null group and an
    // all-NaN group (the empty-group rows join the same order)
    val keys = new scala.util.Random(7).shuffle((0 until 64).map(i => f"g$i%02d")) :+ "zz_nan"
    val rows: Seq[(String, Double)] =
      keys.flatMap(k => (0 until 5).map(i => (k, if (k == "zz_nan") Double.NaN else i.toDouble))) ++
      (0 until 5).map(i => (null.asInstanceOf[String], i.toDouble))
    val df = rows.toDF("g", "v").repartition(4)
    val got = Quantiles.exactGroupQuantiles(df, "g", "v", ps).collect().map(_.getString(0)).toSeq
    assert(got == null +: keys.sorted)
    // composite keys ride the same order through the packed struct
    val comp = keys.zipWithIndex.map { case (k, i) => (i % 3, k, i.toDouble) }.toDF("a", "b", "v")
    val gotComp = Quantiles.exactGroupedQuantiles(comp, Seq("a", "b"), "v", ps)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(gotComp == gotComp.sorted && gotComp.size == keys.size)
  }
}
