package graft

import org.apache.spark.sql.functions._

import graft.functions.LexiconSentiment
import graft.ml.MiniOnnxSentimentClassifier
import graft.operators.{LexiconClassifier, SentimentRunner}

class SentimentRunnerSpec extends SparkSpec {

  private val texts = Seq(
    "makanan bagus dan sehat sekali",
    "program gagal total korupsi dimana mana",
    "biasa saja tidak ada yang spesial",
    "bagus tapi mahal dan telat",
    "",
    "mantap lancar sukses bergizi",
    "keracunan massal basi jelek buruk",
    "x " * 300 + "bagus") ++ (1 to 13).map(i => s"doc $i netral")

  test("runner output is independent of the batch split") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
    val cls = LexiconClassifier(LexiconSentiment.Indonesian)
    def run(bs: Int) = SentimentRunner.label(df, "txt", cls, bs)
      .select($"id", $"sentiment_label", round($"sentiment_confidence", 6))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val byOne = run(1)
    assert(run(7) == byOne)
    assert(run(50) == byOne)
  }

  test("mapPartitions runner agrees with the columnar lexicon scorer") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
    val viaRunner = SentimentRunner.label(df, "txt", LexiconClassifier(LexiconSentiment.Indonesian))
      .select($"id", $"sentiment_label", round($"sentiment_confidence", 6))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val viaColumns = df
      .select($"id",
        LexiconSentiment.label(substring($"txt", 1, 512), LexiconSentiment.Indonesian),
        round(LexiconSentiment.confidence(substring($"txt", 1, 512), LexiconSentiment.Indonesian), 6))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(viaRunner == viaColumns)
  }

  test("null and empty text fall back to the verbatim 'NEUTRAL' 0.0 (utils.py:82,92)") {
    import spark.implicits._
    // null/empty → uppercase 'NEUTRAL' (the reference's classify_sentiment
    // fallback, verbatim); whitespace-only is TRUTHY in the reference
    // (`if not text`), reaches the model, and ties to lowercase 'neutral'
    val df = Seq((1L, null: String), (2L, ""), (3L, "   ")).toDF("id", "txt")
    val got = SentimentRunner.label(df, "txt", LexiconClassifier(LexiconSentiment.Indonesian))
      .select($"id", $"sentiment_label", $"sentiment_confidence")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "NEUTRAL", 0.0), (2L, "NEUTRAL", 0.0), (3L, "neutral", 0.0)))
    assert(LexiconSentiment.FallbackLabel === "NEUTRAL")
  }

  test("ONNX scoring core through a stubbed runtime: batching, truncation, label order, fallback") {
    // the seam: scoreBatch carries every piece of classifyBatch EXCEPT the
    // model call — so a stub exercises the batching / 512-char truncation /
    // softmax / label-argmax / fallback logic every model path runs
    val calls = scala.collection.mutable.ListBuffer.empty[Seq[String]]
    def fake(batch: Seq[String]): Seq[Array[Float]] = {
      calls += batch
      batch.map { t =>
        if (t.startsWith("pos")) Array(4f, 1f, 0f)
        else if (t.startsWith("neg")) Array(0f, 1f, 4f)
        else Array(1f, 3f, 1f)
      }
    }
    val labels = Seq("positive", "neutral", "negative")
    val texts = Seq("pos one", null, "neg two", "", "meh", "pos " + "x" * 600)
    val out = MiniOnnxSentimentClassifier.scoreBatch(texts, labels, fake)
    // exactly one result per input, in input order
    assert(out.size === texts.size)
    // null/empty rows never reach the runtime; the live rows share ONE call
    assert(calls.size === 1 && calls.head.size === 4)
    // the reference's 512-CHARACTER pre-truncation happens before the model
    assert(calls.head.forall(_.length <= 512))
    assert(calls.head.last === ("pos " + "x" * 600).substring(0, 512))
    // argmax maps through the label vocabulary in id2label order
    assert(out(0)._1 === "positive" && out(2)._1 === "negative" && out(4)._1 === "neutral")
    assert(out(5)._1 === "positive")
    // null/empty rows take the verbatim ('NEUTRAL', 0.0) fallback
    assert(out(1) === (("NEUTRAL", 0.0)) && out(3) === (("NEUTRAL", 0.0)))
    // confidence is the softmax of the argmax logit
    val e4 = math.exp(4.0); val e1 = math.exp(1.0)
    assert(math.abs(out(0)._2 - e4 / (e4 + e1 + 1.0)) < 1e-12)
    // an all-fallback batch never invokes the runtime at all
    calls.clear()
    assert(MiniOnnxSentimentClassifier.scoreBatch(Seq(null, ""), labels, fake) ===
      Seq(("NEUTRAL", 0.0), ("NEUTRAL", 0.0)))
    assert(calls.isEmpty)
    // a runtime that drops a row is a hard error, not a misaligned column
    intercept[IllegalArgumentException] {
      MiniOnnxSentimentClassifier.scoreBatch(Seq("a", "b"), labels,
        b => b.take(1).map(_ => Array(1f, 0f, 0f)))
    }
    // a label vocabulary that disagrees with the logit width is a hard error
    intercept[IllegalArgumentException] {
      MiniOnnxSentimentClassifier.scoreBatch(Seq("a"), Seq("x", "y"),
        b => b.map(_ => Array(1f, 0f, 0f)))
    }
    // softmax is a distribution
    val p = MiniOnnxSentimentClassifier.softmax(Array(2.0f, 1.0f, 0.1f))
    assert(math.abs(p.sum - 1.0) < 1e-12 && p(0) > p(1) && p(1) > p(2))
    assert(math.abs(p(0) - 0.659001138885) < 1e-9)
  }
}
