package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.functions.{LexiconSentiment, TextFunctions}

/** E4 production shape: batched model inference behind a pluggable
  * classifier (SURVEY.md §2.4; reference `apply_sentiment_labeling`,
  * utils.py:157-201).
  *
  * The reference calls a HuggingFace pipeline in batches of 50 to bound
  * model overhead; the Spark-native equivalent is `mapPartitions` with
  * `iterator.grouped(batchSize)` — one classifier instance per partition
  * (where a real model would be loaded once per executor/task), one model
  * call per batch, no per-row dispatch. Results must be independent of the
  * batch split (SentimentRunnerSpec asserts it).
  *
  * [[LexiconClassifier]] is the deterministic stand-in (same scoring as the
  * columnar [[graft.functions.LexiconSentiment]], so the two paths agree
  * bit-for-bit); an ONNX model ([[graft.ml.MiniOnnxSentimentClassifier]]) drops in
  * behind the same trait.
  */
trait SentimentClassifier extends Serializable {

  /** Classify one batch; must return exactly one (label, confidence) per
    * input, with the reference's empty/error fallback ('NEUTRAL', 0.0) —
    * utils.py:76-92.
    */
  def classifyBatch(texts: Seq[String]): Seq[(String, Double)]
}

/** Deterministic lexicon classifier mirroring
  * [[graft.functions.LexiconSentiment]]'s column expressions exactly
  * (word-boundary hit counts over the lowercased text, majority label,
  * |p-n|/(p+n) confidence).
  */
final case class LexiconClassifier(lexicon: LexiconSentiment.Lexicon)
    extends SentimentClassifier {

  @transient private lazy val posRe =
    java.util.regex.Pattern.compile(TextFunctions.hitPattern(lexicon.positive))
  @transient private lazy val negRe =
    java.util.regex.Pattern.compile(TextFunctions.hitPattern(lexicon.negative))

  private def hits(p: java.util.regex.Pattern, s: String): Int = {
    val m = p.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  override def classifyBatch(texts: Seq[String]): Seq[(String, Double)] =
    texts.map { t =>
      // reference classify_sentiment: None/empty -> NEUTRAL 0.0; truncate
      // to 512 chars before the model (utils.py:84-86). Truncation counts
      // CODE POINTS and lowercasing uses Locale.ROOT — String.take counts
      // UTF-16 units and default-locale toLowerCase is JVM-dependent
      // (Turkish dotless i), either of which would break the documented
      // bit-parity with Spark's substring()/lower().
      val s0 = Option(t).getOrElse("")
      val end =
        if (s0.codePointCount(0, s0.length) <= 512) s0.length
        else s0.offsetByCodePoints(0, 512)
      val s = s0.substring(0, end).toLowerCase(java.util.Locale.ROOT)
      if (s.isEmpty) (LexiconSentiment.FallbackLabel, 0.0)
      else {
        val p = hits(posRe, s)
        val n = hits(negRe, s)
        val label = if (p > n) "positive" else if (n > p) "negative" else "neutral"
        val conf = if (p + n == 0) 0.0 else math.abs(p - n).toDouble / (p + n)
        (label, conf)
      }
    }
}

object SentimentRunner {

  /** Append `sentiment_label` / `sentiment_confidence` columns by running
    * `classifier` over `textCol` in batches of `batchSize` per partition.
    */
  def label(df: DataFrame, textCol: String,
      classifier: SentimentClassifier, batchSize: Int = 50): DataFrame = {
    val idx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema
      .add("sentiment_label", StringType)
      .add("sentiment_confidence", DoubleType)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val results = classifier.classifyBatch(
          batch.map(r => if (r.isNullAt(idx)) null else r.getString(idx)))
        batch.lazyZip(results).map { case (r, (l, c)) =>
          Row.fromSeq(r.toSeq :+ l :+ c)
        }
      }
    }(Encoders.row(outSchema))
  }
}
