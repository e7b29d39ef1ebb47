package graft.ml

import graft.operators.SentimentClassifier

/** [[SentimentClassifier]] executing a REAL `.onnx` model file through
  * [[MiniOnnx]] — E4's model path: the reference's HuggingFace sentiment
  * classifier (`w11wo/indonesian-roberta-base-sentiment-classifier`,
  * utils.py:52-72) behind the same trait as the lexicon stand-in, so
  * [[graft.operators.SentimentRunner.label]] is identical for both. The
  * scoring core is [[MiniOnnxSentimentClassifier.scoreBatch]] (null/empty
  * fallback rows, the reference's 512-char pre-truncation, batch-size
  * checks, softmax, label mapping) over the logits provider: text is
  * featurized to a fixed-width float vector (the model's declared input)
  * and run through the parsed ONNX graph as one [N, dim] batch.
  *
  * Intended envelope: small float32 classifiers within the MiniOnnx op
  * set — since round 9 that includes transformer ENCODERS (embedding
  * Gather, multi-head attention, GELU-via-Erf, LayerNormalization):
  * MiniOnnxTransformerSpec drives a real 2-layer toy-BERT `.onnx`
  * through this exact class to reference-derived golden labels. A
  * `featurize` that emits token ids as floats plus a leading `Cast`
  * node in the graph is the id-input convention. Production-size
  * checkpoints want ONNX Runtime for throughput (vectorized kernels),
  * which is not on this library's classpath; this class executes an
  * exported sentiment head end-to-end without it, and tests the model
  * seam against real model bytes instead of stubbed logits.
  *
  * Label-vocabulary parity (reference utils.py:76-92): for the
  * reference's model the config's id2label order is index 0 -> positive,
  * 1 -> neutral, 2 -> negative — `labels` defaults to exactly that order
  * and MUST be overridden to the exported model's own id2label if a
  * different checkpoint is deployed (a silently wrong order would permute
  * every label). Confidence is the softmax of the argmax logit — the same
  * score the HF pipeline reports.
  *
  * The model is loaded lazily per executor (the case class serializes as
  * the path + featurizer).
  */
final case class MiniOnnxSentimentClassifier(
    modelPath: String,
    featurize: String => Array[Float],
    labels: Seq[String] = Seq("positive", "neutral", "negative"))
    extends SentimentClassifier {

  @transient private lazy val model: MiniOnnx.Model = MiniOnnx.load(modelPath)

  @transient private lazy val inputName: String = {
    val fromGraph = model.graph.inputNames.filterNot(model.graph.initializers.contains)
    require(fromGraph.size == 1,
      s"expected exactly one non-initializer graph input, got $fromGraph")
    fromGraph.head
  }

  private def batchLogits(texts: Seq[String]): Seq[Array[Float]] = {
    val feats = texts.map(featurize)
    val dim = feats.head.length
    require(feats.forall(_.length == dim), "featurizer emitted ragged rows")
    val x = MiniOnnx.Tensor(Seq(feats.size, dim), feats.flatten.toArray)
    val outName = model.graph.outputNames.head
    val y = MiniOnnx.run(model, Map(inputName -> x))(outName)
    require(y.rows == feats.size,
      s"model returned ${y.rows} rows for ${feats.size} inputs")
    (0 until y.rows).map(i =>
      java.util.Arrays.copyOfRange(y.data, i * y.cols, (i + 1) * y.cols))
  }

  override def classifyBatch(texts: Seq[String]): Seq[(String, Double)] =
    MiniOnnxSentimentClassifier.scoreBatch(texts, labels, batchLogits)
}

object MiniOnnxSentimentClassifier {

  /** The runtime-independent scoring core — everything between raw input
    * texts and (label, confidence) pairs EXCEPT the model call itself:
    * null/empty-row routing to the reference's verbatim ('NEUTRAL', 0.0)
    * fallback (utils.py:82,92) without occupying a model slot, the
    * reference's 512-CHARACTER pre-truncation (its `text[:512]`,
    * utils.py:84-85), one batched `batchLogits` call for all live rows,
    * softmax, and argmax → label-vocabulary mapping. Factored behind the
    * `batchLogits` seam so ScalaTest covers it against a stubbed runtime
    * as well as a real model file.
    *
    * Deployment-typo hardening: a runtime that returns the wrong number of
    * logit rows, or logits whose width disagrees with the label
    * vocabulary, is a HARD error here — not a silently misaligned or
    * permuted label column discovered downstream.
    */
  private[graft] def scoreBatch(
      texts: Seq[String],
      labels: Seq[String],
      batchLogits: Seq[String] => Seq[Array[Float]]): Seq[(String, Double)] = {
    val live = texts.zipWithIndex.collect {
      case (t, i) if t != null && t.nonEmpty =>
        (if (t.length > 512) t.substring(0, 512) else t, i)
    }
    val scored: Map[Int, (String, Double)] =
      if (live.isEmpty) Map.empty
      else {
        val logitRows = batchLogits(live.map(_._1))
        require(logitRows.size == live.size,
          s"model runtime returned ${logitRows.size} logit rows for ${live.size} inputs")
        live.map(_._2).zip(logitRows.map { logits =>
          require(logits.length == labels.size,
            s"model emitted ${logits.length} logits but the label vocabulary has " +
              s"${labels.size} entries — override `labels` to the exported model's id2label")
          val probs = softmax(logits)
          val arg = probs.indices.maxBy(probs)
          (labels(arg), probs(arg))
        }).toMap
      }
    texts.indices.map(i =>
      scored.getOrElse(i, (graft.functions.LexiconSentiment.FallbackLabel, 0.0)))
  }

  private[graft] def softmax(logits: Array[Float]): Array[Double] = {
    val max = logits.max.toDouble
    val exps = logits.map(l => math.exp(l.toDouble - max))
    val sum = exps.sum
    exps.map(_ / sum)
  }
}
