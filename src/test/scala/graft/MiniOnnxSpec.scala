package graft

import org.apache.spark.sql.functions._

import graft.ml.{MiniOnnx, MiniOnnxSentimentClassifier}
import graft.operators.SentimentRunner

/** [[MiniOnnx]] — a REAL ONNX protobuf model file (written here to the
  * public wire format, byte-for-byte) must parse, execute with real
  * matrix arithmetic, and drive the production scoring core
  * (`MiniOnnxSentimentClassifier.scoreBatch`) to golden labels, including
  * through the distributed [[SentimentRunner.label]] path.
  */
object MiniOnnxSpec extends Serializable {

  // ---------------------------------------------- protobuf wire writer

  final class Proto {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Proto = {
      var x = v
      while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
      this
    }
    def tag(field: Int, wire: Int): Proto = varint((field.toLong << 3) | wire)
    def int(field: Int, v: Long): Proto = { tag(field, 0); varint(v) }
    def bytes(field: Int, b: Array[Byte]): Proto = {
      tag(field, 2); varint(b.length); out.write(b); this
    }
    def str(field: Int, s: String): Proto = bytes(field, s.getBytes("UTF-8"))
    def msg(field: Int)(body: Proto => Unit): Proto = {
      val p = new Proto; body(p); bytes(field, p.out.toByteArray)
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  private def floatsLE(vs: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(vs.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat)
    bb.array()
  }

  // packed float_data is raw little-endian fixed32s inside one
  // length-delimited field — write it directly. raw_data (field 9) and
  // packed float_data (field 4) are BOTH legal ONNX encodings and both
  // must parse, so the model below uses each for two of its tensors.
  def tensorPackedFloats(name: String, dims: Seq[Int], vals: Array[Float])(p: Proto): Unit = {
    dims.foreach(d => p.int(1, d.toLong))
    p.int(2, 1L)
    p.bytes(4, floatsLE(vals)) // field 4, wire 2: packed floats
    p.str(8, name)
  }

  def tensorRaw(name: String, dims: Seq[Int], vals: Array[Float])(p: Proto): Unit = {
    dims.foreach(d => p.int(1, d.toLong))
    p.int(2, 1L)
    p.bytes(9, floatsLE(vals))
    p.str(8, name)
  }

  def node(op: String, ins: Seq[String], outs: Seq[String])(p: Proto): Unit = {
    ins.foreach(p.str(1, _))
    outs.foreach(p.str(2, _))
    p.str(4, op)
  }

  /** The test model: X[N,4] → Gemm(W1[4,8], b1) → Relu → Gemm(W2[8,3], b2)
    * → logits[N,3]. W1 passes the 4 features through (identity columns);
    * W2 scores positive = f0−f1, neutral = 0.2·f2 + 0.5, negative = f1−f0.
    */
  def buildModelBytes(): Array[Byte] = {
    val w1 = Array.tabulate(4, 8)((i, j) => if (i == j) 1f else 0f).flatten
    val b1 = Array.fill(8)(0f)
    val w2 = Array.tabulate(8, 3) {
      case (0, 0) => 1f; case (1, 0) => -1f       // positive: f0 - f1
      case (2, 1) => 0.2f                          // neutral: 0.2*f2 (+ b2)
      case (0, 2) => -1f; case (1, 2) => 1f        // negative: f1 - f0
      case _ => 0f
    }.flatten
    val b2 = Array(0f, 0.5f, 0f)
    val m = new Proto
    m.int(1, 8L) // ir_version
    m.msg(7) { g =>
      g.msg(1)(node("Gemm", Seq("X", "W1", "b1"), Seq("h")))
      g.msg(1)(node("Relu", Seq("h"), Seq("r")))
      g.msg(1)(node("Gemm", Seq("r", "W2", "b2"), Seq("logits")))
      g.str(2, "mini-sentiment")
      g.msg(5)(tensorRaw("W1", Seq(4, 8), w1))         // raw_data path
      g.msg(5)(tensorPackedFloats("b1", Seq(8), b1))   // packed float_data path
      g.msg(5)(tensorRaw("W2", Seq(8, 3), w2))
      g.msg(5)(tensorPackedFloats("b2", Seq(3), b2))
      g.msg(11)(_.str(1, "X"))
      g.msg(12)(_.str(1, "logits"))
    }
    m.msg(8)(_.int(2, 13L)) // opset_import { version: 13 }
    m.toBytes
  }

  private val PosWords = Set("good", "great", "happy")
  private val NegWords = Set("bad", "terrible", "sad")

  /** 4 features, all non-negative (so the Relu is exact pass-through and
    * goldens are hand-derivable): pos hits, neg hits, token count / 10,
    * capped char count / 100.
    */
  def featurize(text: String): Array[Float] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    Array(
      toks.count(PosWords).toFloat,
      toks.count(NegWords).toFloat,
      toks.length / 10f,
      math.min(text.length, 100) / 100f)
  }
}

class MiniOnnxSpec extends SparkSpec {

  import MiniOnnxSpec._

  private def writeModel(): String = {
    val f = java.nio.file.Files.createTempFile("mini", ".onnx")
    java.nio.file.Files.write(f, buildModelBytes())
    f.toString
  }

  test("parses the model: graph shape, both tensor encodings, opset") {
    val m = MiniOnnx.parse(buildModelBytes())
    assert(m.irVersion == 8L && m.opsetVersion == 13L)
    assert(m.graph.nodes.map(_.opType) == Seq("Gemm", "Relu", "Gemm"))
    assert(m.graph.initializers.keySet == Set("W1", "b1", "W2", "b2"))
    assert(m.graph.initializers("W1").dims == Seq(4, 8))
    assert(m.graph.initializers("b2").data.toSeq == Seq(0f, 0.5f, 0f))
    assert(m.graph.inputNames == Seq("X") && m.graph.outputNames == Seq("logits"))
  }

  test("executes the graph with real matrix arithmetic (hand-checked)") {
    val m = MiniOnnx.parse(buildModelBytes())
    // one row: f = [2, 1, 0.3, 0.5] → h = f padded; logits =
    // [2-1, 0.2*0.3+0.5, 1-2] = [1, 0.56, -1]
    val x = MiniOnnx.Tensor(Seq(1, 4), Array(2f, 1f, 0.3f, 0.5f))
    val y = MiniOnnx.run(m, Map("X" -> x))("logits")
    assert(y.dims == Seq(1, 3))
    assert(math.abs(y.data(0) - 1f) < 1e-6)
    assert(math.abs(y.data(1) - 0.56f) < 1e-6)
    assert(math.abs(y.data(2) - (-1f)) < 1e-6)
  }

  test("unsupported ops and missing inputs fail loudly") {
    val bad = new Proto
    bad.int(1, 8L)
    bad.msg(7) { g =>
      g.msg(1)(node("Conv", Seq("X"), Seq("y")))
      g.msg(11)(_.str(1, "X"))
      g.msg(12)(_.str(1, "y"))
    }
    val m = MiniOnnx.parse(bad.toBytes)
    val e = intercept[UnsupportedOperationException] {
      MiniOnnx.run(m, Map("X" -> MiniOnnx.Tensor(Seq(1, 1), Array(1f))))
    }
    assert(e.getMessage.contains("Conv"))
    val good = MiniOnnx.parse(buildModelBytes())
    val e2 = intercept[IllegalArgumentException](MiniOnnx.run(good, Map.empty))
    assert(e2.getMessage.contains("X"))
  }

  test("real model file drives scoreBatch to golden labels end-to-end") {
    val clf = MiniOnnxSentimentClassifier(writeModel(), featurize)
    val texts = Seq(
      "good great day",     // pos 2, neg 0 → positive
      "bad terrible day",   // → negative
      "the weather exists", // 0/0 → neutral bias wins
      "good bad",           // tie → neutral
      "",                   // fallback row: never touches the model
      null)
    val got = clf.classifyBatch(texts)
    assert(got.map(_._1) == Seq(
      "positive", "negative", "neutral", "neutral", "NEUTRAL", "NEUTRAL"))
    // fallback confidence is the reference's literal 0.0; scored rows are
    // softmax probabilities in (1/3, 1)
    assert(got(4)._2 == 0.0 && got(5)._2 == 0.0)
    assert(got.take(4).forall(r => r._2 > 1.0 / 3 && r._2 < 1.0))
    // softmax argmax on the hand-computed logits for row 0:
    // [2, 0.5+0.2*0.3, -2] → positive with p = e^2 / (e^2+e^0.56+e^-2)
    val probs = MiniOnnxSentimentClassifier.softmax(
      Array(2f, 0.56f, -2f))
    assert(math.abs(got.head._2 - probs(0)) < 1e-9)
  }

  test("distributed SentimentRunner.label path over the real model file") {
    import spark.implicits._
    val path = writeModel()
    val docs = Seq(
      (1L, "good great happy"), (2L, "terrible sad bad"),
      (3L, "nothing to see"), (4L, null: String))
      .toDF("id", "text").repartition(3)
    val got = SentimentRunner.label(
        docs, "text", MiniOnnxSentimentClassifier(path, featurize), batchSize = 2)
      .select($"id", $"sentiment_label")
      .as[(Long, String)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq("positive", "negative", "neutral", "NEUTRAL"))
  }
}
