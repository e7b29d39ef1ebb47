package graft.ml

/** Minimal ONNX runtime in pure Scala — enough of the PUBLIC ONNX spec
  * (onnx.proto3 protobuf schema + operator definitions, onnx.ai) to load
  * a real `.onnx` file and execute small float32 graphs, INCLUDING the
  * transformer-encoder op set: Gemm / MatMul (batched, broadcast) / Add /
  * Mul / Sub / Div (numpy broadcast) / Relu / Sigmoid / Tanh / Erf /
  * Sqrt / Softmax (last axis, any rank) / Identity / Gather /
  * LayerNormalization / Transpose (perm) / Reshape / Split / Concat /
  * Cast (float ↔ int64).
  *
  * Why it exists: ONNX Runtime is not on this library's classpath, which
  * would leave the sentiment model seam tested only against stubbed
  * logits. With this runtime a REAL ONNX protobuf model (written
  * byte-for-byte to the public wire format) is parsed and executed with
  * real matrix arithmetic — since round 9 including
  * embedding lookup, multi-head self-attention (batched 4-D MatMuls),
  * GELU-via-Erf and LayerNormalization, so a small REAL transformer
  * checkpoint executes end-to-end (MiniOnnxSpec drives a 2-layer
  * toy-BERT through the distributed classifier path, differentially
  * gated against an independent plain-loop forward pass). It is NOT a
  * replacement for ONNX Runtime at scale (no training ops, no dynamic
  * shape machinery, float32/int64 only) and throws loudly outside its
  * envelope.
  *
  * Protobuf wire format (public spec): messages are (tag, payload)
  * sequences; tag = field_number << 3 | wire_type; wire types used by
  * ONNX: 0 = varint, 2 = length-delimited, 5 = 32-bit. Unknown fields
  * are skipped by spec, which keeps this reader robust to ONNX versions
  * adding fields.
  */
object MiniOnnx {

  /** Row-major tensor: float32 payload in `data`, OR int64 payload in
    * `i64` (Gather indices, Reshape shapes, Cast targets). Exactly one
    * of the two is set.
    */
  final case class Tensor(dims: Seq[Int], data: Array[Float],
      i64: Array[Long] = null) {
    require((data == null) != (i64 == null),
      "tensor must carry exactly one of float/int64 payloads")
    require(dims.product == (if (i64 != null) i64.length else data.length),
      s"tensor dims ${dims.mkString("x")} != payload length")
    def isInt: Boolean = i64 != null
    def rows: Int = if (dims.length == 2) dims.head else 1
    def cols: Int = dims.last
  }

  final case class Attr(name: String, i: Option[Long], f: Option[Float],
    ints: Seq[Long] = Nil)
  final case class Node(opType: String, inputs: Seq[String],
    outputs: Seq[String], attrs: Map[String, Attr])
  final case class Graph(nodes: Seq[Node], initializers: Map[String, Tensor],
    inputNames: Seq[String], outputNames: Seq[String])
  final case class Model(irVersion: Long, opsetVersion: Long, graph: Graph)

  // ------------------------------------------------------ wire reading

  private final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0
      var out = 0L
      var more = true
      while (more) {
        require(pos < end, "truncated varint")
        val b = buf(pos)
        pos += 1
        out |= (b & 0x7fL) << shift
        shift += 7
        more = (b & 0x80) != 0
        require(shift <= 70, "varint too long")
      }
      out
    }
    def fixed32(): Int = {
      require(pos + 4 <= end, "truncated fixed32")
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4
      v
    }
    def bytes(): (Int, Int) = {
      val len = varint().toInt
      require(len >= 0 && pos + len <= end, s"truncated bytes field ($len)")
      val start = pos
      pos += len
      (start, start + len)
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint(); ()
      case 1 => require(pos + 8 <= end, "truncated fixed64"); pos += 8
      case 2 => bytes(); ()
      case 5 => fixed32(); ()
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  private def sub(r: Reader): Reader = {
    val (s, e) = r.bytes()
    new Reader(r.buf, s, e)
  }

  private def str(r: Reader): String = {
    val (s, e) = r.bytes()
    new String(r.buf, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** One pass over a message: dispatch on field number, skip unknowns. */
  private def fields(r: Reader)(f: (Int, Int, Reader) => Unit): Unit =
    while (r.hasMore) {
      val tag = r.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      f(field, wire, r)
    }

  // ------------------------------------------------------ ONNX messages

  private def parseTensor(r: Reader): (String, Tensor) = {
    val dims = scala.collection.mutable.ArrayBuffer.empty[Int]
    var dataType = 1L
    var name = ""
    var floats = scala.collection.mutable.ArrayBuffer.empty[Float]
    var longs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var raw: Array[Byte] = null
    fields(r) {
      case (1, 0, rr) => dims += rr.varint().toInt
      case (1, 2, rr) => // packed dims
        val p = sub(rr); while (p.hasMore) dims += p.varint().toInt
      case (2, 0, rr) => dataType = rr.varint()
      case (4, 5, rr) => floats += java.lang.Float.intBitsToFloat(rr.fixed32())
      case (4, 2, rr) => // packed float_data
        val p = sub(rr); while (p.hasMore) floats += java.lang.Float.intBitsToFloat(p.fixed32())
      case (7, 0, rr) => longs += rr.varint()
      case (7, 2, rr) => // packed int64_data
        val p = sub(rr); while (p.hasMore) longs += p.varint()
      case (8, 2, rr) => name = str(rr)
      case (9, 2, rr) =>
        val (s, e) = rr.bytes()
        raw = java.util.Arrays.copyOfRange(rr.buf, s, e)
      case (_, w, rr) => rr.skip(w)
    }
    dataType match {
      case 1L => // float32
        val data =
          if (raw != null) {
            require(raw.length % 4 == 0, s"tensor '$name': raw_data not float32-aligned")
            val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            Array.fill(raw.length / 4)(bb.getFloat())
          } else floats.toArray
        (name, Tensor(dims.toSeq, data))
      case 7L => // int64 (Gather indices, Reshape shapes)
        val data =
          if (raw != null) {
            require(raw.length % 8 == 0, s"tensor '$name': raw_data not int64-aligned")
            val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            Array.fill(raw.length / 8)(bb.getLong())
          } else longs.toArray
        (name, Tensor(dims.toSeq, null, data))
      case t => throw new IllegalArgumentException(
        s"tensor '$name': only float32 (1) and int64 (7) supported, got type $t")
    }
  }

  private def parseAttr(r: Reader): Attr = {
    var name = ""
    var i: Option[Long] = None
    var f: Option[Float] = None
    val ints = scala.collection.mutable.ArrayBuffer.empty[Long]
    fields(r) {
      case (1, 2, rr) => name = str(rr)
      case (2, 5, rr) => f = Some(java.lang.Float.intBitsToFloat(rr.fixed32()))
      case (3, 0, rr) => i = Some(rr.varint())
      case (8, 0, rr) => ints += rr.varint()
      case (8, 2, rr) => // packed ints
        val p = sub(rr); while (p.hasMore) ints += p.varint()
      case (_, w, rr) => rr.skip(w)
    }
    Attr(name, i, f, ints.toSeq)
  }

  private def parseNode(r: Reader): Node = {
    val ins = scala.collection.mutable.ArrayBuffer.empty[String]
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    var op = ""
    val attrs = scala.collection.mutable.Map.empty[String, Attr]
    fields(r) {
      case (1, 2, rr) => ins += str(rr)
      case (2, 2, rr) => outs += str(rr)
      case (4, 2, rr) => op = str(rr)
      case (5, 2, rr) =>
        val a = parseAttr(sub(rr)); attrs(a.name) = a
      case (_, w, rr) => rr.skip(w)
    }
    Node(op, ins.toSeq, outs.toSeq, attrs.toMap)
  }

  /** ValueInfoProto: only the name matters here. */
  private def parseValueInfoName(r: Reader): String = {
    var name = ""
    fields(r) {
      case (1, 2, rr) => name = str(rr)
      case (_, w, rr) => rr.skip(w)
    }
    name
  }

  private def parseGraph(r: Reader): Graph = {
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Node]
    val inits = scala.collection.mutable.Map.empty[String, Tensor]
    val ins = scala.collection.mutable.ArrayBuffer.empty[String]
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    fields(r) {
      case (1, 2, rr) => nodes += parseNode(sub(rr))
      case (5, 2, rr) =>
        val (n, t) = parseTensor(sub(rr)); inits(n) = t
      case (11, 2, rr) => ins += parseValueInfoName(sub(rr))
      case (12, 2, rr) => outs += parseValueInfoName(sub(rr))
      case (_, w, rr) => rr.skip(w)
    }
    Graph(nodes.toSeq, inits.toMap, ins.toSeq, outs.toSeq)
  }

  def parse(modelBytes: Array[Byte]): Model = {
    val r = new Reader(modelBytes, 0, modelBytes.length)
    var ir = 0L
    var opset = 0L
    var graph: Option[Graph] = None
    fields(r) {
      case (1, 0, rr) => ir = rr.varint()
      case (7, 2, rr) => graph = Some(parseGraph(sub(rr)))
      case (8, 2, rr) =>
        // opset_import: domain (1), version (2)
        var v = 0L
        fields(sub(rr)) {
          case (2, 0, p) => v = p.varint()
          case (_, w, p) => p.skip(w)
        }
        opset = v
      case (_, w, rr) => rr.skip(w)
    }
    Model(ir, opset,
      graph.getOrElse(throw new IllegalArgumentException("model has no graph")))
  }

  def load(path: String): Model =
    parse(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  // ------------------------------------------------------ execution

  private def rowMajorStrides(dims: Seq[Int]): Array[Int] = {
    val s = new Array[Int](dims.length)
    var acc = 1
    var i = dims.length - 1
    while (i >= 0) { s(i) = acc; acc *= dims(i); i -= 1 }
    s
  }

  /** Rank-2 matmul core, or batched over matching leading dims; a rank-2
    * right (or left) side broadcasts across the other side's batch — the
    * [batch, seq, hid] · [hid, hid] projection and the
    * [batch, heads, seq, dk] · [batch, heads, dk, seq] attention shapes.
    */
  private def matmul(a: Tensor, b: Tensor): Tensor = {
    require(a.dims.length >= 2 && b.dims.length >= 2,
      s"matmul needs rank >= 2, got ${a.dims.mkString("x")} · ${b.dims.mkString("x")}")
    val (n, k) = (a.dims(a.dims.length - 2), a.dims.last)
    val (k2, m) = (b.dims(b.dims.length - 2), b.dims.last)
    require(k == k2,
      s"matmul shape mismatch ${a.dims.mkString("x")} · ${b.dims.mkString("x")}")
    val aBatch = a.dims.dropRight(2)
    val bBatch = b.dims.dropRight(2)
    require(aBatch.isEmpty || bBatch.isEmpty || aBatch == bBatch,
      s"matmul batch dims mismatch ${a.dims.mkString("x")} · ${b.dims.mkString("x")}")
    val batchDims = if (aBatch.length >= bBatch.length) aBatch else bBatch
    val batches = batchDims.product
    val out = new Array[Float](batches * n * m)
    var bi = 0
    while (bi < batches) {
      val aOff = if (aBatch.isEmpty) 0 else bi * n * k
      val bOff = if (bBatch.isEmpty) 0 else bi * k * m
      val oOff = bi * n * m
      var i = 0
      while (i < n) {
        var j = 0
        while (j < m) {
          var acc = 0.0f
          var t = 0
          while (t < k) {
            acc += a.data(aOff + i * k + t) * b.data(bOff + t * m + j)
            t += 1
          }
          out(oOff + i * m + j) = acc
          j += 1
        }
        i += 1
      }
      bi += 1
    }
    Tensor(batchDims ++ Seq(n, m), out)
  }

  /** General N-D transpose by permutation (default: reverse dims). */
  private def transpose(t: Tensor, perm: Seq[Int]): Tensor = {
    val p = if (perm.nonEmpty) perm else t.dims.indices.reverse
    require(p.sorted == t.dims.indices, s"bad perm $p for rank ${t.dims.length}")
    val outDims = p.map(t.dims)
    val inStr = rowMajorStrides(t.dims)
    val outStr = rowMajorStrides(outDims)
    val out = new Array[Float](t.data.length)
    var flat = 0
    while (flat < t.data.length) {
      // decompose output flat index → output coords → input offset
      var rem = flat
      var off = 0
      var d = 0
      while (d < outDims.length) {
        val c = rem / outStr(d)
        rem -= c * outStr(d)
        off += c * inStr(p(d))
        d += 1
      }
      out(flat) = t.data(off)
      flat += 1
    }
    Tensor(outDims, out)
  }

  /** Numpy-style broadcast binary op: dims align right; each pair must be
    * equal or 1. Covers same-shape, row bias […,M]+[M], scalar, and the
    * attention-mask [B,H,S,S]+[1,1,S,S] shapes.
    */
  private def broadcastBinary(a: Tensor, b: Tensor, f: (Float, Float) => Float): Tensor = {
    if (a.dims == b.dims) { // fast path
      val out = new Array[Float](a.data.length)
      var i = 0
      while (i < out.length) { out(i) = f(a.data(i), b.data(i)); i += 1 }
      return Tensor(a.dims, out)
    }
    val rank = math.max(a.dims.length, b.dims.length)
    def pad(d: Seq[Int]) = Seq.fill(rank - d.length)(1) ++ d
    val ad = pad(a.dims)
    val bd = pad(b.dims)
    val od = ad.zip(bd).map { case (x, y) =>
      require(x == y || x == 1 || y == 1,
        s"broadcast mismatch ${a.dims.mkString("x")} vs ${b.dims.mkString("x")}")
      math.max(x, y)
    }
    val aStr = rowMajorStrides(ad).zip(ad).map { case (s, d) => if (d == 1) 0 else s }
    val bStr = rowMajorStrides(bd).zip(bd).map { case (s, d) => if (d == 1) 0 else s }
    val oStr = rowMajorStrides(od)
    val out = new Array[Float](od.product)
    var flat = 0
    while (flat < out.length) {
      var rem = flat
      var ao = 0
      var bo = 0
      var d = 0
      while (d < rank) {
        val c = rem / oStr(d)
        rem -= c * oStr(d)
        ao += c * aStr(d)
        bo += c * bStr(d)
        d += 1
      }
      out(flat) = f(a.data(ao), b.data(bo))
      flat += 1
    }
    Tensor(od, out)
  }

  private def add(a: Tensor, b: Tensor): Tensor = broadcastBinary(a, b, _ + _)

  private def unary(t: Tensor, f: Float => Float): Tensor =
    Tensor(t.dims, t.data.map(f))

  /** Softmax over the LAST axis for any rank (ONNX opset ≥ 13 default). */
  private def softmaxRows(t: Tensor): Tensor = {
    val m = t.cols
    val out = new Array[Float](t.data.length)
    var r0 = 0
    while (r0 < t.data.length) {
      var mx = Float.NegativeInfinity
      var j = 0
      while (j < m) { if (t.data(r0 + j) > mx) mx = t.data(r0 + j); j += 1 }
      var sum = 0.0
      j = 0
      while (j < m) { sum += math.exp((t.data(r0 + j) - mx).toDouble); j += 1 }
      j = 0
      while (j < m) {
        out(r0 + j) = (math.exp((t.data(r0 + j) - mx).toDouble) / sum).toFloat
        j += 1
      }
      r0 += m
    }
    Tensor(t.dims, out)
  }

  /** Gauss error function — Abramowitz & Stegun 7.1.26 (|ε| ≤ 1.5e-7),
    * the standard public rational approximation; enough for GELU.
    */
  private def erf(x: Double): Double = {
    val sign = if (x < 0) -1.0 else 1.0
    val ax = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * ax)
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * math.exp(-ax * ax)
    sign * y
  }

  /** LayerNormalization over the last axis (the transformer shape):
    * y = (x − μ)/√(σ² + ε) · scale + bias, per trailing-axis slice.
    */
  private def layerNorm(x: Tensor, scale: Tensor, bias: Option[Tensor],
      eps: Float): Tensor = {
    val m = x.cols
    require(scale.data.length == m, s"LayerNorm scale length ${scale.data.length} != $m")
    bias.foreach(b => require(b.data.length == m, "LayerNorm bias length mismatch"))
    val out = new Array[Float](x.data.length)
    var r0 = 0
    while (r0 < x.data.length) {
      var mean = 0.0
      var j = 0
      while (j < m) { mean += x.data(r0 + j); j += 1 }
      mean /= m
      var varAcc = 0.0
      j = 0
      while (j < m) {
        val d = x.data(r0 + j) - mean; varAcc += d * d; j += 1
      }
      val inv = 1.0 / math.sqrt(varAcc / m + eps)
      j = 0
      while (j < m) {
        val n = (x.data(r0 + j) - mean) * inv * scale.data(j) +
          bias.map(_.data(j).toDouble).getOrElse(0.0)
        out(r0 + j) = n.toFloat
        j += 1
      }
      r0 += m
    }
    Tensor(x.dims, out)
  }

  /** Gather along `axis` (embedding lookup at axis 0; token select at
    * any axis). Output dims: data dims with dims[axis] replaced by the
    * indices dims.
    */
  private def gather(data: Tensor, indices: Tensor, axis: Int): Tensor = {
    require(indices.isInt, "Gather indices must be int64")
    val ax = if (axis < 0) axis + data.dims.length else axis
    require(ax >= 0 && ax < data.dims.length, s"Gather axis $axis out of range")
    val outer = data.dims.take(ax).product
    val axLen = data.dims(ax)
    val inner = data.dims.drop(ax + 1).product
    val nIdx = indices.i64.length
    val out = new Array[Float](outer * nIdx * inner)
    var o = 0
    while (o < outer) {
      var ii = 0
      while (ii < nIdx) {
        val raw = indices.i64(ii)
        val idx = (if (raw < 0) raw + axLen else raw).toInt
        require(idx >= 0 && idx < axLen, s"Gather index $raw out of [0, $axLen)")
        System.arraycopy(data.data, (o * axLen + idx) * inner,
          out, (o * nIdx + ii) * inner, inner)
        ii += 1
      }
      o += 1
    }
    Tensor(data.dims.take(ax) ++ indices.dims ++ data.dims.drop(ax + 1), out)
  }

  /** Reshape with ONNX semantics: 0 copies the input dim, one -1 infers. */
  private def reshape(t: Tensor, shape: Tensor): Tensor = {
    require(shape.isInt, "Reshape shape must be int64")
    val req = shape.i64.zipWithIndex.map { case (v, i) =>
      if (v == 0L) t.dims(i) else v.toInt
    }
    val out =
      if (req.contains(-1)) {
        require(req.count(_ == -1) == 1, "Reshape: at most one -1")
        val known = req.filter(_ != -1).product
        require(known != 0 && t.data.length % known == 0,
          s"Reshape ${t.dims.mkString("x")} → ${req.mkString("x")}")
        req.map(v => if (v == -1) t.data.length / known else v)
      } else req
    require(out.product == t.data.length,
      s"Reshape ${t.dims.mkString("x")} → ${out.mkString("x")}")
    Tensor(out.toSeq, t.data)
  }

  /** Split along `axis` into parts of the given sizes (or equal parts). */
  private def split(t: Tensor, axis: Int, sizes: Seq[Int], nOut: Int): Seq[Tensor] = {
    val ax = if (axis < 0) axis + t.dims.length else axis
    val parts =
      if (sizes.nonEmpty) sizes
      else {
        require(t.dims(ax) % nOut == 0, s"Split: ${t.dims(ax)} not divisible by $nOut")
        Seq.fill(nOut)(t.dims(ax) / nOut)
      }
    require(parts.sum == t.dims(ax), s"Split sizes $parts != dim ${t.dims(ax)}")
    val outer = t.dims.take(ax).product
    val inner = t.dims.drop(ax + 1).product
    val axLen = t.dims(ax)
    var offset = 0
    parts.map { p =>
      val out = new Array[Float](outer * p * inner)
      var o = 0
      while (o < outer) {
        System.arraycopy(t.data, (o * axLen + offset) * inner,
          out, o * p * inner, p * inner)
        o += 1
      }
      offset += p
      Tensor(t.dims.take(ax) ++ Seq(p) ++ t.dims.drop(ax + 1), out)
    }
  }

  /** Concat along `axis`. */
  private def concatAxis(ts: Seq[Tensor], axis: Int): Tensor = {
    val ax = if (axis < 0) axis + ts.head.dims.length else axis
    ts.foreach(t => require(
      t.dims.patch(ax, Nil, 1) == ts.head.dims.patch(ax, Nil, 1),
      "Concat: non-axis dims must match"))
    val outer = ts.head.dims.take(ax).product
    val inner = ts.head.dims.drop(ax + 1).product
    val axTotal = ts.map(_.dims(ax)).sum
    val out = new Array[Float](outer * axTotal * inner)
    var o = 0
    while (o < outer) {
      var dst = o * axTotal * inner
      ts.foreach { t =>
        val span = t.dims(ax) * inner
        System.arraycopy(t.data, o * span, out, dst, span)
        dst += span
      }
      o += 1
    }
    Tensor(ts.head.dims.take(ax) ++ Seq(axTotal) ++ ts.head.dims.drop(ax + 1), out)
  }

  /** Execute the graph on `inputs`; returns the graph outputs by name.
    * ONNX requires nodes in topological order (spec: "nodes ... sorted in
    * topological order"), so execution is one sequential pass.
    */
  def run(model: Model, inputs: Map[String, Tensor]): Map[String, Tensor] = {
    val g = model.graph
    val missing = g.inputNames.filterNot(n =>
      inputs.contains(n) || g.initializers.contains(n))
    require(missing.isEmpty, s"missing graph inputs: ${missing.mkString(", ")}")
    val values = scala.collection.mutable.Map.empty[String, Tensor]
    values ++= g.initializers
    values ++= inputs
    def in(node: Node, i: Int): Tensor =
      values.getOrElse(node.inputs(i), throw new IllegalStateException(
        s"${node.opType}: undefined input '${node.inputs(i)}' — graph not topological?"))
    g.nodes.foreach { node =>
      def attrI(n: String, dflt: Long): Long =
        node.attrs.get(n).flatMap(_.i).getOrElse(dflt)
      val outs: Seq[Tensor] = node.opType match {
        case "MatMul" => Seq(matmul(in(node, 0), in(node, 1)))
        case "Gemm" =>
          val alpha = node.attrs.get("alpha").flatMap(_.f).getOrElse(1.0f)
          val beta = node.attrs.get("beta").flatMap(_.f).getOrElse(1.0f)
          val tA = attrI("transA", 0L) != 0L
          val tB = attrI("transB", 0L) != 0L
          val a = if (tA) transpose(in(node, 0), Nil) else in(node, 0)
          val b = if (tB) transpose(in(node, 1), Nil) else in(node, 1)
          val ab = matmul(a, b)
          val scaled = if (alpha == 1.0f) ab else unary(ab, _ * alpha)
          Seq(if (node.inputs.size > 2) {
            val c = in(node, 2)
            add(scaled, if (beta == 1.0f) c else unary(c, _ * beta))
          } else scaled)
        case "Add" => Seq(add(in(node, 0), in(node, 1)))
        case "Sub" => Seq(broadcastBinary(in(node, 0), in(node, 1), _ - _))
        case "Mul" => Seq(broadcastBinary(in(node, 0), in(node, 1), _ * _))
        case "Div" => Seq(broadcastBinary(in(node, 0), in(node, 1), _ / _))
        case "Relu" => Seq(unary(in(node, 0), v => if (v > 0) v else 0f))
        case "Sigmoid" =>
          Seq(unary(in(node, 0), v => (1.0 / (1.0 + math.exp(-v.toDouble))).toFloat))
        case "Tanh" => Seq(unary(in(node, 0), v => math.tanh(v.toDouble).toFloat))
        case "Erf" => Seq(unary(in(node, 0), v => erf(v.toDouble).toFloat))
        case "Sqrt" => Seq(unary(in(node, 0), v => math.sqrt(v.toDouble).toFloat))
        case "Softmax" =>
          val axis = attrI("axis", -1L)
          val rank = in(node, 0).dims.length
          require(axis == -1L || axis == rank - 1L,
            s"Softmax: only last-axis supported, got axis $axis for rank $rank")
          Seq(softmaxRows(in(node, 0)))
        case "Identity" => Seq(in(node, 0))
        case "Gather" =>
          Seq(gather(in(node, 0), in(node, 1), attrI("axis", 0L).toInt))
        case "LayerNormalization" =>
          val axis = attrI("axis", -1L)
          val rank = in(node, 0).dims.length
          require(axis == -1L || axis == rank - 1L,
            s"LayerNormalization: only last-axis supported, got $axis for rank $rank")
          val eps = node.attrs.get("epsilon").flatMap(_.f).getOrElse(1e-5f)
          val bias = if (node.inputs.size > 2) Some(in(node, 2)) else None
          Seq(layerNorm(in(node, 0), in(node, 1), bias, eps))
        case "Transpose" =>
          val perm = node.attrs.get("perm").map(_.ints.map(_.toInt)).getOrElse(Nil)
          Seq(transpose(in(node, 0), perm))
        case "Reshape" => Seq(reshape(in(node, 0), in(node, 1)))
        case "Split" =>
          val axis = attrI("axis", 0L).toInt
          // opset ≥ 13 passes sizes as a second int64 input; older opsets
          // (and this writer) use the `split` ints attribute
          val sizes =
            if (node.inputs.size > 1) in(node, 1).i64.map(_.toInt).toSeq
            else node.attrs.get("split").map(_.ints.map(_.toInt)).getOrElse(Nil)
          split(in(node, 0), axis, sizes, node.outputs.size)
        case "Concat" =>
          val axis = attrI("axis", 0L).toInt
          Seq(concatAxis(node.inputs.indices.map(i => in(node, i)), axis))
        case "Cast" =>
          val to = attrI("to", 1L)
          val t = in(node, 0)
          to match {
            case 1L => // → float32
              Seq(if (!t.isInt) t
              else Tensor(t.dims, t.i64.map(_.toFloat)))
            case 7L => // → int64 (truncates toward zero, the ONNX Cast
              // rule; the float-carried-ids path ships exact integers)
              Seq(if (t.isInt) t
              else Tensor(t.dims, null, t.data.map(_.toLong)))
            case other => throw new UnsupportedOperationException(
              s"Cast: only float32 (1) and int64 (7) targets, got $other")
          }
        case op => throw new UnsupportedOperationException(
          s"MiniOnnx does not implement op '$op' (supported: Gemm, MatMul, " +
            "Add, Sub, Mul, Div, Relu, Sigmoid, Tanh, Erf, Sqrt, Softmax, " +
            "Identity, Gather, LayerNormalization, Transpose, Reshape, " +
            "Split, Concat, Cast)")
      }
      require(outs.length >= node.outputs.count(_.nonEmpty),
        s"${node.opType}: produced ${outs.length} outputs for ${node.outputs.length} names")
      node.outputs.zip(outs).foreach { case (n, t) => if (n.nonEmpty) values(n) = t }
    }
    g.outputNames.map(n => n -> values.getOrElse(n,
      throw new IllegalStateException(s"graph output '$n' never produced"))).toMap
  }
}
