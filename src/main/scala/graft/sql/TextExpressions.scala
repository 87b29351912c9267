package org.apache.spark.sql.graft

import graft.text.Text
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Text-analysis + vector expressions for the training-data-pipeline
 * surface: language-ID, quality scoring, token counting, fingerprinting,
 * MinHash/LSH, SimHash, and embedding cosine — each a Catalyst expression
 * so dedup/similarity queries stay inside codegen'd plans.
 */
case class TextLangId(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Text.langId(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.text.Text.langId($c.toString()))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class TextQuality(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = Text.qualityScore(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Text.qualityScore($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class TextTokenCount(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = Text.tokens(v.asInstanceOf[UTF8String].toString).length
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Text.tokens($c.toString()).length")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class TextTokenCountBpe(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = Text.tokenCountBpeish(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Text.tokenCountBpeish($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class TextFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Text.fingerprint(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Text.fingerprint($c.toString(), 8)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class TextSimhash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Text.simhash(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Text.simhash($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** text_simhash128(text) → array<bigint> [hi, lo] — the wide-fingerprint
  * scale path for pigeonhole near-dup (chunks stay ≥9 bits at hamming≤12). */
case class TextSimhash128(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Text.simhash128(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.text.Text.simhash128($c.toString()))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** text_minhash(text, numPerm) → array<bigint> signature. */
case class TextMinhash(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(Text.minhash(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[Int], 4))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.text.Text.minhash($a.toString(), $b, 4))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** lsh_bands(signature, rowsPerBand) → array<bigint> band keys. */
case class LshBands(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val sig = a.asInstanceOf[ArrayData].toLongArray()
    new GenericArrayData(Text.lshBands(sig, b.asInstanceOf[Int]))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.text.Text.lshBands($a.toLongArray(), $b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class TextNgramJaccard(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Text.ngramJaccard(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString,
      c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.text.Text.ngramJaccard($a.toString(), $b.toString(), $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

case class TextJaccard(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Text.jaccard(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.text.Text.jaccard($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** text_chunks(text, size, step) → array<string> of token windows (size
  * tokens, stride step) — long-document chunking for training pipelines. */
case class TextChunks(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(Text.chunks(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[Int], c.asInstanceOf[Int]).map(UTF8String.fromString).asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"org.apache.spark.sql.graft.TextChunks.arr($a.toString(), $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
object TextChunks {
  /** Codegen-callable array builder. */
  def arr(s: String, size: Int, step: Int): GenericArrayData =
    new GenericArrayData(Text.chunks(s, size, step).map(UTF8String.fromString).asInstanceOf[Array[Any]])
}

// ---------------- embedding vectors ----------------

object VecOps {
  /** Sequential-order double accumulation (deterministic, oracle-matchable). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def norm(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val d = dot(a, b)
    val na = norm(a); val nb = norm(b)
    if (na == 0 || nb == 0) 0.0 else d / (na * nb)
  }
  /** Quantized (×1000, floor+0.5) integer dot — exact in any engine. */
  def dotQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(a.getFloat(i).toDouble * 1000 + 0.5).toLong *
           math.floor(b.getFloat(i).toDouble * 1000 + 0.5).toLong
      i += 1
    }
    s
  }
}

case class VecDot(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.VecOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class VecCosine(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.VecOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** text_shingles(text, k) → deduped word-k-gram hashes (precomputable side
  * of an n-gram Jaccard join: array_intersect replaces per-pair reshingling). */
case class TextShingles(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(Text.shingles(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.text.Text.shingles($a.toString(), $b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** text_window_sig(text, w) → 60-bit md5-prefix signature of every w-token
  * window (exact-substring dedup key; see Text.windowSignatures). */
case class TextWindowSig(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(Text.windowSignatures(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.text.Text.windowSignatures($a.toString(), $b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Quantized (×1000, floor+0.5) integer dot product — exact in any engine. */
case class VecDotQ(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.VecOps.dotQ($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** vec_ivf_assign(embedding, centroidBlob) → bucket id (argmax centroid dot). */
case class VecIvfAssign(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.sql.K.ivfAssign(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.K.ivfAssign($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** vec_ivf_dot(embedding, centroidBlob, bucket) → dot with that centroid. */
case class VecIvfDot(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    graft.sql.K.ivfDot(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.ivfDot($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** vec_ivf_cos(embedding, centroidBlob, bucket) → full-precision cosine to
  * that (unit) centroid — the radius-stat metric; the embedding is NOT
  * assumed normalized. */
case class VecIvfCos(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    graft.sql.K.ivfCos(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.K.ivfCos($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** vec_norm(embedding) → full-precision L2 norm. */
case class VecNorm(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = graft.sql.K.vecNorm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.sql.K.vecNorm($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** vec_pq_encode(embedding, codebookBlob) → m PQ code bytes (argmin per
  * subspace in the quantized-integer space; see graft.join.Pq). */
case class VecPqEncode(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.join.Pq.encode(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.join.Pq.encode($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** vec_pq_radius(embedding, codebookBlob, codes) → quantization residual
  * ||x − recon(x)|| — the per-row term of the exact PQ lower bound. */
case class VecPqRadius(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    graft.join.Pq.radius(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]], c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.join.Pq.radius($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** vec_pq_adc(codes, lutBlob) → Σ_s lut[s][code_s] — the asymmetric-
  * distance (integer ||q − recon(x)||²) table lookup. */
case class VecPqAdc(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.join.Pq.adc(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.join.Pq.adc($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** vec_pq_bucket(embedding, coarseCb) → IVF-PQ coarse cell (argmin-L2²
  * against an m=1 codebook; ties to the lowest id). */
case class VecPqBucket(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.join.Pq.bucket(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.join.Pq.bucket($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** vec_l2_q(a, b) → quantized (×1000, floor+0.5) integer squared L2 —
  * exact in any engine, the PQ rerank/oracle metric. */
case class VecL2Q(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.join.Pq.l2q(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.join.Pq.l2q($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** PII scrub (email → ip → phone placeholders; Text.redactPii contract:
  * RE2-compatible patterns shared verbatim with the DuckDB oracle). */
case class TextRedactPii(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Text.redactPii(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.text.Text.redactPii($c.toString()))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Canonical text form: NFC + ROOT lowercase + whitespace collapse + trim. */
case class TextNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Text.normalize(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.text.Text.normalize($c.toString()))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** text_bpe_merge(enc, a, b): apply one learned BPE merge to a
  * sentinel-encoded symbol string (see Text.mergePair / graft.text.Bpe). */
case class TextBpeMerge(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType, StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(e: Any, a: Any, b: Any): Any =
    UTF8String.fromString(Text.mergePair(e.asInstanceOf[UTF8String].toString,
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, a, b) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.text.Text.mergePair($e.toString(), $a.toString(), $b.toString()))")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** Exact integer dynamic-time-warping distance between two long series
  * (q292): delegates to the rolling-row DP in graft.sql.K — per-pair
  * row-local work, bounded by the calendar-length series. */
case class SeqDtw(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    // null ELEMENTS return NULL instead of the former toLongArray NPE
    // (ADVICE r5 — q292's spine inputs are never null, so results are
    // unchanged; this hardens the public SQL surface only)
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    var i = 0
    while (i < ad.numElements()) { if (ad.isNullAt(i)) return null; i += 1 }
    i = 0
    while (i < bd.numElements()) { if (bd.isNullAt(i)) return null; i += 1 }
    graft.sql.K.seqDtw(ad.toLongArray(), bd.toLongArray())
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Exact LCS length between two token arrays (q293 ROUGE-L): the same
  * rolling-row shape as SeqDtw, max-composition instead of min. */
case class SeqLcs(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.sql.K.seqLcs(
      a.asInstanceOf[ArrayData].toObjectArray(StringType),
      b.asInstanceOf[ArrayData].toObjectArray(StringType))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
