package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{GraftSqlBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for operators Spark's function library lacks.
  * All of them generate a static method call in `doGenCode`, so they stay
  * inside whole-stage codegen (no CodegenFallback in the hot path) — at
  * 100 TB these run once per row and must not break pipelining.
  */

/** 64-bit SimHash of a whitespace-tokenized string. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(newChild)
  override def prettyName: String = "simhash64"
}

/** Winnowing-style document fingerprint: min rolling polynomial hash over
  * `window`-byte substrings.
  */
case class RollingMinHash(child: Expression, window: Int) extends UnaryExpression
    {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.rollingMinHash(input.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.rollingMinHash($c, $window)")
  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
  override def prettyName: String = "rolling_min_hash"
}

/** MinHash signature (ARRAY<LONG> of length k) over 3-token shingles —
  * single-pass kernel, no per-hash-function re-tokenization.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      TextHashes.minhashSig(input.asInstanceOf[UTF8String], k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.TextHashes.minhashSig($c, $k))")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** Cosine similarity between two ARRAY<FLOAT> columns, accumulated in double
  * precision (bit-compatible with the DuckDB oracle's double-cast
  * list_cosine_similarity).
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.cosineF(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextHashes.cosineF($a.toFloatArray(), $b.toFloatArray())")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** Exact char-n-gram Jaccard similarity of two strings (hash-set kernel,
  * zero array materialization — the verify stage of near-dup detection).
  */
case class NgramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.ngramJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashes.ngramJaccard($a, $b, $n)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NgramJaccard =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "ngram_jaccard"
}

/** Random-hyperplane LSH bucket id of an ARRAY<FLOAT> embedding (sign bits
  * of `planes` LCG-derived projections; `salt` picks an independent plane
  * set). Codegen'd — the bucket assignment runs inside the scan's
  * whole-stage pipeline, which a Scala UDF would break.
  */
case class HyperplaneBucket(child: Expression, planes: Int, salt: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.hyperplaneBucket(input.asInstanceOf[ArrayData].toFloatArray(), planes, salt)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashes.hyperplaneBucket($c.toFloatArray(), $planes, $salt)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_bucket"
}

/** Exact token-3-shingle Jaccard of two strings (MinHash verify metric). */
case class ShingleJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.shingleJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashes.shingleJaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "shingle_jaccard"
}

/** Asymmetric shingle containment |A∩B|/|A| — the quoted-whole-inside
  * detector symmetric Jaccard misses (codegen'd like its Jaccard twin).
  */
case class ShingleContainment(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.shingleContainment(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashes.shingleContainment($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ShingleContainment =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "shingle_containment"
}

/** Word-n-gram md5 fingerprints: ARRAY<STRING> tokens → ARRAY<STRING> of
  * md5 hex per n-token window (compiled single pass; bit-identical to
  * the interpreted md5-of-array_join-of-slice HOF chain).
  */
case class ShingleMd5s(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.shingleMd5s(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.shingleMd5s($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMd5s =
    copy(child = newChild)
  override def prettyName: String = "shingle_md5s"
}

/** Matryoshka prefix cosines: (query ARRAY<FLOAT>, neighbor ARRAY<FLOAT>)
  * → ARRAY<DOUBLE> of the cosine at each width fraction in `fracs`
  * (prefix length max(1, len/f)), all from one compiled pass over the
  * arrays — the interpreted aggregate-over-slice equivalent costs ~100×
  * per element and re-reads the prefix per fraction.
  */
case class PrefixCosines(left: Expression, right: Expression, fracs: Array[Int])
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayData.toArrayData(TextHashes.prefixCosines(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray(), fracs))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("fracs", fracs, "int[]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.TextHashes.prefixCosines($a.toFloatArray(), $b.toFloatArray(), $fRef))")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PrefixCosines =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "prefix_cosines"
}

/** Product-quantization encode: ARRAY<FLOAT> vector → ARRAY<INT> of `m`
  * codebook indices. The trained codebook rides along as an expression
  * field (referenced via `addReferenceObj` in generated code — it is
  * runtime data, not a literal the plan should embed textually).
  */
case class PqCodes(child: Expression, cb: Array[Float], m: Int, k: Int, d: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(
      TextHashes.pqCodes(input.asInstanceOf[ArrayData].toFloatArray(), cb, m, k, d))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.TextHashes.pqCodes($c.toFloatArray(), $cbRef, $m, $k, $d))")
  }
  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
  override def prettyName: String = "pq_codes"
}

/** ADC query distance table: ARRAY<FLOAT> query vector → flat
  * ARRAY<DOUBLE> of m·k per-subspace squared-L2 distances to the
  * codebook centroids (codebook as expression data via addReferenceObj,
  * like [[PqCodes]]).
  */
case class PqQueryTable(child: Expression, cb: Array[Float], m: Int, k: Int, d: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(
      TextHashes.pqQueryTable(input.asInstanceOf[ArrayData].toFloatArray(), cb, m, k, d))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.TextHashes.pqQueryTable($c.toFloatArray(), $cbRef, $m, $k, $d))")
  }
  override protected def withNewChildInternal(newChild: Expression): PqQueryTable =
    copy(child = newChild)
  override def prettyName: String = "pq_query_table"
}

/** PCA projection: ARRAY<FLOAT> vector → ARRAY<DOUBLE> of its `k`
  * component scores under a trained flat basis (expression data via
  * addReferenceObj, like [[PqCodes]]).
  */
case class PcaProject(child: Expression, basis: Array[Double], k: Int, d: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(
      TextHashes.pcaProject(input.asInstanceOf[ArrayData].toFloatArray(), basis, k, d))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("pcaBasis", basis, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.TextHashes.pcaProject($c.toFloatArray(), $bRef, $k, $d))")
  }
  override protected def withNewChildInternal(newChild: Expression): PcaProject =
    copy(child = newChild)
  override def prettyName: String = "pca_project"
}

/** One corpus-wide BPE merge: ARRAY<STRING> symbols with every adjacent
  * (left, right) pair fused — the per-rank rewrite of byte-pair-encoding
  * training. The pair is per-merge data, carried as expression fields.
  */
case class BpeMergeStep(child: Expression, left: String, right: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private lazy val l = UTF8String.fromString(left)
  private lazy val r = UTF8String.fromString(right)
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.bpeMerge(input.asInstanceOf[ArrayData], l, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLeft", l, classOf[UTF8String].getName)
    val rRef = ctx.addReferenceObj("bpeRight", r, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.bpeMerge($c, $lRef, $rRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMergeStep =
    copy(child = newChild)
  override def prettyName: String = "bpe_merge_step"
}

/** Full BPE tokenization of a symbol array under a trained rank-ordered
  * merge table (carried as expression data via `addReferenceObj`).
  */
case class BpeEncode(child: Expression, lefts: Array[String], rights: Array[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private lazy val ls = lefts.map(UTF8String.fromString)
  private lazy val rs = rights.map(UTF8String.fromString)
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.bpeEncode(input.asInstanceOf[ArrayData], ls, rs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", ls, s"${classOf[UTF8String].getName}[]")
    val rRef = ctx.addReferenceObj("bpeRights", rs, s"${classOf[UTF8String].getName}[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.bpeEncode($c, $lRef, $rRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
  override def prettyName: String = "bpe_encode"
}

/** ADC lookup score: (codes ARRAY<INT>, flat query table ARRAY<DOUBLE>) →
  * summed per-subspace table entries.
  */
case class PqAdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashes.pqAdc($a, $b, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc_score"
}

/** DEFLATE-compressed byte count of a string (level 6, raw stream) — the
  * numerator of the compression-ratio text-quality signal.
  */
case class DeflateSize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.deflateSize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.deflateSize($c)")
  override protected def withNewChildInternal(newChild: Expression): DeflateSize =
    copy(child = newChild)
  override def prettyName: String = "deflate_size"
}

/** Column-API constructors for the expressions above. Their SQL names are
  * registered once, by [[graft.GraftExtensions]].
  */
object GraftFunctions {
  def simhash64(c: Column): Column = ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))
  def rollingMinHash(c: Column, window: Int): Column =
    ExpressionUtils.column(RollingMinHash(ExpressionUtils.expression(c), window))
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def minhashSig(c: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(c), k))
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    ExpressionUtils.column(NgramJaccard(ExpressionUtils.expression(a), ExpressionUtils.expression(b), n))
  def shingleJaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(ShingleJaccard(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def shingleContainment(a: Column, b: Column): Column =
    ExpressionUtils.column(ShingleContainment(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def deflateSize(c: Column): Column =
    ExpressionUtils.column(DeflateSize(ExpressionUtils.expression(c)))
  def hyperplaneBucket(c: Column, planes: Int, salt: Int = 0): Column =
    ExpressionUtils.column(HyperplaneBucket(ExpressionUtils.expression(c), planes, salt))
  def shingleMd5s(toks: Column, n: Int): Column =
    ExpressionUtils.column(ShingleMd5s(ExpressionUtils.expression(toks), n))
  def prefixCosines(a: Column, b: Column, fracs: Array[Int]): Column =
    ExpressionUtils.column(PrefixCosines(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), fracs))
  def pqCodes(c: Column, cb: Array[Float], m: Int, k: Int, d: Int): Column =
    ExpressionUtils.column(PqCodes(ExpressionUtils.expression(c), cb, m, k, d))
  def pqQueryTable(c: Column, cb: Array[Float], m: Int, k: Int, d: Int): Column =
    ExpressionUtils.column(PqQueryTable(ExpressionUtils.expression(c), cb, m, k, d))
  def pcaProject(c: Column, basis: Array[Double], k: Int, d: Int): Column =
    ExpressionUtils.column(PcaProject(ExpressionUtils.expression(c), basis, k, d))
  def pqAdcScore(codes: Column, tab: Column, k: Int): Column =
    ExpressionUtils.column(PqAdcScore(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(tab), k))
  def bpeMergeStep(syms: Column, left: String, right: String): Column =
    ExpressionUtils.column(BpeMergeStep(ExpressionUtils.expression(syms), left, right))
  def bpeEncode(syms: Column, lefts: Array[String], rights: Array[String]): Column =
    ExpressionUtils.column(BpeEncode(ExpressionUtils.expression(syms), lefts, rights))
}
