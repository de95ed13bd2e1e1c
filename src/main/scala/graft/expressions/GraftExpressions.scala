package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

// Custom Catalyst expressions for the hot paths of the dedup /
// similarity operators. Spark's higher-order functions (`transform`,
// `aggregate`, `zip_with`) fall back to interpreted evaluation, which
// makes per-token work the bottleneck at scale; these expressions run
// one compiled kernel call per row (whole-stage codegen emits a direct
// static call into Kernels), so per-element cost is a primitive loop,
// not an expression-tree walk.

/** MinHash signature of a text column: array<long> of length k. */
case class MinHashSig(child: Expression, shingleSize: Int, k: Int, charLevel: Boolean)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Kernels.minhash(input.asInstanceOf[UTF8String], shingleSize, k, charLevel))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |  graft.expressions.Kernels.minhash($c, $shingleSize, $k, $charLevel));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Sorted distinct shingle-hash set of a text column: array<long>. */
case class ShingleSet(child: Expression, shingleSize: Int, charLevel: Boolean)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Kernels.shingleSet(input.asInstanceOf[UTF8String], shingleSize, charLevel))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |  graft.expressions.Kernels.shingleSet($c, $shingleSize, $charLevel));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** MinHash signature from a precomputed shingle-hash array (as
  * produced by [[ShingleSet]]): lets one projection compute the set
  * once and derive the signature from it — whole-stage codegen's
  * subexpression elimination shares the ShingleSet child between the
  * `sh` output column and this expression, so text is tokenized and
  * hashed exactly once per row.
  */
case class MinHashFromSet(child: Expression, k: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType]
        && child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs an array<bigint> input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_from_set"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Kernels.minhashFromHashes(input.asInstanceOf[ArrayData].toLongArray(), k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |  graft.expressions.Kernels.minhashFromHashes($c.toLongArray(), $k));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashFromSet =
    copy(child = newChild)
}

/** Winnowing fingerprints of a text column: array<long>. One compiled
  * pass per row — the higher-order-function formulation (transform +
  * array_min over slices) is interpreted AND gets re-evaluated per
  * exploded output row in generate/join plans, which turned a 0.2 s
  * pass into minutes at sf0.1.
  */
case class Winnow(child: Expression, k: Int, w: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Kernels.winnow(input.asInstanceOf[UTF8String], k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |  graft.expressions.Kernels.winnow($c, $k, $w));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** 64-bit SimHash of a text column. */
case class SimHash64(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Kernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Exact Jaccard between two SORTED long-array columns (as produced by
  * [[ShingleSet]]); both-empty → 1.0.
  */
case class JaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType] )
        && Seq(left, right).forall(_.dataType.asInstanceOf[ArrayType].elementType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<bigint> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccardSorted(
      a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.Kernels.jaccardSorted($a.toLongArray(), $b.toLongArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two array<float> columns, double accumulation. */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType])
        && Seq(left, right).forall(_.dataType.asInstanceOf[ArrayType].elementType == FloatType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<float> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dotF(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.Kernels.dotF($a.toFloatArray(), $b.toFloatArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two array<float> columns — one fused pass. */
case class VecCosine(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType])
        && Seq(left, right).forall(_.dataType.asInstanceOf[ArrayType].elementType == FloatType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<float> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosineF(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.Kernels.cosineF($a.toFloatArray(), $b.toFloatArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosine =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket of an array<float> column: all plane
  * dot products fused into one kernel call per row. Planes are a
  * constant matrix (flattened row-major), shipped to generated code as
  * a reference object.
  */
case class HyperplaneBucket(child: Expression, planes: IndexedSeq[Double], nPlanes: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType]
        && child.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs an array<float> input")
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"

  @transient private lazy val planesArr: Array[Double] = planes.toArray

  override protected def nullSafeEval(input: Any): Any =
    Kernels.hyperplaneBucket(
      input.asInstanceOf[ArrayData].toFloatArray(), planesArr, nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planesArr, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.Kernels.hyperplaneBucket($c.toFloatArray(), $ref, $nPlanes)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** Dense per-query ADC lookup table: scatter (idx, sjc) entry arrays
  * into one zero-filled array<long> of `size` cells (idx = sub·2^w +
  * code). Built once per query; the natural broadcast side of the
  * narrow compressed-domain scan.
  */
case class ScatterLut(left: Expression, right: Expression, size: Int)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType])
        && Seq(left, right).forall(_.dataType.asInstanceOf[ArrayType].elementType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<bigint> inputs")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "scatter_lut"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Kernels.scatterLut(
        a.asInstanceOf[ArrayData].toLongArray(),
        b.asInstanceOf[ArrayData].toLongArray(), size))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |  graft.expressions.Kernels.scatterLut($a.toLongArray(), $b.toLongArray(), $size));""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScatterLut =
    copy(left = newLeft, right = newRight)
}

/** ADC score of a packed code array against a dense per-query lookup
  * table: Σⱼ lut[(j << w) + codes[j]] — one compiled kernel call per
  * (query, vector) pair, so the compressed-domain scan's exchanges
  * carry only (query_id, neighbor_id, adc) instead of m rows per pair.
  */
case class AdcLookupSum(left: Expression, right: Expression, width: Int)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType])
        && Seq(left, right).forall(_.dataType.asInstanceOf[ArrayType].elementType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<bigint> inputs")
  override def dataType: DataType = LongType
  override def prettyName: String = "adc_lookup_sum"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.adcLookupSum(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.Kernels.adcLookupSum($a, $b, $width)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLookupSum =
    copy(left = newLeft, right = newRight)
}

/** IEEE-754 bit pattern of a double as a signed long —
  * `Double.doubleToLongBits` (NaN canonicalized to 0x7ff8…). The
  * cross-engine hash-dump digest ([[graft.HashDump]]) renders doubles
  * through this instead of a decimal string: bit patterns are the one
  * double rendering two engines can agree on exactly (Java's shortest
  * repr and Python's repr format the same value differently).
  */
case class DoubleBits(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a double input")
  override def dataType: DataType = LongType
  override def prettyName: String = "double_bits"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Double.doubleToLongBits(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToLongBits($c)")

  override protected def withNewChildInternal(newChild: Expression): DoubleBits =
    copy(child = newChild)
}

/** Column-API wrappers for the custom expressions. */
object GraftFunctions {
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def col(x: Expression): Column = ColumnBridge.column(x)

  def minhashSig(text: Column, shingleSize: Int, k: Int, charLevel: Boolean): Column =
    col(MinHashSig(e(text), shingleSize, k, charLevel))
  def minhashFromSet(sh: Column, k: Int): Column = col(MinHashFromSet(e(sh), k))
  def minhashUnion(sig: Column, k: Int): Column =
    col(MinHashUnion(e(sig), k).toAggregateExpression())
  def boundedTopK(score: Column, id: Column, k: Int): Column =
    col(BoundedTopK(e(score), e(id), k).toAggregateExpression())
  def shingleSet(text: Column, shingleSize: Int, charLevel: Boolean): Column =
    col(ShingleSet(e(text), shingleSize, charLevel))
  def simhash64(text: Column): Column = col(SimHash64(e(text)))
  def winnow(text: Column, k: Int, w: Int): Column = col(Winnow(e(text), k, w))
  def jaccardSorted(a: Column, b: Column): Column = col(JaccardSorted(e(a), e(b)))
  def vecDot(a: Column, b: Column): Column = col(VecDot(e(a), e(b)))
  def vecCosine(a: Column, b: Column): Column = col(VecCosine(e(a), e(b)))
  def hyperplaneBucket(v: Column, planes: IndexedSeq[Double], nPlanes: Int): Column =
    col(HyperplaneBucket(e(v), planes, nPlanes))
  def scatterLut(idxs: Column, vals: Column, size: Int): Column =
    col(ScatterLut(e(idxs), e(vals), size))
  def adcLookupSum(codes: Column, lut: Column, width: Int): Column =
    col(AdcLookupSum(e(codes), e(lut), width))
  def doubleBits(d: Column): Column = col(DoubleBits(e(d)))
}
