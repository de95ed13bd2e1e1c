package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** One scalar function: SQL `name`, computed by the static `method` of
  * `target` through Spark's `StaticInvoke`. Whole-stage codegen emits a
  * direct static call (`graft.expressions.Kernels.minhash(...)`) and
  * interpreted evaluation calls the same method by reflection, so each
  * function is defined once, in [[Kernels]]. A null argument gives a
  * null result without a call. `inputTypes` apply Spark's implicit
  * casts, and an argument no cast fits fails the query at analysis.
  */
private[expressions] final class KernelFunction(
    val name: String, target: Class[_], method: String, dataType: DataType,
    inputTypes: DataType*) {
  def apply(args: Seq[Expression]): Expression = {
    require(args.length == inputTypes.length,
      s"$name takes ${inputTypes.length} arguments, got ${args.length}")
    StaticInvoke(target, dataType, method, args, inputTypes, returnNullable = false)
  }
}

/** Column API of the custom functions. The scalar ones are kernel
  * calls — one compiled call per row, so per-token and per-element work
  * is a primitive loop instead of an interpreted higher-order function
  * (`transform`/`aggregate`/`zip_with`) walked per element. SQL
  * registers the same [[scalars]] ([[GraftExtensions]]).
  */
object GraftFunctions {
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def col(x: Expression): Column = ColumnBridge.column(x)
  private def call(f: KernelFunction, args: Column*): Column = col(f(args.map(e)))

  private val longs = ArrayType(LongType, containsNull = false)
  private val floats = ArrayType(FloatType)
  private def kernel(name: String, method: String, dataType: DataType,
      inputTypes: DataType*) =
    new KernelFunction(name, Kernels.getClass, method, dataType, inputTypes: _*)

  private val minhashSigFn = kernel("minhash_sig", "minhash", longs,
    StringType, IntegerType, IntegerType, BooleanType)
  private val shingleSetFn = kernel("shingle_set", "shingleSet", longs,
    StringType, IntegerType, BooleanType)
  private val minhashFromSetFn = kernel("minhash_from_set", "minhashFromHashes", longs,
    longs, IntegerType)
  private val winnowFn = kernel("winnow", "winnow", longs, StringType, IntegerType, IntegerType)
  private val simhash64Fn = kernel("simhash64", "simhash", LongType, StringType)
  private val jaccardSortedFn = kernel("jaccard_sorted", "jaccardSorted", DoubleType, longs, longs)
  private val vecDotFn = kernel("vec_dot", "dotF", DoubleType, floats, floats)
  private val vecCosineFn = kernel("vec_cosine", "cosineF", DoubleType, floats, floats)
  private val hyperplaneBucketFn = kernel("hyperplane_bucket", "hyperplaneBucket", LongType,
    floats, ArrayType(DoubleType), IntegerType)
  private val scatterLutFn = kernel("scatter_lut", "scatterLut", longs, longs, longs, IntegerType)
  private val adcLookupSumFn = kernel("adc_lookup_sum", "adcLookupSum", LongType,
    longs, longs, IntegerType)
  private val doubleBitsFn = new KernelFunction("double_bits", classOf[java.lang.Double],
    "doubleToLongBits", LongType, DoubleType)

  /** Every scalar function, for SQL registration. */
  private[expressions] val scalars: Seq[KernelFunction] = Seq(minhashSigFn, shingleSetFn,
    minhashFromSetFn, winnowFn, simhash64Fn, jaccardSortedFn, vecDotFn, vecCosineFn,
    hyperplaneBucketFn, scatterLutFn, adcLookupSumFn, doubleBitsFn)

  /** MinHash signature of a text column: array<long> of length k. */
  def minhashSig(text: Column, shingleSize: Int, k: Int, charLevel: Boolean): Column =
    call(minhashSigFn, text, lit(shingleSize), lit(k), lit(charLevel))
  /** MinHash signature from a [[shingleSet]] column: with both in one
    * projection, codegen's subexpression elimination computes the set
    * once, so text is tokenized and hashed once per row.
    */
  def minhashFromSet(sh: Column, k: Int): Column = call(minhashFromSetFn, sh, lit(k))
  def minhashUnion(sig: Column, k: Int): Column =
    col(MinHashUnion(e(sig), k).toAggregateExpression())
  def boundedTopK(score: Column, id: Column, k: Int): Column =
    col(BoundedTopK(e(score), e(id), k).toAggregateExpression())
  /** Sorted distinct shingle-hash set of a text column: array<long>. */
  def shingleSet(text: Column, shingleSize: Int, charLevel: Boolean): Column =
    call(shingleSetFn, text, lit(shingleSize), lit(charLevel))
  /** 64-bit SimHash of a text column. */
  def simhash64(text: Column): Column = call(simhash64Fn, text)
  /** Winnowing fingerprints of a text column: array<long>. One compiled
    * pass per row; the higher-order-function form (transform +
    * array_min over slices) is interpreted and re-evaluated per
    * exploded row in generate/join plans, which turned a 0.2 s pass
    * into minutes at sf0.1.
    */
  def winnow(text: Column, k: Int, w: Int): Column = call(winnowFn, text, lit(k), lit(w))
  /** Exact Jaccard of two sorted [[shingleSet]] columns; both empty → 1.0. */
  def jaccardSorted(a: Column, b: Column): Column = call(jaccardSortedFn, a, b)
  /** Dot product of two array<float> columns, double accumulation. */
  def vecDot(a: Column, b: Column): Column = call(vecDotFn, a, b)
  /** Cosine similarity of two array<float> columns, one fused pass. */
  def vecCosine(a: Column, b: Column): Column = call(vecCosineFn, a, b)
  /** Random-hyperplane LSH bucket of an array<float> column. The planes
    * (flattened row-major) are one constant array literal, read in
    * place by every row.
    */
  def hyperplaneBucket(v: Column, planes: IndexedSeq[Double], nPlanes: Int): Column =
    call(hyperplaneBucketFn, v, col(Literal(UnsafeArrayData.fromPrimitiveArray(planes.toArray),
      ArrayType(DoubleType, containsNull = false))), lit(nPlanes))
  /** Dense per-query ADC lookup table: scatter (idx, sjc) entry arrays
    * into one zero-filled array<long> of `size` cells (idx = sub·2^w +
    * code). Built once per query; the natural broadcast side of the
    * narrow compressed-domain scan.
    */
  def scatterLut(idxs: Column, vals: Column, size: Int): Column =
    call(scatterLutFn, idxs, vals, lit(size))
  /** ADC score of a packed code array against a dense per-query lookup
    * table: Σⱼ lut[(j << w) + codes[j]], one kernel call per (query,
    * vector) pair, so the compressed-domain scan's exchanges carry only
    * (query_id, neighbor_id, adc) instead of m rows per pair.
    */
  def adcLookupSum(codes: Column, lut: Column, width: Int): Column =
    call(adcLookupSumFn, codes, lut, lit(width))
  /** IEEE-754 bit pattern of a double as a signed long
    * (`Double.doubleToLongBits`, NaN canonicalized to 0x7ff8…). The
    * cross-engine hash-dump digest ([[graft.HashDump]]) renders doubles
    * through this instead of a decimal string: bit patterns are the one
    * double rendering two engines agree on exactly.
    */
  def doubleBits(d: Column): Column = call(doubleBitsFn, d)
}
