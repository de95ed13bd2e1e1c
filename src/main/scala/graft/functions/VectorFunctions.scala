package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions

/** Dense-vector math over `array<float>` embedding columns, backed by
  * the kernel functions of [[graft.expressions.GraftFunctions]] — one fused
  * compiled loop per row instead of interpreted `zip_with`/`aggregate`
  * higher-order functions (which fall back to per-element expression
  * evaluation and dominate brute-force similarity cost at scale).
  * All math accumulates in double.
  */
object VectorFunctions {

  def norm(v: Column): Column = sqrt(GraftFunctions.vecDot(v, v))

  /** Cosine similarity — dot and both norms in one pass; zero-norm
    * input yields 0.0, not NaN.
    */
  def cosine(a: Column, b: Column): Column = GraftFunctions.vecCosine(a, b)

  /** Sign-bit bucket for random-hyperplane LSH: bit j = 1 iff
    * dot(v, plane_j) > 0, packed into a long — all planes in one
    * kernel call ([[graft.expressions.GraftFunctions.hyperplaneBucket]]).
    */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column =
    GraftFunctions.hyperplaneBucket(
      v, planes.flatten.toIndexedSeq, planes.length)

  /** Symmetric int8 quantization code for ONE component:
    * clamp(⌊x·127⌋, −128, 127). Fixed-scale (÷128 to dequantize),
    * deliberately division-free: one IEEE multiply + floor, so codes
    * are bit-identical on any engine and the driver oracle
    * value-checks them (q74). For |x| ≤ 1 the clamp never fires
    * (⌊±1·127⌋ = ±127 is already in range); −128 is only reachable
    * for inputs below −128/127. Scalar → codegen'd; aggregations
    * should posexplode + quantize per component (the q74/q65 shape)
    * rather than wrap it in an array `transform` HOF, which is
    * interpreted and re-evaluated per reference.
    */
  def quantizeInt8Component(x: Column): Column =
    greatest(lit(-128L), least(lit(127L), floor(x.cast("double") * 127))).cast("int")

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }
}
