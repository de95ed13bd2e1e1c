package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.GraftFunctions

class VectorFunctionsSpec extends SparkSpec {

  import spark.implicits._

  private def pair(a: Array[Float], b: Array[Float]) =
    Seq((a, b)).toDF("a", "b")

  test("dot product") {
    val r = pair(Array(1f, 2f, 3f), Array(4f, 5f, 6f))
      .select(GraftFunctions.vecDot(col("a"), col("b"))).head.getDouble(0)
    assert(r === 32.0)
  }

  test("norm") {
    val r = pair(Array(3f, 4f), Array(0f, 0f))
      .select(VectorFunctions.norm(col("a"))).head.getDouble(0)
    assert(r === 5.0)
  }

  test("cosine: parallel=1, orthogonal=0, opposite=-1") {
    def cos(a: Array[Float], b: Array[Float]) =
      pair(a, b).select(VectorFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(cos(Array(1f, 0f), Array(2f, 0f)) - 1.0) < 1e-12)
    assert(math.abs(cos(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
    assert(math.abs(cos(Array(1f, 0f), Array(-1f, 0f)) + 1.0) < 1e-12)
  }

  test("hyperplaneBucket: deterministic and sign-sensitive") {
    val planes = VectorFunctions.randomPlanes(nPlanes = 8, dim = 2, seed = 7L)
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(-1f, 0f))
    ).toDF("id", "v")
      .select(col("id"), VectorFunctions.hyperplaneBucket(col("v"), planes).as("b"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    // opposite vector flips every plane's sign → complementary bucket
    assert(m(1L) + m(3L) === 255L)
  }

  test("quantizeInt8: floor scaling, clamped at the rails") {
    val df = Seq((1L, Array(0.5f, -0.5f, 1.0f, -1.0f, 0.0f, 0.0079f)))
      .toDF("id", "v")
      .select(transform(col("v"), VectorFunctions.quantizeInt8Component(_)).as("q"))
    val q = df.head.getSeq[Int](0)
    // floor(0.5*127)=63, floor(-0.5*127)=-64 (floor, not trunc),
    // 1.0→127, -1.0→-127 (in-range, no clamp), 0→0, floor(.0079*127)=1
    assert(q === Seq(63, -64, 127, -127, 0, 1))
    val rails = Seq((2L, Array(2.0f, -2.0f))).toDF("id", "v")
      .select(transform(col("v"), VectorFunctions.quantizeInt8Component(_)).as("q"))
    assert(rails.head.getSeq[Int](0) === Seq(127, -128))
  }
}
