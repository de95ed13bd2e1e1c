package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Morton interleave values: known bit positions and width checks. */
class ZOrderSpec extends SparkSpec {

  import spark.implicits._

  test("interleaveBits: known values and bit positions") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (2L, 1L), (3L, 3L),
        (65535L, 65535L))
      .toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.interleaveBits(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((0L, 0L)) === 0L)
    assert(got((1L, 0L)) === 2L) // a's bit 0 → position 1
    assert(got((0L, 1L)) === 1L) // b's bit 0 → position 0
    assert(got((2L, 1L)) === 9L)
    assert(got((3L, 3L)) === 15L)
    assert(got((65535L, 65535L)) === 4294967295L) // all 32 low bits set
  }

  test("interleaveBits rejects bad widths") {
    val df = Seq((1L, 1L)).toDF("a", "b")
    intercept[IllegalArgumentException](
      df.select(ZOrder.interleaveBits(col("a"), col("b"), 0)))
    intercept[IllegalArgumentException](
      df.select(ZOrder.interleaveBits(col("a"), col("b"), 32)))
  }
}
