package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-column data skipping —
  * the lakehouse OPTIMIZE pattern: lay rows out along the space-filling
  * curve of two filter columns so parquet row-group min/max stats are
  * tight on BOTH, and a predicate on either column prunes files. A
  * single-column sort gives perfect stats on that column and
  * full-domain stats on every other; at 100 TB that's the difference
  * between scanning 1/N of the files and all of them for the second
  * dimension's queries.
  */
object ZOrder {

  /** Interleave the low `bitsPer` bits of two non-negative integers:
    * bit i of `a` lands at position 2i+1, bit i of `b` at position 2i
    * (a=2,b=1 → 9; a=b=3 → 15). A static tree of shift/mask builtins —
    * whole-stage codegen'd; the higher-order-function form would run
    * interpreted and re-evaluate per reference. Caller clamps/folds
    * inputs into [0, 2^bitsPer) — pmod by 2^bitsPer keeps hot keys
    * spread rather than saturated.
    */
  def interleaveBits(a: Column, b: Column, bitsPer: Int = 16): Column = {
    require(bitsPer >= 1 && bitsPer <= 31, s"bitsPer must be 1..31, got $bitsPer")
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bitsPer).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }
}
