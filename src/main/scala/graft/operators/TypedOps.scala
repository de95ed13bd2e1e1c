package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed Dataset surface: the same exact-integer discipline as the
  * untyped catalog, through case-class rows and a custom Spark `Aggregator`
  * — compile-time schemas for pipeline stages where a field typo must
  * not survive to runtime. Encoders keep rows in Tungsten binary form,
  * and the Aggregator's reduce/merge is the associative+commutative
  * monoid shape map-side partial aggregation needs, so the typed path
  * shuffles only (key, buffer) pairs exactly like the untyped one.
  *
  * Scale note: a typed lambda (`ds.filter(_.qty > 5)`) is opaque to
  * Catalyst — no pushdown through it, no codegen inside it. Use typed
  * stages where the predicate runs on DERIVED values anyway (as here),
  * and keep scan-pushable column predicates in untyped form BEFORE
  * `.as[T]`.
  */
object TypedOps {

  /** One lineitem line, integer-exact: quantity floored to units,
    * extended price in cents. */
  final case class LineSlice(flag: String, qty: Long, ep_cents: Long)

  /** Exact per-flag stats — all BIGINT, hash-stable on any engine. */
  final case class FlagStats(flag: String, n_lines: Long, sum_qty: Long,
    sum_ep_cents: Long, max_line_cents: Long)

  final case class Buf(n: Long, qty: Long, cents: Long, maxC: Long)

  /** Integer stats monoid over [[LineSlice]]. */
  object FlagStatsAgg extends Aggregator[LineSlice, Buf, Buf] {
    override def zero: Buf = Buf(0L, 0L, 0L, Long.MinValue)
    override def reduce(b: Buf, a: LineSlice): Buf =
      Buf(b.n + 1, b.qty + a.qty, b.cents + a.ep_cents,
        math.max(b.maxC, a.ep_cents))
    override def merge(x: Buf, y: Buf): Buf =
      Buf(x.n + y.n, x.qty + y.qty, x.cents + y.cents,
        math.max(x.maxC, y.maxC))
    override def finish(b: Buf): Buf = b
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
  }

  /** lineitem → typed slice (derived integer columns, then `.as[T]`). */
  def lineSlices(lineitem: DataFrame): Dataset[LineSlice] = {
    import lineitem.sparkSession.implicits._
    lineitem.select(
      col("l_returnflag").as("flag"),
      floor(col("l_quantity")).cast("long").as("qty"),
      expr("floor(l_extendedprice * 100 + 0.5)").cast("long").as("ep_cents"))
      .as[LineSlice]
  }

  /** Typed filter → groupByKey → custom Aggregator → typed result. */
  def flagStats(lines: Dataset[LineSlice], minQty: Long): Dataset[FlagStats] = {
    import lines.sparkSession.implicits._
    lines.filter(_.qty > minQty)
      .groupByKey(_.flag)
      .agg(FlagStatsAgg.toColumn)
      .map { case (flag, b) =>
        FlagStats(flag, b.n, b.qty, b.cents, b.maxC)
      }
  }
}
