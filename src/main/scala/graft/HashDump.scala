package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.GraftFunctions

/** Engine-side comparison digest for [[Verify]]'s hash-dump mode
  * (VERDICT r11 #4): at sweep scale the `coalesce(1)` single-writer
  * parquet dump dominates per-query cost for row-preserving queries
  * (a 5-column projection of 60 M rows read as 151–392 s at sf10 when
  * the engine work is seconds). In hash mode the full result never
  * leaves the cluster: each query ships ONE row — a row count, the
  * sorted column-name list, and an order-independent md5-sum digest —
  * and `tools/local_verify.py` computes the same digest in Python over
  * the DuckDB oracle rows, so the compare keeps full value strictness
  * at a scalar's I/O cost.
  *
  * Digest definition (the Python side mirrors it cell for cell):
  *  - columns sorted by name (the driver's own canonical order);
  *  - each cell rendered to a canonical string: NULL -> the 0x02
  *    sentinel alone; every NON-NULL cell is a one-char TYPE TAG
  *    followed by the value (ADVICE r12: the tag keeps long 5 and
  *    string "5" digest-distinct, exactly as the full-dump compare
  *    distinguishes them):
  *      `S` + string, with the three digest metacharacters escaped as
  *            0x03-pairs (0x03->0x03 0x03, 0x01->0x03 '1',
  *            0x02->0x03 '2') so a string value can neither shift cell
  *            boundaries across columns nor impersonate NULL;
  *      `B` + `true`/`false`;
  *      `L` + integer decimal;
  *      `D` + the DECIMAL STRING OF THE DOUBLE'S IEEE-754 BITS
  *            (`Double.doubleToLongBits`, NaN canonicalized — bit
  *            patterns are the one double rendering two engines agree
  *            on exactly; floats widen losslessly to double first);
  *  - cells joined with 0x01 (NULL sentinel 0x02), md5 of the UTF-8
  *    row string;
  *  - digest = (sum over rows of high64(md5) mod 2^64, sum of
  *    low64(md5) mod 2^64, row count). Sums are order-independent
  *    (rows arrive in partition order) and, unlike XOR, do not cancel
  *    duplicate rows in pairs.
  *
  * Strictness matches the full-dump compare: double bits are injective
  * where Python `repr` is (all NaNs equal, −0.0 ≠ 0.0), cells are
  * boundary-safe and type-tagged, and the 128-bit sum makes a silent
  * collision across a 2^64-row corpus negligible. Only the five types
  * the catalog emits (verified by inventory: long, int, string,
  * double, boolean) are supported — [[digestFrame]] returns None for
  * anything else and Verify falls back to the full dump for that
  * query, loud in the log.
  */
object HashDump {

  /** The digest row's schema — local_verify.py detects hash mode by
    * exactly these column names.
    */
  val digestCols: Seq[String] =
    Seq("graft_digest_a", "graft_digest_b", "graft_digest_cols", "graft_digest_rows")

  private val Two64 = new java.math.BigDecimal(
    java.math.BigInteger.ONE.shiftLeft(64))

  private val Sep = "\u0001" // cell separator
  private val Nul = "\u0002" // NULL sentinel (a full cell, never inside one)
  private val Esc = "\u0003" // escape char inside string cells

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case StringType | BooleanType | DoubleType | FloatType => true
    case _ => false
  }

  /** Escape the three digest metacharacters in a string column —
    * escape char first so the other two rewrites can't double-escape.
    */
  def escaped(c: Column): Column =
    replace(
      replace(
        replace(c, lit(Esc), lit(Esc + Esc)),
        lit(Sep), lit(Esc + "1")),
      lit(Nul), lit(Esc + "2"))

  private def cell(name: String, dt: DataType): Column = {
    val c = col(name)
    val rendered = dt match {
      case DoubleType =>
        concat(lit("D"), GraftFunctions.doubleBits(c).cast("string"))
      case FloatType =>
        concat(lit("D"), GraftFunctions.doubleBits(c.cast("double")).cast("string"))
      case StringType  => concat(lit("S"), escaped(c))
      case BooleanType => concat(lit("B"), c.cast("string"))
      case _           => concat(lit("L"), c.cast("string")) // ints decimal
    }
    coalesce(rendered, lit(Nul))
  }

  /** The 1-row digest frame for `df`, or None when a column type has
    * no pinned cross-engine rendering (caller dumps the full result).
    */
  def digestFrame(df: DataFrame): Option[DataFrame] = {
    val fields = df.schema.fields
    if (!fields.forall(f => supported(f.dataType))) return None
    val sortedFields = fields.sortBy(_.name)
    val rowStr = concat_ws(Sep,
      sortedFields.map(f => cell(f.name, f.dataType)).toIndexedSeq: _*)
    val h = df.select(md5(rowStr).as("h"))
    def half(from: Int): Column =
      // conv() parses the 16 hex chars as an UNSIGNED 64-bit value and
      // returns its decimal string; decimal(38,0) sums stay exact to
      // ~10^18 rows before precision could bind
      coalesce(
        sum(conv(substring(col("h"), from, 16), 16, 10).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))
    Some(h.agg(
        pmod(half(1), lit(Two64)).cast("decimal(38,0)").cast("string")
          .as("graft_digest_a"),
        pmod(half(17), lit(Two64)).cast("decimal(38,0)").cast("string")
          .as("graft_digest_b"),
        count(lit(1)).as("graft_digest_rows"))
      .withColumn("graft_digest_cols", lit(sortedFields.map(_.name).mkString(",")))
      .select("graft_digest_a", "graft_digest_b", "graft_digest_cols",
        "graft_digest_rows"))
  }
}
