package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of (point-in-time) join: for each left row, the single right row
  * with the greatest `rightTime` ≤ `leftTime` within the same key —
  * the lookup SCD2 serves ("which dim version was current when this
  * fact happened") and the standard event-enrichment primitive.
  *
  * Spark has no native as-of join; a naive range join
  * (`l.t >= r.t`) plans as a nested-loop and dies at scale. This
  * implementation uses the union + last-observation-carried-forward
  * window technique: tag both sides, union, and run
  * `last(value, ignoreNulls)` over (key ORDER BY time, side) — right
  * rows sort before left rows at equal timestamps, so the join is
  * inclusive (≥), matching SQL ASOF JOIN semantics. Cost: ONE shuffle
  * on the key + a per-partition sort; no quadratic candidate set, skew
  * bounded by rows-per-key like any keyed window.
  */
object AsOfJoin {

  /** Left as-of join carrying `valueCols` from the right side, null
    * when no right row precedes the left row.
    *
    * @param prefix prepended to the carried right columns in the output
    * @param tolerance maximum staleness of the match (e.g.
    *   `expr("INTERVAL 1 HOUR")` for timestamps, a long literal for
    *   integer times): a matched right row older than
    *   `leftTime - tolerance` is masked back to null — kdb/pandas
    *   `merge_asof(tolerance=...)` semantics. Applied as a
    *   post-window mask, so it adds zero shuffles.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      valueCols: Seq[String], prefix: String = "asof_",
      tolerance: Option[Column] = None): DataFrame = {
    // field order must follow valueCols (not right.schema) so the null
    // literal's struct type agrees with the real struct built below;
    // the matched right TIME rides along as field __rt for the
    // tolerance mask
    val rvType = StructType(
      StructField("__rt", right.schema(rightTime).dataType) +:
        valueCols.map(c => right.schema(c)))
    val lvType = StructType(left.schema.fields)
    val r2 = right.select(
      col(key).as("__k"), col(rightTime).as("__t"),
      struct(col(rightTime).as("__rt") +: valueCols.map(col): _*).as("__rv"),
      lit(0).as("__side"),
      lit(null).cast(lvType).as("__lv"))
    val l2 = left.select(
      col(key).as("__k"), col(leftTime).as("__t"),
      lit(null).cast(rvType).as("__rv"),
      lit(1).as("__side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__lv"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stale = tolerance.map(tol => col("__last.__rt") < col("__t") - tol)
    l2.unionByName(r2)
      .withColumn("__last", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__lv.*") +:
        valueCols.map { c =>
          val v = col(s"__last.$c")
          stale.fold(v)(s => when(s, lit(null)).otherwise(v)).as(prefix + c)
        }: _*)
  }
}
