package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staging transform: dedup, null handling, type casts, derived columns.
  *
  * Semantics derived from reference: src/staging/staging_layer.py:53-87.
  * Expressed as one lazy DataFrame chain — Catalyst collapses the
  * projections and pushes the null filter to the scan, so at scale this
  * is a single pass with one shuffle (the dropDuplicates).
  */
object StagingLayer {

  /** Columns imputed to zero (reference: staging_layer.py:63-70). */
  val fillZeroInt: Seq[String] = Seq("stock_level", "reorder_point", "lead_time_days")
  val fillZeroDouble: Seq[String] = Seq("carrying_cost", "stock_out_risk", "inventory_turnover")

  /** Full staging clean (reference: staging_layer.py:53-87):
    * dropDuplicates → non-null date → casts → fillna → derived columns.
    *
    * `profit_margin`'s null-guard intentionally omits `total_sales` and
    * the `is_restock_needed` guard is vacuous after fillna — both are
    * declared reference semantics (SURVEY.md §2.9 notes), reproduced
    * as-is.
    */
  def clean(df: DataFrame): DataFrame = {
    val deduped = df.dropDuplicates()
      .filter(col("date").isNotNull)
      .withColumn("unit_price", col("unit_price").cast(DecimalType(10, 2)))
      .withColumn("total_sales", col("total_sales").cast(DecimalType(15, 2)))
      .withColumn("quantity_sold", col("quantity_sold").cast(IntegerType))
    val filled = deduped.na
      .fill(0, fillZeroInt)
      .na.fill(0.0, fillZeroDouble)
    filled
      .withColumn(
        "profit_margin",
        when(
          col("quantity_sold").isNotNull && col("unit_price").isNotNull,
          col("total_sales") - col("quantity_sold") * col("unit_price"))
          .otherwise(lit(null)))
      .withColumn(
        "is_restock_needed",
        when(
          col("stock_level").isNotNull && col("reorder_point").isNotNull &&
            (col("stock_level") < col("reorder_point")),
          lit("Yes")).otherwise(lit("No")))
  }
}
