package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-schema modeling: 1 fact + 3 dims with SCD2 on store/product.
  *
  * Column sets per reference: src/curated/curated_layer.py:81-141. The
  * dims are `select(...).distinct()` over attribute tuples — because
  * the sample data's product_id does NOT determine category/price,
  * these dims are legitimately multi-row per business key
  * (SURVEY.md §1.5); we reproduce that, not an idealized dim.
  *
  * Scale: each dim is a projection + distinct (one shuffle on the
  * projected tuple). The staging input should be cached by the caller
  * when building all four outputs — the reference re-scanned it 8×.
  */
object CuratedLayer {

  def dimDate(staging: DataFrame): DataFrame =
    staging.select("date").distinct()
      .withColumnRenamed("date", "date_id")
      .withColumn("year", year(col("date_id")))
      .withColumn("month", month(col("date_id")))
      .withColumn("day", dayofmonth(col("date_id")))

  val storeTracked: Seq[String] =
    Seq("store_location", "reorder_point", "lead_time_days", "carrying_cost", "stock_out_risk")

  def dimStoreSource(staging: DataFrame): DataFrame =
    staging.select(
      col("store_id"), col("store_location"), col("reorder_point"),
      col("lead_time_days"), col("carrying_cost"), col("stock_out_risk"))
      .distinct()

  val productTracked: Seq[String] = Seq("product_category", "unit_price")

  def dimProductSource(staging: DataFrame): DataFrame =
    staging.select(col("product_id"), col("product_category"), col("unit_price"))
      .distinct()

  def dimStore(staging: DataFrame, existing: Option[DataFrame], asOf: Timestamp): DataFrame =
    Scd2(dimStoreSource(staging), existing, "store_id", storeTracked, asOf)

  def dimProduct(staging: DataFrame, existing: Option[DataFrame], asOf: Timestamp): DataFrame =
    Scd2(dimProductSource(staging), existing, "product_id", productTracked, asOf)

  def factSales(staging: DataFrame): DataFrame =
    staging.select(
      "transaction_id", "date", "store_id", "product_id",
      "quantity_sold", "total_sales", "stock_level")
}
