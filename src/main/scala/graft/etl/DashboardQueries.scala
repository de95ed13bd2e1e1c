package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's 4 serving queries, verbatim SQL, executed on Spark
  * SQL over temp views instead of Postgres
  * (reference: dashboard.py:30-41, 53-67, 78-91, 102-115).
  *
  * Requires views: fact_sales, dim_date, dim_store, dim_product.
  * All four are star joins + aggregation + ORDER BY. With AQE the
  * tiny dims broadcast, so the fact is never shuffled for a join, but
  * each query still has two shuffles: the groupBy's hash exchange and
  * the ORDER BY's range exchange. `explain` of q1 over parquet views
  * shows two BroadcastExchanges (dim_date, dim_store), a partial →
  * hashpartitioning → final HashAggregate, then rangepartitioning →
  * Sort. Executed, that is 6 Spark jobs at sf0.01: one per broadcast,
  * the hash-shuffle map stage, the range exchange's sampling job, its
  * map stage and the result stage.
  */
object DashboardQueries {

  /** Q1 — total sales by year / month / store location. */
  val q1: String =
    """SELECT d.year, d.month, s.store_location,
      |       SUM(f.total_sales) AS total_sales
      |FROM fact_sales f
      |JOIN dim_date d ON f.date = d.date_id
      |JOIN dim_store s ON f.store_id = s.store_id
      |GROUP BY d.year, d.month, s.store_location
      |ORDER BY d.year, d.month, s.store_location""".stripMargin

  /** Q2 — quantity sold by product, filtered to a year. */
  def q2(year: Int): String =
    s"""SELECT p.product_id, p.product_category,
       |       SUM(f.quantity_sold) AS total_quantity_sold
       |FROM fact_sales f
       |JOIN dim_product p ON f.product_id = p.product_id
       |JOIN dim_date d ON f.date = d.date_id
       |WHERE d.year = $year
       |GROUP BY p.product_id, p.product_category
       |ORDER BY total_quantity_sold DESC""".stripMargin

  /** Q3 — quantity and average stock level by store × product. */
  val q3: String =
    """SELECT s.store_location, p.product_category,
      |       SUM(f.quantity_sold) AS total_sold,
      |       AVG(f.stock_level) AS avg_stock_level
      |FROM fact_sales f
      |JOIN dim_store s ON f.store_id = s.store_id
      |JOIN dim_product p ON f.product_id = p.product_id
      |GROUP BY s.store_location, p.product_category
      |ORDER BY avg_stock_level DESC""".stripMargin

  /** Q4 — quantity and sales by store × product. */
  val q4: String =
    """SELECT s.store_location, p.product_category,
      |       SUM(f.quantity_sold) AS total_quantity,
      |       SUM(f.total_sales) AS total_sales
      |FROM fact_sales f
      |JOIN dim_store s ON f.store_id = s.store_id
      |JOIN dim_product p ON f.product_id = p.product_id
      |GROUP BY s.store_location, p.product_category
      |ORDER BY total_sales DESC""".stripMargin

  def run1(spark: SparkSession): DataFrame = spark.sql(q1)
  def run2(spark: SparkSession, year: Int): DataFrame = spark.sql(q2(year))
  def run3(spark: SparkSession): DataFrame = spark.sql(q3)
  def run4(spark: SparkSession): DataFrame = spark.sql(q4)
}
