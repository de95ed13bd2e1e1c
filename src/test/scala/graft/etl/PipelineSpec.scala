package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def raw = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("T1", ts("2023-01-05"), "ST1", "NYC", "P1", "Toys",
        2, 10.0, 20.0, 5, 10, 3, 1.0, 0.1, 2.0),
      Row("T2", ts("2023-01-05"), "ST1", "NYC", "P2", "Food",
        1, 5.0, 5.0, 8, 10, 3, 1.0, 0.1, 1.0),
      Row("T3", ts("2023-02-10"), "ST2", "LA", "P1", "Toys",
        3, 10.0, 30.0, 2, 10, 3, 1.0, 0.3, 2.0),
      // P1 with a different price → second dim_product tuple for P1
      Row("T4", ts("2023-02-11"), "ST2", "LA", "P1", "Toys",
        1, 12.0, 12.0, 2, 10, 3, 1.0, 0.3, 2.0),
    )), Schemas.inventory)

  test("star schema shapes: dim_date/store/product and fact") {
    val out = Pipeline.runBatch(raw)
    assert(out.dimDate.count() === 3) // 3 distinct dates
    assert(out.dimDate.columns.toSet === Set("date_id", "year", "month", "day"))
    assert(out.dimStore.filter(out.dimStore("store_id") === "ST1").count() === 1)
    // non-functional dependency preserved: P1 appears with 2 prices
    assert(out.dimProduct.filter(out.dimProduct("product_id") === "P1").count() === 2)
    assert(out.factSales.count() === 4)
  }

  test("runBatch caches the staging frame the four outputs build from") {
    val out = Pipeline.runBatch(raw)
    try assert(out.staging.storageLevel != StorageLevel.NONE)
    finally out.staging.unpersist()
  }

  test("dashboard Q1 runs on Spark SQL views and aggregates correctly") {
    val out = Pipeline.runBatch(raw)
    Pipeline.registerViews(spark, out)
    val q1 = DashboardQueries.run1(spark).collect()
    // (2023,1,NYC)=25.0 and (2023,2,LA)=42.0
    assert(q1.length === 2)
    val jan = q1.find(r => r.getInt(1) === 1).get
    assert(jan.getString(2) === "NYC")
    assert(jan.getDecimal(3).doubleValue() === 25.0)
  }

  test("dashboard Q2-Q4 run and fan out across multi-row dims as designed") {
    val out = Pipeline.runBatch(raw)
    Pipeline.registerViews(spark, out)
    assert(DashboardQueries.run2(spark, 2023).count() > 0)
    assert(DashboardQueries.run3(spark).count() > 0)
    // Q4 fans out: fact rows for P1 join BOTH P1 dim tuples
    // (reference semantics — dims are distinct attribute tuples).
    val q4 = DashboardQueries.run4(spark)
    assert(q4.count() > 0)
  }

  test("SCD2 merge path: second batch against existing dims") {
    val first = Pipeline.runBatch(raw)
    val asOf2 = ts("2024-06-01")
    val second = Pipeline.runBatch(raw, Some(first.dimStore), Some(first.dimProduct), asOf2)
    // Reference semantics (Scd2.reference), derived by hand. The dims
    // are distinct attribute tuples, so they are multi-row per key:
    // dim_product holds P1 at 10.00 and at 12.00.
    // dim_store: ST1 and ST2 each have one unchanged tuple, so no row
    // passes the change filter and both existing rows are expired.
    val store = second.dimStore.collect()
      .map(r => (r.getAs[String]("store_id"), r.getAs[Boolean]("is_current"),
        r.getAs[Timestamp]("end_date"))).toSet
    assert(store === Set(("ST1", false, asOf2), ("ST2", false, asOf2)))
    // dim_product: each new P1 tuple differs from the OTHER existing P1
    // tuple, so both come back as fresh current versions and P1's old
    // rows vanish; P2 is unchanged, so its existing row is expired.
    val product = second.dimProduct.collect()
      .map(r => (r.getAs[String]("product_id"),
        r.getAs[java.math.BigDecimal]("unit_price").doubleValue,
        r.getAs[Boolean]("is_current"), r.getAs[Timestamp]("start_date"),
        r.getAs[Timestamp]("end_date"))).toSet
    assert(product === Set(
      ("P1", 10.0, true, asOf2, null),
      ("P1", 12.0, true, asOf2, null),
      ("P2", 5.0, false, first.dimProduct.filter("product_id = 'P2'")
        .head().getAs[Timestamp]("start_date"), asOf2)))
  }
}
