package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class StagingLayerSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def raw(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.inventory)

  private val clean1 = Row("TXN1", ts("2023-01-01"), "ST1", "NYC", "P1", "Toys",
    2, 10.0, 20.0, 5, 10, 3, 1.0, 0.1, 2.0)

  test("dropDuplicates removes exact duplicate rows") {
    val df = raw(Seq(clean1, clean1))
    assert(StagingLayer.clean(df).count() === 1)
  }

  test("rows with null date are rejected") {
    val nullDate = Row("TXN2", null, "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, 5, 10, 3, 1.0, 0.1, 2.0)
    val out = StagingLayer.clean(raw(Seq(clean1, nullDate)))
    assert(out.count() === 1)
    assert(out.select("transaction_id").head.getString(0) === "TXN1")
  }

  test("casts: unit_price→decimal(10,2), total_sales→decimal(15,2), quantity→int") {
    val out = StagingLayer.clean(raw(Seq(clean1)))
    val s = out.schema
    assert(s("unit_price").dataType === DecimalType(10, 2))
    assert(s("total_sales").dataType === DecimalType(15, 2))
    assert(s("quantity_sold").dataType === IntegerType)
  }

  test("fillna imputes zeros for the six inventory metrics") {
    val withNulls = Row("TXN3", ts("2023-01-02"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, null, null, null, null, null, null)
    val out = StagingLayer.clean(raw(Seq(withNulls)))
    val r = out.select("stock_level", "reorder_point", "lead_time_days",
      "carrying_cost", "stock_out_risk", "inventory_turnover").head
    assert(r.getInt(0) === 0 && r.getInt(1) === 0 && r.getInt(2) === 0)
    assert(r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0 && r.getDouble(5) === 0.0)
  }

  test("profit_margin = total_sales - quantity*price (dirty row ≠ 0)") {
    // Mirrors the planted dirty row semantics: total_sales inconsistent
    // with qty×price must surface a non-zero margin, not be "fixed".
    val dirty = Row("TXN4", ts("2023-01-03"), "ST1", "NYC", "P1", "Dum",
      2, 10.0, 50.0, 5, 10, 3, 1.0, 0.1, 2.0)
    val out = StagingLayer.clean(raw(Seq(clean1, dirty)))
    val margins = out.select("transaction_id", "profit_margin").collect()
      .map(r => r.getString(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(margins("TXN1") === 0.0)
    assert(margins("TXN4") === 30.0)
  }

  test("profit_margin null-guard omits total_sales (reference semantics)") {
    // quantity & price present but total_sales null → guard passes, the
    // subtraction itself yields NULL (staging_layer.py:77-80 as-is).
    val noTotal = Row("TXN5", ts("2023-01-04"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, null, 5, 10, 3, 1.0, 0.1, 2.0)
    val out = StagingLayer.clean(raw(Seq(noTotal)))
    assert(out.select("profit_margin").head.isNullAt(0))
  }

  test("is_restock_needed: Yes iff stock_level < reorder_point") {
    val needs = Row("TXN6", ts("2023-01-05"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, 3, 10, 3, 1.0, 0.1, 2.0)
    val fine = Row("TXN7", ts("2023-01-06"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, 30, 10, 3, 1.0, 0.1, 2.0)
    val out = StagingLayer.clean(raw(Seq(needs, fine)))
    val flags = out.select("transaction_id", "is_restock_needed").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(flags === Map("TXN6" -> "Yes", "TXN7" -> "No"))
  }

  test("clean dedups the fixture zoo to the hand-expected rows") {
    val dirty = Row("TXN4", ts("2023-01-03"), "ST1", "NYC", "P1", "Dum",
      2, 10.0, 50.0, 5, 10, 3, 1.0, 0.1, 2.0)
    val nullDate = Row("TXN2", null, "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, 5, 10, 3, 1.0, 0.1, 2.0)
    val withNulls = Row("TXN3", ts("2023-01-02"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, null, null, null, null, null, null)
    // duplicates of clean AND dirty rows, a null-date reject, a
    // null-metrics row — the full fixture zoo, tripled
    val df = raw(Seq(clean1, clean1, dirty, dirty, dirty, nullDate,
      withNulls, withNulls))
    // decimals compared by value; columns: the 15 source columns (casts
    // applied), then profit_margin and is_restock_needed
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue
      case v => v
    }
    val expected = Seq(
      Seq("TXN1", ts("2023-01-01"), "ST1", "NYC", "P1", "Toys",
        2, 10.0, 20.0, 5, 10, 3, 1.0, 0.1, 2.0, 0.0, "Yes"),
      Seq("TXN3", ts("2023-01-02"), "ST1", "NYC", "P1", "Toys",
        2, 10.0, 20.0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, "No"),
      Seq("TXN4", ts("2023-01-03"), "ST1", "NYC", "P1", "Dum",
        2, 10.0, 50.0, 5, 10, 3, 1.0, 0.1, 2.0, 30.0, "Yes"))
    // row-for-row equality as multisets (exceptAll trips a Spark
    // ReplicateRows binding bug against this plan shape)
    assert(StagingLayer.clean(df).collect().map(norm).sortBy(_.head.toString).toSeq === expected)
    // near-identical rows (one cell differs) both survive the dedup
    val nearTwin = Row("TXN1", ts("2023-01-01"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, 20.0, 5, 10, 3, 1.0, 0.1, 2.1)
    assert(StagingLayer.clean(raw(Seq(clean1, nearTwin))).count() === 2)
  }

  test("clean is idempotent: clean(clean(x)) == clean(x)") {
    val dirty = Row("TXN8", ts("2023-01-07"), "ST1", "NYC", "P1", "Toys",
      2, 10.0, 50.0, null, null, null, null, null, null)
    val once = StagingLayer.clean(raw(Seq(clean1, clean1, dirty)))
    val twice = StagingLayer.clean(once)
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }
}
