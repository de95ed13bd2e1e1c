package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class RawLayerSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def tmpDir(): String =
    Files.createTempDirectory("rawlayer").toString

  private def sourceRows(rows: (String, Timestamp)*): DataFrame =
    rows.toSeq.toDF("id", "date")

  /** A source that serves rows strictly after the watermark — what a
    * JDBC subquery would push into the database.
    */
  private def watermarkedSource(all: DataFrame): Option[String] => DataFrame = {
    case None => all
    case Some(w) => all.filter($"date" > Timestamp.valueOf(s"$w 00:00:00"))
  }

  test("watermark round-trip: write then read") {
    val meta = tmpDir() + "/meta"
    RawLayer.writeWatermark(spark, meta, "2023-06-15")
    assert(RawLayer.readWatermark(spark, meta) === Some("2023-06-15"))
  }

  test("missing watermark reads as None") {
    assert(RawLayer.readWatermark(spark, tmpDir() + "/absent") === None)
  }

  test("runOnce full load writes all rows and advances the watermark") {
    val base = tmpDir()
    val all = sourceRows("a" -> ts("2023-01-01"), "b" -> ts("2023-02-01"))
    val n = RawLayer.runOnce(spark, watermarkedSource(all), s"$base/raw", s"$base/meta")
    assert(n === 2)
    assert(spark.read.parquet(s"$base/raw").count() === 2)
    assert(RawLayer.readWatermark(spark, s"$base/meta") === Some("2023-02-01"))
  }

  test("runOnce incremental merges only rows past the watermark, deduped") {
    val base = tmpDir()
    val batch1 = sourceRows("a" -> ts("2023-01-01"), "b" -> ts("2023-02-01"))
    RawLayer.runOnce(spark, watermarkedSource(batch1), s"$base/raw", s"$base/meta")
    // second cycle: source now also has c (new) and a duplicate of b
    val batch2 = sourceRows(
      "a" -> ts("2023-01-01"), "b" -> ts("2023-02-01"), "c" -> ts("2023-03-01"))
    val n = RawLayer.runOnce(spark, watermarkedSource(batch2), s"$base/raw", s"$base/meta")
    assert(n === 1) // only c is past the 2023-02-01 watermark
    val merged = spark.read.parquet(s"$base/raw")
    assert(merged.count() === 3)
    assert(RawLayer.readWatermark(spark, s"$base/meta") === Some("2023-03-01"))
  }

  test("runOnce with an empty increment is a no-op") {
    val base = tmpDir()
    val all = sourceRows("a" -> ts("2023-01-01"))
    RawLayer.runOnce(spark, watermarkedSource(all), s"$base/raw", s"$base/meta")
    val n = RawLayer.runOnce(spark, watermarkedSource(all), s"$base/raw", s"$base/meta")
    assert(n === 0)
    assert(RawLayer.readWatermark(spark, s"$base/meta") === Some("2023-01-01"))
  }

  test("runOnce: a first extract with no dated row publishes and writes no watermark") {
    val base = tmpDir()
    val undated = sourceRows("a" -> null, "b" -> null)
    val n1 = RawLayer.runOnce(spark, watermarkedSource(undated), s"$base/raw", s"$base/meta")
    assert(n1 === 2)
    assert(spark.read.parquet(s"$base/raw").count() === 2)
    assert(RawLayer.readWatermark(spark, s"$base/meta") === None)
    // with no watermark the next cycle is a full extract, as on a first run
    val dated = sourceRows("a" -> null, "b" -> null, "c" -> ts("2023-03-01"))
    val n2 = RawLayer.runOnce(spark, watermarkedSource(dated), s"$base/raw", s"$base/meta")
    assert(n2 === 3)
    assert(spark.read.parquet(s"$base/raw").count() === 3)
    assert(RawLayer.readWatermark(spark, s"$base/meta") === Some("2023-03-01"))
  }

  test("runOnce: a later increment with no dated row publishes and keeps the watermark") {
    val base = tmpDir()
    val batch1 = sourceRows("a" -> ts("2023-01-01"))
    RawLayer.runOnce(spark, watermarkedSource(batch1), s"$base/raw", s"$base/meta")
    val undated: Option[String] => DataFrame = _ => sourceRows("b" -> null)
    assert(RawLayer.runOnce(spark, undated, s"$base/raw", s"$base/meta") === 1)
    assert(spark.read.parquet(s"$base/raw").count() === 2)
    assert(RawLayer.readWatermark(spark, s"$base/meta") === Some("2023-01-01"))
  }

  test("incremental ≡ full: same final content either way") {
    val all = sourceRows(
      "a" -> ts("2023-01-01"), "b" -> ts("2023-02-01"), "c" -> ts("2023-03-01"))
    // full in one shot
    val full = tmpDir()
    RawLayer.runOnce(spark, watermarkedSource(all), s"$full/raw", s"$full/meta")
    // incrementally, one batch per slice
    val inc = tmpDir()
    val slices = Seq(
      all.filter($"date" <= ts("2023-01-01")),
      all.filter($"date" <= ts("2023-02-01")),
      all)
    slices.foreach(s =>
      RawLayer.runOnce(spark, watermarkedSource(s), s"$inc/raw", s"$inc/meta"))
    val a = spark.read.parquet(s"$full/raw")
    val b = spark.read.parquet(s"$inc/raw")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("streamingIngest drains a file source into partitioned parquet exactly once") {
    val base = tmpDir()
    sourceRows("a" -> ts("2023-01-01"), "b" -> ts("2023-02-01"))
      .write.parquet(s"$base/src")
    val q = RawLayer.streamingIngest(
      spark, s"$base/src", sourceRows().schema, s"$base/raw", s"$base/ckpt")
    q.awaitTermination(60000)
    assert(q.exception.isEmpty)
    val out = spark.read.parquet(s"$base/raw")
    assert(out.count() === 2)
    assert(out.columns.contains("ingest_date"))
    // second drain with no new files adds nothing (checkpoint progress)
    val q2 = RawLayer.streamingIngest(
      spark, s"$base/src", sourceRows().schema, s"$base/raw", s"$base/ckpt")
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$base/raw").count() === 2)
  }
}
