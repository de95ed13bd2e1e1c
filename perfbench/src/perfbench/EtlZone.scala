package perfbench

import java.sql.Timestamp
import java.time.ZoneOffset

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.etl.{Pipeline, RawLayer, Sources}

/** One medallion zone driven through the public `graft.etl` API: the
  * seeded source arrives batch by batch, and each cycle runs the
  * reference's write path (raw CDC ingest, staging + curated star
  * schema with SCD2 against the previous cycle's dims, parquet publish
  * of the four curated tables).
  *
  * Curated tables are published per cycle under `curated/c<k>`: SCD2
  * reads the previous cycle's dims while the new ones are written, and
  * a path cannot be overwritten while it is being read.
  */
final class EtlZone(spark: SparkSession, root: String, val inv: Inventory) {

  val tables: Seq[String] = Seq("dim_date", "dim_store", "dim_product", "fact_sales")

  private val sourceDir = s"$root/source"
  private val zoneDir = s"$root/zone"
  private val rawPath = s"$zoneDir/raw"
  private val metaPath = s"$zoneDir/_meta/watermark"

  def arrivals: Int = inv.arrivals.size
  def arrivalPath(k: Int): String = s"$sourceDir/arrival-$k"
  def curated(k: Int, table: String): String = s"$zoneDir/curated/c$k/$table"

  def writeSource(): Unit = inv.arrivals.zipWithIndex.foreach { case (a, k) =>
    spark.createDataFrame(a.rows.asJava, InventoryGen.schema)
      .write.mode(SaveMode.Overwrite).parquet(arrivalPath(k))
  }

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def sourceBytes: Long = (0 until arrivals).map(k => Main.bytes(spark, arrivalPath(k))).sum
  def rawBytes: Long = Main.bytes(spark, rawPath)
  def curatedBytes(k: Int): Long = tables.map(t => Main.bytes(spark, curated(k, t))).sum

  def reset(): Unit = fs.delete(new Path(zoneDir), true): Unit

  /** The source as the database exposes it at cycle k: every batch that
    * has arrived, filtered past the watermark as the reference's JDBC
    * subquery does (reference: raw_layer.py:118).
    */
  private def source(k: Int)(watermark: Option[String]): DataFrame = {
    val all = spark.read.schema(InventoryGen.schema).parquet((0 to k).map(arrivalPath): _*)
    watermark.fold(all)(w => all.filter(col("date") > lit(w).cast("timestamp")))
  }

  private def asOf(k: Int): Timestamp =
    Timestamp.from(inv.arrivals(k).maxDate.atStartOfDay(ZoneOffset.UTC).toInstant)

  /** One ingest cycle, each layer call in its own span. Returns the
    * source rows ingested.
    */
  def cycle(k: Int, spans: Spans): Long = {
    val n = spans.time("raw")(RawLayer.runOnce(spark, source(k), rawPath, metaPath))
    val out = spans.time("pipeline") {
      val prev = (t: String) => if (k == 0) None else Some(spark.read.parquet(curated(k - 1, t)))
      Pipeline.runBatch(spark.read.parquet(rawPath), prev("dim_store"), prev("dim_product"),
        asOf = asOf(k))
    }
    spans.time("staging")(out.staging.count())
    Seq(out.dimDate, out.dimStore, out.dimProduct, out.factSales).zip(tables).foreach {
      case (df, t) => spans.time(s"curated.$t")(Sources.write(df, Sources.ParquetSink(curated(k, t))))
    }
    out.staging.unpersist()
    n
  }

  /** Drops the curated tables of cycle k once cycle k + 1 superseded them. */
  def dropCurated(k: Int): Unit = fs.delete(new Path(s"$zoneDir/curated/c$k"), true): Unit

  /** Per-cycle invariants, known by construction from the generator. */
  def checkCycle(k: Int, ingested: Long): Option[String] = {
    val raw = spark.read.parquet(rawPath).count()
    val fact = spark.read.parquet(curated(k, "fact_sales")).count()
    val wm = RawLayer.readWatermark(spark, metaPath)
    val want = inv.arrivals(k).rows.size.toLong
    Ledger.expect(s"cycle $k ingested rows", ingested, want)
      .orElse(Ledger.expect(s"cycle $k raw rows", raw, inv.expectedRaw(k)))
      .orElse(Ledger.expect(s"cycle $k fact_sales rows", fact, inv.expectedFact(k)))
      .orElse(Ledger.expect(s"cycle $k watermark", wm, Some(inv.expectedWatermark(k))))
  }

  /** Digests of the four curated tables published by cycle k. */
  def zoneDigests(k: Int): Map[String, String] =
    tables.map(t => t -> Digest.frame(spark.read.parquet(curated(k, t)))).toMap

  /** fact_sales and dim_date as they must read after cycle k, built
    * from the generator's rows without the pipeline: distinct dated
    * rows, staging's casts and zero fill.
    */
  def expectedDigests(k: Int): Map[String, String] = {
    val dated = inv.datedDistinct(k)
    val fact = dated.map { r =>
      Row(r.getString(0), r.get(1), r.getString(2), r.getString(4), r.getInt(6),
        new java.math.BigDecimal(r.getDouble(8).toString).setScale(2),
        if (r.isNullAt(9)) 0 else r.getInt(9))
    }
    val factSchema = StructType(Seq(
      StructField("transaction_id", StringType), StructField("date", TimestampType),
      StructField("store_id", StringType), StructField("product_id", StringType),
      StructField("quantity_sold", IntegerType), StructField("total_sales", DecimalType(15, 2)),
      StructField("stock_level", IntegerType)))
    val dates = dated.map(_.getTimestamp(1)).distinct.map { t =>
      val d = t.toInstant.atZone(ZoneOffset.UTC).toLocalDate
      Row(t, d.getYear, d.getMonthValue, d.getDayOfMonth)
    }
    val dateSchema = StructType(Seq(
      StructField("date_id", TimestampType), StructField("year", IntegerType),
      StructField("month", IntegerType), StructField("day", IntegerType)))
    Map(
      "fact_sales" -> Digest.frame(spark.createDataFrame(fact.asJava, factSchema)),
      "dim_date" -> Digest.frame(spark.createDataFrame(dates.asJava, dateSchema)))
  }
}
