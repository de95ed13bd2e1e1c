package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-first orchestration of the medallion pipeline: source → raw →
  * staging → curated → temp views for serving
  * (reference: src/main.py + the three layer modules, minus the
  * poll-forever loop — scheduling is the caller's concern;
  * `RawLayer.streamingIngest` is its Structured-Streaming replacement).
  *
  * Unlike the reference (which re-reads the staging scan 8×), the
  * staging DataFrame is cached once and all four curated outputs build
  * from it.
  */
object Pipeline {

  /** `staging` is exposed so a long-lived orchestrator can
    * `staging.unpersist()` once the four outputs are materialized —
    * otherwise each runBatch call pins another cached RDD for the
    * session's lifetime.
    */
  final case class CuratedOutputs(
      dimDate: DataFrame,
      dimStore: DataFrame,
      dimProduct: DataFrame,
      factSales: DataFrame,
      staging: DataFrame)

  /** Build all curated outputs from a raw DataFrame in one pass. */
  def runBatch(
      raw: DataFrame,
      existingStore: Option[DataFrame] = None,
      existingProduct: Option[DataFrame] = None,
      asOf: Timestamp = Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    : CuratedOutputs = {
    val staging = StagingLayer.clean(raw).cache()
    CuratedOutputs(
      dimDate = CuratedLayer.dimDate(staging),
      dimStore = CuratedLayer.dimStore(staging, existingStore, asOf),
      dimProduct = CuratedLayer.dimProduct(staging, existingProduct, asOf),
      factSales = CuratedLayer.factSales(staging),
      staging = staging)
  }

  /** Register the star schema for Spark-SQL serving (dashboard parity). */
  def registerViews(spark: SparkSession, out: CuratedOutputs): Unit = {
    out.dimDate.createOrReplaceTempView("dim_date")
    out.dimStore.createOrReplaceTempView("dim_store")
    out.dimProduct.createOrReplaceTempView("dim_product")
    out.factSales.createOrReplaceTempView("fact_sales")
  }
}
