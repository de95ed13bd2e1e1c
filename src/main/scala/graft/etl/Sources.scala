package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pluggable sources/sinks behind one config — CSV, NDJSON, parquet and
  * JDBC read identically into the pipeline, so tests run on files while
  * production points at a database (reference: src/raw/raw_layer.py:54-67
  * hardcodes a Postgres JDBC subquery; src/main.py:31-35 seeds from CSV).
  *
  * No URL is hardcoded; JDBC is compile-tested but exercised only where
  * a database exists (none in CI — SURVEY.md §7.4).
  */
object Sources {

  sealed trait SourceConfig
  final case class CsvSource(path: String, schema: StructType, header: Boolean = true)
    extends SourceConfig
  /** NDJSON with epoch-millis `date` (reference: walmart_inventory_data.json shape). */
  final case class JsonSource(path: String, schema: StructType,
      millisColumns: Seq[String] = Seq("date")) extends SourceConfig
  /** `mergeSchema` reconciles raw-zone batches written over a schema
    * change (a column added mid-stream): the scan unions the footer
    * schemas and older files surface nulls for the new columns.
    * Tri-state: `None` (default) defers to the session's
    * `spark.sql.parquet.mergeSchema`; `Some(true)` pins merging on for
    * an evolving raw zone; `Some(false)` pins it OFF for curated
    * tables with a pinned schema — schema merging reads every file
    * footer up front, a real cost at 100 TB.
    */
  final case class ParquetSource(path: String, mergeSchema: Option[Boolean] = None)
    extends SourceConfig
  /** Range partitioning for a parallel JDBC extract: Spark issues
    * `numPartitions` concurrent range queries over `column`
    * (`WHERE column >= lo AND column < hi` strides), so the extract
    * scales with the executor count instead of funnelling through one
    * connection. The reference reads single-partition
    * (raw_layer.py:54-67 sets no partitioning options) — at 100×
    * scale that single connection IS the ingest bottleneck, so the
    * partitioned read is first-class here, not a props backdoor.
    */
  final case class JdbcPartitioning(
      column: String, lowerBound: Long, upperBound: Long, numPartitions: Int)

  /** `query` runs inside the database — the watermark predicate belongs
    * in it so CDC filtering is pushed down (reference: raw_layer.py:118).
    */
  final case class JdbcSource(url: String, query: String,
      props: Map[String, String] = Map.empty,
      partitioning: Option[JdbcPartitioning] = None) extends SourceConfig

  def read(spark: SparkSession, cfg: SourceConfig): DataFrame = cfg match {
    case CsvSource(path, schema, header) =>
      spark.read.option("header", header.toString).schema(schema).csv(path)
    case JsonSource(path, schema, millisCols) =>
      millisCols.foldLeft(spark.read.schema(schema).json(path)) {
        case (df, c) => df.withColumn(c, timestamp_millis(col(c)))
      }
    case ParquetSource(path, mergeSchema) =>
      mergeSchema.fold(spark.read)(m =>
        spark.read.option("mergeSchema", m.toString)).parquet(path)
    case JdbcSource(url, query, props, partitioning) =>
      val base = spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", s"($query) q")
      val parted = partitioning.fold(base) { p =>
        base.option("partitionColumn", p.column)
          .option("lowerBound", p.lowerBound)
          .option("upperBound", p.upperBound)
          .option("numPartitions", p.numPartitions)
      }
      props.foldLeft(parted) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** Strict `yyyy-MM-dd[ HH:mm:ss[.SSS...]]` shape for persisted
    * watermarks (date-only and full-timestamp forms). Interpolating a
    * watermark into the JDBC pushdown query is only safe because this
    * gate rejects anything else — a tampered or corrupted watermark
    * file must fail the run, not reach the source database as
    * injected SQL.
    */
  private val WatermarkShape =
    "^\\d{4}-\\d{2}-\\d{2}([ T]\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,9})?)?$".r

  /** Incremental source: appends `WHERE <tsCol> > watermark` to a JDBC
    * query (predicate evaluated by the database), or filters files
    * post-scan (Catalyst pushes it into the parquet/CSV scan).
    */
  def incremental(
      spark: SparkSession, cfg: SourceConfig, tsCol: String): Option[String] => DataFrame = {
    case None => read(spark, cfg)
    case Some(w) => cfg match {
      case j: JdbcSource =>
        require(WatermarkShape.matches(w),
          s"watermark '$w' is not a timestamp literal — refusing to splice it into JDBC SQL")
        read(spark, j.copy(query = s"SELECT * FROM (${j.query}) s WHERE $tsCol > '$w'"))
      case other =>
        read(spark, other).filter(col(tsCol) > to_timestamp(lit(w)))
    }
  }

  sealed trait SinkConfig
  final case class ParquetSink(path: String, partitionCols: Seq[String] = Nil)
    extends SinkConfig
  final case class JdbcSink(url: String, table: String,
      props: Map[String, String] = Map.empty) extends SinkConfig

  /** Overwrite publish (reference: curated_layer.py:88-89 writes each
    * curated table to parquet AND Postgres).
    */
  def write(df: DataFrame, sink: SinkConfig): Unit = sink match {
    case ParquetSink(path, Nil) =>
      df.write.mode(SaveMode.Overwrite).parquet(path)
    case ParquetSink(path, parts) =>
      df.write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(path)
    case JdbcSink(url, table, props) =>
      props.foldLeft(
        df.write.format("jdbc")
          .option("url", url)
          .option("dbtable", table)
          .mode(SaveMode.Overwrite)) { case (w, (k, v)) => w.option(k, v) }
        .save()
  }
}
