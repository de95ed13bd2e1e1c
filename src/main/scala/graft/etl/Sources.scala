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

  /** Permissive CSV ingest with a quarantine lane — the malformed-row
    * posture a 100 TB ingest needs: a single bad line must neither
    * kill the job (FAILFAST) nor silently vanish (DROPMALFORMED).
    * PERMISSIVE mode nulls the typed columns of an unparseable row and
    * preserves its raw text in `_corrupt_record`; the caller gets
    * (clean, quarantined) frames split on that column — clean rows
    * flow into the raw zone, quarantined raw lines land in a
    * dead-letter table with full fidelity for replay after a parser
    * fix. The source is read ONCE per output (no double-scan of good
    * data paths: each side is one scan with a pushed filter).
    *
    * Caveat baked into the split: Spark only materializes
    * `_corrupt_record` when the column appears in the declared schema,
    * so this wraps the user schema rather than asking callers to
    * remember that.
    */
  def readCsvQuarantined(
      spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    // Parse with from_csv over a TEXT scan, not spark.read.csv: a
    // filter on the CSV source's corrupt column gets pushed into the
    // scan and evaluated BEFORE the parser populates it (measured:
    // every malformed row sails into the clean lane), and the
    // documented workaround is caching the whole batch — a non-answer
    // at 100 TB. from_csv parses per row as an expression, so the
    // corrupt field exists before any filter runs, and the raw line is
    // preserved by construction rather than reconstructed.
    val lines = spark.read.textFile(path).toDF("raw_line")
    val body = if (header) {
      // the header contract is the schema's field names; matching
      // exactly also drops repeated headers in concatenated dumps,
      // and a DIFFERENT header line lands visibly in quarantine
      // instead of being silently swallowed
      lines.filter(col("raw_line") =!= lit(schema.fieldNames.mkString(",")))
    } else lines
    quarantineCsvLines(body, schema)
  }

  /** The parse+split core of [[readCsvQuarantined]], over any frame
    * with a `raw_line` string column — INCLUDING a streaming one
    * (from_csv is a per-row expression, so the same function serves
    * `readStream.text` micro-batches unchanged; spec-gated). Batch
    * callers normally use [[readCsvQuarantined]]; streaming ingest
    * wires `spark.readStream.text(dir).toDF("raw_line")` straight in
    * and writes each lane to its own sink.
    */
  def quarantineCsvLines(
      lines: DataFrame, schema: StructType): (DataFrame, DataFrame) =
    quarantineLines(lines, schema,
      (wrapped: StructType) => from_csv(col("raw_line"), wrapped,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")))

  /** The one split implementation both formats (and both execution
    * modes) share: parse per row with the given expression, route on
    * the corrupt column. Any future change to the lane semantics lands
    * here once.
    */
  private def quarantineLines(
      lines: DataFrame, schema: StructType,
      parse: StructType => org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "user schema must not declare _corrupt_record; it is added here")
    val wrapped = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val parsed = lines.select(col("raw_line"), parse(wrapped).as("r"))
    val dataCols = schema.fieldNames.toSeq.map(n => col(s"r.`$n`").as(n))
    val clean = parsed.filter(col("r._corrupt_record").isNull).select(dataCols: _*)
    val quarantined = parsed.filter(col("r._corrupt_record").isNotNull)
      .select(dataCols :+ col("raw_line"): _*)
    (clean, quarantined)
  }

  /** NDJSON twin of [[readCsvQuarantined]]: one JSON object per line,
    * parsed per row with from_json (same rationale — the JSON source's
    * corrupt-column filter has the same pushdown trap), malformed
    * lines preserved verbatim in the dead-letter lane. A line that is
    * valid JSON but the wrong shape (e.g. a scalar or array) parses to
    * all-null fields rather than corrupt — callers screening for that
    * add a not-all-null contract on required fields.
    */
  def readJsonQuarantined(
      spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) =
    quarantineJsonLines(spark.read.textFile(path).toDF("raw_line"), schema)

  /** Streaming-capable NDJSON core, mirroring [[quarantineCsvLines]]. */
  def quarantineJsonLines(
      lines: DataFrame, schema: StructType): (DataFrame, DataFrame) =
    quarantineLines(lines, schema,
      (wrapped: StructType) => from_json(col("raw_line"), wrapped,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")))

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

  /** Schema contract enforcement at the publish boundary: conform `df`
    * to `target` — reorder columns, apply WIDENING casts only
    * (int→long, float→double, decimal precision growth), and surface
    * nullable target columns missing from the input as typed nulls.
    * Anything lossy fails FAST with the full list of violations:
    * a narrowing cast or a dropped required column must stop the
    * publish, not corrupt the zone silently (the reference writes
    * whatever the DataFrame happens to carry — `curated_layer.py`
    * renames by position and would ship a drifted schema downstream).
    * Input columns absent from the target are dropped (projection is
    * the contract).
    *
    * Name resolution follows the session's `spark.sql.caseSensitive`
    * (default: insensitive, like every other Spark resolver) — a
    * case-mismatched input column is matched, not silently replaced
    * with nulls; two input columns that collide case-insensitively on
    * a target name are an ambiguity error. Column names containing
    * dots are resolved verbatim (backtick-quoted), never parsed as
    * struct-field paths.
    *
    * Nullability: a non-nullable target column fed from a nullable
    * input gets a runtime guard — any null row aborts the publish via
    * `raise_error` at action time. (Parquet scans are always nullable
    * in Spark, so a static nullable→required rejection would make
    * file-sourced publishes impossible; the guard is the same posture
    * as a lakehouse NOT NULL constraint. The returned frame's declared
    * nullability stays Spark-inferred — parquet/JDBC sinks carry the
    * data guarantee, not the flag.)
    */
  def conformSchema(df: DataFrame, target: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
      case _ => false
    }
    val caseSensitive =
      df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val have: Map[String, Seq[StructField]] =
      df.schema.fields.toSeq.groupBy(f => key(f.name))
    val problems = target.fields.toSeq.flatMap { f =>
      have.get(key(f.name)) match {
        case Some(fs) if fs.length > 1 =>
          Some(s"column '${f.name}': ambiguous input columns " +
            fs.map(_.name).mkString("'", "', '", "'"))
        case Some(Seq(in)) if widens(in.dataType, f.dataType) => None
        case Some(Seq(in)) =>
          Some(s"column '${f.name}': ${in.dataType} does not widen to ${f.dataType}")
        case None if f.nullable => None
        case None => Some(s"required column '${f.name}' missing")
      }
    }
    require(problems.isEmpty,
      s"schema contract violated:\n  ${problems.mkString("\n  ")}")
    df.select(target.fields.toSeq.map { f =>
      have.get(key(f.name)) match {
        case Some(Seq(in)) =>
          val c = col(s"`${in.name}`").cast(f.dataType)
          val guarded =
            if (!f.nullable && in.nullable)
              when(c.isNotNull, c).otherwise(raise_error(lit(
                s"schema contract violated at publish: null in required column '${f.name}'"))
                .cast(f.dataType))
            else c
          guarded.as(f.name)
        case _ => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
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
