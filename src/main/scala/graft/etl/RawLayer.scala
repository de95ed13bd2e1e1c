package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-zone ingest with watermark-based incremental (CDC-by-timestamp)
  * semantics (reference: src/raw/raw_layer.py).
  *
  * The source is abstracted as a function of an optional watermark so
  * JDBC (predicate pushed into the database), CSV, JSON and parquet
  * sources plug in identically; no Postgres is assumed in tests.
  *
  * Known reference semantics we keep (SURVEY.md §2.7): append-only CDC
  * (source updates/deletes not captured); late rows with
  * date ≤ watermark are skipped; merge is full-row dropDuplicates. The
  * merge-the-world rewrite is the reference's; at 100 TB the steady
  * state should be date-partitioned appends, so each batch touches
  * only new partitions ([[streamingIngest]] writes that layout).
  */
object RawLayer {

  /** Format the watermark in UTC explicitly — SimpleDateFormat in the
    * JVM default timezone would shift the persisted date by a day on
    * non-UTC hosts, silently skipping (TZ ahead) or re-ingesting (TZ
    * behind) rows near midnight.
    */
  private def formatWatermark(ts: java.sql.Timestamp): String =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read `{"last_processed": "yyyy-MM-dd"}` metadata if present
    * (reference: raw_layer.py:80-91).
    */
  def readWatermark(spark: SparkSession, metadataPath: String): Option[String] = {
    if (!fsExists(spark, metadataPath)) None
    else spark.read.schema(Schemas.watermark).json(metadataPath)
      .collect().headOption.flatMap(r => Option(r.getString(0)))
  }

  /** Persist the watermark (reference: raw_layer.py:70-77). */
  def writeWatermark(spark: SparkSession, metadataPath: String, value: String): Unit = {
    import spark.implicits._
    Seq(value).toDF("last_processed")
      .coalesce(1).write.mode(SaveMode.Overwrite).json(metadataPath)
  }

  /** Row count and latest `date` of an increment, in one action taken
    * before anything is written. The latest date is null when no row
    * has a date.
    */
  private def countAndMaxDate(increment: DataFrame): (Long, java.sql.Timestamp) = {
    val r = increment.agg(count(lit(1)), max(col("date"))).head()
    (r.getLong(0), r.getTimestamp(1))
  }

  /** Persist the increment's latest date as the new watermark. An
    * increment with no dated row leaves the watermark as it was: its
    * rows are published, and the next cycle extracts from the old
    * watermark again.
    */
  private def advanceWatermark(spark: SparkSession, metadataPath: String,
      maxDate: java.sql.Timestamp): Unit =
    if (maxDate != null) writeWatermark(spark, metadataPath, formatWatermark(maxDate))

  /** One ingest cycle (reference: raw_layer.py:94-135 both branches).
    *
    * @param source watermark → increment; None means full extract. A
    *               JDBC source embeds the predicate in its subquery so
    *               filtering runs inside the database
    *               (reference: raw_layer.py:118).
    * @return rows ingested this cycle
    */
  def runOnce(
      spark: SparkSession,
      source: Option[String] => DataFrame,
      rawPath: String,
      metadataPath: String): Long = {
    val watermark = readWatermark(spark, metadataPath)
    val increment = source(watermark).cache()
    try {
      val (n, maxDate) = countAndMaxDate(increment)
      if (n == 0) return 0L
      // Crash-recovery fallback: a crash mid-swap leaves the previous
      // raw zone at _old (never deleted before the new one is in
      // place), so history is never silently rebuilt from one increment.
      val oldPath = rawPath + "_old"
      val mergeSrc =
        if (fsExists(spark, rawPath)) Some(rawPath)
        else if (fsExists(spark, oldPath)) Some(oldPath)
        else None
      val merged = mergeSrc match {
        case Some(src) if watermark.isDefined =>
          val existing = spark.read.schema(increment.schema).parquet(src)
          existing.union(increment).dropDuplicates()
        case _ => increment
      }
      val tmp = rawPath + "_tmp"
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
      val fs = new Path(rawPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val raw = new Path(rawPath)
      val old = new Path(oldPath)
      // HDFS rename/delete report failure by returning false, not
      // throwing — check both (a false delete would make the rename
      // nest raw INSIDE the stale _old), and keep the previous raw as
      // _old until the swap lands.
      if (fs.exists(raw)) {
        if (fs.exists(old) && !fs.delete(old, true))
          throw new java.io.IOException(s"delete stale $old failed")
        if (!fs.rename(raw, old))
          throw new java.io.IOException(s"rename $raw -> $old failed")
      }
      if (!fs.rename(new Path(tmp), raw))
        throw new java.io.IOException(s"rename $tmp -> $raw failed")
      fs.delete(old, true)
      advanceWatermark(spark, metadataPath, maxDate)
      n
    } finally increment.unpersist()
  }

  /** Structured-Streaming ingest: the streaming-native replacement for
    * the reference's poll-forever loop (raw_layer.py:138-159 re-runs a
    * batch extract every 5 s; a file stream with a processing-time
    * trigger gives the same cadence with exactly-once sink semantics
    * and no hand-rolled watermark file — the checkpoint holds progress).
    * Pass `Trigger.AvailableNow()` for a drain-and-stop run (tests) or
    * `Trigger.ProcessingTime("5 seconds")` for the reference cadence.
    */
  def streamingIngest(
      spark: SparkSession,
      sourcePath: String,
      schema: org.apache.spark.sql.types.StructType,
      rawPath: String,
      checkpointPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
    : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(sourcePath)
      .withColumn("ingest_date", to_date(col("date")))
      .writeStream
      .format("parquet")
      .option("path", rawPath)
      .option("checkpointLocation", checkpointPath)
      .partitionBy("ingest_date")
      .trigger(trigger)
      .start()

  /** CDC apply with DELETE tombstones: reduce a change stream to the
    * current table state. Per key, the change with the highest
    * (orderCols) wins; a winning row whose `deleteCol` is true removes
    * the key entirely (the tombstone). This is the missing half of the
    * reference's CDC story — its merge (`raw_layer.py:118`) only ever
    * upserts, so a source-side DELETE lives forever in the lake.
    *
    * One window shuffle on the key; `orderCols` must totally order a
    * key's changes (ts + a unique change id — the q64/q69 discipline)
    * or "latest" is partition-dependent. Composes with an append-only
    * change log: append raw changes cheaply all day, apply tombstones
    * when publishing the queryable state.
    *
    * A NULL `deleteCol` value means NOT deleted: without the coalesce,
    * `!delete` is NULL under 3VL and the filter would silently drop
    * the key — an upsert with a missing flag must never read as a
    * tombstone.
    */
  def applyCdcLatest(
      changes: DataFrame, keyCols: Seq[String],
      orderCols: Seq[org.apache.spark.sql.Column],
      deleteCol: org.apache.spark.sql.Column): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty, "need key and order columns")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !coalesce(deleteCol, lit(false)))
      .drop("__rn")
  }

  /** MERGE INTO semantics (the lakehouse upsert verb): apply a source
    * batch to a target snapshot in one pass —
    *  - key matched, `deleteCond` true  → row removed,
    *  - key matched, `deleteCond` false → source row replaces target,
    *  - source key unmatched            → inserted (unless deleting),
    *  - target key unmatched            → kept as-is.
    * Schemas must align (`unionByName`). Implemented as
    * [[applyCdcLatest]] over target∪source ordered by origin — MERGE
    * *is* a two-change CDC log per key, which keeps one tested
    * code path for both verbs. One keyed window shuffle; at 100 TB
    * pair with partition pruning so only touched partitions of the
    * target participate (the source's key range bounds them).
    *
    * `deleteCond` is evaluated on SOURCE rows only — a target row
    * matching the predicate is not self-deleting. BOTH sides must
    * carry at most ONE row per key: for the source it is the standard
    * MERGE precondition (Delta/Iceberg error on it too) — pre-reduce a
    * multi-change batch with [[applyCdcLatest]] first; for the target
    * it is what makes it a mergeable snapshot — duplicate target keys
    * would tie on origin and collapse to one arbitrary row.
    */
  def mergeInto(
      target: DataFrame, source: DataFrame, keyCols: Seq[String],
      deleteCond: org.apache.spark.sql.Column): DataFrame = {
    val t = target.withColumn("__origin", lit(0))
    val s = source.withColumn("__origin", lit(1))
    applyCdcLatest(t.unionByName(s), keyCols, Seq(col("__origin")),
        deleteCond && col("__origin") === 1)
      .drop("__origin")
  }
}
