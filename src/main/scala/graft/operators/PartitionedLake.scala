package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Hive-style partitioned lakehouse layout — the first-line pruning
  * mechanism at 100 TB: a predicate on a partition key never opens a
  * data file outside the matching directories (it shows up as
  * `PartitionFilters:` in the formatted scan and cuts the file listing
  * itself), complementing file-level min/max skipping
  * ([[DataSkipping]], for non-partition columns) and intra-file
  * clustering ([[ZOrder]]).
  *
  * The reference writes each zone as one flat parquet directory
  * (`raw_layer.py:75-90`); a date-partitioned layout is what those
  * zones need at scale — incremental loads append a new partition
  * instead of rewriting the world, and time-scoped queries list only
  * the days they touch.
  */
object PartitionedLake {

  /** Write `df` Hive-partitioned by `keys` — low-cardinality DERIVED
    * columns (year, month, source), never a high-cardinality key: at
    * 100 TB a user-id partitioning would mint millions of tiny
    * directories and an unlistable namespace. Size partitions so each
    * holds files of ~128 MB–1 GB.
    */
  def writePartitioned(df: DataFrame, path: String, keys: String*): Unit =
    df.write.mode("overwrite").partitionBy(keys: _*).parquet(path)

  /** Read the partitioned layout back; partition-key filters applied
    * by the caller prune at directory-listing time.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Number of leaf data files the plan will actually scan — the
    * spec/audit hook proving a partition filter pruned (scanned <
    * total). Resolves the scan eagerly via the executed plan.
    */
  def filesScanned(df: DataFrame): Long =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
    }.sum

  /** Small-file compaction — the lake-maintenance pass every
    * incremental zone needs: streaming/micro-batch appends mint one
    * file per trigger per partition, and a 100 TB table accretes
    * millions of KB-sized files whose open/list overhead dominates
    * scans. Rewrites `src` into exactly `targetFiles` range-clustered
    * files (`repartitionByRange` on `sortCols`, then
    * `sortWithinPartitions`), so each output file additionally carries
    * tight min/max stats on the sort key for [[DataSkipping]]-style
    * pruning. Content is preserved bit-for-bit (same rows, only
    * layout changes) — q129 proves it against an oracle that reads
    * the ORIGINAL files.
    */
  def compact(src: DataFrame, outPath: String, targetFiles: Int,
      sortCols: String*): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    require(sortCols.nonEmpty, "compaction needs at least one range key")
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    src.repartitionByRange(targetFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(outPath)
  }

  /** Leaf parquet data files under `path` (post-compaction audit).
    * Local-FS only — on a cluster store, route it through the Hadoop
    * FileSystem API instead.
    */
  def dataFileCount(path: String): Long = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) 0L
    else dir.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")).toLong
  }
}
