package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregation — the materialized-view maintenance pattern
  * that keeps a 100 TB metrics table serveable: persist per-key PARTIAL
  * aggregates (count + integer-cents sum), and fold each new batch in
  * by merging partials, never re-reading history. The merge is the same
  * monoid Spark's own map-side combine uses (count+count, sum+sum), so
  * `merge(state(history), batch) == aggregate(history ∪ batch)` exactly
  * — q106's oracle asserts that equality against the full recompute,
  * the q90/q104 invisible-optimization discipline.
  *
  * Sums are BIGINT cents (`floor(value·100 + 0.5)`, the catalog's
  * double-free rule): integer partials merge associatively on any
  * engine, while float partial sums would drift with merge order.
  * Scale shape: state is #keys rows; each increment shuffles ONLY the
  * batch (grouped map-side first) plus the state rows it joins — at a
  * billion keys that is a co-partitioned merge join, and the state
  * parquet should be bucketed by key (ScaleJoins.bucketedWrite) so the
  * merge never re-shuffles history.
  */
object IncrementalAgg {

  /** Per-key partial aggregates of a frame: (key, n_rows, sum_cents). */
  def buildState(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("sum_cents"))

  def writeState(state: DataFrame, path: String): Unit =
    state.write.mode("overwrite").parquet(path)

  /** Fold a new batch into persisted state: union of two partial
    * frames, one groupBy to merge. Returns the NEW state — callers
    * persist it back (write-then-swap, as RawLayer.runOnce does) to advance
    * the view. Keys absent from the batch pass through untouched;
    * brand-new keys appear with their batch partials.
    */
  def mergeBatch(
      spark: SparkSession, statePath: String,
      batch: DataFrame, keyCol: String, valueCol: String): DataFrame =
    spark.read.parquet(statePath)
      .unionByName(buildState(batch, keyCol, valueCol))
      .groupBy(col(keyCol))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_cents")).as("sum_cents"))
}
