package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-pass dataset profiling — the "do I trust this corpus" primitive
  * a 100 TB ingest needs before any training run: per-group row counts,
  * null counts, exact distinct cardinalities, and numeric ranges, all
  * from a SINGLE groupBy (one shuffle, map-side partial aggregation).
  * Exact `count_distinct` is deliberate at this granularity: the
  * distinct sets are per-group and the expand it plans is bounded by
  * the declared column list; corpus-wide distinct-of-high-cardinality
  * profiling should use approx_count_distinct instead (documented, not
  * defaulted, because the driver oracle hash-compares exact values).
  */
object Profiler {

  /** Profile `df` grouped by `groupCol`:
    *  - `n_rows`
    *  - `nulls_<c>` for each of `nullCols`
    *  - `distinct_<c>` (exact) for each of `distinctCols`
    *  - `min_<c>` / `max_<c>` for each of `minMaxCols`
    * All counts are BIGINT — engine-portable for the value oracle.
    */
  def profile(
      df: DataFrame, groupCol: String,
      nullCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      minMaxCols: Seq[String] = Nil): DataFrame = {
    val aggs =
      nullCols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")) ++
      distinctCols.map(c => count_distinct(col(c)).as(s"distinct_$c")) ++
      minMaxCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Fixed-width histogram per group: bucket = ⌊value / width⌋ (one
    * IEEE division + floor — deterministic on any engine), counted.
    * One groupBy pass; empty buckets are absent (dense ranges should
    * be filled by the consumer, not shuffled as zeros).
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
      width: Double): DataFrame = {
    require(width > 0, s"histogram: width must be positive, got $width")
    df.groupBy(col(groupCol),
        floor(col(valueCol) / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Approximate per-group quantiles from the fixed-width histogram —
    * the scale path for percentiles: `percentile()` (q52) plans a full
    * sort of every group, while the histogram answer is ONE aggregation
    * whose state is #groups × #occupied-buckets rows, then a window
    * over that tiny frame. Resolution is `width` (the answer is the
    * bucket INDEX holding the p-th percentile; callers scale by width
    * themselves). Cumulation and targets are all integers — ceil(n·p/
    * 100) as `(n·p + 99) DIV 100` — so any engine agrees exactly, and
    * the only double op is the same floor-division that q87 already
    * hash-matches. `percents` are integer percentages in [0,100]:
    * target rank max(1, ceil(n·p/100)), so p=0 reads the min bucket
    * and p=100 the max.
    */
  def histogramQuantiles(
      df: DataFrame, groupCol: String, valueCol: String,
      width: Double, percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"percents must be in [0,100], got $percents")
    val h = histogram(df, groupCol, valueCol, width)
    val cum = h
      .withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("bucket"))))
      .withColumn("total", sum(col("n")).over(
        Window.partitionBy(col(groupCol))))
    cum.select(col(groupCol), col("bucket"), col("cum"), col("total"),
        explode(array(percents.distinct.sorted.map(p => lit(p.toLong)): _*)).as("pct"))
      .filter(col("cum") >= greatest(lit(1L),
        expr("(total * pct + 99) DIV 100")))
      .groupBy(col(groupCol), col("pct"))
      .agg(min(col("bucket")).as("q_bucket"))
  }
}
