package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join strategies for the 100 TB regime: salting for skewed keys and
  * the skew report that decides when to salt.
  *
  * AQE's skew-join split (spark.sql.adaptive.skewJoin.enabled, on by
  * default) handles most skew at runtime by splitting oversized
  * partitions; explicit salting remains the tool when one key is so hot
  * that even a split partition's build side won't fit, or when the join
  * is not a sort-merge join (AQE only splits SMJ partitions).
  */
object ScaleJoins {

  /** Inner equi-join with the large (skewed) side salted: each large
    * row gets a deterministic salt in [0, saltFactor), and the small
    * side is replicated saltFactor× so every (key, salt) pair matches.
    * The shuffle key becomes (key, salt) — a hot key's rows spread over
    * saltFactor reducers instead of one. Result equals the plain join.
    *
    * Salt must be deterministic (no rand()) or retried tasks produce
    * different rows: we hash a stable per-row column.
    */
  def saltedInnerJoin(
      large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int, saltBy: String): DataFrame = {
    val l = large.withColumn("__salt", pmod(xxhash64(col(saltBy)), lit(saltFactor)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0L), lit((saltFactor - 1).toLong))))
    l.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Join-skew diagnosis — the report to run BEFORE reaching for
    * [[saltedInnerJoin]] or trusting AQE's skew split: the top keys by
    * row count with their exact ppm share and the ×100 ratio against
    * the mean key (all integer floor division, engine-portable). At
    * 100 TB the decision rule of thumb: a key at vs_mean_x100 in the
    * thousands with share_ppm past ~10⁴ is the partition-killer worth
    * salting; long-tail skew below that is AQE's job. One count
    * aggregate + a 1-row broadcast; the corpus itself never
    * re-shuffles for the diagnosis.
    */
  def skewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val stats = counts.agg(sum(col("n")).as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.join(broadcast(stats))
      .withColumn("share_ppm", expr("CAST((n * 1000000L) DIV __total AS BIGINT)"))
      .withColumn("vs_mean_x100",
        expr("CAST((n * 100L * __nkeys) DIV __total AS BIGINT)"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(topK)
      .drop("__total", "__nkeys")
  }
}
