package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan rebalancing for compute-dense per-row kernels (r16 — the
  * [[Similarity.bruteForceTopK]] rule as a helper): operators whose
  * per-row work is HEAVY (per-window gram hashing — O(len·w) string
  * builds per document; quadratic cosine scans) must take their
  * parallelism from the ROW count, not the input's byte size. A small
  * parquet corpus is one row group — one scan split — so without this
  * the kernel stage runs on one core while the rest idle (q193
  * measured 9 s single-task at sf0.1; the sf10 sweep measured 800 M
  * cosines in ONE 845 s task). At real scale the scan already has
  * ≥ cores splits and this is a NO-OP — no exchange is added.
  *
  * NOT for cheap compiled kernels: applying it to the shingle/MinHash
  * and winnowing projections REGRESSED q26 1.25 → 2.98 s and q28
  * 1.24 → 2.52 s at sf0.1 (same-canary A/B) — those kernels finish in
  * well under a second single-task, and the exchange this adds is
  * multiplied by every unmaterialized reference to the frame (column
  * pruning specializes each copy, so the exchanges don't reuse).
  * Gate: use only where the single-task kernel pass measures in
  * SECONDS. Results are invariant either way: every consumer is keyed
  * aggregation/join work downstream.
  */
private[operators] object Rebalance {

  /** `df` repartitioned to the session's default parallelism iff it
    * is SCAN-LEVEL — a leaf relation under only Filter/Project/alias/
    * Union nodes — and currently has fewer partitions; any other input
    * is returned unchanged. The partition probe materializes `df.rdd`,
    * and under AQE doing that on a plan containing exchanges eagerly
    * EXECUTES the upstream shuffle stages as real jobs whose lineage is
    * then discarded (`repartition` re-plans from the logical plan).
    * Scan-level plans have no exchanges, so the probe costs only
    * physical planning. Skipping the step is always safe: results do
    * not depend on it.
    */
  def toParallelism(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project, SubqueryAlias, Union}
    val scanLevel = df.queryExecution.analyzed.find {
      case _: Project | _: Filter | _: LeafNode | _: SubqueryAlias | _: Union => false
      case _ => true
    }.isEmpty
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (scanLevel && df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
