package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2, two variants.
  *
  * `reference` reproduces the reference's exact (non-textbook) behavior
  * (reference: src/curated/curated_layer.py:47-78, analyzed in
  * SURVEY.md §2.9): under 3-valued logic brand-new keys are dropped by
  * the change filter, the *unchanged* existing rows get expired, and
  * old versions of changed keys vanish; the curated layer runs it.
  * `corrected` is the textbook variant (q11 gates it).
  *
  * Both take the batch timestamp as a parameter — the reference calls
  * current_timestamp() in two places of one job, which is
  * nondeterministic; a single injected clock makes outputs testable.
  *
  * Scale notes: the joins are plain equi-joins on the business key, so
  * Catalyst plans broadcast-hash when the changed set is small and
  * sort-merge otherwise; AQE converts at runtime. No collect(), no
  * driver-side loops — pure DataFrame → DataFrame.
  */
object Scd2 {

  private def stampCurrent(df: DataFrame, asOf: Timestamp): DataFrame =
    df.withColumn("start_date", lit(asOf))
      .withColumn("end_date", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))

  /** First load: everything current (reference: curated_layer.py:73-77). */
  def firstLoad(newDf: DataFrame, asOf: Timestamp): DataFrame =
    stampCurrent(newDf, asOf)

  /** Reference-exact SCD2 merge (reference: curated_layer.py:47-72).
    *
    * @param newDf       incoming dimension rows (business cols only)
    * @param existing    previously persisted dim incl. audit cols
    * @param pk          business key column
    * @param trackedCols columns whose change triggers a new version
    */
  def reference(
      newDf: DataFrame,
      existing: DataFrame,
      pk: String,
      trackedCols: Seq[String],
      asOf: Timestamp): DataFrame = {
    val n = newDf.alias("new")
    val e = existing.alias("existing")
    // OR of (new.c != existing.c): NULL on either side ⇒ NULL ⇒ row
    // filtered out — this is what silently drops brand-new keys.
    val changedPred = trackedCols
      .map(c => col(s"new.$c") =!= col(s"existing.$c"))
      .reduce(_ || _)
    val changes = n.join(e, Seq(pk), "left").filter(changedPred)
      .select("new.*")
    val changedKeys = changes.select(pk).distinct()
    // Anti-join keeps the UNCHANGED rows, which then get expired —
    // reference behavior, inverse of textbook SCD2.
    val expired = existing.join(changedKeys, Seq(pk), "left_anti")
      .withColumn("is_current", lit(false))
      .withColumn("end_date", lit(asOf))
    expired.unionByName(stampCurrent(changes, asOf))
  }

  /** Textbook SCD2: expire the old version of changed keys, keep
    * unchanged rows current, insert brand-new keys. NULL-safe change
    * detection (`<=>` negation) so NULL→value and value→NULL count as
    * changes.
    */
  def corrected(
      newDf: DataFrame,
      existing: DataFrame,
      pk: String,
      trackedCols: Seq[String],
      asOf: Timestamp): DataFrame = {
    val curr = existing.filter(col("is_current"))
    val hist = existing.filter(!col("is_current"))
    val n = newDf.alias("new")
    val c = curr.alias("cur")
    val changedPred = trackedCols
      .map(cn => !(col(s"new.$cn") <=> col(s"cur.$cn")))
      .reduce(_ || _)
    val joined = n.join(c, Seq(pk), "left")
    val newKeys = joined.filter(col("cur.start_date").isNull).select("new.*")
    val changedNew = joined.filter(col("cur.start_date").isNotNull && changedPred)
      .select("new.*")
    val changedKeys = changedNew.select(pk).distinct()
    val expiredOld = curr.join(changedKeys, Seq(pk), "left_semi")
      .withColumn("is_current", lit(false))
      .withColumn("end_date", lit(asOf))
    val unchanged = curr.join(changedKeys, Seq(pk), "left_anti")
    hist
      .unionByName(unchanged)
      .unionByName(expiredOld)
      .unionByName(stampCurrent(changedNew.unionByName(newKeys), asOf))
  }

  /** Dispatch used by the curated layer: first load vs the reference
    * merge (reference: curated_layer.py:73-77 branch).
    */
  def apply(
      newDf: DataFrame,
      existing: Option[DataFrame],
      pk: String,
      trackedCols: Seq[String],
      asOf: Timestamp): DataFrame =
    existing match {
      case None => firstLoad(newDf, asOf)
      case Some(e) => reference(newDf, e, pk, trackedCols, asOf)
    }
}
