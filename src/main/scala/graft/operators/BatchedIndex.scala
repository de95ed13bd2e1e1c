package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared machinery for BATCH-KEYED persisted indexes (r10): every
  * generation of an index table — the build and each append — lives in
  * its own `batch_id=<id>` subdirectory and is written in OVERWRITE
  * mode. That one layout decision buys the whole maintenance story:
  *
  *  - **Idempotent, crash-safe appends**: a retry overwrites the same
  *    batch's subdirectories instead of double-appending rows, so
  *    recovery from any crash is "re-run the same call" — no
  *    read-modify-write of shared state, no swap window during which
  *    the only durable copy is deleted (the hazards ADVICE r9 found in
  *    the pre-r10 merge-and-swap appends).
  *  - **Associative side tables**: per-batch SUM shards fold at read
  *    time by summing (long addition is exactly associative), equal
  *    bit-for-bit to the merged table the old layout maintained.
  *  - **Bounded fragmentation**: accretion is one generation per
  *    append, folded back to a single generation by [[compactTable]]
  *    on the usual lake-compaction cadence.
  *
  * Used by the sign-IVF / IVFADC ANN indexes
  * ([[Similarity.appendSignIvfIndex]], [[Similarity.appendIvfAdcIndex]]).
  */
private[operators] object BatchedIndex {

  /** Reserved batch id for the build generation. */
  val buildBatchId: String = "base"

  /** Append batch ids become Hive partition directory names
    * (`batch_id=<id>`), so they must be path-safe, and they must start
    * with a letter so partition-value inference types the column
    * STRING for every batch (a mixed numeric/string population would
    * otherwise depend on inference order). `base` is the build
    * generation's reserved id.
    */
  def requireBatchId(batchId: String): Unit =
    require(batchId.matches("[A-Za-z][A-Za-z0-9._-]*") && batchId != buildBatchId,
      s"batchId '$batchId' must match [A-Za-z][A-Za-z0-9._-]* and not be " +
        s"the reserved build id '$buildBatchId'")

  /** Fold the per-batch sum shards of a batch-keyed sums side table
    * into the logical sums (columns `s` and `cnt` summed per key).
    */
  def foldSums(shards: DataFrame, keys: Seq[String]): DataFrame =
    shards.groupBy(keys.map(col): _*)
      .agg(sum(col("s")).as("s"), sum(col("cnt")).as("cnt"))

  /** Task width for a partition-clustered index write (r16). Hashing
    * on the partition column still lands every partition value wholly
    * in ONE task (≤ one file per partition dir, the layout invariant
    * compaction pins), but the task count is capped by the session's
    * shuffle width instead of pinned to the partition count: 128
    * single-list write tasks measured 1.9–2.0 s against 1.0 s for 32
    * multi-list tasks producing the SAME 128 files (per-task launch +
    * parquet writer setup dominates when lists ≫ cores and rows are
    * small; FileFormatWriter adds a per-task sort by the partition
    * column so multi-list tasks still write each file sequentially).
    * The shuffle width is the deployment-scaled knob (cores locally,
    * ~2–3× total cores on a cluster — GraftSession scaladoc), so big
    * deployments keep full write parallelism; the count stays EXPLICIT
    * so AQE cannot fold the exchange to one sequential writer task
    * (the r10 lesson at buildSignIvfIndex).
    */
  def writeWidth(spark: SparkSession, nPartitions: Int): Int =
    math.max(1, math.min(nPartitions,
      spark.conf.get("spark.sql.shuffle.partitions").toInt))

  /** Run two INDEPENDENT Spark actions concurrently (r16 — guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially; the second job's tasks back-fill executors the
    * first job's tail leaves idle). Used for the per-step write pairs
    * of the batch-keyed indexes — codes/lists vs their sums/codebook
    * side table — which target DIFFERENT paths and are individually
    * idempotent (overwrite of their own batch subdir). Crash posture
    * is unchanged: a torn step now may leave EITHER table's generation
    * missing instead of only the second's, and
    * [[assertConsistentBatches]] requires set EQUALITY of generations
    * (both directions), so any torn combination still fails loud at
    * serve time with the same recovery (re-run the same call). Do NOT
    * use where the write ORDER is a documented invariant (the banded
    * near-dup index writes bands before artifacts so a crash surfaces
    * as a loud missing-artifact error — parallelizing those would
    * reintroduce the silent direction). Both exceptions propagate
    * (second suppressed on the first).
    */
  def inParallel(a: => Unit, b: => Unit): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => try b catch {
      case e: Throwable => err.compareAndSet(null, e): Unit
    })
    t.setName("graft-index-write-b")
    t.start()
    try a catch {
      case e: Throwable =>
        t.join()
        Option(err.get).foreach(e.addSuppressed)
        throw e
    }
    t.join()
    Option(err.get).foreach(e => throw e)
  }

  /** Atomic-ish directory swap for index maintenance: the freshly
    * written `next` generation replaces `cur` via RENAME-ASIDE — the
    * old table moves to `cur__old` first, then next renames into
    * place, then the aside copy deletes. No step deletes the only
    * durable copy before its replacement exists: a crash leaves either
    * the old table in place, or both `cur__old` and the complete next
    * generation on disk — recovery is re-running the maintenance pass
    * (it clears the stale aside first). Maintenance ops are
    * single-writer by contract; wrap the index in [[VersionedTable]]
    * when concurrent readers need snapshot isolation across the
    * rename.
    */
  def swapDir(spark: SparkSession, next: String, cur: String): Unit = {
    val curP = new org.apache.hadoop.fs.Path(cur)
    val nextP = new org.apache.hadoop.fs.Path(next)
    val oldP = new org.apache.hadoop.fs.Path(cur + "__old")
    val fs = curP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDir(spark, cur) // crash between the two renames: data only in aside
    fs.delete(oldP, true) // stale aside from a prior crashed swap
    if (fs.exists(curP))
      require(fs.rename(curP, oldP), s"swapDir: rename $cur -> $oldP failed")
    require(fs.rename(nextP, curP), s"swapDir: rename $next -> $cur failed")
    fs.delete(oldP, true)
  }

  /** Restore a live table that a crash between [[swapDir]]'s two
    * renames left missing: in that window the only durable copy sits
    * in `cur__old`, so a naive re-run of a maintenance pass would
    * first delete its own stale `__compact`/`__next` scratch and then
    * fail reading the absent table — and serving fails until repaired.
    * Renaming the aside back makes "re-run the maintenance pass" an
    * actual recovery procedure, with no manual rename. No-op when the
    * live table exists (a PRESENT table plus an aside is the normal
    * post-rename crash window — the aside is stale there and must NOT
    * clobber the newer generation). Called by [[swapDir]] and
    * [[compactTable]]; serving paths may call it defensively.
    */
  def recoverDir(spark: SparkSession, cur: String): Unit = {
    val curP = new org.apache.hadoop.fs.Path(cur)
    val oldP = new org.apache.hadoop.fs.Path(cur + "__old")
    val fs = curP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(curP) && fs.exists(oldP))
      require(fs.rename(oldP, curP), s"recoverDir: rename $oldP -> $cur failed")
  }

  /** Loud torn-append detection: the generation sets of two tables of
    * one index must match. An append writes its shards table by table
    * (data first, sums second), so a crash between the writes leaves
    * one table with a generation the other lacks — which would serve
    * SILENTLY-different results (a sums fold missing one batch's
    * contribution shifts ADC scores; an artifact table missing a
    * banded batch skips its verification). This check turns that
    * window into an error naming the recovery: re-run the interrupted
    * append with the same (batch, batchId). Pure directory listing —
    * no Spark job, no file reads. A crash mid-COMPACTION (one table
    * folded, the other not) trips it too; re-run the compaction.
    */
  def assertConsistentBatches(
      spark: SparkSession, tableA: String, tableB: String): Unit = {
    def generations(p: String): Set[String] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Set.empty[String]
      else fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).toSet
    }
    val a = generations(tableA)
    val b = generations(tableB)
    require(a == b,
      s"torn index: $tableA holds generations [${a.toSeq.sorted.mkString(", ")}] " +
        s"but $tableB holds [${b.toSeq.sorted.mkString(", ")}] — an append or " +
        "compaction was interrupted between its table writes; re-run it " +
        "(same batch, same batchId) to recover")
  }

  /** Best-effort recursive delete (no-op when absent). */
  def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Rewrite one batch-keyed index table as a single consolidated
    * `batch_id=base` generation, replacing the live table via
    * [[swapDir]]. Exactly one of the two shapes:
    *  - `partitionCol = Some((col, n))`: re-shuffle to `n` partitions
    *    on `col` and write partitioned by it — one file per partition
    *    directory;
    *  - `sumKeys = Some(keys)`: fold sum shards to one file.
    */
  def compactTable(
      spark: SparkSession, table: String,
      partitionCol: Option[(String, Int)] = None,
      sumKeys: Option[Seq[String]] = None): Unit = {
    require(partitionCol.isDefined != sumKeys.isDefined,
      "compactTable: give exactly one of partitionCol and sumKeys")
    val next = s"${table}__compact"
    recoverDir(spark, table) // prior compaction crashed mid-swap: restore aside
    deleteDir(spark, next)
    val src = spark.read.parquet(table).drop("batch_id")
    val out = s"$next/batch_id=$buildBatchId"
    partitionCol match {
      case Some((c, n)) =>
        src.repartition(writeWidth(spark, n), col(c))
          .write.mode("overwrite").partitionBy(c).parquet(out)
      case None =>
        foldSums(src, sumKeys.get).coalesce(1).write.mode("overwrite").parquet(out)
    }
    swapDir(spark, next, table)
  }
}
