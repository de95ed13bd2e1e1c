package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned table publish — atomic batch publication with readers
  * isolated from in-flight writes, the minimal form of the snapshot
  * discipline table formats (Iceberg/Delta) provide, built from two
  * filesystem primitives only:
  *
  *  - each publish writes a COMPLETE new version directory `v=N/`
  *    (never mutating a live one), then
  *  - flips a single `_latest` pointer file via write-temp +
  *    atomic-rename.
  *
  * Readers resolve the pointer first, so they see either the old or
  * the new version in full — never a half-written directory. A crash
  * after the data write but before the pointer flip leaves an orphan
  * `v=N` that the next publish simply supersedes; a crash during the
  * pointer rename is atomic at the FS level. Old versions stay
  * readable by number (time travel) — the rollback story is "point
  * the pointer back", not a restore.
  *
  * At 100 TB the same layout works on object stores that offer atomic
  * single-object put (the pointer is one small object); the version
  * directories pair with [[PartitionedLake.compact]] for layout inside
  * a version. Reference context: the reference overwrites each zone
  * in place (`curated_layer.py:88-89`) — an in-flight reader there
  * can see a truncated table, exactly what the pointer prevents.
  */
object VersionedTable {

  private def pointerPath(root: String) = java.nio.file.Paths.get(root, "_latest")

  /** Highest published version, if any (resolves the pointer, not the
    * directory listing — orphaned crash leftovers are invisible).
    */
  def latestVersion(root: String): Option[Long] = {
    val p = pointerPath(root)
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  /** Publish `df` as the next version and flip the pointer. Returns
    * the published version number. The next number clears BOTH the
    * pointer and any existing `v=` directory — a crash between data
    * write and pointer flip leaves an orphan directory, and the next
    * publish must step over it, not collide with it.
    */
  def publish(df: DataFrame, root: String): Long = {
    val next = nextVersion(root)
    df.write.mode("errorifexists").parquet(s"$root/v=$next")
    flipPointer(root, next)
    next
  }

  /** Next version number, stepping over BOTH the pointer target and
    * any orphan `v=` directory a crash left behind.
    */
  private def nextVersion(root: String): Long = {
    val maxDir = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
      .maxOption.getOrElse(0L)
    math.max(latestVersion(root).getOrElse(0L), maxDir) + 1L
  }

  /** The single commit point: write-temp + atomic rename. */
  private def flipPointer(root: String, version: Long): Unit = {
    val tmp = java.nio.file.Paths.get(root, s"_latest.tmp.$version")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(tmp, version.toString)
    java.nio.file.Files.move(tmp, pointerPath(root),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the current version (pointer-resolved snapshot). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    readVersion(spark, root, v)
  }

  /** Time travel: read an explicit version. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(s"$root/v=$version")
}
