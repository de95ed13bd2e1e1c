package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The swap/recovery machinery shared by every batch-keyed index
  * (sign-IVF, PQ, IVFADC). The crash windows here are
  * simulated with the exact filesystem states swapDir can leave.
  */
class BatchedIndexSpec extends SparkSpec {

  test("crash between swapDir's renames recovers via recoverDir AND via re-running the pass (ADVICE r10)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_swap_crash").toString
    val tbl = s"$dir/t"
    // a list-partitioned table, the layout of an IVFADC index's codes
    def write(lo: Long, hi: Long, gen: String): Unit =
      spark.range(lo, hi).selectExpr("id AS v", "id % 3 AS list_id")
        .write.partitionBy("list_id").parquet(s"$tbl/batch_id=$gen")
    def compact(): Unit = BatchedIndex.compactTable(spark, tbl, partitionCol = Some(("list_id", 3)))
    write(0, 10, "base")
    write(10, 15, "b1")
    compact()
    val before = spark.read.parquet(tbl).orderBy("v").collect().toSeq
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // window 1: cur renamed aside, next not yet in place — the state a
    // crash between swapDir's two renames leaves. Serving-side
    // defensive recovery restores the aside.
    assert(fs.rename(new Path(tbl), new Path(tbl + "__old")))
    BatchedIndex.recoverDir(spark, tbl)
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)

    // same window, recovered by re-running the maintenance pass itself
    // (the documented procedure) — including a half-written __compact
    // scratch left by the crashed run, which the re-run must clear.
    assert(fs.rename(new Path(tbl), new Path(tbl + "__old")))
    spark.range(3).selectExpr("id AS v")
      .write.parquet(s"${tbl}__compact/batch_id=base")
    compact()
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)

    // window 2: table PRESENT plus a stale aside (crash after the
    // next→cur rename, before the aside delete) — recovery must NOT
    // clobber the live table with the older generation.
    spark.range(99, 100).selectExpr("id AS v")
      .write.parquet(s"${tbl}__old/batch_id=base")
    BatchedIndex.recoverDir(spark, tbl)
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)
    compact() // swapDir path tolerates it too
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)
  }
}
