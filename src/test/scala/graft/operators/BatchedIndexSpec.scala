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
    spark.range(10).selectExpr("id AS v").write.parquet(s"$tbl/batch_id=base")
    spark.range(10, 15).selectExpr("id AS v").write.parquet(s"$tbl/batch_id=b1")
    BatchedIndex.compactTable(spark, tbl)
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
    BatchedIndex.compactTable(spark, tbl)
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)

    // window 2: table PRESENT plus a stale aside (crash after the
    // next→cur rename, before the aside delete) — recovery must NOT
    // clobber the live table with the older generation.
    spark.range(99, 100).selectExpr("id AS v")
      .write.parquet(s"${tbl}__old/batch_id=base")
    BatchedIndex.recoverDir(spark, tbl)
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)
    BatchedIndex.compactTable(spark, tbl) // swapDir path tolerates it too
    assert(spark.read.parquet(tbl).orderBy("v").collect().toSeq === before)
  }
}
