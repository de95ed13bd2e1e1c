package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PartitionedLakeSpec extends SparkSpec {

  import spark.implicits._

  private def writeLake(): String = {
    val dir = Files.createTempDirectory("graft_lake_spec").toString
    val df = (0L until 3650L)
      .map(i => (i, 2020 + (i / 365).toInt, i % 100))
      .toDF("id", "yr", "payload")
    PartitionedLake.writePartitioned(df.repartition(4), dir, "yr")
    dir
  }

  test("partition filter prunes directories and is invisible in the result") {
    val dir = writeLake()
    val full = PartitionedLake.read(spark, dir)
    val pruned = full.filter(col("yr") === 2023)
    val totalFiles = PartitionedLake.filesScanned(full)
    val scanned = PartitionedLake.filesScanned(pruned)
    // 10 year-directories × 4 files each; one year's slice lists 1/10
    assert(scanned < totalFiles,
      s"no pruning: scanned $scanned of $totalFiles files")
    assert(scanned <= totalFiles / 5)
    val expected = (3 * 365L until 4 * 365L).toSet
    assert(pruned.select("id").collect().map(_.getLong(0)).toSet === expected,
      "pruning must be invisible in the result")
  }

  test("partition values round-trip: every year present exactly once") {
    val dir = writeLake()
    val counts = PartitionedLake.read(spark, dir)
      .groupBy("yr").count().collect()
      .map(r => r.getAs[Number]("yr").intValue() -> r.getAs[Long]("count")).toMap
    assert(counts.keySet === (2020 to 2029).toSet)
    assert(counts.values.forall(_ === 365L))
  }

  test("compact: collapses a fragmented zone losslessly into range-clustered files") {
    val frag = Files.createTempDirectory("graft_frag_spec").toString
    val out = Files.createTempDirectory("graft_compact_spec").toString
    val df = (0L until 1000L).map(i => (i, s"row_$i")).toDF("id", "payload")
    df.repartition(32).write.mode("overwrite").parquet(frag)
    assert(PartitionedLake.dataFileCount(frag) === 32L)
    PartitionedLake.compact(spark.read.parquet(frag), out, targetFiles = 4, "id")
    assert(PartitionedLake.dataFileCount(out) === 4L)
    // lossless: identical row set
    val back = spark.read.parquet(out)
    assert(back.count() === 1000L)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // range-clustered: per-file id ranges must not overlap (tight
    // min/max stats are the point of compacting by range)
    val ranges = back
      .select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) => assert(hiA < loB,
        s"file ranges overlap: $hiA >= $loB")
      case _ => ()
    }
  }

  test("parquet codec choice: zstd beats snappy on redundant text, content identical") {
    // the storage knob that matters at 100 TB: a cold/archive zone on
    // zstd, hot zones on snappy; either way the DATA is identical
    val dir = Files.createTempDirectory("graft_codec").toString
    val df = (0L until 2000L)
      .map(i => (i, s"a moderately repetitive payload body number ${i % 50}"))
      .toDF("id", "text")
    df.coalesce(1).write.option("compression", "snappy").parquet(s"$dir/snappy")
    df.coalesce(1).write.option("compression", "zstd").parquet(s"$dir/zstd")
    def bytes(p: String): Long = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(bytes(s"$dir/zstd") < bytes(s"$dir/snappy"),
      s"zstd ${bytes(s"$dir/zstd")} should be smaller than snappy ${bytes(s"$dir/snappy")}")
    assert(spark.read.parquet(s"$dir/zstd").orderBy("id").collect().toSeq ===
      spark.read.parquet(s"$dir/snappy").orderBy("id").collect().toSeq)
  }

  test("orc round-trip preserves longs, strings, and timestamps exactly") {
    val dir = Files.createTempDirectory("graft_orc_spec").toString
    val df = Seq(
      (1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "β", java.sql.Timestamp.valueOf("1997-06-15 12:34:56")),
      (Long.MaxValue, "", java.sql.Timestamp.valueOf("2001-11-04 23:59:59")))
      .toDF("v", "s", "ts")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("v").collect().toSeq === df.orderBy("v").collect().toSeq)
  }
}
