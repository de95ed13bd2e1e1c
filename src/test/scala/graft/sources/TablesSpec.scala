package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, min, unix_timestamp}
import org.apache.spark.sql.types.TimestampType

/** Loader-level guarantees of [[Tables]] that the shared test session
  * would otherwise mask: SparkSpec disables NTZ inference at build
  * time, so without an explicit flip these paths are dead in CI
  * (ADVICE r6). The conf is runtime-settable, so flipping it on the
  * shared session faithfully models a bare caller session.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("load normalizes naive parquet timestamps to TIMESTAMP on an NTZ-inferring session") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true") // model a caller session at Spark defaults
      // Control: with inference ON, a raw read of this file yields NTZ —
      // proving the fixture actually exercises the path under test.
      val raw = spark.read.parquet(Tables.path(dir, "orders"))
      assert(raw.schema("o_orderdate").dataType.typeName == "timestamp_ntz")
      val viaLoader = Tables.load(spark, dir, "orders")
      assert(viaLoader.schema("o_orderdate").dataType == TimestampType)
      // the loader must not leak its conf flip into the caller's session
      // (the caller's OWN parquet reads keep NTZ semantics)
      assert(spark.conf.get(key) == "true",
        "Tables.load must restore the caller's NTZ-inference setting")
      // UTC-instant semantics: the epoch seconds must equal the raw
      // micros of the file (naive = UTC instant, no session-tz fold).
      spark.conf.set(key, "false")
      val expected = spark.read.parquet(Tables.path(dir, "orders"))
        .agg(min(unix_timestamp(col("o_orderdate")))).head.getLong(0)
      spark.conf.set(key, "true")
      val got = Tables.load(spark, dir, "orders")
        .agg(min(unix_timestamp(col("o_orderdate")))).head.getLong(0)
      assert(got == expected)
    } finally spark.conf.set(key, saved)
  }

  test("load is session-timezone-invariant: non-UTC sessions read the same UTC instants") {
    // The tz-safety claim in Tables.load's scaladoc: disabling NTZ
    // inference AT READ TIME maps the file's naive micros straight to
    // a UTC instant, where a post-read NTZ→TIMESTAMP cast would fold
    // through the session wall-clock and shift every value by the
    // session offset. Pin it with an actual non-UTC session.
    val tzKey = "spark.sql.session.timeZone"
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val savedTz = spark.conf.get(tzKey)
    val savedNtz = spark.conf.get(ntzKey)
    try {
      val utc = Tables.load(spark, dir, "orders")
        .agg(min(unix_timestamp(col("o_orderdate")))).head.getLong(0)
      spark.conf.set(ntzKey, "true") // a caller session at Spark defaults…
      spark.conf.set(tzKey, "America/Los_Angeles") // …in a non-UTC zone
      val la = Tables.load(spark, dir, "orders")
        .agg(min(unix_timestamp(col("o_orderdate")))).head.getLong(0)
      assert(la == utc,
        s"naive micros must land on the same UTC instant in any session tz (got $la vs $utc)")
    } finally {
      spark.conf.set(tzKey, savedTz)
      spark.conf.set(ntzKey, savedNtz)
    }
  }

  test("load leaves the session readable for every table under NTZ defaults") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      Tables.names.foreach { n =>
        val df = Tables.load(spark, dir, n)
        assert(!df.schema.fields.exists(_.dataType.typeName == "timestamp_ntz"),
          s"table $n still carries TIMESTAMP_NTZ")
        assert(df.limit(1).count() == 1)
      }
    } finally spark.conf.set(key, saved)
  }

  test("cached-schema loads are identical to the inferring first load (r17)") {
    // the schema cache skips per-load footer inference; the cached
    // read must produce the same schema AND the same rows (events is
    // the sensitive table: nanos-ts legacy read + conversion)
    val a = Tables.load(spark, dir, "events")
    val b = Tables.load(spark, dir, "events") // cache hit by now
    assert(a.schema == b.schema)
    assert(a.orderBy(col("event_id")).collect().toSeq ==
      b.orderBy(col("event_id")).collect().toSeq)
    // and on an NTZ-defaults session the cached schema still pins
    // TIMESTAMP (no conf consultation needed at all)
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "orders")
        .schema("o_orderdate").dataType == TimestampType)
    } finally spark.conf.set(key, saved)
  }

  test("footer probes equal the scan-based aggregations exactly (r17)") {
    import org.apache.spark.sql.functions.max
    // row counts: block row counts are definitional metadata — must
    // equal count() on every testdata table
    Tables.names.foreach { n =>
      val t = Tables.load(spark, dir, n)
      assert(Tables.footerRowCount(spark, t.inputFiles) == t.count(),
        s"footerRowCount($n) != count()")
    }
    // integral max: footer stats must reproduce agg(max(id)) where the
    // id columns exist
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
      "part" -> "p_partkey", "orders" -> "o_orderkey").foreach { case (n, c) =>
      val t = Tables.load(spark, dir, n)
      val expected = t.agg(max(col(c))).head.getLong(0)
      assert(Tables.footerMaxLong(spark, t.inputFiles, c) == Some(Some(expected)),
        s"footerMaxLong($n.$c) != agg(max)")
    }
    // unknown column: must demand the scan fallback, never guess
    assert(Tables.footerMaxLong(spark, Tables.load(spark, dir, "documents").inputFiles,
      "no_such_column").isEmpty)
  }

  test("footer max handles all-null and empty tables like agg(max) (r17)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType, nullable = true)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_footer_spec")
    val allNull = s"$tmp/allnull.parquet"
    spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(null),
          org.apache.spark.sql.Row(null)), schema)
      .coalesce(1).write.mode("overwrite").parquet(allNull)
    // all-null column: provably no non-null max — Some(None), matching
    // agg(max) = NULL (plantOffset's maxId = 0 branch)
    val allNullFiles = spark.read.schema(schema).parquet(allNull).inputFiles
    assert(Tables.footerMaxLong(spark, allNullFiles, "id") == Some(None))
    val empty = s"$tmp/empty.parquet"
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .coalesce(1).write.mode("overwrite").parquet(empty)
    val emptyFiles = spark.read.schema(schema).parquet(empty).inputFiles
    assert(Tables.footerRowCount(spark, emptyFiles) == 0L)
    assert(Tables.footerMaxLong(spark, emptyFiles, "id") == Some(None))
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("footer probes read every leaf file of a partitioned root") {
    import org.apache.spark.sql.functions.max
    val dir = tmpDir("graft_footer_part")
    val df = spark.range(0, 500).withColumn("yr", (col("id") % 3).cast("int"))
    graft.operators.PartitionedLake.writePartitioned(df.repartition(2), Tables.path(dir, "lake"), "yr")
    val loaded = Tables.load(spark, dir, "lake")
    val files = loaded.inputFiles
    assert(Tables.footerRowCount(spark, files) == loaded.count())
    assert(Tables.footerMaxLong(spark, files, "id") ==
      Some(Some(loaded.agg(max(col("id"))).head.getLong(0))))
    // the partition column lives in directory names, not in the files:
    // no footer can answer it, so the caller must scan
    assert(Tables.footerMaxLong(spark, files, "yr").isEmpty)
  }

  test("footer row count sums every part file of a multi-file root") {
    val dir = tmpDir("graft_footer_multi")
    val p = Tables.path(dir, "multi")
    spark.range(0, 700).repartition(3).write.parquet(p)
    assert(graft.operators.PartitionedLake.dataFileCount(p) > 1)
    val loaded = Tables.load(spark, dir, "multi")
    assert(Tables.footerRowCount(spark, loaded.inputFiles) == loaded.count())
  }

  test("a table regenerated at the same path loads with its new schema") {
    val dir = tmpDir("graft_schema_regen")
    val p = Tables.path(dir, "t")
    spark.range(0, 10).write.parquet(p)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(0, 10).withColumn("name", col("id").cast("string"))
      .write.mode("overwrite").parquet(p)
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.columns.toSeq == Seq("id", "name"))
    assert(reloaded.filter(col("name") === "7").count() == 1)
  }
}
