package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md). One parquet file per table under a scale-factor dir.
  *
  * At 100 TB these would be partitioned/bucketed table roots instead of
  * single files; the API stays the same — `spark.read.parquet(path)`
  * handles a directory of part-files identically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Inferred RAW schema per table path (r17). Schema inference on the
    * v1 parquet path costs a footer read + relation resolution per
    * `spark.read.parquet` call — measured 45–63 ms/load vs 5.7 ms with
    * an explicit schema, and a bench pass issues ~400 loads (~18 s of
    * pure re-inference). The schema is METADATA of the file (the same
    * class as Spark's own FileStatusCache) — no row, statistic, or
    * result is cached, and the first load of each path still infers
    * from the footer under the pinned NTZ-inference-off conf, so
    * cached loads are bit-identical AND session-independent (the
    * explicit schema makes bare NTZ-default sessions read the same
    * types without the conf dance). Each entry is stamped with the
    * root's modification time and length: a table regenerated at the
    * same path misses the stamp and is re-inferred, never read with
    * the old schema.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), org.apache.spark.sql.types.StructType)]()

  private def rootStamp(spark: SparkSession, p: String): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(p)
    val st = root.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(root)
    (st.getModificationTime, st.getLen)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // TIMESTAMP(NANOS) parquet (events.ts) is unreadable without this
    // legacy flag; set it defensively so queries work on any session
    // the caller provides, not only our own mains'. Runtime-settable.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Naive parquet timestamps (isAdjustedToUTC=false, the driver's
    // testdata encoding) would read as TIMESTAMP_NTZ on sessions with
    // default NTZ inference — a type that forbids numeric casts and
    // diverges from how the DuckDB oracle treats the same values
    // (naive = UTC instant). Disabling inference at read time is
    // tz-safe: the raw micros become a UTC instant directly, with no
    // session-timezone fold (a post-read NTZ→TIMESTAMP cast would
    // interpret the wall-clock in the session tz instead). The conf is
    // SAVED AND RESTORED around the read — schema inference happens
    // eagerly at read(), so the returned frame keeps TIMESTAMP while
    // the caller's own unrelated parquet reads keep their session's
    // semantics (TablesSpec asserts both).
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val p = path(dir, name)
    val stamp = rootStamp(spark, p)
    val cached = schemaCache.get(p)
    val df =
      if (cached != null && cached._1 == stamp) spark.read.schema(cached._2).parquet(p)
      else {
        val ntzSaved = spark.conf.get(ntzKey)
        val d =
          try {
            spark.conf.set(ntzKey, "false")
            spark.read.parquet(p)
          } finally spark.conf.set(ntzKey, ntzSaved)
        schemaCache.put(p, (stamp, d.schema))
        d
      }
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as
    // long (spark.sql.legacy.parquet.nanosAsLong) — convert to a µs
    // timestamp with integral division (double division would lose
    // precision past 2^53 ns).
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case None => df
    }
  }

  // ------------------------------------------------------------------
  // Driver-side parquet-FOOTER statistics probes (r17). The catalog's
  // parameter probes — corpus row counts feeding quantizer widths,
  // max(id) feeding plant offsets — are metadata questions, but
  // `df.count()` / `agg(max(id))` on the v1 parquet path answer them
  // with a full scan + 2-stage aggregation job (~2 Spark jobs each;
  // ~38 such probes paid ~6 s/bench at sf0.1, and at 100 TB each one
  // is a full-table cluster scan). Parquet footers already carry the
  // exact answers: block row counts (always exact) and per-column
  // min/max statistics (exact for INT32/INT64). Reading footers is
  // driver-side metadata work of the same class as the file listing
  // Spark does anyway — no result caching (every call re-reads the
  // footers), no approximation (max falls back to a scan when any
  // block lacks usable stats).
  // ------------------------------------------------------------------

  private def parquetFooters(spark: SparkSession, tablePath: String)
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    // every leaf data file below the root, as the scan's file index
    // lists it: partition directories (`k=v/`) and nested dirs are
    // descended, `_`/`.`-prefixed entries (`_SUCCESS`, `_temporary`,
    // `.crc` checksums) skipped at every level
    def leaves(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.Path] =
      if (!st.isDirectory) Seq(st.getPath)
      else fs.listStatus(st.getPath).toIndexedSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(leaves)
    leaves(fs.getFileStatus(root)).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    }
  }

  /** Exact row count of a table from its parquet footers — block row
    * counts are definitional parquet metadata (present and exact in
    * every file, unlike min/max stats), so there is no fallback to
    * need. Equals `load(...).count()` bit-for-bit.
    */
  def footerRowCount(spark: SparkSession, tablePath: String): Long = {
    import scala.jdk.CollectionConverters._
    parquetFooters(spark, tablePath)
      .flatMap(_.getBlocks.asScala).map(_.getRowCount).sum
  }

  /** Exact `max(col)` of an integral column from parquet footer
    * statistics; `None` when the table has no rows with a non-null
    * value, or when any block lacks usable stats for the column (the
    * caller falls back to the scan-based aggregation — correctness
    * never depends on stats being present).
    */
  def footerMaxLong(spark: SparkSession, tablePath: String,
      column: String): Option[Option[Long]] = {
    import scala.jdk.CollectionConverters._
    val blocks = parquetFooters(spark, tablePath).flatMap(_.getBlocks.asScala)
    val chunks = blocks.flatMap(b => b.getColumns.asScala
      .filter(_.getPath.toDotString == column).map(c => (b.getRowCount, c)))
    if (chunks.size != blocks.size) return None // column absent somewhere: scan
    // per block: None = unusable stats (caller must scan); Some(None) =
    // provably all-null; Some(Some(m)) = exact max of non-null values
    val perBlock: Seq[Option[Option[Long]]] = chunks.map { case (rows, c) =>
      val st = c.getStatistics
      if (st == null) None
      else if (st.hasNonNullValue) st.genericGetMax match {
        case l: java.lang.Long => Some(Some(l.longValue))
        case i: java.lang.Integer => Some(Some(i.longValue))
        case _ => None // non-integral stats type: fall back
      }
      else if (rows == 0L || (st.isNumNullsSet && st.getNumNulls == rows))
        Some(None) // empty or all-null block
      else None // stats missing entirely: indistinguishable from all-null
    }
    if (perBlock.contains(None)) None
    else {
      val vals = perBlock.flatten.flatten
      Some(if (vals.isEmpty) None else Some(vals.max))
    }
  }
}
