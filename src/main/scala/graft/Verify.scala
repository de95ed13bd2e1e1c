package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val cpus = GraftSession.positiveIntEnv(sys.env, "SPARK_GRAFT_CPUS").getOrElse(32)
    // SPARK_GRAFT_HASHDUMP=1 (sweep-scale local runs only; the driver
    // sets no env): ship each query's 1-row engine-side digest instead
    // of the full result — the coalesce(1) single-writer dump dominates
    // per-query cost for row-preserving queries at sf10 (see HashDump).
    // local_verify.py detects the digest schema and compares the same
    // digest computed over the DuckDB oracle rows; value strictness is
    // unchanged.
    val hashMode = sys.env.get("SPARK_GRAFT_HASHDUMP").contains("1")
    val spark = GraftSession.defaultBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional 3rd arg: comma-separated name prefixes — local iteration
    // only; the driver always calls with exactly (sfDir, outDir).
    // A `-`-prefixed entry EXCLUDES its matches (r13: the sf10 sweep
    // runs "-q177" — the one query whose exact oracle cannot run at
    // that scale; q199 is its documented at-scale twin); plain entries
    // include, and with only exclusions present everything else runs.
    val (excl0, incl) = only.getOrElse(Set.empty).partition(_.startsWith("-"))
    val excl = excl0.map(_.drop(1))
    def selected(name: String): Boolean =
      (incl.isEmpty || incl.exists(name.startsWith)) &&
        !excl.exists(name.startsWith)
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val res = fn(spark, sfDir)
        val out =
          if (hashMode) HashDump.digestFrame(res).getOrElse {
            System.err.println(s"[verify] $name hash-dump unsupported " +
              "column type; falling back to full dump")
            res
          } else res
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // stderr, one line per query — sweep-scale runs read this for
        // the per-family cost curve; the driver's gate ignores it
        System.err.println(
          f"[verify] $name ok t=${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // keys sorted, as in queries.json: identical catalogs write
    // identical bytes
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full declared-query list so the gate can detect queries that
    // failed to write any result (absent dirs would otherwise be
    // silently skipped by a glob-based comparator)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq
        .filter(selected)
        .sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
