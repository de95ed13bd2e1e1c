package graft

import org.apache.spark.sql.SparkSession

/** Session builder with the engine's configuration profile
  * (SURVEY.md §4.3).
  *
  * `default` — plain Spark 4.x posture: AQE (with skew-join split and
  * partition coalescing) on, broadcast joins on, whole-stage codegen
  * on, the custom SQL functions registered. The knobs set explicitly
  * are the ones that differ per deployment:
  *  - shuffle partitions sized to the core count locally (a cluster
  *    deployment sets ~2-3× total cores; AQE coalesces down),
  *  - UTC session timezone for cross-engine determinism,
  *  - nanos-as-long so TIMESTAMP(NANOS) parquet (the events table)
  *    reads without error.
  */
object GraftSession {

  /** Cores the session should assume: `SPARK_GRAFT_CPUS` when set,
    * else the JVM's visible processor count. Callers that hardcoded 32
    * over-provisioned shuffle width on smaller machines.
    */
  def availableCores: Int = availableCores(sys.env)

  /** Env-injectable form so the derivation itself is spec-testable
    * (both branches) regardless of the test JVM's real environment.
    */
  private[graft] def availableCores(env: Map[String, String]): Int =
    positiveIntEnv(env, "SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `name`'s value in `env` as a positive Int, if set. Anything else
    * fails here, naming the variable: `abc` would otherwise surface as
    * a bare NumberFormatException, and `0` would reach Spark as
    * `local[0]` or as zero shuffle partitions.
    */
  private[graft] def positiveIntEnv(env: Map[String, String], name: String): Option[Int] =
    env.get(name).map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }

  /** Default shuffle width for `cores` executor threads: the sf10
    * sweep measured 96-wide shuffles 2–4× SLOWER than 32 at fixed 32
    * cores on the ANN family (q185 501 s → 121 s) — per-partition
    * sort/agg buffers shrink below the spill threshold only to pay 3×
    * the task-scheduling and merge fan-in. Width = cores is the right
    * local default; `SPARK_GRAFT_SHUFFLE` remains the explicit
    * override for sweeps that NEED wider (memory-bound 100× data) or a
    * cluster posture (~2-3× total cores, AQE coalesces down).
    */
  def shuffleWidth(cores: Int): Int = shuffleWidth(cores, sys.env)

  private[graft] def shuffleWidth(cores: Int, env: Map[String, String]): Int =
    positiveIntEnv(env, "SPARK_GRAFT_SHUFFLE").getOrElse(cores)

  def defaultBuilder(master: String = s"local[${availableCores}]",
      cores: Int = availableCores): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // shuffle width = cores (see [[shuffleWidth]]); a cluster (or a
      // local sweep over 100× data, where core-count partitions make
      // multi-GB sort/agg buffers) overrides via SPARK_GRAFT_SHUFFLE
      .config("spark.sql.shuffle.partitions", shuffleWidth(cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet TIMESTAMP(isAdjustedToUTC=false) reads as classic
      // TIMESTAMP (micros-since-epoch, rendered in the UTC session tz)
      // instead of TIMESTAMP_NTZ: NTZ forbids casts to numeric types,
      // and every engine the results are compared against (DuckDB
      // epoch()) treats these naive values as UTC instants — so the
      // legacy mapping is the cross-engine-deterministic one.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // v2 commit: rename task output straight into the destination at
      // task commit instead of a second sequential job-commit rename
      // pass — the dominant cost of Hive-partitioned writes (one rename
      // per partition dir; the 128-list IVF index writes measured ~2.5 s
      // of pure commit overhead per write under v1). Same setting the
      // reference runs (raw_layer.py:20-21). On real object stores a
      // manifest committer supersedes this; for HDFS/local it is the
      // right default.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // shuffle-file cleanup is driven by weak-reference collection, so
      // on a large heap that rarely GCs a long multi-query session
      // accrues every stage's shuffle files on local disk (the sf10
      // catalog sweep measured 14 GB of dead shuffle dirs and then
      // spill failures once the disk filled). The periodic System.gc()
      // ContextCleaner already schedules defaults to 30 min; 5 min
      // bounds dead-shuffle accretion at a negligible GC cost.
      .config("spark.cleaner.periodicGC.interval", "5min")
      // the bounded top-k aggregates (BoundedTopK — the ANN ranking
      // cut) are TypedImperativeAggregates, which run through
      // ObjectHashAggregateExec; its default sort-based fallback
      // triggers at 128 distinct keys per task, and the ANN paths
      // carry thousands of query_id groups — each holding only a
      // k-bounded heap (~1 KB at k=64). 64k in-memory groups per task
      // is still only tens of MB; past that the sort-based fallback is
      // the correct spill-aware behavior (correctness never depends on
      // this knob).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // partition-dir discovery: Spark launches a distributed LISTING
      // JOB once a read spans more than this many paths (default 32).
      // Every serving read of a 128-list IVF index tripped it, paying
      // a ~1 s job to list 128 local directories that the driver lists
      // in ~0.3 s (r16 measurement). 1024 keeps driver-side
      // listing for index-sized partition counts on filesystem-backed
      // stores; genuinely huge partitioned tables (or slow object
      // stores — lower it there) still get the distributed listing
      // past the threshold.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // parallelismFirst stays at its DEFAULT (true) — measured, not
      // assumed (r17): setting it false (the Spark doc's advisory-size
      // recommendation, guide §2.2) coalesced compute-dense mid-size
      // stages to one task and REGRESSED the catalog 98.7 → 106.3 s
      // warm at sf0.1 (q58 +1.0 s, q199 +0.8 s, q59 +0.8 s) while
      // total task count barely moved (3 873 → 3 826) — per-task
      // scheduling was never the floor, per-JOB fixed cost is. On a
      // byte-bound cluster the advisory size matters; locally the
      // kernels are CPU-dense at small bytes, exactly the case the
      // parallelism floor protects.
      // generated-class cache: Spark keeps Janino's compiled classes in
      // a per-JVM LRU of spark.sql.codegen.cache.maxEntries (default
      // 100), sized once, by the first session that compiles. The
      // engine's working set is larger — one perfbench etl_serve round
      // or catalog_jobheavy pass needs ~240–255 distinct classes, the
      // 200-query catalog thousands — so at 100 every repeated
      // operation missed and recompiled its whole plan. 4096 holds the
      // catalog's set with headroom. Measured on a 4-vCPU box, same job
      // and task counts: perfbench etl_serve median operation latency
      // 7.4 → 4.7 s and catalog_jobheavy 15.9 → 10.3 s (medians of 10
      // alternating pairs; 10 and 9 of them won).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")

  /** Generated classes Janino has compiled in this JVM so far; a
    * cache hit does not count. Diff it around a region to see how many
    * classes that region compiled (Bench, QSweep).
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def default(master: String = s"local[${availableCores}]",
      cores: Int = availableCores): SparkSession = {
    val s = defaultBuilder(master, cores).getOrCreate()
    // also covers sessions that existed before this call (extensions
    // only apply at build time)
    graft.expressions.GraftExtensions.register(s)
    s
  }
}
