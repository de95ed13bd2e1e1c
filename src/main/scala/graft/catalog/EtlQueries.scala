package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{RawLayer, Scd2}
import graft.functions.TextFunctions
import graft.operators.{DataSkipping, Dedup, IncrementalAgg, PartitionedLake, VersionedTable, ZOrder}
import graft.catalog.CatalogSupport._

/** The reference pipeline and its lake mechanics: SCD2, the star-schema
  * dashboard served from the memoized curated zone, incremental and
  * CDC merges, partitioned/versioned/compacted writes, format
  * round-trips, referential audits, and the q160–q165 stage diagnostics.
  */
object EtlQueries extends Family {
  val name = "etl"

  // SCD2 synthetic current/new inputs derived deterministically from
  // `supplier` (the testdata has no versioned dim, so we build one):
  // even keys re-arrive, keys %4==0 with a changed attribute, keys
  // %5==0 re-keyed +1_000_000 as brand-new.
  private val scdAsOf = utcTs("2024-01-01 00:00:00")
  private val scdStart = utcTs("2023-01-01 00:00:00")

  private def scdInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sup = t(s, dir, "supplier")
    val acct = floor(col("s_acctbal")).cast("long")
    val existing = sup.select(col("s_suppkey"), col("s_name"), acct.as("acct"))
      .withColumn("start_date", lit(scdStart))
      .withColumn("end_date", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    val newBatch = sup.filter(col("s_suppkey") % 2 === 0)
      .select(col("s_suppkey"), col("s_name"),
        (acct + when(col("s_suppkey") % 4 === 0, 100).otherwise(0)).as("acct"))
      .unionByName(sup.filter(col("s_suppkey") % 5 === 0)
        .select((col("s_suppkey") + 1000000L).as("s_suppkey"), col("s_name"), acct.as("acct")))
    (newBatch, existing)
  }

  private def scdFormat(df: DataFrame): DataFrame =
    df.select(col("s_suppkey"), col("s_name"), col("acct"),
        date_format(col("start_date"), "yyyy-MM-dd").as("start_date"),
        date_format(col("end_date"), "yyyy-MM-dd").as("end_date"),
        col("is_current"))
      .orderBy(col("s_suppkey"), col("is_current"), col("start_date"))

  private val scdSqlInputs =
    """WITH existing AS (
      |  SELECT s_suppkey, s_name, CAST(FLOOR(s_acctbal) AS BIGINT) AS acct,
      |         TIMESTAMP '2023-01-01 00:00:00' AS start_date,
      |         CAST(NULL AS TIMESTAMP) AS end_date, TRUE AS is_current
      |  FROM supplier
      |), newbatch AS (
      |  SELECT s_suppkey, s_name,
      |         CAST(FLOOR(s_acctbal) AS BIGINT)
      |           + CASE WHEN s_suppkey % 4 = 0 THEN 100 ELSE 0 END AS acct
      |  FROM supplier WHERE s_suppkey % 2 = 0
      |  UNION ALL
      |  SELECT s_suppkey + 1000000 AS s_suppkey, s_name,
      |         CAST(FLOOR(s_acctbal) AS BIGINT) AS acct
      |  FROM supplier WHERE s_suppkey % 5 = 0
      |)""".stripMargin

  /** q172 (full-width CSV round-trip): a lossless format round-trip
    * must leave every aggregate unchanged, so the oracle is this
    * aggregate over the parquet source.
    */
  private val lineitemRoundtripOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n_rows,
      |       MAX(l_orderkey) AS max_orderkey,
      |       strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val entries: Seq[Entry] = Seq(
    // SCD2, reference-exact semantics (SURVEY.md §2.9).
    Entry("q10_scd2_reference", (s, dir) => {
      val (newBatch, existing) = scdInputs(s, dir)
      scdFormat(Scd2.reference(newBatch, existing, "s_suppkey", Seq("s_name", "acct"), scdAsOf))
    }, (scdSqlInputs +
      """, changes AS (
        |  SELECT n.s_suppkey, n.s_name, n.acct
        |  FROM newbatch n LEFT JOIN existing e ON n.s_suppkey = e.s_suppkey
        |  WHERE (n.s_name <> e.s_name) OR (n.acct <> e.acct)
        |), result AS (
        |  SELECT e.s_suppkey, e.s_name, e.acct, e.start_date,
        |         TIMESTAMP '2024-01-01 00:00:00' AS end_date, FALSE AS is_current
        |  FROM existing e
        |  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.s_suppkey = e.s_suppkey)
        |  UNION ALL
        |  SELECT s_suppkey, s_name, acct, TIMESTAMP '2024-01-01 00:00:00',
        |         CAST(NULL AS TIMESTAMP), TRUE
        |  FROM changes
        |)
        |SELECT s_suppkey, s_name, acct,
        |       strftime(start_date, '%Y-%m-%d') AS start_date,
        |       strftime(end_date, '%Y-%m-%d') AS end_date,
        |       is_current
        |FROM result ORDER BY s_suppkey, is_current, start_date""".stripMargin)),

    // SCD2, corrected textbook semantics.
    Entry("q11_scd2_corrected", (s, dir) => {
      val (newBatch, existing) = scdInputs(s, dir)
      scdFormat(Scd2.corrected(newBatch, existing, "s_suppkey", Seq("s_name", "acct"), scdAsOf))
    }, (scdSqlInputs +
      """, joined AS (
        |  SELECT n.s_suppkey AS k, n.s_name AS nn, n.acct AS na,
        |         e.s_suppkey AS ek, e.s_name AS en, e.acct AS ea
        |  FROM newbatch n LEFT JOIN existing e
        |    ON n.s_suppkey = e.s_suppkey AND e.is_current
        |), newkeys AS (
        |  SELECT k AS s_suppkey, nn AS s_name, na AS acct FROM joined WHERE ek IS NULL
        |), changednew AS (
        |  SELECT k AS s_suppkey, nn AS s_name, na AS acct FROM joined
        |  WHERE ek IS NOT NULL
        |    AND ((nn IS DISTINCT FROM en) OR (na IS DISTINCT FROM ea))
        |), result AS (
        |  SELECT e.s_suppkey, e.s_name, e.acct, e.start_date, e.end_date, e.is_current
        |  FROM existing e
        |  WHERE e.is_current
        |    AND NOT EXISTS (SELECT 1 FROM changednew c WHERE c.s_suppkey = e.s_suppkey)
        |  UNION ALL
        |  SELECT e.s_suppkey, e.s_name, e.acct, e.start_date,
        |         TIMESTAMP '2024-01-01 00:00:00', FALSE
        |  FROM existing e
        |  WHERE e.is_current
        |    AND EXISTS (SELECT 1 FROM changednew c WHERE c.s_suppkey = e.s_suppkey)
        |  UNION ALL
        |  SELECT s_suppkey, s_name, acct, TIMESTAMP '2024-01-01 00:00:00',
        |         CAST(NULL AS TIMESTAMP), TRUE
        |  FROM (SELECT * FROM changednew UNION ALL SELECT * FROM newkeys) u
        |)
        |SELECT s_suppkey, s_name, acct,
        |       strftime(start_date, '%Y-%m-%d') AS start_date,
        |       strftime(end_date, '%Y-%m-%d') AS end_date,
        |       is_current
        |FROM result ORDER BY s_suppkey, is_current, start_date""".stripMargin)),

    // F1/P5/A4: dim_date build (distinct dates + date parts).
    Entry("q15_dim_date", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderdate")).distinct()
        .select(
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_id"),
          year(col("o_orderdate")).cast("long").as("year"),
          month(col("o_orderdate")).cast("long").as("month"),
          dayofmonth(col("o_orderdate")).cast("long").as("day"))
        .orderBy(col("date_id"))
    },
      """SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |       year(o_orderdate) AS year, month(o_orderdate) AS month,
        |       day(o_orderdate) AS day
        |FROM orders ORDER BY date_id""".stripMargin),

    // dashboard Q1 parity: sales by year/month (dashboard.py:30-41).
    Entry("q16_sales_by_month", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("year"),
          month(col("o_orderdate")).cast("long").as("month"))
        .agg(dsum2(col("o_totalprice")).as("total_sales"))
        .orderBy(col("year"), col("month"))
    },
      """SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // dashboard Q2 parity: quantity by product in a year, ranked
    // (dashboard.py:53-67).
    Entry("q17_qty_by_brand", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1998)
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum2(col("l_quantity")).as("total_quantity_sold"))
        .orderBy(col("total_quantity_sold").desc, col("p_brand"))
    },
      """SELECT p_brand,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity_sold
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE year(l_shipdate) = 1998
        |GROUP BY p_brand
        |ORDER BY total_quantity_sold DESC, p_brand""".stripMargin),

    // dashboard Q3 parity: SUM + AVG by store×product analog
    // (dashboard.py:78-91).
    Entry("q18_supplier_part_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("s_name"), col("p_brand"))
        .agg(
          dsum2(col("l_quantity")).as("total_sold"),
          (dsum2(col("l_extendedprice")) / count(lit(1))).as("avg_price"))
        .orderBy(col("s_name"), col("p_brand"))
    },
      """SELECT s_name, p_brand,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_sold,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY s_name, p_brand ORDER BY s_name, p_brand""".stripMargin),

    // dashboard Q4 parity: two SUMs by store×product analog
    // (dashboard.py:102-115).
    Entry("q19_store_product_sums", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("s_name"), col("p_brand"))
        .agg(
          dsum2(col("l_quantity")).as("total_quantity"),
          dsum2(col("l_extendedprice")).as("total_sales"))
        .orderBy(col("total_sales").desc, col("s_name"), col("p_brand"))
    },
      """SELECT s_name, p_brand,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY s_name, p_brand
        |ORDER BY total_sales DESC, s_name, p_brand""".stripMargin),

    // full ETL pipeline end-to-end: synthesize the inventory table from
    // lineitem, run staging clean → star schema → dashboard Q1 on Spark
    // SQL views (reference: dashboard.py:30-41). Store attributes are
    // functions of the key here so dims are 1-row-per-key and the
    // whole pipeline is exactly SQL-expressible for the oracle.
    Entry("q40_pipeline_dashboard", (s, dir) => {
      dashboardServe(s, dir, graft.etl.DashboardQueries.q1)
        .select(col("year").cast("long").as("year"), col("month").cast("long").as("month"),
          col("store_location"), col("total_sales").cast("double").as("total_sales"))
        .orderBy(col("year"), col("month"), col("store_location"))
    },
      """WITH inv AS (
        |  SELECT l_shipdate AS date,
        |         'LOC' || CAST(l_suppkey % 20 AS VARCHAR) AS store_location,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(15,2)) AS total_sales
        |  FROM lineitem
        |)
        |SELECT year(date) AS year, month(date) AS month, store_location,
        |       CAST(SUM(total_sales) AS DOUBLE) AS total_sales
        |FROM inv
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),

    // dashboard Q2 end-to-end (reference: dashboard.py:53-67) — the
    // dim_product join fans out per (category, unit_price) variant;
    // the oracle reproduces the same distinct-dim join.
    Entry("q55_pipeline_dash_q2", (s, dir) => {
      dashboardServe(s, dir, graft.etl.DashboardQueries.q2(1995))
        .select(col("product_id"), col("product_category"),
          col("total_quantity_sold").cast("long").as("total_quantity_sold"))
        .orderBy(col("product_id"))
    },
      // DuckDB types SUM(INTEGER/BIGINT) as HUGEINT (int128). Python
      // fetchall() materializes HUGEINT as exact ints, but a
      // pandas/arrow materialization renders int128 differently (e.g.
      // float64 "4161.0" vs "4161"), so the gate's value hash diverged
      // while rows and schema matched — exactly the observed signature.
      // Every integer aggregate an oracle RETURNS must therefore be
      // wrapped CAST(... AS BIGINT); OracleLintSpec enforces this by
      // typechecking every oracle against DuckDB-JDBC and failing on any
      // HUGEINT output column.
      //
      // q55–q57: the dashboard queries join dim_product, which is distinct
      // over (product_id, product_category, unit_price) — unit_price is
      // NOT a function of product_id, so the join fans out per price
      // variant. The oracle reproduces the fan-out over the BIGINT cents
      // value (bijective with the DECIMAL(10,2) dollars the Spark
      // pipeline carries): exact cents from the cents-exact stored
      // double, then `//` integer division — no IEEE division anywhere
      // that a DuckDB version could evaluate differently.
      """WITH inv AS (
        |  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS product_id,
        |         'CAT' || CAST(l_partkey % 7 AS VARCHAR) AS product_category,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents,
        |         CAST(floor(l_quantity) AS INTEGER) AS quantity_sold,
        |         l_shipdate AS date
        |  FROM lineitem
        |), dim_product AS (
        |  SELECT DISTINCT product_id, product_category, up_cents FROM inv
        |)
        |SELECT p.product_id, p.product_category,
        |       CAST(SUM(f.quantity_sold) AS BIGINT) AS total_quantity_sold
        |FROM inv f JOIN dim_product p ON f.product_id = p.product_id
        |WHERE year(f.date) = 1995
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // dashboard Q3 end-to-end (reference: dashboard.py:78-91). Same
    // star join + grouping as DashboardQueries.q3, but the emitted
    // average is the ×1000-scaled BIGINT quotient — "one IEEE division
    // is bit-identical" proved false at the gate, whose
    // DuckDB build evaluates boundary quotients differently (FMA-class
    // fusion). DIV on BIGINTs is the only cross-engine-stable form.
    Entry("q56_pipeline_dash_q3", (s, dir) => {
      dashboardServe(s, dir, dashQ3Sql)
        .select(col("store_location"), col("product_category"),
          col("total_sold").cast("long").as("total_sold"),
          col("avg_stock_x1000").cast("long").as("avg_stock_x1000"))
        .orderBy(col("store_location"), col("product_category"))
    },
      """WITH inv AS (
        |  SELECT 'LOC' || CAST(l_suppkey % 20 AS VARCHAR) AS store_location,
        |         'P' || CAST(l_partkey AS VARCHAR) AS product_id,
        |         'CAT' || CAST(l_partkey % 7 AS VARCHAR) AS product_category,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents,
        |         CAST(floor(l_quantity) AS INTEGER) AS quantity_sold,
        |         CAST((l_suppkey * 7) % 100 AS INTEGER) AS stock_level
        |  FROM lineitem
        |), dim_product AS (
        |  SELECT DISTINCT product_id, product_category, up_cents FROM inv
        |)
        |SELECT f.store_location, p.product_category,
        |       CAST(SUM(f.quantity_sold) AS BIGINT) AS total_sold,
        |       CAST((SUM(CAST(f.stock_level AS BIGINT)) * 1000) // COUNT(*) AS BIGINT) AS avg_stock_x1000
        |FROM inv f JOIN dim_product p ON f.product_id = p.product_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // dashboard Q4 end-to-end (reference: dashboard.py:102-115). Sales
    // are emitted as exact BIGINT cents: total_sales is DECIMAL(15,2),
    // so per-row ×100 then SUM is pure integer arithmetic end to end.
    Entry("q57_pipeline_dash_q4", (s, dir) => {
      dashboardServe(s, dir, dashQ4Sql)
        .select(col("store_location"), col("product_category"),
          col("total_quantity").cast("long").as("total_quantity"),
          col("sales_cents").cast("long").as("sales_cents"))
        .orderBy(col("store_location"), col("product_category"))
    },
      """WITH inv AS (
        |  SELECT 'LOC' || CAST(l_suppkey % 20 AS VARCHAR) AS store_location,
        |         'P' || CAST(l_partkey AS VARCHAR) AS product_id,
        |         'CAT' || CAST(l_partkey % 7 AS VARCHAR) AS product_category,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents,
        |         CAST(floor(l_quantity) AS INTEGER) AS quantity_sold,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS sales_cents
        |  FROM lineitem
        |), dim_product AS (
        |  SELECT DISTINCT product_id, product_category, up_cents FROM inv
        |)
        |SELECT f.store_location, p.product_category,
        |       CAST(SUM(f.quantity_sold) AS BIGINT) AS total_quantity,
        |       CAST(SUM(f.sales_cents) AS BIGINT) AS sales_cents
        |FROM inv f JOIN dim_product p ON f.product_id = p.product_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // z-order key: the Morton interleave that clusterByZ lays files
    // out by, value-checked bit for bit (the layout itself is a write
    // property — ZOrderSpec asserts the tile-locality it buys).
    Entry("q97_zorder_key", (s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        ZOrder.interleaveBits(
          pmod(col("l_suppkey"), lit(65536L)),
          pmod(col("l_partkey"), lit(65536L))).as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(list_sum(list_transform(range(0, 16),
        |         i -> ((((l_suppkey % 65536) >> i) & 1) << (2*i + 1))
        |            + ((((l_partkey % 65536) >> i) & 1) << (2*i)))) AS BIGINT) AS zval
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // file-level min/max data skipping: range-cluster events by ts,
    // build the per-file manifest, read only files overlapping a 2-day
    // window — result proven IDENTICAL to the plain full-scan filter
    // (the q90 invisible-optimization discipline; DataSkippingSpec
    // asserts files were actually skipped).
    Entry("q104_events_skipping", (s, dir) => {
      val tmp = scratchDir("graft_skip")
      DataSkipping.writeClustered(t(s, dir, "events"), "ts", tmp, nFiles = 16)
      val (pruned, _, _) = DataSkipping.prunedRead(s, tmp, "ts",
        lo = 1704844800L, hi = 1705017599L) // 2024-01-10 .. 2024-01-11 UTC
      pruned.select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("long").as("ts_sec"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, event_type,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |FROM events
        |WHERE CAST(floor(epoch(ts)) AS BIGINT) BETWEEN 1704844800 AND 1705017599
        |ORDER BY event_id""".stripMargin),

    // incremental aggregation (materialized-view maintenance): state
    // from the first ~19 days of events persisted to parquet, the rest
    // folded in as a batch by merging partials — oracle is the FULL
    // recompute over all events, so merge ≡ recompute is the assertion.
    Entry("q106_incremental_agg", (s, dir) => {
      val ev = t(s, dir, "events")
      val cutoff = 1705708800L // 2024-01-20 00:00 UTC
      val path = scratchDir("graft_incr_agg")
      IncrementalAgg.writeState(
        IncrementalAgg.buildState(
          ev.filter(col("ts").cast("long") < cutoff), "user_id", "value"), path)
      IncrementalAgg.mergeBatch(s, path,
          ev.filter(col("ts").cast("long") >= cutoff), "user_id", "value")
        .orderBy(col("user_id"))
    },
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Hive-partitioned lake write + partition-pruned read: lineitem
    // rewritten partitioned by ship year, then a one-year query that
    // lists only that year's directory. Oracle = the plain filter over
    // the original table (the q90/q104 "optimization must be
    // invisible" discipline); that pruning actually happens is
    // spec-asserted via PartitionedLake.filesScanned.
    Entry("q116_partitioned_prune", (s, dir) => {
      val tmp = scratchDir("graft_lake")
      // pre-shuffle on the partition key with an EXPLICIT count (the
      // IVF-write lesson: a keys-only repartition is AQE-coalescible):
      // one file per year written by its own task, instead of every
      // scan task writing a slice of every year — fewer files AND
      // year-parallel writes, and the dynamic-partition sort per task
      // becomes trivial (single key value per task).
      PartitionedLake.writePartitioned(
        t(s, dir, "lineitem").withColumn("ship_year", year(col("l_shipdate")))
          .repartition(8, col("ship_year")),
        tmp, "ship_year")
      PartitionedLake.read(s, tmp)
        .filter(col("ship_year") === 1997)
        .groupBy(month(col("l_shipdate")).cast("long").as("ship_month"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("ship_month"))
    },
      """SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem WHERE year(l_shipdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ORC round-trip: the second columnar format the engine speaks —
    // a projected lineitem slice written as ORC, read back, and
    // aggregated. Oracle = the same aggregate straight off the
    // parquet, proving the format conversion lossless for the
    // long/string/timestamp types the zones carry.
    Entry("q117_orc_roundtrip", (s, dir) => {
      val tmp = scratchDir("graft_orc")
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_returnflag"),
          floor(col("l_quantity")).cast("long").as("qty"),
          expr("floor(l_extendedprice * 100 + 0.5)").cast("long").as("ep_cents"),
          col("l_shipdate"))
        // columnar encode is CPU-bound: fan the write out past the
        // source scan's partitioning (a single ~25 MB parquet file
        // scans as 1-3 splits, serializing the encode); width from the
        // session, not a constant — 16 halved a 32-core box and
        // over-fanned a low-core scaling run
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("l_returnflag"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(sum(col("qty")).as("sum_qty"),
          sum(col("ep_cents")).as("sum_ep_cents"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag"), col("ship_year"))
    },
      """SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |         AS BIGINT) AS sum_ep_cents,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem GROUP BY l_returnflag, ship_year
        |ORDER BY l_returnflag, ship_year""".stripMargin),

    // small-file compaction round-trip: a 64-file fragmented zone
    // (micro-batch appends) rewritten to 4 range-clustered files, then
    // aggregated FROM THE COMPACTED COPY. Oracle = the same aggregate
    // over the original events — layout maintenance must be invisible
    // to every reader (the q116/q117 discipline). That the file count
    // actually dropped is spec-asserted via dataFileCount.
    Entry("q129_events_compaction", (s, dir) => {
      val frag = scratchDir("graft_frag")
      val compacted = scratchDir("graft_compact")
      t(s, dir, "events").repartition(64)
        .write.mode("overwrite").parquet(frag)
      PartitionedLake.compact(s.read.parquet(frag), compacted, targetFiles = 4,
        "ts", "event_id")
      s.read.parquet(compacted)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("floor(value * 100 + 0.5)").cast("long")).as("value_cents"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .orderBy(col("event_type"))
    },
      // q129: the compacted copy must answer exactly like the original.
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS value_cents,
        |       MIN(event_id) AS min_event_id,
        |       MAX(event_id) AS max_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // backfill detection: partition-level reconciliation between a
    // source and a derived copy with a PLANTED gap (1997-06 missing) —
    // the audit that tells an incremental pipeline which partitions to
    // recompute, without comparing any row content. Emits only the
    // stale partitions; both sides aggregate to |partitions| rows
    // before the full-outer diff.
    Entry("q141_partition_reconcile", (s, dir) => {
      val li = t(s, dir, "lineitem")
      def counts(df: DataFrame, n: String) =
        df.groupBy(year(col("l_shipdate")).cast("long").as("ship_year"),
            month(col("l_shipdate")).cast("long").as("ship_month"))
          .agg(count(lit(1)).as(n))
      val src = counts(li, "n_src")
      val cur = counts(li.filter(
        !(year(col("l_shipdate")) === 1997 && month(col("l_shipdate")) === 6)),
        "n_cur")
      src.join(cur, Seq("ship_year", "ship_month"), "full_outer")
        .na.fill(0L, Seq("n_src", "n_cur"))
        .filter(col("n_src") =!= col("n_cur"))
        .select(col("ship_year"), col("ship_month"), col("n_src"), col("n_cur"),
          (col("n_src") - col("n_cur")).as("missing_rows"))
        .orderBy(col("ship_year"), col("ship_month"))
    },
      """WITH src AS (
        |  SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |         CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS ship_month,
        |         CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM lineitem GROUP BY 1, 2
        |), cur AS (
        |  SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |         CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS ship_month,
        |         CAST(COUNT(*) AS BIGINT) AS n_cur
        |  FROM lineitem
        |  WHERE NOT (EXTRACT(year FROM l_shipdate) = 1997
        |             AND EXTRACT(month FROM l_shipdate) = 6)
        |  GROUP BY 1, 2
        |)
        |SELECT COALESCE(src.ship_year, cur.ship_year) AS ship_year,
        |       COALESCE(src.ship_month, cur.ship_month) AS ship_month,
        |       COALESCE(n_src, 0) AS n_src,
        |       COALESCE(n_cur, 0) AS n_cur,
        |       COALESCE(n_src, 0) - COALESCE(n_cur, 0) AS missing_rows
        |FROM src FULL OUTER JOIN cur
        |  ON src.ship_year = cur.ship_year AND src.ship_month = cur.ship_month
        |WHERE COALESCE(n_src, 0) <> COALESCE(n_cur, 0)
        |ORDER BY ship_year, ship_month""".stripMargin),

    // atomic versioned publish: v1 is a mid-backfill partial state, v2
    // the complete aggregate; readers resolve the pointer and must see
    // exactly v2 — the oracle is the direct aggregate, so a reader
    // glimpsing v1 (or a half-written directory) hash-fails. Crash
    // isolation and time travel are spec-gated (VersionedTableSpec).
    Entry("q142_versioned_publish", (s, dir) => {
      val root = scratchDir("graft_vt_q")
      val li = t(s, dir, "lineitem")
      def agg(df: DataFrame) = df
        .groupBy(col("l_returnflag"), year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(expr("floor(l_extendedprice * 100 + 0.5)").cast("long")).as("sum_ep_cents"),
          count(lit(1)).as("n_lines"))
      VersionedTable.publish(agg(li.filter(year(col("l_shipdate")) < 1997)), root)
      VersionedTable.publish(agg(li), root)
      VersionedTable.read(s, root)
        .orderBy(col("l_returnflag"), col("ship_year"))
    },
      // q142: the pointer-resolved read must equal the direct aggregate.
      """SELECT l_returnflag,
        |       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |         AS BIGINT) AS sum_ep_cents,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY l_returnflag, ship_year""".stripMargin),

    // CDC apply with DELETE tombstones: the event stream read as a
    // change log — per user the latest change wins, and a winning
    // 'error' event is the tombstone that removes the key. The half of
    // CDC the reference's upsert-only merge cannot express. One window
    // shuffle on the key, (ts, event_id)-total-ordered.
    Entry("q143_cdc_apply", (s, dir) => {
      RawLayer.applyCdcLatest(
          t(s, dir, "events"),
          keyCols = Seq("user_id"),
          orderCols = Seq(col("ts"), col("event_id")),
          deleteCol = col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("last_value_cents"))
        .orderBy(col("user_id"))
    },
      // q143: latest change per key, tombstone removes the key.
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |       CAST(floor(value * 100 + 0.5) AS BIGINT) AS last_value_cents
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin),

    // MERGE INTO (lakehouse upsert verb): a source batch of price
    // updates, deletes, and brand-new keys applied to the part
    // snapshot in one pass — matched+delete removes, matched replaces,
    // unmatched source inserts, unmatched target survives. Built on
    // the CDC reducer (one keyed window), so both verbs share one
    // tested path. Emitted as a per-status reconciliation.
    Entry("q150_merge_upsert", (s, dir) => {
      val part = t(s, dir, "part")
      val cents = expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
      val target = part.select(col("p_partkey"), cents.as("price_cents"),
        lit("current").as("status"), lit(false).as("is_del"))
      val updates = part.filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"), (cents + 1000L).as("price_cents"),
          lit("updated").as("status"), (col("p_partkey") % 30 === 0).as("is_del"))
      val inserts = part.filter(col("p_partkey") % 7 === 0)
        .select((col("p_partkey") + plantOffset(part, "p_partkey")).as("p_partkey"),
          lit(9999L).as("price_cents"), lit("new").as("status"),
          lit(false).as("is_del"))
      RawLayer.mergeInto(target, updates.unionByName(inserts),
          Seq("p_partkey"), deleteCond = col("is_del"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"), sum(col("price_cents")).as("sum_cents"),
          min(col("p_partkey")).as("min_key"), max(col("p_partkey")).as("max_key"))
        .orderBy(col("status"))
    },
      // q150: merged state expressed directly — deletes are matched
      // keys with p_partkey % 30 = 0; updated keys (% 10, not deleted)
      // carry price+1000; inserts are shifted keys; everything else
      // survives unchanged.
      """WITH merged AS (
        |  SELECT p_partkey,
        |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) + 1000
        |           AS price_cents,
        |         'updated' AS status
        |  FROM part
        |  WHERE p_partkey % 10 = 0 AND p_partkey % 30 <> 0
        |  UNION ALL
        |  SELECT p_partkey,
        |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT),
        |         'current'
        |  FROM part WHERE p_partkey % 10 <> 0
        |  UNION ALL
        |  SELECT p_partkey + (SELECT (max(p_partkey) // 1000000 + 1) * 1000000 FROM part), 9999, 'new'
        |  FROM part WHERE p_partkey % 7 = 0
        |)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
        |       MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
        |FROM merged GROUP BY status ORDER BY status""".stripMargin),

    // referential-integrity audit: one row per FK edge with child
    // volume and dangling-key count — the pre-publish DQ gate that
    // catches a partial dimension load before it fans out as silent
    // inner-join row loss. Each edge is ONE left-anti join against the
    // (broadcast-small) parent's key projection; TPC-H data is
    // consistent, so violations are planted by thinning each parent
    // (key % 50 = 0 removed) — integer-arithmetic thinning, exact on
    // both engines.
    // Each edge is ONE lazy left join + aggregation — child volume
    // and dangling count come out of the same scan (no eager count()
    // jobs; an audit that pre-scans the fact table once per edge
    // would double its own cost at 100 TB).
    Entry("q156_fk_audit", (s, dir) => {
      def edge(rel: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val thinned = parent.filter(col(pkey) % 50 =!= 0)
          .select(col(pkey).as(key)).distinct()
          .withColumn("fk_present", lit(1))
        child.select(col(key)).join(thinned, Seq(key), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("fk_present").isNull, 1L).otherwise(0L))
              .as("n_dangling"))
          .select(lit(rel).as("relation"), col("n_child"), col("n_dangling"))
      }
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      edge("lineitem.partkey->part", li, "l_partkey", t(s, dir, "part"), "p_partkey")
        .unionByName(edge("lineitem.suppkey->supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(edge("orders.custkey->customer", orders, "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .orderBy(col("relation"))
    },
      // q156: same thinned parents, same anti-join counts.
      """SELECT relation, n_child, n_dangling FROM (
        |  SELECT 'lineitem.partkey->part' AS relation,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
        |         CAST((SELECT COUNT(*) FROM lineitem
        |               WHERE l_partkey NOT IN (
        |                 SELECT p_partkey FROM part WHERE p_partkey % 50 <> 0))
        |           AS BIGINT) AS n_dangling
        |  UNION ALL
        |  SELECT 'lineitem.suppkey->supplier',
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |         CAST((SELECT COUNT(*) FROM lineitem
        |               WHERE l_suppkey NOT IN (
        |                 SELECT s_suppkey FROM supplier WHERE s_suppkey % 50 <> 0))
        |           AS BIGINT)
        |  UNION ALL
        |  SELECT 'orders.custkey->customer',
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |         CAST((SELECT COUNT(*) FROM orders
        |               WHERE o_custkey NOT IN (
        |                 SELECT c_custkey FROM customer WHERE c_custkey % 50 <> 0))
        |           AS BIGINT)
        |)
        |ORDER BY relation""".stripMargin),

    // right-to-be-forgotten cascade: a deletion set seeded on the
    // customer table propagates through orders to lineitem via
    // semi-joins, and the query reports kept/deleted volumes per
    // table — the audit artifact a deletion job must emit. The
    // cascade never materializes deleted rows: each hop is a
    // semi/anti join on the parent's key set (broadcast-small here;
    // shuffle-join at scale), so the 100 TB shape is two key-set
    // joins, not a rewrite of the fact table in the query itself.
    // Each table's row is ONE lazy left-join-flag aggregation —
    // total and deleted counts come from the same scan, with no
    // eager count() actions embedding literals (three extra
    // full-table scans at 100 TB just to print totals).
    Entry("q157_cascade_delete", (s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val delCust = cust.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey"))
      val delOrders = orders.join(
        delCust.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi").select(col("o_orderkey"))
      def row(table: String, flagged: DataFrame): DataFrame =
        flagged.agg(count(lit(1)).as("n_total"),
            sum(col("del")).as("n_deleted"))
          .select(lit(table).as("table_name"), col("n_total"),
            col("n_deleted"),
            (col("n_total") - col("n_deleted")).as("n_kept"))
      def flag(child: DataFrame, key: String, keys: DataFrame): DataFrame =
        child.select(col(key))
          .join(keys.withColumn("m", lit(1)), Seq(key), "left")
          .select(when(col("m").isNotNull, 1L).otherwise(0L).as("del"))
      row("customer", cust.select(
          when(col("c_custkey") % 100 === 0, 1L).otherwise(0L).as("del")))
        .unionByName(row("orders", flag(orders, "o_custkey",
          delCust.withColumnRenamed("c_custkey", "o_custkey"))))
        .unionByName(row("lineitem", flag(li, "l_orderkey",
          delOrders.withColumnRenamed("o_orderkey", "l_orderkey"))))
        .orderBy(col("table_name"))
    },
      // q157: same cascade via IN-subqueries.
      """WITH del_cust AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
        |), del_orders AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
        |)
        |SELECT table_name, n_total, n_deleted, n_total - n_deleted AS n_kept
        |FROM (
        |  SELECT 'customer' AS table_name,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM del_cust) AS n_deleted
        |  UNION ALL
        |  SELECT 'orders',
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM del_orders)
        |  UNION ALL
        |  SELECT 'lineitem',
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |          WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
        |)
        |ORDER BY table_name""".stripMargin),

    // ---------------------------------------------------------------
    // q160–q165: stage-isolating diagnostics for the q38/q55–q57
    // family. Each isolates ONE shared primitive of those four so the
    // correctness gate localizes any mismatch: cents pipeline →
    // fan-out → tokenization → dedup keep-set → aggregation → hashing.
    // Every output column is BIGINT or VARCHAR, and every oracle
    // wraps integer aggregates in CAST(... AS BIGINT) so DuckDB never
    // emits a HUGEINT output.
    // ---------------------------------------------------------------

    // (a) the cents pipeline alone: global stats of up_cents as the
    // Spark pipeline carries it (DECIMAL(10,2) dollars × 100, the
    // claimed bijection) vs the oracle's floor-based BIGINT cents.
    Entry("q160_diag_cents_global", (s, dir) => {
      val inv = synthInventory(s, dir)
        .withColumn("up_cents", (col("unit_price") * 100).cast("long"))
      inv.agg(
        sum(col("up_cents")).cast("long").as("sum_cents"),
        countDistinct(col("up_cents")).cast("long").as("n_distinct_cents"),
        min(col("up_cents")).cast("long").as("min_cents"),
        max(col("up_cents")).cast("long").as("max_cents"),
        count(lit(1)).cast("long").as("n_rows"))
    },
      // q160–q165: divergence diagnostics — every integer aggregate is
      // CAST(... AS BIGINT) at the output so DuckDB's HUGEINT sum type
      // never reaches the gate's hash.
      """WITH inv AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents
        |  FROM lineitem
        |)
        |SELECT CAST(SUM(up_cents) AS BIGINT) AS sum_cents,
        |       CAST(COUNT(DISTINCT up_cents) AS BIGINT) AS n_distinct_cents,
        |       CAST(MIN(up_cents) AS BIGINT) AS min_cents,
        |       CAST(MAX(up_cents) AS BIGINT) AS max_cents,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM inv""".stripMargin),

    // (b) the dim_product fan-out alone: histogram of price-variant
    // counts per product. q55's SUM is weighted by exactly these
    // multiplicities, so any fan-out disagreement shows here first.
    Entry("q161_diag_fanout_hist", (s, dir) => {
      synthInventory(s, dir)
        .select(col("product_id"), col("product_category"), col("unit_price"))
        .distinct()
        .groupBy(col("product_id"))
        .agg(count(lit(1)).as("n_variants"))
        .groupBy(col("n_variants"))
        .agg(count(lit(1)).cast("long").as("n_products"))
        .select(col("n_variants").cast("long").as("n_variants"), col("n_products"))
        .orderBy(col("n_variants"))
    },
      """WITH inv AS (
        |  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS product_id,
        |         'CAT' || CAST(l_partkey % 7 AS VARCHAR) AS product_category,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents
        |  FROM lineitem
        |), dim AS (
        |  SELECT DISTINCT product_id, product_category, up_cents FROM inv
        |), per AS (
        |  SELECT product_id, CAST(COUNT(*) AS BIGINT) AS n_variants
        |  FROM dim GROUP BY product_id
        |)
        |SELECT n_variants, CAST(COUNT(*) AS BIGINT) AS n_products
        |FROM per GROUP BY n_variants ORDER BY n_variants""".stripMargin),

    // (c) q38's tokenization alone: unfiltered global sums over raw
    // documents — TextFunctions.alphaChars/tokenCount vs the oracle's
    // regexp_replace/regexp_split_to_array.
    Entry("q162_diag_text_sums", (s, dir) => {
      t(s, dir, "documents")
        .select(
          length(col("text")).cast("long").as("len"),
          TextFunctions.alphaChars(col("text")).cast("long").as("alpha"),
          TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
        .agg(
          sum(col("len")).cast("long").as("sum_len"),
          sum(col("alpha")).cast("long").as("sum_alpha"),
          sum(col("toks")).cast("long").as("sum_tokens"),
          count(lit(1)).cast("long").as("n_docs"))
    },
      """SELECT CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_len,
        |       CAST(SUM(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)) AS BIGINT) AS sum_alpha,
        |       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
        |                     ELSE length(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents""".stripMargin),

    // (d) q38's dedup keep-set alone: per-source size and id-sum of
    // the exact-dedup survivors (sum pins the exact id SET, not just
    // its cardinality).
    Entry("q163_diag_dedup_keep", (s, dir) => {
      val d = t(s, dir, "documents")
      val dupes = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + plantOffset(d, "doc_id"))
      val all = d.unionByName(dupes)
      val keepIds = Dedup.exact(all, "doc_id", "text").select(col("keep_id").as("doc_id"))
      all.join(keepIds, Seq("doc_id"), "left_semi")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_kept"),
          min(col("doc_id")).cast("long").as("min_keep_id"),
          max(col("doc_id")).cast("long").as("max_keep_id"),
          sum(col("doc_id")).cast("long").as("sum_keep_ids"))
        .orderBy(col("source"))
    },
      """WITH all_docs AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT (max(doc_id) // 1000000 + 1) * 1000000 FROM documents), text, source FROM documents WHERE doc_id % 10 = 0
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)
        |), kept AS (
        |  SELECT a.doc_id, a.source FROM all_docs a JOIN keep k ON a.doc_id = k.doc_id
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |       CAST(MIN(doc_id) AS BIGINT) AS min_keep_id,
        |       CAST(MAX(doc_id) AS BIGINT) AS max_keep_id,
        |       CAST(SUM(doc_id) AS BIGINT) AS sum_keep_ids
        |FROM kept GROUP BY source ORDER BY source""".stripMargin),

    // (e) q55 collapsed to a single global row: if per-product rows
    // diverge but this passes, the defect is in the gate's hash of
    // the 1974-row result, not the arithmetic.
    Entry("q164_diag_q55_total", (s, dir) => {
      dashboardServe(s, dir, graft.etl.DashboardQueries.q2(1995))
        .agg(
          sum(col("total_quantity_sold")).cast("long").as("grand_total"),
          count(lit(1)).cast("long").as("n_groups"))
    },
      """WITH inv AS (
        |  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS product_id,
        |         'CAT' || CAST(l_partkey % 7 AS VARCHAR) AS product_category,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents,
        |         CAST(floor(l_quantity) AS INTEGER) AS quantity_sold,
        |         l_shipdate AS date
        |  FROM lineitem
        |), dim_product AS (
        |  SELECT DISTINCT product_id, product_category, up_cents FROM inv
        |), grouped AS (
        |  SELECT p.product_id, p.product_category,
        |         CAST(SUM(f.quantity_sold) AS BIGINT) AS tq
        |  FROM inv f JOIN dim_product p ON f.product_id = p.product_id
        |  WHERE year(f.date) = 1995
        |  GROUP BY 1, 2
        |)
        |SELECT CAST(SUM(tq) AS BIGINT) AS grand_total,
        |       CAST(COUNT(*) AS BIGINT) AS n_groups
        |FROM grouped""".stripMargin),

    // (f) q55 regrouped at category grain (7 rows): the middle rung
    // between (e)'s global row and q55's 1974 product rows.
    Entry("q165_diag_q55_bycat", (s, dir) => {
      dashboardServe(s, dir, graft.etl.DashboardQueries.q2(1995))
        .groupBy(col("product_category"))
        .agg(sum(col("total_quantity_sold")).cast("long").as("total_quantity_sold"))
        .orderBy(col("product_category"))
    },
      """WITH inv AS (
        |  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS product_id,
        |         'CAT' || CAST(l_partkey % 7 AS VARCHAR) AS product_category,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // CAST(GREATEST(floor(l_quantity), 1) AS BIGINT) AS up_cents,
        |         CAST(floor(l_quantity) AS INTEGER) AS quantity_sold,
        |         l_shipdate AS date
        |  FROM lineitem
        |), dim_product AS (
        |  SELECT DISTINCT product_id, product_category, up_cents FROM inv
        |)
        |SELECT p.product_category,
        |       CAST(SUM(f.quantity_sold) AS BIGINT) AS total_quantity_sold
        |FROM inv f JOIN dim_product p ON f.product_id = p.product_id
        |WHERE year(f.date) = 1995
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CSV round-trip with explicit schema (S6's load path, upgraded
    // from spec-only to an oracle value check; q117 does the same for
    // ORC): the FULL-WIDTH lineitem serialized to text and read back.
    // Doubles survive because Java's Double.toString/parseDouble pair
    // is round-trip exact; timestamps keep micros via an explicit
    // 6-digit-fraction format. Oracle = the same aggregate over the
    // parquet source, so any corruption in quoting, header handling,
    // or numeric parsing flips the hash.
    Entry("q172_lineitem_csv_roundtrip", (s, dir) => {
      val path = scratchDir("graft_csv") + "/lineitem"
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      // text encode/parse is CPU-bound: fan the write out past the
      // source scan's 1-3 splits so both the serialize and the
      // re-parse run wide; width from the session (see q117)
      t(s, dir, "lineitem").repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .option("header", "true").option("timestampFormat", tsFmt)
        .csv(path)
      s.read
        .schema("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
          "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
          "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
          "l_linestatus STRING, l_shipdate TIMESTAMP")
        .option("header", "true").option("timestampFormat", tsFmt)
        .csv(path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_rows"),
          max(col("l_orderkey")).as("max_orderkey"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // q172/q173: a lossless round-trip through another format must not
      // change any aggregate, so the oracle is simply the same aggregate
      // over the parquet source — a value mismatch isolates a defect in
      // the tested writer/reader pair, not in the aggregate.
      lineitemRoundtripOracle),

    // NDJSON round-trip (the reference's raw-events interchange shape):
    // events serialized as JSON lines and read back with an explicit
    // schema. The props column is itself a JSON-ish string, so the
    // length aggregate catches any escaping/unescaping asymmetry; the
    // epoch-second max catches timestamp drift.
    Entry("q173_events_json_roundtrip", (s, dir) => {
      val path = scratchDir("graft_json") + "/events"
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      t(s, dir, "events").write.mode("overwrite")
        .option("timestampFormat", tsFmt).json(path)
      s.read
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING")
        .option("timestampFormat", tsFmt).json(path)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          dsum2(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("ts").cast("long")).as("max_ts_sec"),
          max(length(col("props"))).cast("long").as("max_props_len"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS max_ts_sec,
        |       CAST(MAX(length(props)) AS BIGINT) AS max_props_len
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
  )
}
