package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{ScaleJoins, Sketches, TypedOps, Windows}
import graft.catalog.CatalogSupport._

/** Core relational operators over the TPC-H tables: projection,
  * filters, joins of every type, set operations, windows, grouping
  * sets, distinct aggregates and range/interval joins.
  */
object RelationalQueries extends Family {
  val name = "relational"

  val entries: Seq[Entry] = Seq(
    // A5/A7/A9 + P6: multi-aggregate group-by (pricing summary).
    Entry("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          (dsum2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // P1/P2/P4: projection + pushed-down comparison filters.
    Entry("q02_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(utcTs("1998-01-01 00:00:00")) &&
          col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity >= 48
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P7/P8/P9/P10: when/otherwise, arithmetic, literals (raw double
    // scalar math — deterministic, no aggregation).
    Entry("q03_derived_columns", (s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("charge"),
          when(col("l_quantity") < 10, lit("LOW"))
            .when(col("l_quantity") < 40, lit("MID"))
            .otherwise(lit("HIGH")).as("qty_class"),
          (col("l_discount") > lit(0.05)).as("high_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        |       CASE WHEN l_quantity < 10 THEN 'LOW'
        |            WHEN l_quantity < 40 THEN 'MID'
        |            ELSE 'HIGH' END AS qty_class,
        |       l_discount > 0.05 AS high_discount
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // A4: projected distinct.
    Entry("q04_distinct_projected", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },
      """SELECT DISTINCT o_orderstatus, o_orderpriority
        |FROM orders ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // A2/P3: duplicate detection via group-by-all-columns (forced dups
    // by self-union since the testdata is dup-free).
    Entry("q05_dup_detect", (s, dir) => {
      val r = t(s, dir, "region")
      val doubled = r.union(r)
      doubled.groupBy(doubled.columns.map(col).toIndexedSeq: _*).count()
        .filter(col("count") > 1)
        .orderBy(col("r_regionkey"))
    },
      """SELECT r_regionkey, r_name, COUNT(*) AS count
        |FROM (SELECT * FROM region UNION ALL SELECT * FROM region) t
        |GROUP BY r_regionkey, r_name
        |HAVING COUNT(*) > 1
        |ORDER BY r_regionkey""".stripMargin),

    // J3/J4: 3-way inner equi-join + aggregation.
    Entry("q06_join_3way_agg", (s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum2(col("o_totalprice")).as("total_revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |       COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // J1 + P11: left outer join + fillna on the miss side.
    Entry("q07_join_left_fillna", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0L, Seq("n_orders"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name, COALESCE(n_orders, 0) AS n_orders
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // J2: left anti join (customers with no order above a threshold).
    Entry("q08_join_anti", (s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),

    // left semi join (EXISTS).
    Entry("q09_join_semi", (s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),

    // U1/A3/I3: overlapping-slice union + full-row dedup (incremental
    // merge semantics).
    Entry("q12_incremental_merge", (s, dir) => {
      val o = t(s, dir, "orders")
      val slice1 = o.filter(col("o_orderdate") < lit(utcTs("1999-01-01 00:00:00")))
      val slice2 = o.filter(col("o_orderdate") >= lit(utcTs("1997-01-01 00:00:00")))
      slice1.union(slice2).dropDuplicates()
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, COUNT(*) AS n_orders
        |FROM (
        |  SELECT DISTINCT * FROM (
        |    SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |    UNION ALL
        |    SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00') u
        |) m
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // W (extension beyond reference): ranking window, top-3 per group.
    Entry("q13_window_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_orderstatus"), col("rn"))
    },
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin),

    // running aggregate window (exact decimal running sum).
    Entry("q14_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // distinct aggregates (expand-based two-phase plan in Spark).
    Entry("q34_distinct_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // set operations: intersect / except (distinct semantics).
    Entry("q35_set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      val recent = o.filter(col("o_orderdate") >= lit(utcTs("1997-01-01 00:00:00")))
        .select(col("o_custkey"))
      val big = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      val both = recent.intersect(big).withColumn("bucket", lit("both"))
      val onlyRecent = recent.except(big).withColumn("bucket", lit("recent_only"))
      both.unionByName(onlyRecent)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("bucket"))
    },
      """WITH recent AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |), big AS (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |), labeled AS (
        |  SELECT o_custkey, 'both' AS bucket FROM (SELECT * FROM recent INTERSECT SELECT * FROM big) t1
        |  UNION ALL
        |  SELECT o_custkey, 'recent_only' AS bucket FROM (SELECT * FROM recent EXCEPT SELECT * FROM big) t2
        |)
        |SELECT bucket, COUNT(*) AS n_customers
        |FROM labeled GROUP BY bucket ORDER BY bucket""".stripMargin),

    // multi-level aggregation: ROLLUP over year/status with grouping id.
    Entry("q36_rollup", (s, dir) => {
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("year"), col("o_orderstatus"))
        .agg(dsum2(col("o_totalprice")).as("total_price"), count(lit(1)).as("n_orders"))
        .orderBy(col("year").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },
      """SELECT year(o_orderdate) AS year, o_orderstatus,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
        |ORDER BY year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),

    // skew-salted join, oracle-verified: salting spreads each hot key
    // over saltFactor reducers but is semantically invisible, so the
    // oracle is the PLAIN join — the one query where "matches the
    // naive SQL" is itself the interesting assertion.
    Entry("q90_skew_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").as("suppkey"), col("l_orderkey"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").as("suppkey"), col("s_name"))
      ScaleJoins.saltedInnerJoin(li, sup, "suppkey",
          saltFactor = 8, saltBy = "l_orderkey")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("s_name"))
    },
      """SELECT s_name, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),

    // Bloom-prefiltered semi-join (the runtime-filter pattern): the
    // small side's deterministic bitset drops non-matching rows before
    // the shuffle; the exact semi-join removes false positives, so the
    // oracle is the PLAIN IN-subquery — like q90, "equals naive SQL"
    // is the assertion.
    Entry("q96_bloom_semi_join", (s, dir) => {
      val rich = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
      Sketches.bloomSemiJoin(
          t(s, dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey"),
          "suppkey", rich.withColumnRenamed("s_suppkey", "suppkey"), "suppkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // rank-family window functions over a tie-heavy ordering:
    // percent_rank/cume_dist are one division of exact integers —
    // bit-identical across engines (the catalog's no-round rule).
    // l_returnflag has 3 values, so the naive window sorts the whole
    // corpus in 3 tasks (153.5 s at sf10, unboundable at 100 TB);
    // Windows.rankFunctions computes the identical four columns with
    // every corpus-sized step partitioned by value bucket.
    Entry("q99_rank_functions", (s, dir) => {
      val base = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"),
        floor(col("l_quantity")).cast("long").as("__k"))
      Windows.rankFunctions(base, Seq("l_returnflag"), "__k")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("rnk"), col("drnk"), col("prnk"), col("cdist"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_returnflag,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       percent_rank() OVER w AS prnk,
        |       cume_dist() OVER w AS cdist
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY CAST(floor(l_quantity) AS BIGINT))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // CUBE + grouping_id: all four grouping sets of (returnflag,
    // linestatus) with the bitmask distinguishing real NULLs from
    // subtotal rows — q36's ROLLUP relied on NULL markers alone.
    Entry("q95_cube_grouping", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // typed Dataset[T] pipeline: case-class rows, a typed lambda
    // filter, groupByKey + a custom Aggregator (exact-integer monoid)
    // — the compile-time-schema surface of the engine. Values are the
    // same BIGINTs the untyped path would produce, so the oracle is
    // plain SQL.
    Entry("q121_typed_flag_stats", (s, dir) => {
      TypedOps.flagStats(TypedOps.lineSlices(t(s, dir, "lineitem")), minQty = 5L)
        .toDF()
        .orderBy(col("flag"))
    },
      """WITH l AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(floor(l_quantity) AS BIGINT) AS qty,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep
        |  FROM lineitem
        |)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |       CAST(SUM(ep) AS BIGINT) AS sum_ep_cents,
        |       CAST(MAX(ep) AS BIGINT) AS max_line_cents
        |FROM l WHERE qty > 5 GROUP BY flag ORDER BY flag""".stripMargin),

    // ordered-statistics aggregates: exact interpolated percentiles
    // (Spark percentile ≡ DuckDB quantile_cont on integral input).
    Entry("q52_percentiles", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS median_qty,
        |       quantile_cont(l_quantity, 0.9) AS p90_qty,
        |       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // collection aggregate: per-group sorted array of keys
    // (collect_list is unordered → sort_array for determinism).
    Entry("q53_array_agg", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_orderstatus"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("big_orders"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          concat_ws(",", col("big_orders")).as("big_orders"), col("n"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
        |       list_aggregate(list_sort(list(o_orderkey)), 'string_agg', ',') AS big_orders,
        |       COUNT(*) AS n
        |FROM orders WHERE o_totalprice > 400000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // scalar string functions: case, substring, padding, replacement,
    // edit distance.
    Entry("q54_string_funcs", (s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("upper_name"),
          substring(col("c_name"), 1, 8).as("prefix8"),
          length(translate(col("c_name"), "_", "-")).cast("long").as("len_translated"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded_key"),
          levenshtein(col("c_name"), col("c_mktsegment")).cast("long").as("edit_dist"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, upper(c_name) AS upper_name,
        |       substring(c_name, 1, 8) AS prefix8,
        |       length(replace(c_name, '_', '-')) AS len_translated,
        |       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
        |       levenshtein(c_name, c_mktsegment) AS edit_dist
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // per-group central moments with ZERO doubles: emit the exact
    // integer numerators (n·Σx² − (Σx)², n·Σxy − ΣxΣy) and n rather
    // than dividing — variance = var_num/n², covariance = cov_num/n²
    // are the caller's one division, and the hashed columns stay
    // engine-exact BIGINTs (the q38/q55 lesson applied to second
    // moments; x = floor(quantity), y = linenumber, so every sum is
    // exact and the numerators stay ≲1e16 even at sf1 — no overflow
    // headroom games). One map-side-combined aggregation, no joins.
    Entry("q155_moment_stats", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_quantity")).cast("long").as("q"),
          col("l_linenumber").cast("long").as("ln"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("sum_q"),
          sum(col("q") * col("q")).as("sum_q2"),
          sum(col("ln")).as("sum_ln"),
          sum(col("q") * col("ln")).as("sum_qln"))
        .select(col("l_returnflag"), col("n"), col("sum_q"),
          (col("n") * col("sum_q2") - col("sum_q") * col("sum_q")).as("var_num"),
          (col("n") * col("sum_qln") - col("sum_q") * col("sum_ln")).as("cov_num"))
        .orderBy(col("l_returnflag"))
    },
      // q155: exact integer moment numerators — no division anywhere.
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(q) AS BIGINT) AS sum_q,
        |         CAST(SUM(q * q) AS BIGINT) AS sum_q2,
        |         CAST(SUM(ln) AS BIGINT) AS sum_ln,
        |         CAST(SUM(q * ln) AS BIGINT) AS sum_qln
        |  FROM (SELECT l_returnflag,
        |               CAST(floor(l_quantity) AS BIGINT) AS q,
        |               CAST(l_linenumber AS BIGINT) AS ln
        |        FROM lineitem)
        |  GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n, sum_q,
        |       CAST(n * sum_q2 - sum_q * sum_q AS BIGINT) AS var_num,
        |       CAST(n * sum_qln - sum_q * sum_ln AS BIGINT) AS cov_num
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // keyless point-in-interval range join: lineitems shipped inside
    // the 30-day window after each urgent order, summed per order
    // month. No equi-key exists between the sides — a bare inequality
    // join would plan as a nested loop; RangeJoin buckets the day
    // domain (w = window length) into an ordinary shuffled equi-join.
    // Points are pre-collapsed to (ship_day, count) rows so the join
    // scales with DISTINCT days, not lineitem rows — the pattern for
    // any small-value-domain range join at 100 TB. Day numbers are
    // exact integers (datediff from epoch); midnight timestamps make
    // day arithmetic ≡ the oracle's timestamp BETWEEN.
    Entry("q166_range_join_shipments", (s, dir) => {
      val days = t(s, dir, "lineitem")
        .select(datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("ship_day"))
        .groupBy(col("ship_day")).agg(count(lit(1)).as("n_ship"))
      val wins = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 30L)
      graft.operators.RangeJoin.pointInInterval(days, "ship_day", wins, "lo", "hi",
          bucketWidth = 30L)
        .groupBy(col("order_month"))
        .agg(sum(col("n_ship")).as("n_shipped_30d"))
        .orderBy(col("order_month"))
    },
      // q166/q167: the oracles state the range predicates directly on
      // timestamps (midnight-aligned, so day-number arithmetic on the
      // Spark side is exactly equivalent); DuckDB plans them as IEJoin.
      """WITH days AS (
        |  SELECT l_shipdate AS d, COUNT(*) AS n FROM lineitem GROUP BY 1
        |), wins AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderdate AS lo
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |)
        |SELECT order_month, CAST(SUM(n) AS BIGINT) AS n_shipped_30d
        |FROM wins JOIN days ON d >= lo AND d < lo + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // keyless interval-overlap join: 7-day windows after urgent orders
    // × 7-day windows after low-priority orders, overlap pairs counted
    // per urgent month. Both sides collapse to (start_day, weight)
    // first — the overlap join runs on ~2.5K distinct days per side
    // regardless of order count, and pair multiplicity is recovered as
    // sum(wa·wb). Each overlapping pair is emitted from exactly one
    // bucket (the one containing max(lo_a, lo_b)) — dedup by
    // construction, no distinct shuffle.
    Entry("q167_interval_overlap", (s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("lo_a"))
        .groupBy(col("order_month"), col("lo_a"))
        .agg(count(lit(1)).as("wa"))
        .withColumn("hi_a", col("lo_a") + 7L)
      val low = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "5-LOW")
        .select(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("lo_b"))
        .groupBy(col("lo_b")).agg(count(lit(1)).as("wb"))
        .withColumn("hi_b", col("lo_b") + 7L)
      graft.operators.RangeJoin.intervalOverlap(urgent, "lo_a", "hi_a",
          low, "lo_b", "hi_b", bucketWidth = 7L)
        .groupBy(col("order_month"))
        .agg(sum(col("wa") * col("wb")).as("n_overlap_pairs"))
        .orderBy(col("order_month"))
    },
      """WITH ua AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderdate AS lo,
        |         COUNT(*) AS w
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1, 2
        |), lb AS (
        |  SELECT o_orderdate AS lo, COUNT(*) AS w
        |  FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1
        |)
        |SELECT ua.order_month, CAST(SUM(ua.w * lb.w) AS BIGINT) AS n_overlap_pairs
        |FROM ua JOIN lb ON ua.lo < lb.lo + INTERVAL 7 DAY
        |              AND lb.lo < ua.lo + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
