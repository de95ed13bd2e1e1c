package graft.catalog

import org.apache.spark.sql.functions._

import graft.catalog.CatalogSupport._

/** TPC-H query shapes over the generated tables, each in an
  * integer-exact form so the hash compare is engine-version-proof.
  */
object TpchQueries extends Family {
  val name = "tpch"

  val entries: Seq[Entry] = Seq(
    // TPC-H Q6 shape: tight multi-predicate scan + global agg — the
    // canonical pushdown query (all three filters reach the parquet
    // scan; revenue in exact 1e-4-dollar integer units).
    Entry("q93_tpch_q6", (s, dir) => {
      val lo = utcTs("1997-01-01 00:00:00")
      val hi = utcTs("1998-01-01 00:00:00")
      val epCents = expr("floor(l_extendedprice * 100 + 0.5)").cast("long")
      val discH = expr("floor(l_discount * 100 + 0.5)").cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(epCents * discH).as("revenue_c4"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |                CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS revenue_c4,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q19 shape: OR-of-ANDs across both join sides — the
    // disjunction can't be pushed wholesale, but Catalyst pushes the
    // per-side common envelope (brand/size on part); predicates
    // broadened from the spec values so the synthetic data matches.
    Entry("q94_tpch_q19", (s, dir) => {
      val epCents = expr("floor(l_extendedprice * 100 + 0.5)").cast("long")
      val discH = expr("floor(l_discount * 100 + 0.5)").cast("long")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#21" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 40)))
        .agg(sum(epCents * (lit(100L) - discH)).as("revenue_c4"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |                (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT)
        |         AS revenue_c4,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    // TPC-H Q3 shape: shipping priority — 3-way join, pre-join
    // filters on both big tables, top-N by revenue.
    Entry("q45_tpch_q3", (s, dir) => {
      val cutoff = utcTs("1998-01-01 00:00:00")
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders").filter(col("o_orderdate") < lit(cutoff)),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_shipdate") >= lit(cutoff)),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"), round(col("revenue"), 2).as("revenue"))
    },
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority, round(revenue, 2) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |  ORDER BY revenue DESC, l_orderkey LIMIT 20
        |) t ORDER BY revenue DESC, l_orderkey""".stripMargin),

    // TPC-H Q5 shape: local-supplier revenue by nation — 6-way join
    // through both dimension chains with a region filter.
    Entry("q46_tpch_q5", (s, dir) => {
      t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
        .withColumn("revenue", round(col("revenue"), 2))
    },
      """SELECT n_name, round(revenue, 2) AS revenue
        |FROM (
        |  SELECT n_name,
        |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM region
        |  JOIN nation ON r_regionkey = n_regionkey
        |  JOIN customer ON n_nationkey = c_nationkey
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY n_name
        |) t ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q10 shape: returned-item reporting — customers ranked by
    // lost revenue from returned lineitems.
    Entry("q47_tpch_q10", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .withColumn("revenue", round(col("revenue"), 2))
    },
      """SELECT c_custkey, c_name, n_name, round(revenue, 2) AS revenue
        |FROM (
        |  SELECT c_custkey, c_name, n_name,
        |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY c_custkey, c_name, n_name
        |  ORDER BY revenue DESC, c_custkey LIMIT 20
        |) t ORDER BY revenue DESC, c_custkey""".stripMargin),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // quantity exceeds the threshold, with customer context — the
    // agg-then-join form (equivalent to the spec's IN-subquery, one
    // lineitem scan). Quantities are integral-valued doubles → exact
    // BIGINT sums; o_totalprice passes through untouched.
    Entry("q84_tpch_q18", (s, dir) => {
      val big = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice, sum_qty
        |FROM (
        |  SELECT l_orderkey,
        |         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(floor(l_quantity) AS BIGINT)) > 150
        |) b
        |JOIN orders ON o_orderkey = b.l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // TPC-H Q14 shape (promotion revenue share): all-integer revenue
    // units — exact cents × discount hundredths (both cents-exact in
    // the data, the q38/q55 double-free discipline) — and ONE final
    // double division for the percentage (bit-identical everywhere).
    Entry("q85_tpch_q14", (s, dir) => {
      val lo = utcTs("1997-01-01 00:00:00")
      val hi = utcTs("1998-01-01 00:00:00")
      val epCents = expr("floor(l_extendedprice * 100 + 0.5)").cast("long")
      val discH = expr("floor(l_discount * 100 + 0.5)").cast("long")
      val rev = epCents * (lit(100L) - discH)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(0L)).as("promo_rev_c4"),
          sum(rev).as("total_rev_c4"))
        .select(col("promo_rev_c4"), col("total_rev_c4"),
          ((col("promo_rev_c4") * 100).cast("double") /
            col("total_rev_c4").cast("double")).as("promo_pct"))
    },
      """WITH l AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev,
        |         p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |)
        |SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)
        |         AS promo_rev_c4,
        |       CAST(SUM(rev) AS BIGINT) AS total_rev_c4,
        |       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) * 100 AS DOUBLE)
        |         / CAST(SUM(rev) AS DOUBLE) AS promo_pct
        |FROM l""".stripMargin),

    // TPC-H Q12 shape (priority lines by return flag): conditional
    // integer counts over a joined year of shipments.
    Entry("q86_tpch_q12", (s, dir) => {
      val lo = utcTs("1997-01-01 00:00:00")
      val hi = utcTs("1998-01-01 00:00:00")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    // join to a filtered fact, count per customer (zeros preserved),
    // then aggregate the counts themselves — two stacked aggregation
    // levels off one outer join.
    Entry("q108_tpch_q13", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q17 shape (small-quantity revenue): lineitems of one brand
    // below 20% of their part's average quantity. The correlated
    // scalar-AVG subquery is decorrelated into a per-part aggregate +
    // join, and the fractional comparison is cross-multiplied to pure
    // integers (qty * 5 * n < sum ⇔ qty < 0.2·avg) — no division, no
    // doubles anywhere, so the hash is engine-version-proof.
    Entry("q109_tpch_q17", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val qty = floor(col("l_quantity")).cast("long")
      val perPart = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(sum(qty).as("part_sum_qty"), count(lit(1)).as("part_n"))
      li.join(t(s, dir, "part").filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("ap_partkey"))
        .filter(qty * lit(5L) * col("part_n") < col("part_sum_qty"))
        .agg(sum(expr("floor(l_extendedprice * 100 + 0.5)").cast("long"))
            .as("rev_cents"),
          count(lit(1)).as("n_lines"))
    },
      """WITH per AS (
        |  SELECT l_partkey AS ap_partkey,
        |         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS part_sum_qty,
        |         CAST(count(*) AS BIGINT) AS part_n
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |         AS BIGINT) AS rev_cents,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        |JOIN per ON l_partkey = ap_partkey
        |WHERE CAST(floor(l_quantity) AS BIGINT) * 5 * part_n < part_sum_qty""".stripMargin),

    // TPC-H Q22 shape (global-acquisition analysis): customers with no
    // URGENT orders whose balance beats the positive-balance average —
    // a global scalar subquery (broadcast single row) + anti join.
    // (Every customer in the testdata has ≥1 order, so the anti-join
    // predicate is priority-scoped to keep the result non-empty.) The
    // avg comparison is cross-multiplied (acct·n > sum) so the scalar
    // stays an exact BIGINT pair, never a double.
    Entry("q110_tpch_q22", (s, dir) => {
      val cust = t(s, dir, "customer")
      val acctC = expr("floor(c_acctbal * 100 + 0.5)").cast("long")
      val posAvg = cust.filter(col("c_acctbal") > 0)
        .agg(sum(acctC).as("pos_sum_c"), count(lit(1)).as("pos_n"))
      cust.withColumn("acct_c", acctC)
        .join(broadcast(posAvg))
        .filter(col("acct_c") * col("pos_n") > col("pos_sum_c"))
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("acct_c")).as("totacctbal_c"))
        .orderBy(col("nationkey"))
    },
      """WITH pos AS (
        |  SELECT CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |           AS pos_sum_c,
        |         CAST(count(*) AS BIGINT) AS pos_n
        |  FROM customer WHERE c_acctbal > 0
        |)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(SUM(acct_c) AS BIGINT) AS totacctbal_c
        |FROM (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acct_c
        |  FROM customer
        |) c, pos
        |WHERE acct_c * pos_n > pos_sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY nationkey""".stripMargin),

    // TPC-H Q11 shape (important inventory): per-part value share vs a
    // global total — HAVING against a scalar subquery. Lineitem stands
    // in for partsupp (the testdata ships none); both sides are exact
    // cents BIGINTs and the 0.1% share test is cross-multiplied
    // (part_sum · 1000 > total), division-free.
    Entry("q111_tpch_q11", (s, dir) => {
      val natSupp = t(s, dir, "supplier")
        .join(t(s, dir, "nation").filter(col("n_name") === "NATION_8"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val epCents = expr("floor(l_extendedprice * 100 + 0.5)").cast("long")
      val natLines = t(s, dir, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"), epCents.as("val_c"))
      val total = natLines.agg(sum(col("val_c")).as("total_c"))
      natLines.groupBy(col("l_partkey"))
        .agg(sum(col("val_c")).as("part_value_c"))
        .join(broadcast(total))
        .filter(col("part_value_c") * lit(1000L) > col("total_c"))
        .select(col("l_partkey"), col("part_value_c"))
        .orderBy(col("part_value_c").desc, col("l_partkey"))
    },
      """WITH natlines AS (
        |  SELECT l_partkey,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS val_c
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_8')
        |), total AS (SELECT CAST(SUM(val_c) AS BIGINT) AS total_c FROM natlines)
        |SELECT l_partkey, CAST(SUM(val_c) AS BIGINT) AS part_value_c
        |FROM natlines, total
        |GROUP BY l_partkey, total_c
        |HAVING CAST(SUM(val_c) AS BIGINT) * 1000 > total_c
        |ORDER BY part_value_c DESC, l_partkey""".stripMargin),

    // TPC-H Q15 shape (top supplier): revenue per supplier for one
    // quarter, then the argmax via a scalar MAX subquery joined back —
    // returns every tied winner, exact because revenue is integer
    // cents×discount-hundredths.
    Entry("q112_tpch_q15", (s, dir) => {
      val lo = utcTs("1997-01-01 00:00:00")
      val hi = utcTs("1997-04-01 00:00:00")
      val revU = expr("floor(l_extendedprice * 100 + 0.5)").cast("long") *
        (lit(100L) - expr("floor(l_discount * 100 + 0.5)").cast("long"))
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
        .groupBy(col("l_suppkey"))
        .agg(sum(revU).as("total_rev_u"))
      val mx = rev.agg(max(col("total_rev_u")).as("max_rev_u"))
      rev.join(broadcast(mx), col("total_rev_u") === col("max_rev_u"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_u"))
        .orderBy(col("s_suppkey"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |              (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |           AS BIGINT) AS total_rev_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_rev_u
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_u = (SELECT MAX(total_rev_u) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q4 shape (order-priority checking): EXISTS over a
    // correlated non-equi condition → left-semi join with a compound
    // ON clause (equi key + interval inequality), counted by priority.
    Entry("q113_tpch_q4", (s, dir) => {
      val lo = utcTs("1997-01-01 00:00:00")
      val hi = utcTs("1997-07-01 00:00:00")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      ord.join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    // EXISTS + NOT EXISTS double correlation — late lines whose order
    // has another supplier (semi join, non-equi suppkey clause) but no
    // OTHER late supplier (anti join) — then distinct orders counted
    // per supplier.
    Entry("q114_tpch_q21", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val late = li.join(ord.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 180 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val anyOther = li.select(col("l_orderkey").as("o2_orderkey"),
        col("l_suppkey").as("o2_suppkey"))
      val lateOther = late.select(col("l_orderkey").as("l3_orderkey"),
        col("l_suppkey").as("l3_suppkey"))
      late
        .join(anyOther, col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(lateOther, col("l_orderkey") === col("l3_orderkey") &&
          col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(50)
    },
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 180 DAY
        |)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM late l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey)
        |) w
        |JOIN supplier ON w.l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 50""".stripMargin),

    // TPC-H Q2 shape (minimum-cost supplier): per-part MIN over the
    // part-supplier relation (lineitem unit price stands in for
    // ps_supplycost), joined back to keep exactly the argmin rows with
    // supplier context. Unit price is the q55-style BIGINT cents
    // integer division — exact on both engines.
    Entry("q115_tpch_q2", (s, dir) => {
      val unitC = expr(
        "floor(l_extendedprice * 100 + 0.5) DIV greatest(floor(l_quantity), 1)")
        .cast("long")
      // The selective part predicate is pushed BELOW the min-cost
      // aggregation: per-part argmin is independent across parts, so
      // restricting the part set first (broadcast semi-join — the
      // filtered dim is tiny) and aggregating only those parts' offers
      // is semantically identical to aggregating the world and
      // filtering after, at a fraction of the shuffle. This is the
      // manual form of a pushdown Catalyst cannot do on its own (the
      // filter sits above two aggregations it would have to prove
      // commute with it).
      val sel = t(s, dir, "part")
        .filter(col("p_size") === 10 && col("p_type") === "LARGE")
      val offers = t(s, dir, "lineitem")
        .join(broadcast(sel.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_suppkey"), unitC.as("unit_c"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("unit_c")).as("supp_min_c"))
      val best = offers.groupBy(col("l_partkey").as("mp_partkey"))
        .agg(min(col("supp_min_c")).as("part_min_c"))
      offers
        .join(best, col("l_partkey") === col("mp_partkey") &&
          col("supp_min_c") === col("part_min_c"))
        .join(sel, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
          col("s_name"), col("supp_min_c"))
        .orderBy(col("p_partkey"), col("s_suppkey"))
    },
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |             // CAST(greatest(floor(l_quantity), 1) AS BIGINT)) AS supp_min_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey
        |), best AS (
        |  SELECT l_partkey AS mp_partkey, MIN(supp_min_c) AS part_min_c
        |  FROM offers GROUP BY 1
        |)
        |SELECT p_partkey, p_brand, s_suppkey, s_name, supp_min_c
        |FROM offers
        |JOIN best ON l_partkey = mp_partkey AND supp_min_c = part_min_c
        |JOIN part ON l_partkey = p_partkey AND p_size = 10 AND p_type = 'LARGE'
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // TPC-H Q7 shape (volume shipping): nation-pair trade flows — the
    // same dimension table joined twice under different roles (supplier
    // nation vs customer nation), a symmetric pair predicate, revenue
    // by year. Integer revenue units throughout.
    Entry("q118_tpch_q7", (s, dir) => {
      val lo = utcTs("1996-01-01 00:00:00")
      val hi = utcTs("1998-01-01 00:00:00")
      val revU = expr("floor(l_extendedprice * 100 + 0.5)").cast("long") *
        (lit(100L) - expr("floor(l_discount * 100 + 0.5)").cast("long"))
      val natS = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val natC = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_14") ||
          (col("supp_nation") === "NATION_14" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(revU).as("revenue_u"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |            (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |         AS BIGINT) AS revenue_u
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_14')
        |    OR (sn.n_name = 'NATION_14' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q8 shape (national market share): one nation's share of a
    // region's PROMO revenue per order year — conditional vs total
    // integer sums, then ONE final double division for the share
    // (bit-identical everywhere, the q85 discipline).
    Entry("q119_tpch_q8", (s, dir) => {
      val revU = expr("floor(l_extendedprice * 100 + 0.5)").cast("long") *
        (lit(100L) - expr("floor(l_discount * 100 + 0.5)").cast("long"))
      val euroNations = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("en_key"))
      val natS = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(euroNations), col("c_nationkey") === col("en_key"), "left_semi")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", revU).otherwise(0L))
            .as("nation_rev_u"),
          sum(revU).as("total_rev_u"))
        .withColumn("mkt_share",
          col("nation_rev_u").cast("double") / col("total_rev_u").cast("double"))
        .orderBy(col("o_year"))
    },
      """WITH l AS (
        |  SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev_u
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE c_nationkey IN (
        |    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |)
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |       CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev_u ELSE 0 END)
        |         AS BIGINT) AS nation_rev_u,
        |       CAST(SUM(rev_u) AS BIGINT) AS total_rev_u,
        |       CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev_u ELSE 0 END)
        |           AS DOUBLE) / CAST(SUM(rev_u) AS DOUBLE) AS mkt_share
        |FROM l GROUP BY o_year ORDER BY o_year""".stripMargin),

    // TPC-H Q9 shape (product-type profit): per-nation yearly profit =
    // revenue minus cost, p_retailprice standing in for ps_supplycost
    // (no partsupp in the testdata). Both terms scaled to the same
    // integer unit (dollars × 10^-4), so profit is an exact — possibly
    // negative — BIGINT.
    Entry("q120_tpch_q9", (s, dir) => {
      val revU = expr("floor(l_extendedprice * 100 + 0.5)").cast("long") *
        (lit(100L) - expr("floor(l_discount * 100 + 0.5)").cast("long"))
      val costU = expr("floor(p_retailprice * 100 + 0.5)").cast("long") *
        floor(col("l_quantity")).cast("long") * lit(100L)
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_name").like("%bolt%")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(revU - costU).as("profit_u"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |              (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |            - CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) *
        |              CAST(floor(l_quantity) AS BIGINT) * 100)
        |         AS BIGINT) AS profit_u
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2 DESC""".stripMargin),

    // TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT)
    // per attribute group over an anti-joined exclusion list
    // (negative-balance suppliers standing in for the spec's
    // complaint-comment filter — the testdata has no s_comment).
    Entry("q124_tpch_q16", (s, dir) => {
      val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_brand") =!= "Brand#5" &&
          col("p_type") =!= "PROMO" && col("p_size").isin(5, 10, 15, 20, 25)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q20 shape (potential part promotion): the nested
    // semi-join chain — (part,supplier) pairs whose 1997 shipments
    // dominate their all-time volume (cross-multiplied integers, no
    // 0.5 factor), restricted to red parts, then suppliers having any
    // such pair. Two stacked left-semi joins, exactly the decorrelated
    // form of the spec's nested IN subqueries.
    Entry("q125_tpch_q20", (s, dir) => {
      val qty = floor(col("l_quantity")).cast("long")
      val pairQty = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(qty).as("total_qty"),
          sum(when(year(col("l_shipdate")) === 1997, qty).otherwise(0L)).as("qty97"))
      val hot = pairQty.filter(col("qty97") * 2 > col("total_qty"))
        .join(t(s, dir, "part").filter(col("p_name").like("red%")),
          col("l_partkey") === col("p_partkey"), "left_semi")
      t(s, dir, "supplier")
        .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
      """WITH pair AS (
        |  SELECT l_partkey, l_suppkey,
        |         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS total_qty,
        |         CAST(SUM(CASE WHEN year(l_shipdate) = 1997
        |                  THEN CAST(floor(l_quantity) AS BIGINT)
        |                  ELSE 0 END) AS BIGINT) AS qty97
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM pair
        |  WHERE qty97 * 2 > total_qty
        |    AND l_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'))
        |ORDER BY s_suppkey""".stripMargin),
  )
}
