package graft.operators

import graft.SparkSpec

class ScaleJoinsSpec extends SparkSpec {

  import spark.implicits._

  test("saltedInnerJoin returns exactly the plain join result on skewed data") {
    // heavily skewed: 900 of 1000 rows share key 1
    val large = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, s"row$i"))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold"), (999L, "cold")).toDF("k", "name")
    val plain = large.join(small, Seq("k"))
    val salted = ScaleJoins.saltedInnerJoin(large, small, "k", 8, saltBy = "payload")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the salt actually spreads the hot key across buckets
    val saltSpread = large
      .withColumn("__salt",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64($"payload"),
          org.apache.spark.sql.functions.lit(8)))
      .filter($"k" === 1L).select("__salt").distinct().count()
    assert(saltSpread > 1)
  }

  test("a broadcast hint overrides a disabled auto-broadcast threshold") {
    // the manual override lever when stats mislead the planner — e.g.
    // the parity profile (reference knobs) pins the threshold to -1,
    // but a known-small dim should still broadcast on a real cluster
    val fact = (1L to 2000L).map(i => (i % 50, i)).toDF("k", "v")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val auto = fact.join(dim, "k")
      assert(!auto.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "with threshold -1 the planner must not broadcast on its own")
      val hinted = fact.join(dim.hint("broadcast"), "k")
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the explicit hint must override the disabled threshold")
      assert(hinted.count() === 2000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE skew-join splits the planted hot partition with no manual salting") {
    // q90 proves salting by hand; this pins the runtime alternative on
    // the same planted-skew shape: AQE's skew split detects the
    // oversized post-shuffle partition and splits it across tasks, so
    // at 100 TB JOIN skew is handled without touching the query. The
    // division of labor `saltedInnerJoin`'s scaladoc claims — and why
    // manual salting still exists — is that AQE only splits JOIN
    // partitions (each split re-joins against the matching small-side
    // rows); an AGGREGATION's final partition cannot be split (a key's
    // rows must all meet), so groupBy hot keys still need the
    // salt/two-phase rewrite. Thresholds are lowered so a test-sized
    // hot key (~1 MB of high-entropy payload on one join key — entropy
    // matters: skew detection reads COMPRESSED shuffle-block sizes)
    // crosses the production 256 MB bar's scaled-down stand-in.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // 18k of 20k rows share key 1 → one shuffle partition dwarfs the
      // rest; payload bulk makes its bytes cross the lowered threshold
      val large = spark.range(0L, 20000L).selectExpr(
        "CASE WHEN id < 18000 THEN 1 ELSE id END AS k",
        "sha2(cast(id AS string), 256) AS payload")
      val small = spark.range(0L, 200L).selectExpr("id AS k", "id * 2 AS v")
      val joined = large.join(small, Seq("k"))
      assert(joined.count() === 18000L,
        "skew handling must not change the join result")
      joined.collect() // materialize so the adaptive plan is final
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
