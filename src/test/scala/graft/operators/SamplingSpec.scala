package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {

  import spark.implicits._

  private def rows = (0L until 2000L).map(i => (i, if (i % 10 == 0) "rare" else "common"))
    .toDF("id", "cls")

  test("deterministicSample is rerun-stable and partitioning-independent") {
    val a = Sampling.deterministicSample(rows, "id", 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(rows.repartition(13), "id", 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b, "same keys must be selected under any partitioning")
    // multiplicative hashing spreads buckets ≈ uniformly
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05, s"fraction off: ${a.size / 2000.0}")
  }

  test("stratifiedSample applies per-stratum rates") {
    val sampled = Sampling.stratifiedSample(rows, "id", "cls",
      Map("rare" -> 1.0), default = 0.1)
    val byCls = sampled.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCls("rare") === 200L, "rate 1.0 keeps every rare row")
    assert(math.abs(byCls("common") / 1800.0 - 0.1) < 0.05)
  }

  test("fraction bounds are validated") {
    intercept[IllegalArgumentException](Sampling.deterministicSample(rows, "id", 1.5))
  }

  test("prioritySample: exactly N, stable under repartitioning") {
    val picked = Sampling.prioritySample(rows, "id", n = 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(picked.size === 50)
    val repicked = Sampling.prioritySample(rows.repartition(7), "id", n = 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(repicked === picked, "selection must be a pure function of keys")
    // exact-N beats fraction sampling when a fixed budget is required
    assert(Sampling.prioritySample(rows, "id", n = 2000).count() === rows.count())
  }

  private def mixRows = (
    (0L until 1000L).map(i => (i, "web")) ++
    (1000L until 1200L).map(i => (i, "books")) ++
    (1200L until 1500L).map(i => (i, "code"))).toDF("id", "src")

  test("mixToTarget hits the requested mixture exactly (integer quotas)") {
    val out = Sampling.mixToTarget(mixRows, "src", "id",
      Map("web" -> 500000L, "books" -> 250000L, "code" -> 250000L))
    val bySrc = out.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // books is the binding stratum: 200 rows / 0.25 share → T = 800000/1e6
    // scaled total = 800 rows → quotas 400 / 200 / 200.
    assert(bySrc === Map("web" -> 400L, "books" -> 200L, "code" -> 200L))
  }

  test("mixToTarget is maximal: the binding stratum is kept whole") {
    val out = Sampling.mixToTarget(mixRows, "src", "id",
      Map("web" -> 500000L, "books" -> 250000L, "code" -> 250000L))
    val books = out.filter(col("src") === "books").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(books === (1000L until 1200L).toSet,
      "every row of the scarcest stratum must survive")
  }

  test("mixToTarget is rerun- and partitioning-stable; drops unlisted strata") {
    val target = Map("web" -> 900000L, "books" -> 100000L)
    val a = Sampling.mixToTarget(mixRows, "src", "id", target)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixToTarget(mixRows.repartition(11), "src", "id", target)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b, "selection must be a pure function of (stratum, key)")
    assert(!a.exists(_ >= 1200L), "strata outside the target mix must be dropped")
  }

  test("mixToTarget validates shares and fails fast on absent strata") {
    intercept[IllegalArgumentException](
      Sampling.mixToTarget(mixRows, "src", "id", Map("web" -> 999999L)))
    intercept[IllegalArgumentException](
      Sampling.mixToTarget(mixRows, "src", "id",
        Map("web" -> 500000L, "nope" -> 500000L)))
  }

  test("selectTopPermille: exact top-m by (score DESC, id ASC), ties cut by id") {
    // 10 rows: scores 5,5,5,3,3,2,2,2,2,1 — top 400‰ of 10 = 4 rows:
    // all three 5s, then the lowest-id 3.
    val df = Seq(
      (0L, 5L), (1L, 5L), (2L, 5L), (3L, 3L), (9L, 3L),
      (4L, 2L), (5L, 2L), (6L, 2L), (7L, 2L), (8L, 1L)).toDF("id", "score")
    val kept = Sampling.selectTopPermille(df, "score", "id", 400)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 1L, 2L, 3L))
  }

  test("selectTopPermille: 0 keeps nothing, 1000 keeps everything; rerun-stable") {
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("id", "score")
    assert(Sampling.selectTopPermille(df, "score", "id", 0).count() === 0L)
    assert(Sampling.selectTopPermille(df, "score", "id", 1000).count() === 100L)
    val a = Sampling.selectTopPermille(df, "score", "id", 250)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.selectTopPermille(df.repartition(13), "score", "id", 250)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b, "the cut must be a pure function of (score, id)")
    assert(a.size === 25)
    intercept[IllegalArgumentException](
      Sampling.selectTopPermille(df, "score", "id", 1001))
  }

  test("selectTopPermille: negative contrast scores bucket exactly (floor div)") {
    // scores straddle bucket 0 and negative buckets — DSIR contrasts
    // are signed; truncating DIV would fold −0.x and 0.x together
    val df = Seq(
      (0L, 2500L), (1L, 500L), (2L, -1L), (3L, -500L), (4L, -999L),
      (5L, -1000L), (6L, -1001L), (7L, -2500L), (8L, -2500L), (9L, -9999L))
      .toDF("id", "score")
    val kept = Sampling.selectTopPermille(df, "score", "id", 500)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 1L, 2L, 3L, 4L))
    // tie at the boundary cut by id: top 800‰ = 8 rows, tie (7,8) at
    // −2500 → the lower id wins the last slot... both fit at m=8; at
    // m=7 only id 7 of the pair survives
    val seven = Sampling.selectTopPermille(df, "score", "id", 700)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(seven === Set(0L, 1L, 2L, 3L, 4L, 5L, 6L))
    val eight = Sampling.selectTopPermille(df, "score", "id", 800)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(eight === Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("selectTopPermille: non-integral score column refuses loudly") {
    val df = Seq((0L, 0.5), (1L, 0.25)).toDF("id", "score")
    intercept[IllegalArgumentException](
      Sampling.selectTopPermille(df, "score", "id", 500))
  }
}
