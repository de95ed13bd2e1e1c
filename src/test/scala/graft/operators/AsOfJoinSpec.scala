package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin picks the greatest right time ≤ left time, null before first") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "e1"),
      (1L, ts("2024-01-01 12:00:00"), "e2"),
      (1L, ts("2024-01-01 09:00:00"), "e0"), // before any right row
      (2L, ts("2024-01-01 11:00:00"), "e3"),
    ).toDF("k", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100.0),
      (1L, ts("2024-01-01 11:30:00"), 200.0),
      (2L, ts("2024-01-01 11:00:00"), 300.0), // equal ts → inclusive
    ).toDF("k", "t", "v")
    val out = AsOfJoin.asofJoin(left, right, "k", "t", "t", Seq("v"))
      .select("name", "asof_v").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("e0") === None)
    assert(out("e1") === Some(100.0))
    assert(out("e2") === Some(200.0))
    assert(out("e3") === Some(300.0)) // ≥ semantics: same-instant row matches
  }

  test("asofJoin tolerance masks stale matches to null, keeps fresh and boundary ones") {
    import org.apache.spark.sql.functions.expr
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "fresh"),    // match 30 min old → kept
      (1L, ts("2024-01-01 12:00:00"), "boundary"), // match exactly 1 h old → kept (≥)
      (1L, ts("2024-01-01 14:00:00"), "stale"),    // match 3 h old → masked
      (2L, ts("2024-01-01 11:00:00"), "none"),     // no match at all → null either way
    ).toDF("k", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 200.0),
    ).toDF("k", "t", "v")
    val out = AsOfJoin.asofJoin(left, right, "k", "t", "t", Seq("v"),
        tolerance = Some(expr("INTERVAL 1 HOUR")))
      .select("name", "asof_v").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("fresh") === Some(100.0))
    assert(out("boundary") === Some(200.0), "t - tolerance == match time is NOT stale")
    assert(out("stale") === None, "match older than tolerance masks to null")
    assert(out("none") === None)
  }

  test("asofJoin accepts valueCols in a different order than the right schema") {
    val left = Seq((1L, ts("2024-01-02 00:00:00"), "e")).toDF("k", "t", "name")
    // right schema order: (k, t, a, b); carried as Seq(b, a) — reversed
    val right = Seq((1L, ts("2024-01-01 00:00:00"), "va", 7.5))
      .toDF("k", "t", "a", "b")
    val out = AsOfJoin.asofJoin(left, right, "k", "t", "t", Seq("b", "a")).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("asof_b") === 7.5)
    assert(out.head.getAs[String]("asof_a") === "va")
  }
}
