package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec

class EventStreamsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def events = Seq(
    (1L, ts("2024-01-01 10:05:00"), "click", 1.0),
    (1L, ts("2024-01-01 10:15:00"), "click", 2.0),
    (1L, ts("2024-01-01 11:05:00"), "view", 3.0),
    (2L, ts("2024-01-01 10:20:00"), "click", 4.0),
    // user 2's second event is >30 min after the first → new session
    (2L, ts("2024-01-01 11:10:00"), "click", 5.0),
  ).toDF("user_id", "ts", "event_type", "value")

  test("hourlyStats: tumbling 1h windows per event type") {
    val out = EventStreams.hourlyStats(events)
      .orderBy("window_start", "event_type").collect()
    assert(out.length === 3)
    val first = out.head
    assert(first.getTimestamp(0) === ts("2024-01-01 10:00:00"))
    assert(first.getString(1) === "click")
    assert(first.getLong(2) === 3L) // 3 clicks in the 10:00 hour
    assert(first.getDouble(3) === 7.0)
  }

  test("sessionize: 30-minute gap splits sessions") {
    val out = EventStreams.sessionize(events, "30 minutes")
      .orderBy("user_id", "session_start").collect()
    // user 1: 10:05+10:15 merge (10 min gap), 11:05 separate → 2 sessions
    // user 2: 10:20 and 11:10 (50 min gap) → 2 sessions
    assert(out.length === 4)
    val u1 = out.filter(_.getAs[Long]("user_id") === 1L)
    assert(u1.head.getAs[Long]("n_events") === 2L)
    assert(u1.head.getAs[Double]("session_value") === 3.0)
  }

  test("intervalJoin pairs events with same-user rights inside the window") {
    val clicks = Seq(
      (1L, ts("2024-01-01 10:30:00"), "click", 0.0),
      (1L, ts("2024-01-01 12:00:00"), "click", 0.0),
    ).toDF("user_id", "ts", "event_type", "value")
    val purchases = Seq(
      (1L, ts("2024-01-01 10:00:00"), "purchase", 5.0), // within 1h of 10:30 only
      (1L, ts("2024-01-01 11:30:00"), "purchase", 7.0), // within 1h of 12:00 only
      (2L, ts("2024-01-01 10:15:00"), "purchase", 9.0), // other user
    ).toDF("user_id", "ts", "event_type", "value")
    val out = EventStreams.intervalJoin(clicks, purchases, "1 HOUR")
      .select("l_ts", "r_value").collect()
      .map(r => r.getTimestamp(0) -> r.getDouble(1)).toSet
    assert(out === Set(
      ts("2024-01-01 10:30:00") -> 5.0,
      ts("2024-01-01 12:00:00") -> 7.0))
  }

  test("left-outer interval join keeps unmatched left rows (batch)") {
    val clicks = Seq(
      (1L, ts("2024-01-01 10:30:00"), "click", 0.0), // purchase at 10:00 matches
      (2L, ts("2024-01-01 10:30:00"), "click", 0.0), // no purchase → null wing
    ).toDF("user_id", "ts", "event_type", "value")
    val purchases = Seq((1L, ts("2024-01-01 10:00:00"), "purchase", 5.0))
      .toDF("user_id", "ts", "event_type", "value")
    val out = EventStreams.intervalJoinLeftOuter(clicks, purchases, "1 HOUR")
    assert(out.count() === 2)
    val unmatched = out.filter($"r_value".isNull).collect()
    assert(unmatched.map(_.getAs[Long]("user_id")).toSeq === Seq(2L))
    // inner join twin must agree on the matched subset
    assert(out.filter($"r_value".isNotNull).count() ===
      EventStreams.intervalJoin(clicks, purchases, "1 HOUR").count())
  }
}
