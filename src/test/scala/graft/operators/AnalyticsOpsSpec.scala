package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

/** Profiler, TermStats, and Funnel — the round-4 analytics additions. */
class AnalyticsOpsSpec extends SparkSpec {

  import spark.implicits._

  test("Profiler.profile: counts, nulls, distincts, ranges per group") {
    val df = Seq(
      ("a", "x", 10L, "en"), ("a", null, 20L, "en"), ("a", "z", 30L, "fr"),
      ("b", "w", 5L, "de")).toDF("src", "txt", "n", "lang")
    val p = Profiler.profile(df, "src", nullCols = Seq("txt"),
        distinctCols = Seq("lang"), minMaxCols = Seq("n"))
      .orderBy("src").collect()
    assert(p.length === 2)
    val a = p(0)
    assert(a.getString(0) === "a" && a.getLong(1) === 3L) // n_rows
    assert(a.getLong(2) === 1L)                           // nulls_txt
    assert(a.getLong(3) === 2L)                           // distinct_lang
    assert(a.getLong(4) === 10L && a.getLong(5) === 30L)  // min/max
  }

  test("TermStats.tfidfTopTerms: rare terms outrank common ones") {
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common words here"),
      (3L, "common words again")).toDF("doc_id", "text")
    val top = TermStats.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).orderBy("rank").collect()
    assert(top(0).getString(2) === "rare",
      "df=1 term must outrank the corpus-wide term")
    assert(top(0).getLong(3) === 3000000L) // 1 * (3*1e6 DIV 1)
    assert(top(1).getString(2) === "common")
    assert(top(1).getLong(3) === 2000000L) // 2 * (3*1e6 DIV 3)
  }

  test("TermStats.collocations: hand-computed word2phrase lifts, discount, topK cut") {
    val docs = Seq(
      (1L, "new york new york new york"),
      (2L, "the cat"), (3L, "the dog"), (4L, "the cat")).toDF("doc_id", "text")
    // T = 12; c(new)=c(york)=c(the)=3, c(cat)=2, c(dog)=1
    // new-york c12=3: (3-1)*12e6 div 9  = 2666666
    // the-cat  c12=2: (2-1)*12e6 div 6  = 2000000
    // york-new c12=2: (2-1)*12e6 div 9  = 1333333
    val all = TermStats.collocations(docs, "doc_id", "text", minCount = 2L, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(all.toSeq === Seq(
      ("new", "york", 3L, 2666666L),
      ("the", "cat", 2L, 2000000L),
      ("york", "new", 2L, 1333333L)))
    // the-dog (c12 = 1) is killed by minCount; topK truncates in rank order
    val top2 = TermStats.collocations(docs, "doc_id", "text", minCount = 2L, topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(top2.toSeq === Seq(("new", "york"), ("the", "cat")))
  }

  test("Funnel.funnel: stage order is enforced, counts shrink") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // user 1 completes in order
      (1L, "view", ts(10)), (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      // user 2 clicks BEFORE viewing — click must not count
      (2L, "click", ts(5)), (2L, "view", ts(10)),
      // user 3 views only
      (3L, "view", ts(1)),
      // user 4 never views; later stages can't count
      (4L, "click", ts(1)), (4L, "purchase", ts(2))
    ).toDF("user_id", "event_type", "ts")
    val f = Funnel.funnel(events, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")).collect()
    assert(f.map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("view", 3L), ("click", 1L), ("purchase", 1L)))
  }

  test("Funnel: same-timestamp chains count (inclusive semantics)") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq((1L, "view", ts(10)), (1L, "click", ts(10)))
      .toDF("user_id", "event_type", "ts")
    val f = Funnel.funnel(events, "user_id", "event_type", "ts",
      Seq("view", "click")).collect()
    assert(f.map(_.getLong(2)).toSeq === Seq(1L, 1L))
  }

  test("Sampling.stratifiedQuota: exact quota, stable, subset of input") {
    val df = (0L until 500L).map(i => (i, s"lang${i % 3}")).toDF("id", "lang")
    val picked = Sampling.stratifiedQuota(df, "lang", "id", n = 40)
    val byLang = picked.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.forall(_ === 40L))
    val again = Sampling.stratifiedQuota(df.repartition(11), "lang", "id", n = 40)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === picked.select("id").collect().map(_.getLong(0)).toSet)
    // quota above stratum size keeps the whole stratum
    val all = Sampling.stratifiedQuota(df, "lang", "id", n = 1000)
    assert(all.count() === 500L)
  }

  test("Profiler.histogram: floor-width buckets, negative values included") {
    val df = Seq(("a", 0.0), ("a", 49.9), ("a", 50.0), ("a", 125.0), ("b", -10.0))
      .toDF("g", "v")
    val h = Profiler.histogram(df, "g", "v", width = 50.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(h(("a", 0L)) === 2L)   // 0.0 and 49.9
    assert(h(("a", 1L)) === 1L)   // 50.0 lands in bucket 1 (floor boundary)
    assert(h(("a", 2L)) === 1L)   // 125.0
    assert(h(("b", -1L)) === 1L)  // floor(-0.2) = -1
  }

  test("Funnel.retentionCohorts: first-period cohorts, offsets count returns") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400L * 1000L)
    val events = Seq(
      (1L, ts(0)), (1L, ts(8)),   // cohort week 0, returns week 1
      (2L, ts(1)), (2L, ts(2)),   // cohort week 0, same-week only
      (3L, ts(8)), (3L, ts(16))   // cohort week 1, returns week 2
    ).toDF("user_id", "ts")
    val r = Funnel.retentionCohorts(events, "user_id", "ts", period = 604800L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r((0L, 0L)) === 2L) // users 1 and 2 in their cohort week
    assert(r((0L, 1L)) === 1L) // user 1 returned next week
    assert(r((1L, 0L)) === 1L && r((1L, 1L)) === 1L) // user 3
    assert(!r.contains((0L, 2L)))
  }

  test("retentionCohorts floors pre-1970 periods (no merge into period 0)") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq((1L, ts(-100L)), (2L, ts(100L)))  // straddle the epoch
      .toDF("user_id", "ts")
    val r = Funnel.retentionCohorts(events, "user_id", "ts", period = 604800L)
      .collect().map(x => x.getLong(0)).toSet
    assert(r === Set(-1L, 0L), "pre-epoch events must land in period -1")
  }

  private val funnelStages = Seq("view", "click", "purchase")

  private def funnelEvents = {
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      // user 1 completes in order
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      // user 2 clicks before viewing — that click must not advance
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 09:30:00"), "view"),
      (2L, ts("2024-01-01 09:45:00"), "click"),
      // user 3: same-instant view+click chain (inclusive semantics)
      (3L, ts("2024-01-01 11:00:00"), "click"),
      (3L, ts("2024-01-01 11:00:00"), "view"),
      // user 4: non-stage events only
      (4L, ts("2024-01-01 08:00:00"), "error")
    ).toDF("user_id", "ts", "event_type")
  }

  /** Driver-side in-order stage progression: per user, in (ts, stage)
    * order, a stage event advances when it is the next stage and not
    * earlier than the last advance. Returns (user_id, stage, stage_idx,
    * ts) per advance.
    */
  private def progressionsBatch(events: DataFrame, stages: Seq[String])
      : Seq[(Long, String, Int, Timestamp)] = {
    val stageIdx = stages.zipWithIndex.toMap
    events.select(col("user_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .filter(e => stageIdx.contains(e._3))
      .groupBy(_._1).toSeq
      .flatMap { case (uid, evs) =>
        var reachedIdx = -1
        var reachedTs = Long.MinValue
        evs.sortBy(e => (e._2.getTime, stageIdx(e._3))).flatMap { case (_, t, stage) =>
          val idx = stageIdx(stage)
          if (idx == reachedIdx + 1 && t.getTime >= reachedTs) {
            reachedIdx = idx
            reachedTs = t.getTime
            Some((uid, stage, idx, t))
          } else None
        }
      }
  }

  test("batch reference: order enforced, ties advance, stage counts match Funnel") {
    val adv = progressionsBatch(funnelEvents, funnelStages)
    // user 1 full funnel, user 2 view→click only (the 09:00 click is
    // pre-view), user 3 same-instant chain, user 4 nothing
    assert(adv.count(_._3 == 0) === 3)
    assert(adv.count(_._3 == 1) === 3)
    assert(adv.count(_._3 == 2) === 1)
    val u2 = adv.filter(_._1 == 2L).map(a => (a._2, a._4)).toMap
    assert(u2("click") === Timestamp.valueOf("2024-01-01 09:45:00"),
      "the pre-view click must not have advanced the funnel")
    // per-stage counts agree with the batch Funnel operator
    val counts = Funnel.funnel(funnelEvents, "user_id", "event_type", "ts", funnelStages)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(counts === Map("view" -> 3L, "click" -> 3L, "purchase" -> 1L))
  }

  test("Funnel.reachTimes ≡ the batch progression reference, record for record") {
    val distributed = Funnel.reachTimes(
        funnelEvents, "user_id", "event_type", "ts", funnelStages)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2).toInt, r.getTimestamp(3)))
      .toSet
    assert(distributed === progressionsBatch(funnelEvents, funnelStages).toSet)
  }

  test("reachTimes: reliable-checkpoint mode ≡ local, files cleaned on owner's terms") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      (1L, "view", ts(10)), (1L, "click", ts(20)),
      (2L, "view", ts(5))).toDF("user_id", "event_type", "ts")
    val local = Funnel.reachTimes(events, "user_id", "event_type", "ts",
        Seq("view", "click")).orderBy("user_id", "stage_idx").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("reach_ckpt").toString
    val reliable = Funnel.reachTimes(events, "user_id", "event_type", "ts",
      Seq("view", "click"), checkpointDir = Some(dir))
    assert(reliable.orderBy("user_id", "stage_idx").collect().toSeq === local)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(files.filter(java.nio.file.Files.isRegularFile(_)).count() > 0)
    finally files.close()
  }

  test("Quality.zScoreOutliers flags the far point, spares a tight cluster") {
    // group a: 15 values at ~10.00 plus one at 1000.00. A lone spike
    // among n points peaks at z = (n-1)/sqrt(n), so n must be >= 11
    // for any single point to clear 3 sigma; 16 gives z ~ 3.75.
    val a = (1 to 15).map(i => ("a", i.toLong, 10.0 + i * 0.01)) :+ (("a", 99L, 1000.0))
    // group b: uniform-ish cluster, max deviation < 2 sigma → no rows
    val b = (1 to 10).map(i => ("b", 100L + i, 50.0 + i))
    val df = (a ++ b).toDF("g", "id", "v")
    val out = Quality.zScoreOutliers(df, "g", "v", sigmas = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out === Set(99L), s"expected only the spike, got $out")
  }

  test("Quality.zScoreOutliers: zero-variance group flags nothing") {
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.0)).toDF("g", "id", "v")
    assert(Quality.zScoreOutliers(df, "g", "v").count() === 0L)
  }

  test("TextFunctions.normalize masks digits and collapses whitespace") {
    val df = Seq("  Call 555 0123   NOW  ", "abc").toDF("t")
      .select(TextFunctions.normalize(col("t")).as("n"))
    assert(df.collect().map(_.getString(0)).toSeq ===
      Seq("call <num> <num> now", "abc"))
  }

  test("Profiler.histogramQuantiles: ceil-rank bucket selection, p0/p100 rails") {
    // 10 values 0..9, width 1 → bucket i holds value i exactly
    val df = (0 until 10).map(i => ("g", i.toDouble)).toDF("g", "v")
    val q = Profiler.histogramQuantiles(df, "g", "v", width = 1.0,
        percents = Seq(0, 50, 100))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(q(0L) === 0L, "p0 reads the min bucket (rank clamps to 1)")
    assert(q(50L) === 4L, "ceil(10*50/100)=5th value = 4 (0-indexed buckets)")
    assert(q(100L) === 9L, "p100 reads the max bucket")
    intercept[IllegalArgumentException](
      Profiler.histogramQuantiles(df, "g", "v", 1.0, Seq(101)))
    intercept[IllegalArgumentException](
      Profiler.histogramQuantiles(df, "g", "v", 1.0, Nil))
  }

  test("Profiler.histogramQuantiles agrees with exact percentile at bucket resolution") {
    val df = (0 until 1000).map(i => ("g", (i * 37 % 500).toDouble)).toDF("g", "v")
    val q90 = Profiler.histogramQuantiles(df, "g", "v", width = 10.0, Seq(90))
      .head().getLong(2)
    val exact = df.stat.approxQuantile("v", Array(0.9), 0.0).head
    assert(math.abs(q90 * 10.0 - exact) <= 10.0,
      s"histogram p90 bucket ${q90 * 10.0} vs exact $exact must be within one width")
  }

  test("IncrementalAgg: merge(state, batch) equals full recompute; idempotent keys") {
    val hist = Seq((1L, 1.25), (1L, 2.50), (2L, 10.0)).toDF("k", "v")
    val batch = Seq((2L, 0.75), (3L, 5.0)).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_spec").toString
    IncrementalAgg.writeState(IncrementalAgg.buildState(hist, "k", "v"), dir)
    val merged = IncrementalAgg.mergeBatch(spark, dir, batch, "k", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val full = IncrementalAgg.buildState(hist.union(batch), "k", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(merged === full, "incremental merge must be invisible vs full recompute")
    assert(merged(1L) === ((2L, 375L)), "untouched key passes through (cents exact)")
    assert(merged(2L) === ((2L, 1075L)), "existing key merges partials")
    assert(merged(3L) === ((1L, 500L)), "new key appears with batch partials")
  }

  test("lastTouchAttribution: window bound, same-second tie by max id, NULL when cold") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      (10L, 1L, "click", ts(100L)),    // in window for conv 13
      (11L, 1L, "click", ts(150L)),    // same second as 12 — ties
      (12L, 1L, "click", ts(150L)),    // ...max id 12 wins
      (13L, 1L, "purchase", ts(160L)),
      (14L, 1L, "purchase", ts(100000L)), // all touches aged out → NULL
      (15L, 2L, "purchase", ts(50L))   // user 2 never clicked → NULL
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Funnel.lastTouchAttribution(events, "user_id", "event_type",
        "event_id", "ts", "click", "purchase", windowSecs = 3600L)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(5))))).toMap
    assert(out(13L) === Some((12L, 10L)),
      "latest touch wins; same-second tie broken by larger id")
    assert(out(14L) === None, "touches outside the window must not attribute")
    assert(out(15L) === None, "users with no touch stay unattributed")
  }

  test("lastTouchAttribution rejects ids outside the encode domain") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val bad = Seq((1000000000L, 1L, "click", ts(10L)), (2L, 1L, "purchase", ts(20L)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val ex = intercept[Exception] {
      Funnel.lastTouchAttribution(bad, "user_id", "event_type", "event_id",
        "ts", "click", "purchase", 3600L).collect()
    }
    assert(ex.getMessage != null)
  }

  test("Quality.snapshotDrift: exact ppm shares, one-sided categories kept") {
    val prev = Seq("en", "en", "en", "fr").toDF("lang")
    val cur = Seq("en", "en", "de", "de").toDF("lang")
    val d = Quality.snapshotDrift(prev, cur, "lang")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // de: absent from prev → share 0 there; 2/4 = 500000 ppm in cur
    assert(d(0) === (("de", 0L, 0L, 2L, 500000L, 500000L)))
    // en: 3/4 = 750000 → 2/4 = 500000, drift 250000
    assert(d(1) === (("en", 3L, 750000L, 2L, 500000L, 250000L)))
    // fr: dropped out entirely
    assert(d(2) === (("fr", 1L, 250000L, 0L, 0L, 250000L)))
    // floor-division shares sum to ≤ 1e6 per snapshot
    assert(d.map(_._3).sum <= 1000000L && d.map(_._5).sum <= 1000000L)
  }

  test("Funnel.transitions: counts reconcile and first events start from (start)") {
    val ev = Seq(
      // user 1: view → click → purchase
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (2L, 1L, "click", ts("2024-01-01 10:01:00")),
      (3L, 1L, "purchase", ts("2024-01-01 10:02:00")),
      // user 2: view → view; same-ts tie broken by event_id
      (4L, 2L, "view", ts("2024-01-01 11:00:00")),
      (5L, 2L, "view", ts("2024-01-01 11:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val tr = Funnel.transitions(ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tr(("(start)", "view")) === 2L) // both users start with a view
    assert(tr(("view", "click")) === 1L)
    assert(tr(("click", "purchase")) === 1L)
    assert(tr(("view", "view")) === 1L)
    assert(tr.values.sum === 5L, "every event contributes exactly one transition")
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("Ids.denseIds: parallel plan reproduces the naive global row_number exactly") {
    val df = Seq(907L, 3L, 512L, 17L, 2000L, 1999L, 0L, 451L)
      .toDF("k").withColumn("payload", col("k") * 10)
    val ids = Ids.denseIds(df, "k", bucketWidth = 500L)
      .orderBy("global_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    val expected = Seq(907L, 3L, 512L, 17L, 2000L, 1999L, 0L, 451L)
      .sorted.zipWithIndex.map { case (k, i) => (k, i.toLong) }
    assert(ids.toSeq === expected, "ids must follow total key order, 0-based, gapless")
    // partitioning must not change the assignment
    val repart = Ids.denseIds(df.repartition(5), "k", bucketWidth = 500L)
      .orderBy("global_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(repart.toSeq === expected)
  }

  test("RawLayer.applyCdcLatest: latest change wins, tombstones remove keys") {
    val changes = Seq(
      (1L, 1L, "upsert", 10L), (1L, 2L, "upsert", 20L),  // u1 → latest 20
      (2L, 3L, "upsert", 30L), (2L, 4L, "delete", 0L),   // u2 → tombstoned
      (3L, 5L, "delete", 0L), (3L, 6L, "upsert", 60L)    // u3 → re-created after delete
    ).toDF("key", "change_id", "op", "v")
    val state = graft.etl.RawLayer.applyCdcLatest(changes,
        keyCols = Seq("key"), orderCols = Seq(col("change_id")),
        deleteCol = col("op") === "delete")
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(state.toSeq === Seq((1L, 20L), (3L, 60L)))
  }

  test("applyCdcLatest: a NULL delete flag is an upsert, never a tombstone") {
    // 3VL trap: !NULL is NULL — without the coalesce the winning row
    // with a missing flag would be silently filtered out (data loss)
    val changes = Seq(
      (1L, 1L, Some(false), 10L),
      (1L, 2L, None, 20L), // latest change, flag missing
      (2L, 3L, Some(true), 0L)
    ).toDF("key", "change_id", "is_del", "v")
    val state = graft.etl.RawLayer.applyCdcLatest(changes,
        Seq("key"), Seq(col("change_id")), deleteCol = col("is_del"))
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(state.toSeq === Seq((1L, 20L)),
      "NULL-flag latest change must survive as an upsert; true flag still deletes")
  }

  test("RawLayer.mergeInto: matched-delete, matched-replace, insert, and keep in one pass") {
    val target = Seq((1L, 10L, false), (2L, 20L, false), (3L, 30L, false))
      .toDF("key", "v", "del")
    val source = Seq((2L, 99L, false), (3L, 0L, true), (4L, 40L, false))
      .toDF("key", "v", "del")
    val merged = graft.etl.RawLayer.mergeInto(target, source, Seq("key"),
        deleteCond = col("del"))
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 1 kept, 2 replaced, 3 deleted, 4 inserted
    assert(merged.toSeq === Seq((1L, 10L), (2L, 99L), (4L, 40L)))
    // a target row matching deleteCond must NOT self-delete
    val t2 = Seq((7L, 70L, true)).toDF("key", "v", "del")
    val m2 = graft.etl.RawLayer.mergeInto(t2,
      Seq.empty[(Long, Long, Boolean)].toDF("key", "v", "del"),
      Seq("key"), deleteCond = col("del"))
    assert(m2.count() === 1L)
  }

  test("Quality.compressionSignals: repetitive text compresses below prose, stable under repartitioning") {
    val prose = "the quarterly report outlines revenue growth across distinct " +
      "market segments with varied supplier dynamics and region-specific notes"
    val docs = Seq(
      (1L, "spam spam " * 200),  // highly repetitive
      (2L, prose * 3),           // natural-ish prose
      (3L, "")                   // empty guard
    ).toDF("doc_id", "text")
    val sig = Quality.compressionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(sig(1L)._3 < sig(2L)._3,
      s"repetitive ratio ${sig(1L)._3} must be below prose ${sig(2L)._3}")
    assert(sig(1L)._3 < 100L, "200x-repeated text should deflate below 10%")
    assert(sig(3L) === ((0L, sig(3L)._2, sig(3L)._2 * 1000)),
      "empty doc: raw_len 0, ratio = deflate_len*1000 (div-by-zero guard)")
    // partitioning must not change a per-row signal (one Deflater per
    // partition, reset between rows)
    val repart = Quality.compressionSignals(docs.repartition(3), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(repart === sig)
  }
}
