package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{AsOfJoin, Funnel, Profiler, Quality, ScaleJoins, Sketches}
import graft.streaming.EventStreams
import graft.catalog.CatalogSupport._

/** Event-log analytics: time windows, sessions, funnels, retention,
  * as-of/interval joins, sketches and semi-structured props.
  */
object EventQueries extends Family {
  val name = "events"

  val entries: Seq[Entry] = Seq(
    // streaming-equivalent tumbling window aggregation (batch mode).
    Entry("q20_events_hourly", (s, dir) => {
      EventStreams.hourlyStats(t(s, dir, "events"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // sessionization via session_window (batch mode).
    Entry("q21_events_sessionize", (s, dir) => {
      EventStreams.sessionize(t(s, dir, "events"), "30 minutes")
        .select(
          col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   < INTERVAL 30 MINUTE
        |              THEN 0 ELSE 1 END AS new_session
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // sliding event-time windows (1h window, 30m slide — each event in
    // two windows).
    Entry("q39_events_sliding", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum4(col("value")).as("total_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },
      """SELECT strftime(w, '%Y-%m-%d %H:%M') AS window_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT make_timestamp(CAST((floor(epoch(ts)/1800)*1800 - s.shift) * 1000000 AS BIGINT)) AS w,
        |         ts, event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1800)) s(shift)
        |) t
        |WHERE ts < w + INTERVAL 1 HOUR
        |GROUP BY w, event_type ORDER BY window_start, event_type""".stripMargin),

    // trailing event-time RANGE window (per-user features over the
    // last hour at every event) — the feature-engineering shape for
    // sessionless behavioral features; one shuffle on user_id.
    Entry("q64_events_trailing", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_events_1h"),
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double").as("value_1h"))
        .orderBy(col("event_id"))
    },
      // q64: both engines order and range the window on floor-of-second
      // epoch, so sub-second timestamps bucket identically.
      """SELECT event_id, user_id,
        |       COUNT(*) OVER w AS n_events_1h,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // null-aware gap-fill (LOCF forward-fill): carry each user's last
    // observed non-click value forward to every event — the
    // feature-engineering shape for sparse signals; null until the
    // first observation. Same deterministic ordering key as q64/q69.
    Entry("q71_events_gap_fill", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sparse = when(col("event_type") =!= "click",
        col("value").cast(DecimalType(18, 4)))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        last(sparse, ignoreNulls = true).over(w).cast("double").as("filled_value"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id,
        |       CAST(last_value(CASE WHEN event_type <> 'click'
        |                            THEN CAST(value AS DECIMAL(18,4)) END IGNORE NULLS)
        |         OVER (PARTITION BY user_id
        |               ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_value
        |FROM events ORDER BY event_id""".stripMargin),

    // ordered-stage funnel over the event log: view → click → purchase,
    // stage i counting only events at-or-after stage i−1's first reach.
    Entry("q80_events_funnel", (s, dir) => {
      Funnel.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
    },
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s0.t GROUP BY e.user_id
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t GROUP BY e.user_id
        |)
        |SELECT * FROM (
        |  SELECT 'view' AS stage, CAST(0 AS BIGINT) AS stage_idx,
        |         CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
        |  UNION ALL
        |  SELECT 'click', CAST(1 AS BIGINT),
        |         CAST((SELECT count(*) FROM s1) AS BIGINT)
        |  UNION ALL
        |  SELECT 'purchase', CAST(2 AS BIGINT),
        |         CAST((SELECT count(*) FROM s2) AS BIGINT)
        |) ORDER BY stage_idx""".stripMargin),

    // fixed-width value histogram per event type: bucket = floor of
    // ONE division — deterministic IEEE, counted as BIGINT.
    Entry("q87_events_histogram", (s, dir) => {
      Profiler.histogram(t(s, dir, "events"), "event_type", "value", width = 50.0)
        .orderBy(col("event_type"), col("bucket"))
    },
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),

    // weekly retention cohorts: users bucketed by first-event week,
    // counted in each week they return — pure integer epoch DIVs.
    Entry("q88_events_retention", (s, dir) => {
      Funnel.retentionCohorts(t(s, dir, "events"), "user_id", "ts",
        period = 604800L)
    },
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 604800 AS wk
        |  FROM events
        |), c AS (SELECT user_id, min(wk) AS cohort_period FROM a GROUP BY user_id)
        |SELECT cohort_period, wk - cohort_period AS period_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // record-level funnel: each user's reach TIME per stage — the
    // batch equivalent of the streaming funnel's advancement records
    // (spec-asserted identical), value-checked row by row.
    Entry("q89_events_funnel_reach", (s, dir) => {
      Funnel.reachTimes(t(s, dir, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("stage"), col("stage_idx"),
          date_format(col("reach_ts"), "yyyy-MM-dd HH:mm:ss").as("reach_ts"))
        .orderBy(col("user_id"), col("stage_idx"))
    },
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s0.t GROUP BY e.user_id
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t GROUP BY e.user_id
        |)
        |SELECT user_id, stage, stage_idx,
        |       strftime(date_trunc('second', t), '%Y-%m-%d %H:%M:%S') AS reach_ts
        |FROM (
        |  SELECT user_id, 'view' AS stage, CAST(0 AS BIGINT) AS stage_idx, t FROM s0
        |  UNION ALL
        |  SELECT user_id, 'click', CAST(1 AS BIGINT), t FROM s1
        |  UNION ALL
        |  SELECT user_id, 'purchase', CAST(2 AS BIGINT), t FROM s2
        |)
        |ORDER BY user_id, stage_idx""".stripMargin),

    // count-min heavy hitters: per-user exact count next to the 4×64
    // sketch estimate (integer multiplicative hashes, so both engines
    // build the identical sketch; est ≥ exact is also spec-asserted).
    Entry("q92_heavy_hitters_cms", (s, dir) => {
      val ev = t(s, dir, "events")
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      Sketches.countMinEstimates(ev, "user_id", depth = 4, width = 64)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("exact_n"), col("cms_est"))
        .orderBy(col("user_id"))
    },
      """WITH hp(d, a) AS (VALUES (CAST(0 AS BIGINT), CAST(2654435761 AS BIGINT)),
        |                         (1, 2246822519), (2, 3266489917), (3, 668265263)),
        |cells AS (
        |  SELECT d, ((user_id % 2147483648) * a % 2147483648) % 64 AS cell,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events, hp GROUP BY 1, 2
        |),
        |est AS (
        |  SELECT k.user_id, min(c.cnt) AS cms_est
        |  FROM (SELECT DISTINCT user_id FROM events) k, hp
        |  JOIN cells c ON c.d = hp.d
        |    AND c.cell = ((k.user_id % 2147483648) * hp.a % 2147483648) % 64
        |  GROUP BY k.user_id
        |)
        |SELECT user_id, CAST(x.exact_n AS BIGINT) AS exact_n, e.cms_est
        |FROM est e
        |JOIN (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1) x
        |  USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // full outer join (the one join type q01–q97 never exercised):
    // hourly signup vs error totals where each side has hours the
    // other lacks — both null wings verified.
    Entry("q98_full_outer_join", (s, dir) => {
      val ev = t(s, dir, "events")
      def hourly(tp: String, n: String) = ev
        .filter(col("event_type") === tp)
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm").as("hour"))
        .agg(count(lit(1)).as(n))
      hourly("signup", "n_signups")
        .join(hourly("error", "n_errors"), Seq("hour"), "full_outer")
        .orderBy(col("hour"))
    },
      """WITH s AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |         CAST(count(*) AS BIGINT) AS n_signups
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), e AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |         CAST(count(*) AS BIGINT) AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY 1
        |)
        |SELECT hour, n_signups, n_errors
        |FROM s FULL OUTER JOIN e USING (hour) ORDER BY hour""".stripMargin),

    // per-type 3-sigma outliers via the division-free integer z-score
    // (Quality.zScoreOutliers): boundary rows agree exactly on both
    // engines because nothing is ever divided or square-rooted.
    Entry("q100_value_outliers", (s, dir) => {
      Quality.zScoreOutliers(t(s, dir, "events"), "event_type", "value",
          sigmas = 3)
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id"))
    },
      """WITH x AS (
        |  SELECT event_id, event_type,
        |         CAST(floor(value * 100 + 0.5) AS HUGEINT) AS xc
        |  FROM events
        |), st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |         SUM(xc) AS s, SUM(xc * xc) AS ss
        |  FROM x GROUP BY event_type
        |)
        |SELECT event_id, event_type
        |FROM x JOIN st USING (event_type)
        |WHERE (n * xc - s) * (n * xc - s) > 9 * (n * ss - s * s)
        |ORDER BY event_id""".stripMargin),

    // deterministic HLL registers: 256 rows of mergeable distinct-user
    // sketch state, every register value-checked (Spark's own
    // approx_count_distinct state is engine-private; this one is three
    // integer ops and a bin() length on both engines).
    Entry("q102_hll_registers", (s, dir) => {
      Sketches.hllRegisters(t(s, dir, "events"), "user_id", p = 8)
        .orderBy(col("bucket"))
    },
      """WITH h1 AS (
        |  SELECT ((user_id % 2147483648) * 2654435761) % 2147483648 AS h
        |  FROM events
        |), h2 AS (
        |  SELECT (xor(h, h >> 16) * 2246822519) % 2147483648 AS h FROM h1
        |), hf AS (
        |  SELECT xor(h, h >> 13) AS h FROM h2
        |), br AS (
        |  SELECT h % 256 AS bucket, h // 256 AS rem FROM hf
        |)
        |SELECT bucket,
        |       CAST(MAX(CASE WHEN rem = 0 THEN 24
        |                     ELSE 24 - length(bin(rem)) END) AS BIGINT) AS register
        |FROM br GROUP BY bucket ORDER BY bucket""".stripMargin),

    // histogram quantiles: the scale path for percentiles — q52's
    // exact percentile() sorts whole groups; here the only big pass is
    // the q87 histogram and the quantile read is a window over
    // #groups × #buckets rows. Targets are integer ceil ranks, so the
    // chosen bucket matches on any engine.
    Entry("q105_value_quantiles", (s, dir) => {
      Profiler.histogramQuantiles(t(s, dir, "events"), "event_type", "value",
          width = 5.0, percents = Seq(50, 90, 99))
        .orderBy(col("event_type"), col("pct"))
    },
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type, bucket,
        |         CAST(SUM(n) OVER (PARTITION BY event_type
        |                           ORDER BY bucket) AS BIGINT) AS cum,
        |         CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM h
        |)
        |SELECT event_type, CAST(pct AS BIGINT) AS pct,
        |       MIN(bucket) AS q_bucket
        |FROM c CROSS JOIN (VALUES (50), (90), (99)) p(pct)
        |WHERE cum >= GREATEST(1, (total * pct + 99) // 100)
        |GROUP BY 1, 2 ORDER BY event_type, pct""".stripMargin),

    // last-touch attribution: credit each purchase to the user's most
    // recent click in the prior 24 h — one RANGE window, winner by
    // order-insensitive integer max, unattributed purchases keep NULLs.
    Entry("q107_attribution", (s, dir) => {
      Funnel.lastTouchAttribution(t(s, dir, "events"), "user_id",
          "event_type", "event_id", "ts",
          touchType = "click", convType = "purchase", windowSecs = 86400L)
        .orderBy(col("conv_id"))
    },
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events
        |), k AS (
        |  SELECT *,
        |         MAX(CASE WHEN event_type = 'click'
        |                  THEN ts_sec * 1000000000 + event_id END)
        |           OVER (PARTITION BY user_id ORDER BY ts_sec
        |                 RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS tk
        |  FROM e
        |)
        |SELECT user_id, event_id AS conv_id, ts_sec AS conv_ts_sec,
        |       tk % 1000000000 AS touch_id,
        |       tk // 1000000000 AS touch_ts_sec,
        |       ts_sec - tk // 1000000000 AS secs_since_touch
        |FROM k WHERE event_type = 'purchase' ORDER BY conv_id""".stripMargin),

    // lag/lead offset windows: per-user deltas between consecutive
    // events (previous-value diff, next event type, seconds since
    // previous) — both engines order on floor-of-second epoch with an
    // event_id tiebreak so neighbors agree exactly.
    Entry("q69_events_lag_lead", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"), col("event_id"))
      val dval = col("value").cast(DecimalType(18, 4))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        (dval - lag(dval, 1).over(w)).cast("double").as("value_delta"),
        lead(col("event_type"), 1).over(w).as("next_event_type"),
        (col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(w))
          .as("secs_since_prev"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id,
        |       CAST(CAST(value AS DECIMAL(18,4))
        |            - lag(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_delta,
        |       lead(event_type) OVER w AS next_event_type,
        |       CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |         - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER w AS secs_since_prev
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id)
        |ORDER BY event_id""".stripMargin),

    // as-of join: each event enriched with the user's most recent
    // purchase value at that time (inclusive, SQL ASOF semantics) —
    // union+LOCF window plan, one shuffle, no nested-loop range join.
    Entry("q41_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asofJoin(ev, purchases, "user_id", "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("asof_value"))
        .orderBy(col("event_id"))
    },
      """SELECT l.event_id, l.user_id, l.event_type, r.value AS asof_value
        |FROM events l
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        |) r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // JSON column extraction (F: semi-structured props field).
    Entry("q42_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("k"))
    },
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // MapType end-to-end: per-user map<event_type, count> built with
    // map_from_entries(collect_list(struct)), then read back via
    // size/element_at — map construction proven invisible against a
    // plain conditional-count oracle.
    Entry("q126_map_roundtrip", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("n"))))
          .as("m"))
        .select(col("user_id"), size(col("m")).cast("long").as("n_types"),
          element_at(col("m"), "purchase").as("purchase_n"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |       CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |            THEN CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |                 AS BIGINT)
        |            ELSE NULL END AS purchase_n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // VariantType (Spark 4): semi-structured props parsed ONCE into
    // the binary variant encoding, then typed field extraction with
    // variant_get — the open-schema path for event payloads whose
    // shape drifts (vs from_json's locked StructType). Extracted
    // values are BIGINTs; oracle = DuckDB's JSON extraction.
    Entry("q127_variant_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |         AS BIGINT) AS sum_k,
        |       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |         AS BIGINT) AS min_k,
        |       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |         AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // left-outer interval join: every click kept — per-user conversion
    // coverage where unmatched clicks feed the denominator (the inner
    // q48 never sees them). Streaming twin:
    // EventStreams.intervalJoinLeftOuterStreaming (spec-gated).
    Entry("q123_interval_left_outer", (s, dir) => {
      val ev = t(s, dir, "events")
      EventStreams.intervalJoinLeftOuter(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"), "1 HOUR")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("r_ts").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          dsum4(col("r_value")).as("purchase_value"))
        .orderBy(col("user_id"))
    },
      """SELECT l.user_id, COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN r.ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_matched,
        |       CAST(SUM(CAST(r.value AS DECIMAL(18,4))) AS DOUBLE) AS purchase_value
        |FROM events l
        |LEFT OUTER JOIN events r ON l.user_id = r.user_id
        |  AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |WHERE l.event_type = 'click'
        |GROUP BY l.user_id ORDER BY l.user_id""".stripMargin),

    // time-bounded (interval) join: each event paired with the same
    // user's purchases in the preceding hour (stream-stream joinable —
    // see EventStreams.intervalJoinStreaming).
    Entry("q48_interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      EventStreams.intervalJoin(ev.filter(col("event_type") === "click"), purchases, "1 HOUR")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), dsum4(col("r_value")).as("purchase_value"))
        .orderBy(col("user_id"))
    },
      """SELECT l.user_id, COUNT(*) AS n_pairs,
        |       CAST(SUM(CAST(r.value AS DECIMAL(18,4))) AS DOUBLE) AS purchase_value
        |FROM events l
        |JOIN events r ON l.user_id = r.user_id
        |  AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |WHERE l.event_type = 'click'
        |GROUP BY l.user_id ORDER BY l.user_id""".stripMargin),

    // pivot: per-user event counts spread across event-type columns.
    Entry("q51_pivot", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |       COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // first-order event transitions (Markov view): what follows what,
    // per user sequence — one LAG window + a count over the tiny
    // (from, to) matrix. Σ n reconciles to the event count via the
    // synthetic "(start)" state.
    Entry("q132_event_transitions", (s, dir) => {
      Funnel.transitions(t(s, dir, "events"), "user_id", "ts", "event_id",
          "event_type")
        .orderBy(col("from_type"), col("to_type"))
    },
      // q132: LAG over the same (ts, event_id) ordering — engine-
      // independent even on tied timestamps.
      """SELECT COALESCE(prev, '(start)') AS from_type,
        |       event_type AS to_type, COUNT(*) AS n
        |FROM (SELECT event_type,
        |             LAG(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS prev
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin),

    // composition drift over time: daily event-type ppm shares and the
    // signed day-over-day delta — the continuous-monitoring form of
    // q130 (which compares two static snapshots). All integer floor
    // division; first day's delta is NULL on both engines.
    Entry("q137_events_type_drift", (s, dir) => {
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val wDay = Window.partitionBy(col("day"))
      val wSeries = Window.partitionBy(col("event_type")).orderBy(col("day"))
      t(s, dir, "events")
        .select(day.as("day"), col("event_type"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("day_total", sum(col("n")).over(wDay))
        .withColumn("ppm", expr("CAST((n * 1000000L) DIV day_total AS BIGINT)"))
        .withColumn("delta_ppm", col("ppm") - lag(col("ppm"), 1).over(wSeries))
        .select(col("day"), col("event_type"), col("n"), col("ppm"),
          col("delta_ppm"))
        .orderBy(col("day"), col("event_type"))
    },
      // q137: same integer ppm shares as q130, LAG'd per type across days.
      """WITH c AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT day, event_type, n,
        |         CAST(n * 1000000 // SUM(n) OVER (PARTITION BY day) AS BIGINT)
        |           AS ppm
        |  FROM c
        |)
        |SELECT day, event_type, n, ppm,
        |       ppm - LAG(ppm) OVER (PARTITION BY event_type ORDER BY day)
        |         AS delta_ppm
        |FROM s ORDER BY day, event_type""".stripMargin),

    // robust anomaly detection: median-absolute-deviation screen over
    // daily event-type volumes — the ops-monitoring twin of the
    // z-score screen (q100), immune to the outliers it hunts. The
    // rational medians are carried SCALED to integers (med2 = 2·median
    // of ints, mad4 = 4·MAD — exact in both engines since interpolated
    // medians are half-/quarter-integers), and the 3σ-equivalent test
    // |n−med| > 3·MAD is cross-multiplied to 2·dev2 > 3·mad4 — zero
    // IEEE comparisons anywhere near a boundary.
    Entry("q138_events_anomaly_mad", (s, dir) => {
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val daily = t(s, dir, "events")
        .groupBy(day.as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val med = daily.groupBy(col("event_type"))
        .agg(expr("CAST(2 * percentile(n, 0.5D) AS BIGINT)").as("med2"))
      val withDev = daily.join(broadcast(med), Seq("event_type"))
        .withColumn("dev2", abs(col("n") * 2 - col("med2")))
      val mad = withDev.groupBy(col("event_type"))
        .agg(expr("CAST(2 * percentile(dev2, 0.5D) AS BIGINT)").as("mad4"))
      withDev.join(broadcast(mad), Seq("event_type"))
        .select(col("day"), col("event_type"), col("n"), col("dev2"),
          col("mad4"),
          when(col("dev2") * 2 > col("mad4") * 3, 1L).otherwise(0L)
            .as("is_anomaly"))
        .orderBy(col("day"), col("event_type"))
    },
      // q138: interpolated medians of integers are half-integers (exact
      // doubles); scaling to med2/mad4 BIGINTs before anything is
      // compared or hashed keeps both engines bit-identical.
      """WITH c AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(2 * quantile_cont(n, 0.5) AS BIGINT) AS med2
        |  FROM c GROUP BY 1
        |), d AS (
        |  SELECT c.day, c.event_type, c.n,
        |         CAST(abs(2 * c.n - m.med2) AS BIGINT) AS dev2
        |  FROM c JOIN m USING (event_type)
        |), md AS (
        |  SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        |  FROM d GROUP BY 1
        |)
        |SELECT d.day, d.event_type, d.n, d.dev2, md.mad4,
        |       CAST(CASE WHEN 2 * d.dev2 > 3 * md.mad4 THEN 1 ELSE 0 END
        |         AS BIGINT) AS is_anomaly
        |FROM d JOIN md USING (event_type)
        |ORDER BY day, event_type""".stripMargin),

    // sequence/path mining: the global top-10 3-step behavior paths —
    // per-user ordered event-type trigrams via two LAGs (the q132
    // transition matrix extended one step), then one count and a
    // deterministic (n desc, path) top-k.
    Entry("q140_events_paths", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(
          lag(col("event_type"), 2).over(w).as("s0"),
          lag(col("event_type"), 1).over(w).as("s1"),
          col("event_type").as("s2"))
        .filter(col("s0").isNotNull)
        .select(concat_ws(">", col("s0"), col("s1"), col("s2")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    },
      // q140: two LAGs over the same engine-independent (ts, event_id)
      // ordering as q132.
      """SELECT path, n FROM (
        |  SELECT s0 || '>' || s1 || '>' || s2 AS path,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT LAG(event_type, 2) OVER w AS s0,
        |           LAG(event_type, 1) OVER w AS s1,
        |           event_type AS s2
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  )
        |  WHERE s0 IS NOT NULL
        |  GROUP BY 1
        |  ORDER BY n DESC, path LIMIT 10
        |) t ORDER BY n DESC, path""".stripMargin),

    // null-safe equality join (<=>): NULL keys MATCH each other — the
    // semantics dedup on nullable keys needs (a plain equi-join
    // silently drops every NULL-keyed row into the void via 3VL).
    // Gap-filled sparse values (click rows carry NULL) joined
    // null-safely against a per-user reference; the NULL bucket rows
    // survive with a match where = would discard them.
    Entry("q145_null_safe_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val sparse = ev.select(col("user_id"), col("event_id"),
        when(col("event_type") =!= "click",
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("v_cents"))
      val refValues = sparse.groupBy(col("user_id").as("r_user"), col("v_cents").as("r_v"))
        .agg(count(lit(1)).as("n_ref"))
      sparse.join(refValues,
          col("user_id") === col("r_user") && col("v_cents") <=> col("r_v"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matched"),
          sum(when(col("v_cents").isNull, col("n_ref")).otherwise(0L))
            .as("null_bucket_weight"))
        .orderBy(col("user_id"))
    },
      // q145: IS NOT DISTINCT FROM is SQL's spelling of <=>.
      """WITH sparse AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_type <> 'click'
        |              THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END AS v_cents
        |  FROM events
        |), refv AS (
        |  SELECT user_id AS r_user, v_cents AS r_v,
        |         CAST(COUNT(*) AS BIGINT) AS n_ref
        |  FROM sparse GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN v_cents IS NULL THEN n_ref ELSE 0 END)
        |         AS BIGINT) AS null_bucket_weight
        |FROM sparse JOIN refv
        |  ON user_id = r_user AND v_cents IS NOT DISTINCT FROM r_v
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // unpivot (wide → long): the inverse of q51's pivot — per-user
    // event-type count columns melted back to (user, type, n) rows via
    // Spark's native unpivot operator; the round-trip discipline for
    // feature tables that must feed both BI (wide) and training (long).
    Entry("q146_unpivot", (s, dir) => {
      val wide = t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(
          ids = Array(col("user_id")),
          values = Array(col("click"), col("view"), col("purchase")),
          variableColumnName = "event_type",
          valueColumnName = "n")
        .filter(col("n") > 0)
        .orderBy(col("user_id"), col("event_type"))
    },
      // q146: melt the pivoted counts back to long form.
      """WITH wide AS (
        |  SELECT user_id,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
        |         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
        |           AS purchase
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, event_type, n FROM (
        |  SELECT user_id, 'click' AS event_type, click AS n FROM wide
        |  UNION ALL
        |  SELECT user_id, 'view', view FROM wide
        |  UNION ALL
        |  SELECT user_id, 'purchase', purchase FROM wide
        |)
        |WHERE n > 0
        |ORDER BY user_id, event_type""".stripMargin),

    // join-skew diagnosis: the report you run BEFORE deciding to salt
    // (q90) — top keys by row count with exact ppm share and the
    // integer ×100 ratio vs the mean key. All floor division.
    Entry("q149_skew_report", (s, dir) => {
      ScaleJoins.skewReport(t(s, dir, "events"), "user_id", topK = 10)
        .orderBy(col("n").desc, col("user_id"))
    },
      """WITH c AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
        |), s AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS total,
        |         CAST(COUNT(*) AS BIGINT) AS nkeys FROM c
        |)
        |SELECT user_id, n,
        |       CAST((n * 1000000) // total AS BIGINT) AS share_ppm,
        |       CAST((n * 100 * nkeys) // total AS BIGINT) AS vs_mean_x100
        |FROM c, s
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin),

    // as-of join with tolerance (kdb/pandas merge_asof semantics):
    // q41's enrichment, but a purchase older than 1 hour is too stale
    // to attribute — the match is masked back to null. The mask is a
    // post-window projection on the carried right time: zero extra
    // shuffles over the plain as-of join.
    Entry("q168_asof_tolerance", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asofJoin(ev, purchases, "user_id", "ts", "ts", Seq("value"),
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("asof_value"))
        .orderBy(col("event_id"))
    },
      // q168: native ASOF JOIN picks the same match as q41; the
      // tolerance is a post-mask on the matched time, exactly as the
      // engine applies it.
      """SELECT l.event_id, l.user_id, l.event_type,
        |       CASE WHEN r.ts >= l.ts - INTERVAL 1 HOUR THEN r.value END AS asof_value
        |FROM events l
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        |) r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),
  )
}
