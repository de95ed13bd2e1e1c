package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-stage funnel analysis over an event log: how many users
  * reached stage i, where stage i counts only events at-or-after the
  * moment stage i−1 was first reached (the standard product-analytics
  * semantics; stages are assumed to be distinct event types).
  *
  * Execution shape: stage i's reach set is `events ⋈ reached(i−1)` on
  * the user key followed by a min-timestamp aggregate — one hash
  * shuffle per stage on a monotonically SHRINKING user set, never a
  * per-user event sort, so a 3-stage funnel over 100 TB of events is
  * 3 bounded hash joins. The per-stage counts are exact BIGINTs and
  * the whole computation is SQL-expressible for the driver oracle.
  */
object Funnel {

  /** One row per stage: (stage, stage_idx, n_users).
    *
    * EAGER by design: each stage's reach set is cached, counted, and
    * unpersisted as soon as the next stage is built — a lazy union of
    * per-stage counts would embed reach-set i in k−i plan branches and
    * re-execute the whole upstream chain per stage (O(k²) scans of the
    * event log). The result is a k-row local frame.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(
      col(userCol).as("__user"), col(typeCol).as("__type"), col(tsCol).as("__ts"))
    var prev = Option.empty[DataFrame]
    val counts = stages.zipWithIndex.map { case (stage, i) =>
      val candidates = prev match {
        case None => base.filter(col("__type") === stage)
        case Some(p) =>
          base.filter(col("__type") === stage)
            .join(p.select(col("__user"), col("__t").as("__tprev")), Seq("__user"))
            .filter(col("__ts") >= col("__tprev"))
      }
      val reached = candidates.groupBy("__user")
        .agg(min(col("__ts")).as("__t")).cache()
      val n = reached.count()
      prev.foreach(_.unpersist())
      prev = Some(reached)
      (stage, i.toLong, n)
    }
    prev.foreach(_.unpersist())
    counts.toDF("stage", "stage_idx", "n_users").orderBy(col("stage_idx"))
  }

  /** Per-user funnel reach TIMES — one row per (user, stage reached):
    * the record-level view behind [[funnel]]'s counts, asserted equal
    * in spec to a per-user in-order progression reference (a stage
    * advances when it is the next one, at or after the previous
    * stage's time). Each stage's reach frame is
    * localCheckpoint-ed: it feeds both the next stage's join and the
    * result union, and without the boundary the lazy union re-executes
    * the whole upstream chain per stage (O(k²) event-log scans). The
    * output is user-cardinality-sized, so unlike [[funnel]] it stays
    * distributed.
    */
  def reachTimes(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String],
      checkpointDir: Option[String] = None): DataFrame = {
    require(stages.nonEmpty, "reachTimes needs at least one stage")
    // Stage-boundary materialization, same posture as
    // Dedup.connectedComponents: localCheckpoint locally (executor
    // block storage — an executor loss fails the job), or parquet
    // snapshots under `checkpointDir` on a real cluster. EVERY stage's
    // snapshot feeds the result union, so unlike the CC loop nothing
    // is deleted as we go — on failure everything this call wrote is
    // cleaned up; on success the caller owns the dir's lifetime (TTL).
    var written = List.empty[String]
    def materialize(df: DataFrame, i: Int): DataFrame = {
      checkpointDir.foreach(dir => written ::= s"$dir/stage-$i")
      DurableSnapshots.truncate(df, checkpointDir, s"stage-$i")
    }
    val base = events.select(
      col(userCol).as("user_id"), col(typeCol).as("__type"), col(tsCol).as("__ts"))
    try {
      var prev = Option.empty[DataFrame]
      val perStage = stages.zipWithIndex.map { case (stage, i) =>
        val candidates = prev match {
          case None => base.filter(col("__type") === stage)
          case Some(p) =>
            base.filter(col("__type") === stage)
              .join(p.select(col("user_id"), col("reach_ts").as("__tprev")), Seq("user_id"))
              .filter(col("__ts") >= col("__tprev"))
        }
        val reached = materialize(candidates.groupBy(col("user_id"))
          .agg(min(col("__ts")).as("reach_ts")), i)
        prev = Some(reached)
        reached.select(col("user_id"), lit(stage).as("stage"),
          lit(i.toLong).as("stage_idx"), col("reach_ts"))
      }
      perStage.reduce(_.unionByName(_))
    } catch {
      case e: Throwable =>
        written.foreach { p =>
          try DurableSnapshots.delete(events, p)
          catch { case _: Throwable => () }
        }
        throw e
    }
  }

  /** Retention cohorts: users grouped by the period of their first
    * event, counted in every later period they return. Periods are
    * integer divisions of epoch seconds (`period` long, e.g. 604800
    * for weeks) — no calendar arithmetic, engine-exact. Returns
    * (cohort_period, period_offset, n_users).
    *
    * Shape: one distinct over (user, period) — the activity matrix,
    * FAR smaller than the event log — then a per-user min and a
    * self-join on user. All shuffles carry (user, period) longs;
    * at 100 TB the event scan dominates and everything downstream is
    * user-cardinality-sized.
    */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
      period: Long): DataFrame = {
    require(period > 0, s"retentionCohorts: period must be positive, got $period")
    // FLOOR division, not Spark's truncate-toward-zero DIV: pre-1970
    // timestamps (negative epochs) must land in period -1, not merge
    // into period 0 — and DuckDB's // (the oracle) floors. Subtracting
    // the positive mod first makes the quotient exact for any sign.
    val activity = events.select(col(userCol).as("__user"),
        expr(s"(CAST($tsCol AS LONG) - pmod(CAST($tsCol AS LONG), $period)) DIV $period")
          .as("__period"))
      .distinct()
    val cohort = activity.groupBy(col("__user"))
      .agg(min(col("__period")).as("cohort_period"))
    activity.join(cohort, Seq("__user"))
      .groupBy(col("cohort_period"),
        (col("__period") - col("cohort_period")).as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_period"), col("period_offset"))
  }

  /** Last-touch attribution: for every conversion event, the most
    * recent preceding touch event by the same user within `windowSecs`
    * — "which click gets credit for this purchase". ONE event-time
    * RANGE window per user (the q64 trailing-feature shape): no
    * self-join, no per-user collect; the frame
    * `RANGE BETWEEN windowSecs PRECEDING AND CURRENT ROW` bounds state.
    * Conversions with no touch in the window keep a NULL touch id
    * (unattributed — the number marketing actually argues about).
    *
    * The winning touch is `max(ts·10^9 + id)` over the frame, NOT
    * `last(..., ignoreNulls)`: `last` reads the frame's physical tie
    * order, which is partition- and engine-dependent when two touches
    * share an epoch second, while `max` of the integer (ts, id)
    * encoding is order-insensitive — same answer on any engine, ties
    * broken by the larger id. Touch ids must therefore be < 10^9 and
    * non-negative (the encode would collide otherwise — checked).
    * A touch in the conversion's own second counts: the RANGE frame is
    * closed at the current row's ts on both engines.
    *
    * Returns one row per conversion: (userCol, conv_id, conv_ts_sec,
    * touch_id, touch_ts_sec, secs_since_touch).
    */
  def lastTouchAttribution(
      events: DataFrame, userCol: String, typeCol: String, idCol: String,
      tsCol: String, touchType: String, convType: String,
      windowSecs: Long): DataFrame = {
    require(windowSecs > 0, s"attribution window must be positive, got $windowSecs")
    val Encode = 1000000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol).cast("long"))
      .rangeBetween(-windowSecs, org.apache.spark.sql.expressions.Window.currentRow)
    // ANSI mode turns an out-of-domain id into a runtime error at the
    // encode multiply only for ts ≈ 2^63/10^9; guard ids explicitly so
    // a bad id column fails with a message instead of a wrong winner.
    val guardedId = when(col(idCol) >= 0 && col(idCol) < Encode, col(idCol))
      .otherwise(raise_error(concat(lit(s"lastTouchAttribution: $idCol out of [0, $Encode): "),
        col(idCol).cast("string"))))
    val touchKey = when(col(typeCol) === touchType,
      col(tsCol).cast("long") * Encode + guardedId)
    events
      .withColumn("__touch_key", max(touchKey).over(w))
      .filter(col(typeCol) === convType)
      .select(col(userCol), col(idCol).as("conv_id"),
        col(tsCol).cast("long").as("conv_ts_sec"),
        pmod(col("__touch_key"), lit(Encode)).as("touch_id"),
        // integer DIV, never `/`: the encoded key is ~1.7e18, past
        // double's 2^53 exact range, and the key is non-negative so
        // truncating DIV is floor
        expr(s"__touch_key DIV ${Encode}L").as("touch_ts_sec"))
      .withColumn("secs_since_touch", col("conv_ts_sec") - col("touch_ts_sec"))
  }

  /** First-order transition counts over each user's event sequence —
    * the Markov-chain view of behavior (what follows what) that feeds
    * next-action models and journey analysis. One LAG window per user
    * ordered by (ts, id) — the id tiebreak makes same-timestamp
    * ordering engine-independent — then a single count shuffle over
    * (from, to) pairs, whose cardinality is |event types|², not event
    * volume. A user's first event transitions from the synthetic
    * "(start)" state so row counts reconcile: Σ n = |events|.
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    events
      .withColumn("__from",
        coalesce(lag(col(typeCol), 1).over(w), lit("(start)")))
      .groupBy(col("__from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
  }
}
