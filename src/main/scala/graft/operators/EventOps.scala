package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time analytics over the `events` table — the batch semantics
  * that the Structured Streaming path (graft.streaming.EventStream)
  * shares. The reference has no streaming (SURVEY.md §2.9); these are
  * the deliberate scale extensions. Aggregations group on
  * (time bucket, type): one shuffle keyed by the group — at 100 TB the
  * bucket+type key is high-cardinality enough to spread, and partial
  * aggregation collapses rows map-side first.
  */
object EventOps {

  /** E1 tumbling window: hourly counts/sums per event type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** The lag+cumsum session derivation SHARED by [[sessionize]] and
    * [[overlapJoin]] (one implementation — the round-13 review found
    * two verbatim copies whose gap semantics, e.g. the
    * second-truncating unix_timestamp comparison, could silently
    * diverge): per user, a silence gap > `gapMinutes` starts a new
    * session. Adds `session_idx` (plus the `prev_ts`/`new_session`
    * intermediates) over one user_id shuffle. */
  private def withSessionIdx(events: DataFrame,
                             gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) >
            gapMinutes * 60L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** E2 sessionization: per user, a >30-min silence gap starts a new
    * session (classic lag+cumsum). One shuffle on user_id; the window
    * sort is per-user, so skew only if one user dominates. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIdx(events, gapMinutes)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"),
        (unix_timestamp(max(col("ts"))) -
          unix_timestamp(min(col("ts")))).as("duration_s"))
      .orderBy(col("user_id"), col("session_idx"))

  /** E3 sliding window (1h window, 30min slide) — each event lands in 2
    * buckets; expressed with the built-in `window()` generator. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  /** E6: range (interval) join — aggregate the events falling inside
    * each of a set of arbitrary time intervals (both bounds
    * inclusive, SQL `BETWEEN`). A thin adapter over the generalized
    * [[AsOf.rangeJoin]] interval-bucketing operator (one
    * implementation of the bucketed shape — see its scaladoc for the
    * scale argument), followed by the per-interval aggregation.
    *
    * `intervals`: (interval_id, start_ts, end_ts). */
  def rangeJoinCounts(events: DataFrame, intervals: DataFrame,
                      grainSeconds: Long = 3600L): DataFrame =
    AsOf.rangeJoin(events, "ts", intervals, "start_ts", "end_ts",
        struct(col("interval_id")), grainSeconds, endInclusive = true)
      .groupBy(col("range.interval_id").as("interval_id"))
      .agg(count(lit(1)).as("n_in_range"),
        round(sum(col("value")), 2).as("range_value"))
      .orderBy(col("interval_id"))

  /** Interval-OVERLAP join over per-user sessions — "which users were
    * active at the same time": pairs of sessions from DIFFERENT users
    * whose [start, end] intervals intersect, aggregated per user
    * pair. The third temporal-join shape next to as-of (e5/j15) and
    * point-in-range (e6/j16): here BOTH sides are intervals.
    *
    * The quadratic hazard is the join itself — intervals have no
    * equi-key, and a raw range-condition join plans as a cross
    * product. The scale shape is temporal BANDING (the standard
    * interval-join decomposition, same family as AsOf.rangeJoin's
    * grain bucketing): each session explodes to the hour buckets it
    * spans, candidate pairs equi-join on the bucket, the exact
    * overlap predicate filters inside the bucket, and a distinct
    * collapses pairs that co-occupy several buckets. Candidate work
    * is Σ_bucket |sessions in bucket|² — bounded by per-hour
    * concurrency, never |all sessions|². Overlap seconds are exact
    * integers (least/greatest on epoch seconds). */
  def overlapJoin(events: DataFrame, gapMinutes: Int = 30,
                  k: Int = 15,
                  maxPerBucket: Int = Int.MaxValue): DataFrame = {
    val sessions = withSessionIdx(events, gapMinutes)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val bandedAll = sessions.select(col("user_id"), col("session_idx"),
      col("s"), col("e"),
      explode(sequence(date_trunc("HOUR", col("s")),
        date_trunc("HOUR", col("e")), expr("interval 1 hour"))).as("hb"))
    // the escape hatch for buckets denser than the deployment's
    // quadratic budget (the d4 maxShingleFreq discipline transplanted
    // to the temporal grain): keep a DETERMINISTIC earliest-first
    // prefix of each hour bucket, so candidate work is bounded by
    // cap² per bucket no matter how hot the hour. Default ∞ — the
    // gated query keeps the exact pair contract; a capped run trades
    // recall in storm hours for a hard bound, which the caller opts
    // into explicitly.
    val banded =
      if (maxPerBucket == Int.MaxValue) bandedAll
      else bandedAll
        .withColumn("rk", row_number().over(Window.partitionBy("hb")
          .orderBy(col("s"), col("user_id"), col("session_idx"))))
        .filter(col("rk") <= maxPerBucket)
        .drop("rk")
    val lhs = banded.select(col("hb"), col("user_id").as("u1"),
      col("session_idx").as("i1"), col("s").as("s1"), col("e").as("e1"))
    val rhs = banded.select(col("hb"), col("user_id").as("u2"),
      col("session_idx").as("i2"), col("s").as("s2"), col("e").as("e2"))
    // the two sides differ only in column names, so the banded
    // self-join's exchanges are identical and the session window is
    // evaluated once (see [[Pairs.join]])
    val pairs = Pairs.join(lhs, rhs, Seq("hb"))
      .filter(col("u1") < col("u2") &&
        col("s1") <= col("e2") && col("s2") <= col("e1"))
      .select(col("u1"), col("i1"), col("u2"), col("i2"),
        (unix_timestamp(least(col("e1"), col("e2"))) -
          unix_timestamp(greatest(col("s1"), col("s2")))).as("ov_s"))
      .distinct()
    pairs.groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_overlaps"), sum(col("ov_s")).as("overlap_s"))
      .orderBy(col("overlap_s").desc, col("u1"), col("u2"))
      .limit(k)
  }

  /** E10: EQL sequence with maxspan — ES's Event Query Language
    * `sequence by user_id with maxspan=6h [signup][click][purchase]`:
    * users with the stages in strict time order where the WHOLE chain
    * fits inside the span (e7's funnel has no span bound). Match
    * rule: a final-stage event completes a sequence iff ANY valid
    * chain ends at it; existence is decided by the GREEDY-LATEST
    * chain (take the latest prior-stage event carrying a defined
    * start — monotone: a later stage-k event sees a superset of
    * stage-(k−1) history, so its carried start is never worse), which
    * turns the exists-a-chain triple join into stages−1 LINEAR window
    * passes per user. Ordering and the span bound compare exact
    * MICROSECONDS on both engines (strictly-before via a range frame
    * over unix_micros — peers at the same microsecond are excluded,
    * the oracle's strict `>` on epoch_us agrees). The oracle replays
    * the specification instead: the quadratic exists-triple join the
    * window formulation avoids at scale. */
  def eqlSequence(events: DataFrame, stages: Seq[String],
                  maxspanSeconds: Long): DataFrame = {
    require(stages.size >= 2)
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    var cur = events.filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("start0",
        when(col("event_type") === stages.head, col("us")))
    stages.indices.tail.foreach { i =>
      cur = cur
        .withColumn(s"start$i",
          when(col("event_type") === stages(i),
            last(when(col("event_type") === stages(i - 1),
              col(s"start${i - 1}")), ignoreNulls = true).over(w)))
    }
    val k = stages.size - 1
    cur.filter(col("event_type") === stages.last &&
        col(s"start$k").isNotNull &&
        col("us") - col(s"start$k") <= maxspanSeconds * 1000000L)
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_matches"))
      .select(lit(maxspanSeconds).as("maxspan_s"),
        col("n_users"), col("n_matches"))
  }

  /** E10b: the EQL sequence's per-match HITS — ES EQL returns the
    * matched event chains, not just counts ([[eqlSequence]] projects
    * only the (n_users, n_matches) summary). Same greedy-latest window
    * state, but each stage CARRIES ITS WHOLE PREFIX CHAIN as scalar
    * per-component columns: stage i inherits component j from the
    * latest stage-(i−1) event whose chain is defined. Chains are
    * all-or-nothing by induction (component 0 defined ⇔ every
    * component defined), so the per-component `last(..., ignoreNulls)`
    * windows all select the SAME row — the chain stays consistent
    * without carrying an array through window state, and the oracle
    * replays the identical scalar windows. Emits one row per matched
    * final-stage event: the user and every stage's exact-microsecond
    * timestamp. Still stages−1 linear window passes over one events
    * scan — the hits projection costs O(stages²) COLUMNS, not extra
    * shuffles. */
  def eqlHits(events: DataFrame, stages: Seq[String],
              maxspanSeconds: Long): DataFrame = {
    require(stages.size >= 2)
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    var cur = events.filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t0_0", when(col("event_type") === stages.head, col("us")))
    stages.indices.tail.foreach { i =>
      (0 until i).foreach { j =>
        cur = cur.withColumn(s"t${i}_$j",
          when(col("event_type") === stages(i),
            last(when(col("event_type") === stages(i - 1), col(s"t${i - 1}_$j")),
              ignoreNulls = true).over(w)))
      }
      cur = cur.withColumn(s"t${i}_$i",
        when(col("event_type") === stages(i) && col(s"t${i}_0").isNotNull,
          col("us")))
    }
    val k = stages.size - 1
    cur.filter(col("event_type") === stages.last &&
        col(s"t${k}_0").isNotNull &&
        col("us") - col(s"t${k}_0") <= maxspanSeconds * 1000000L)
      .select(col("user_id") +:
        stages.indices.map(j => col(s"t${k}_$j").as(s"t_${stages(j)}_us")): _*)
      .orderBy(col("user_id") +:
        stages.indices.map(j => col(s"t_${stages(j)}_us")): _*)
  }

  /** E9: cohort retention matrix — the product-analytics "of the
    * users first seen in week W, how many were active k weeks later"
    * triangle. Cohort = ISO week of a user's FIRST event; activity =
    * the distinct (user, week) grid; each activity row lands in its
    * cohort row at offset (week − cohort)/7 days — exact integers,
    * both engines truncate to the same Monday so the day difference
    * is always a multiple of 7. retention_bp joins the offset-0 row
    * back as the cohort size (offset 0 always exists: the first week
    * IS an active week).
    *
    * Scale shape: ONE events scan. The (user, week) distinct grid —
    * combiner-friendly, |users| × |weeks active|, far below raw
    * events — feeds a per-user min WINDOW (state = one user's active
    * weeks, never raw history) instead of a min-agg + self-join,
    * which would re-derive the grid from a second scan (the plan
    * audit caught exactly that); the (cohort, offset) matrix is
    * dictionary-sized, and the cohort-size lookup is a window over
    * IT, not another self-join. */
  def retention(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"), date_trunc("WEEK", col("ts")).as("wk"))
      .distinct()
    val matrix = weeks
      .withColumn("cohort_week",
        min(col("wk")).over(Window.partitionBy("user_id")))
      .select(col("cohort_week"),
        expr("datediff(wk, cohort_week) div 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    matrix
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0L, col("n_users")))
          .over(Window.partitionBy("cohort_week")))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        expr("n_users * 10000L div cohort_size").as("retention_bp"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** E5: AS-OF join — attach to every event the value of the most
    * recent purchase (ts ≤ event ts) by the same user; the canonical
    * time-series enrichment Spark has no native operator for. A thin
    * adapter over the generalized [[AsOf.asofLeft]] union-and-window
    * operator (one implementation of the shape; tie rule — dim
    * effective exactly AT the fact timestamp applies — and the
    * one-shuffle scale argument live in its scaladoc). Determinism:
    * purchases are pre-deduplicated to one value per (user, ts) with
    * `max_by` on the id. The oracle is DuckDB's NATIVE `ASOF LEFT
    * JOIN` — an independent implementation of the same semantics. */
  def asofJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(expr("max_by(value, event_id)").as("p_value"))
    AsOf.asofLeft(
        events.select(col("event_id"), col("user_id"), col("ts"),
          col("event_type")),
        purchases, "user_id", "ts", "ts",
        struct(col("p_value")))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        round(coalesce(col("asof.p_value"), lit(0.0)), 2)
          .as("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** E7 staged funnel: users who performed the stages IN ORDER, each
    * strictly after their earliest completion of the previous stage
    * (the product-analytics conversion funnel). Stage k is a
    * `groupBy(user).min(ts)` over the stage-k events joined to the
    * survivors of stage k−1 — per stage one filtered scan and one
    * shuffle on `user_id`, every stage co-partitioned with the last, no
    * window over whole user histories. Earliest-completion semantics
    * (min-ts, then strictly-later next stage) makes the funnel
    * deterministic under event-id ties and is replayed verbatim by the
    * oracle. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val byUser = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stage, _)) =>
        val evs = events.filter(col("event_type") === stage)
        Some(prev match {
          case None =>
            evs.groupBy(col("user_id")).agg(min(col("ts")).as("t"))
          case Some(p) =>
            evs.join(p.select(col("user_id"), col("t").as("t_prev")), "user_id")
              .filter(col("ts") > col("t_prev"))
              .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        })
    }.flatten
    byUser.zip(stages).zipWithIndex.map { case ((df, stage), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(s"${i + 1}_$stage").as("stage"), col("n_users"),
          lit(i).as("stage_idx"))
    }.reduce(_ unionByName _)
      // numeric stage order: the label prefix sorts lexicographically
      // ("10_" before "2_") once a funnel has ≥ 10 stages
      .orderBy(col("stage_idx"))
      .select(col("stage"), col("n_users"))
  }
}
