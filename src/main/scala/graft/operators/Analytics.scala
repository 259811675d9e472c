package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}

/** Behavioral / time-series analytics operators (SURVEY.md §2.18).
  *
  * The reference's one end-user artifact is a batch QA report over a
  * migrated event log (`/root/reference/src/azanium/pseudoace.py:113-124`);
  * these operators are the standard analytics surface a user of such an
  * event store expects next: sessionization, funnel conversion, SCD-2
  * history, gap-filled resampling, and value histograms. All five are
  * DuckDB-oracle-checked (hash match), window/aggregate compositions of
  * codegen'd built-ins — no UDFs anywhere.
  *
  * Scale posture (100 TB): every window here partitions by `user_id` (or
  * `user_id, event_type`) — high-cardinality keys, so no single task ever
  * sees more than one user's slice; the 30-day × per-user grids in ts1 are
  * generated WHERE THE USER'S ROW LIVES (explode after the per-user
  * bounds agg), never materialized driver-side.
  */
object Analytics extends QueryModule {

  /** 30 minutes in microseconds — the classic web-analytics session gap. */
  private val SessionGapUs = 1800000000L

  /** Shared by WIN-9 / TS-4: one session row per >30-min-gap-delimited run
    * of a user's events — see the win9 notes for the single-shuffle plan. */
  private def sessionSpans(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(min("ts_us").as("session_start_us"),
        max("ts_us").as("session_end_us"),
        count(lit(1)).as("n_events"))
  }

  /** Shared first stage of TS-1/TS-2: the per-user dense hourly grid left-
    * joined with each hour's last observed value (null on gap hours).
    * Columns: (user_id, hour_us, v). See ts1 notes for the scale story —
    * the grid explodes in-partition off the per-user bounds agg. */
  private def hourlyGridJoined(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val hourly = e
      .withColumn("hr", date_trunc("hour", col("event_ts")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "hr")
          // order by µs (ts div 1000) + event_id, NOT raw nanos: the DuckDB
          // oracle sorts µs-precision timestamps, so two same-µs events
          // differing only in nanos must tie-break identically on both sides
          .orderBy(expr("ts div 1000").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hr"), col("value").as("v"))
    val grid = e.groupBy("user_id")
      .agg(date_trunc("hour", min("event_ts")).as("h0"),
        date_trunc("hour", max("event_ts")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hr"))
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), unix_micros(col("hr")).as("hour_us"), col("v"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // WIN-9: batch sessionization — split each user's event stream into
    // sessions at >30-min inactivity gaps (the batch complement of
    // strm3_session's streaming session window). Two stacked windows over
    // the SAME (user_id | ts, event_id) partitioning = ONE shuffle + one
    // in-partition sort reused by both: lag() marks session starts,
    // running sum() numbers them, then a hash agg rolls sessions up.
    // user_id is high-cardinality at scale; no global sort anywhere.
    "win9_sessionize" -> ((s, d) =>
      sessionSpans(s, d).orderBy("user_id", "session_no")),

    // WIN-16: activity STREAKS (consecutive active days per user) — the
    // retention/SLA primitive (login streaks, uptime runs): distinct
    // (user, day) collapses the corpus to O(users × days); day − dense
    // day-rank is constant within a consecutive run (the gaps-and-islands
    // identity), so streaks fall out of ONE user-partitioned window plus
    // two hash aggs — no self-join, no recursion. Reports each user's
    // longest streak, its start day, and their total active days;
    // longest-streak ties break on the EARLIEST start (the agg3
    // struct-max with negated start).
    "win16_streaks" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"),
          expr("ts div 86400000000000").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"))
        .groupBy("user_id")
        .agg(max(struct(col("len"), (-col("start_day")).as("neg_start")))
            .as("best"),
          sum("len").as("active_days"))
        .select(col("user_id"), col("best.len").as("longest_streak"),
          (-col("best.neg_start")).as("streak_start_day"),
          col("active_days"))
        .orderBy("user_id")
    }),

    // WIN-10: ordered funnel conversion — how many users did
    // view → click (strictly after their first view) → purchase (strictly
    // after that click)? Each stage is a per-user min-ts aggregate joined
    // to the next stage's filtered scan; after the first groupBy all three
    // stages are partitioned by user_id, so the stage joins co-locate
    // (AQE broadcasts the shrinking per-user stage tables regardless —
    // each is ≤ one row per funnel survivor). Counts are exact ints: no
    // float protocol needed.
    "win10_funnel" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vt"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("vt"))
        .groupBy("user_id").agg(min("ts").as("ct"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("ct"))
        .groupBy("user_id").agg(min("ts").as("pt"))
      v.agg(count(lit(1)).as("users_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("users_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("users_purchased")))
    }),

    // AGG-18: equi-width histogram with data-derived bounds — the
    // profiling primitive prof1 lacks. Pass 1 computes (min, max) — a
    // footer-served aggregate under parquet aggregatePushdown; the 1-row
    // bounds table broadcasts onto pass 2's scan, so the whole histogram
    // is two metadata-cheap scans + one tiny final agg (20 groups), no
    // wide shuffle. Bucket arithmetic is the identical double expression
    // on both engines → bit-equal bucket ids; the max value lands in
    // bucket 20 and is clamped into 19 by least() (right-closed top
    // bucket), matching the oracle's LEAST.
    "agg18_histogram" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
      val bounds = li.agg(min("x").as("mn"), max("x").as("mx"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", least(
          floor((col("x") - col("mn")) * lit(20.0) / (col("mx") - col("mn"))),
          lit(19L)))
        .groupBy("bucket").agg(count(lit(1)).as("n_items"))
        .orderBy("bucket")
    }),

    // DIM-1: SCD Type-2 history build — the warehouse complement of
    // mig2's latest-wins: KEEP every attribute version with its validity
    // interval. Natural key (user_id, event_type); each event closes the
    // previous version (valid_to = next valid_from, half-open) and the
    // last one stays open (is_current). One window, one shuffle, keyed on
    // the high-cardinality natural key — lead() is a 1-row lookahead
    // within the sorted partition, no second scan. This is how a 100 TB
    // dimension table gets its history rebuilt from a change log.
    "dim1_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("valid_from_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value").as("attr_value"),
          expr("ts div 1000").as("valid_from_us"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
        .withColumn("is_current",
          when(col("valid_to_us").isNull, 1L).otherwise(0L))
        .orderBy("user_id", "event_type", "valid_from_us", "event_id")
    }),

    // TS-1: resample to an hourly grid + forward fill (gap fill with
    // last-observation-carried-forward) — the time-series primitive
    // behind dashboarding/feature-generation on irregular event streams.
    // Plan: (a) per-user hour bounds (one agg); (b) the dense grid is
    // sequence()+explode ON THE USER'S ROW — each user's grid rows are
    // born in the partition that already holds the user, nothing crosses
    // the driver; (c) last-event-per-hour via a (user, hour) row_number
    // pick (no value arithmetic → doubles pass through bit-exact);
    // (d) LOCF via last(ignoreNulls) over the user-partitioned hour
    // order. Grid size is bounded by user activity span — a user active
    // for a year adds 8.8k rows, independent of event count.
    "ts1_resample_ffill" -> ((s, d) =>
      hourlyGridJoined(s, d)
        .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(
          Window.partitionBy("user_id").orderBy(col("hour_us"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("hour_us"), col("v_ffill"))
        .orderBy("user_id", "hour_us")),

    // TS-2: linear interpolation over the same hourly grid — the gap-fill
    // for continuous signals where LOCF (ts1) is wrong. Anchors (previous /
    // next observed value + their hours) come from two mirror-image
    // ignoreNulls windows over the SAME user partitioning — Spark plans
    // both window groups over one exchange + two in-partition sorts; the
    // interpolation itself is identical double arithmetic on both engines,
    // rounded to 6 dp. Grid edges: null before the first anchor, LOCF
    // after the last.
    "ts2_interpolate" -> ((s, d) => {
      val wp = Window.partitionBy("user_id").orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id").orderBy("hour_us")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      hourlyGridJoined(s, d)
        .withColumn("vp", last(col("v"), ignoreNulls = true).over(wp))
        .withColumn("hp", last(when(col("v").isNotNull, col("hour_us")),
          ignoreNulls = true).over(wp))
        .withColumn("vn", first(col("v"), ignoreNulls = true).over(wf))
        .withColumn("hn", first(when(col("v").isNotNull, col("hour_us")),
          ignoreNulls = true).over(wf))
        .select(col("user_id"), col("hour_us"),
          // multiply-round protocol, NOT round(x, 6): whole-hour gaps make
          // the interpolant a /2^k rational, i.e. an exact 7-dp decimal
          // tie that a binary double sits one ulp BELOW. Spark's round(x,6)
          // rounds the double's shortest decimal string (ties lost, rounds
          // down); DuckDB rounds x*1e6 (the multiply re-snaps the tie to
          // .5, rounds up). round(x*1e6)/1e6 makes both engines take the
          // second path bit-identically.
          (round(
            when(col("vp").isNull, lit(null))
              .when(col("vn").isNull, col("vp"))
              .when(col("hn") === col("hp"), col("vp"))
              .otherwise(col("vp") + (col("vn") - col("vp")) *
                ((col("hour_us") - col("hp")).cast("double") /
                  (col("hn") - col("hp")))) * lit(1e6)) / lit(1e6))
            .as("v_interp"))
        .orderBy("user_id", "hour_us")
    }),

    // TS-3: z-score outlier detection per event_type — the screening gate
    // a metrics pipeline runs before training on telemetry. Moments ride
    // DECIMAL partial sums (order-proof, bit-identical to the oracle),
    // μ/σ derive in double with the exact oracle expression shape, and the
    // 5-row stats table broadcasts back onto the scan — one agg + one
    // broadcast join at any scale, the filter runs codegen'd per row.
    // |z| > 3 filters BEFORE rounding on both engines (same doubles → same
    // boundary decisions).
    // DIM-2: point-in-time (as-of) feature join — for every purchase, the
    // click value that was valid AT that moment (feature-store training-
    // data correctness: joining the CURRENT value leaks the future). NOT a
    // range join: anchors and probes union into one stream, ONE shuffle on
    // user_id, and last(ignoreNulls) carries the newest anchor value
    // forward within the sorted partition — the sorted-merge as-of join,
    // O(n log n) in-partition with zero fan-out, hot users safe. At equal
    // timestamps anchors sort before probes (src 0 < 1), so "at or
    // before" includes ties, matching the oracle's <=.
    "dim2_pit_join" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val anchors = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), lit(0).as("src"),
          col("event_id"), col("value").as("anchor_value"))
      val probes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), lit(1).as("src"),
          col("event_id"), lit(null).cast("double").as("anchor_value"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("src"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      anchors.unionByName(probes)
        .withColumn("feature_value",
          last(col("anchor_value"), ignoreNulls = true).over(w))
        .filter(col("src") === 1)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("feature_value"))
        .orderBy("event_id")
    }),

    // DIM-2b: as-of in ALL THREE directions (pandas merge_asof's
    // backward / forward / nearest) in ONE pass — each purchase probe
    // gets the latest priced click at-or-before, the earliest at-or-after,
    // and whichever is closer (ties → backward, merge_asof's rule). Same
    // sorted-merge shape as dim2 (union + last(ignoreNulls) carry): both
    // windows partition by user_id, so ONE exchange serves two in-partition
    // sorts (asc for backward, desc for forward) — no fan-out, hot users
    // safe. Anchor value and anchor ts ride the same carry, so the
    // (value, ts) pair always comes from the SAME anchor row; anchors
    // with NULL value are excluded up front (declared: latest PRICED
    // anchor) to keep the pair consistent.
    "dim2b_pit_directions" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val anchors = e
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), col("ts_us"), lit(0).as("src"),
          col("event_id"), col("value").as("a_val"),
          col("ts_us").as("a_ts"))
      val probes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), lit(1).as("src"),
          col("event_id"), lit(null).cast("double").as("a_val"),
          lit(null).cast("long").as("a_ts"))
      // src 0 < 1 puts anchors before probes at EQUAL ts in both
      // traversals, so at-or-before and at-or-after both include ties
      val wb = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("src"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("src"), col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      anchors.unionByName(probes)
        .withColumn("b_val", last(col("a_val"), ignoreNulls = true).over(wb))
        .withColumn("b_ts", last(col("a_ts"), ignoreNulls = true).over(wb))
        .withColumn("f_val", last(col("a_val"), ignoreNulls = true).over(wf))
        .withColumn("f_ts", last(col("a_ts"), ignoreNulls = true).over(wf))
        .filter(col("src") === 1)
        .withColumn("nearest_val",
          when(col("b_ts").isNull, col("f_val"))
            .when(col("f_ts").isNull, col("b_val"))
            .when(col("f_ts") - col("ts_us") < col("ts_us") - col("b_ts"),
              col("f_val"))
            .otherwise(col("b_val")))
        .select("event_id", "user_id", "ts_us", "b_val", "f_val",
          "nearest_val")
        .orderBy("event_id")
    }),

    // TS-4: peak concurrent sessions per day — the interval-overlap
    // maximum, computed WITHOUT a global-sort window: session spans emit
    // ±1 deltas; a per-hour-bucket window computes local running sums
    // (high-cardinality partitioning), then per-bucket totals prefix-sum
    // into carry-in offsets — that second window runs over O(buckets)
    // rows (one per hour), not O(events), so the only single-partition
    // stage is metadata-sized at any scale. local + offset == the naive
    // global running sum exactly (ties can't straddle buckets); the
    // oracle computes the naive version and the hashes must agree.
    "ts4_peak_concurrency" -> ((s, d) => {
      val sess = sessionSpans(s, d)
      val deltas = sess
        .select(col("session_start_us").as("ts_us"), lit(1L).as("delta"))
        .unionByName(sess
          .select(col("session_end_us").as("ts_us"), lit(-1L).as("delta")))
        .withColumn("bucket", expr("ts_us div 3600000000"))
      val wLocal = Window.partitionBy("bucket")
        .orderBy(col("ts_us"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = deltas.groupBy("bucket").agg(sum("delta").as("btot"))
        .withColumn("offset", coalesce(
          sum("btot").over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "offset")
      deltas.withColumn("local_sum", sum("delta").over(wLocal))
        .join(broadcast(offsets), "bucket")
        .withColumn("conc", col("local_sum") + col("offset"))
        .groupBy(date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd")
          .as("day"))
        .agg(max("conc").as("peak_concurrency"))
        .orderBy("day")
    }),

    // TS-7: EWMA — exponentially weighted moving average per user,
    //   y_i = α·x_i + (1−α)·y_{i−1}
    // The one TS shape that is ORDER-RECURSIVE: no SQL window expresses it
    // (no recursive frames; the closed form Σ α(1−α)^{n−i}x_i needs
    // (1−α)^{−i} factors that overflow past a few hundred rows).
    // HASH-MATCHES a WITH RECURSIVE DuckDB oracle (VERDICT r10 #4 —
    // promoted from spec-only): IEEE double mult/add are exactly
    // specified, so identical constants applied in identical order give
    // bit-identical trajectories; the oracle spells (1 − 0.3) as the same
    // double subtraction this code runs (a DECIMAL-folded 0.7 literal
    // would differ in the last ulp and compound through the recursion).
    // EwmaSpec still pins the scalar-reference golden.
    // Execution is the idiomatic Spark shape for per-key sequential state:
    // groupByKey + flatMapSortedGroups = ONE exchange on user_id with a
    // SECONDARY SORT on (ts, event_id) inside it, then a streaming O(1)-
    // state fold over each group's iterator — no collect_list buffering,
    // no per-group memory proportional to history, scales to any group
    // size. Tie-break µs+event_id per the oracle-parity protocol.
    "ts7_ewma" -> ((s, d) => {
      import s.implicits._
      val alpha = 0.3
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .as[(Long, Long, Long, Double)]
      e.groupByKey(_._1)
        .flatMapSortedGroups($"ts_us", $"event_id") { (uid, rows) =>
          var y = Double.NaN
          rows.map { case (_, eid, tsUs, v) =>
            y = if (y.isNaN) v else alpha * v + (1 - alpha) * y
            (uid, eid, tsUs, y)
          }
        }
        .toDF("user_id", "event_id", "ts_us", "ewma")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // WIN-11: cumulative distinct users by day — the "total uniques over
    // time" dashboard line. COUNT(DISTINCT) OVER a growing frame is not
    // directly plannable (and would be quadratic anyway); the standard
    // reformulation: a user contributes exactly once, on their FIRST day —
    // so cumulative uniques = running sum of first-day counts. Two
    // map-side-combined aggs; the running-sum window spans O(days) rows
    // (metadata-sized — the ts4 justification for its single partition).
    "win11_cumulative_uniques" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(date_format(col("event_ts"), "yyyy-MM-dd")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users", sum("new_users").over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    }),

    // WIN-12: weekly cohort retention — the activation/churn triangle:
    // users grouped by first-active week, counted in each later week they
    // return. (user, week) distinct pairs are the only shuffle payload
    // (8+8 bytes); the cohort table joins back on user_id co-partitioned
    // with the pairs. Epoch-week ints keep the bucketing engine-agnostic.
    "win12_cohort_retention" -> ((s, d) => {
      val wk = Tables.events(s, d)
        .select(col("user_id"),
          expr("(ts div 1000) div 604800000000").as("week"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(min("week").as("cohort_week"))
      wk.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // TS-6: winsorization — clamp each value into its type's [p05, p95]
    // band, the training-data normalization that keeps outliers in the set
    // (unlike ts3/ts5 which flag/drop them). Exact interpolated band
    // edges (percentile == quantile_cont, agg10 parity) broadcast back;
    // the clamp is least/greatest — output doubles are either the
    // original bits or the band edge, so no rounding protocol is needed.
    // Scale note: exact percentile() buffers O(group rows) — at 100 TB
    // swap the band-edge agg for agg15's GK sketch (same plan shape,
    // bounded state); the clamp pass is unchanged.
    "ts6_winsorize" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select("event_id", "event_type", "value")
      val band = e.groupBy("event_type").agg(
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
      e.join(broadcast(band), "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi")).as("value_w"))
        .orderBy("event_id")
    }),

    // PLAN-1 / WIN-13: group-wise top-k through the custom physical
    // operator (graft.plans.TopKPerGroup — LogicalPlan + Strategy +
    // SparkPlan pair via SparkSessionExtensions). Top-3 events by value
    // per user, ties broken by event_id: orderCol = struct(-value, id)
    // (k-smallest under the struct's total order == value desc, id asc).
    // No sort anywhere — bounded heaps, map-side pruned to ≤k rows per
    // (group, partition) before the single exchange; the window-based
    // oracle certifies identical semantics.
    "win13_topk_native" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"))
      graft.plans.TopK.perGroup(e, Seq("user_id"),
          struct(-e("value"), e("event_id")), k = 3)
        .orderBy(col("user_id"), col("value").desc, col("event_id"))
    }),

    // AGG-20: market-basket co-purchase pairs — which parts ship together?
    // r22 (guide §2.4): [[PairExpansion]] over each order's DISTINCT part
    // set — ONE exchange groups the baskets, the a<b pairs expand LOCALLY,
    // replacing the former basket self-join that scanned and
    // dedup-shuffled lineitem TWICE just to rediscover basket membership.
    // Fan-out per order is still basket² (small and bounded — max 13
    // here) and lands in the task owning the order; pair counts are
    // map-side-combined before the only remaining exchange; top-20 =
    // TakeOrderedAndProject. A pathological mega-basket at 100 TB caps
    // its own array at basket size; a df-cap like llm2b's would drop it
    // outright if policy allows.
    "agg20_copurchase_pairs" -> ((s, d) =>
      PairExpansion.counts(Tables.lineitem(s, d), col("l_orderkey"),
          col("l_partkey"), asSet = true, directed = false, dfCap = None)
        .toDF("part_a", "part_b", "n_orders")
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)),

    // TS-5: MAD robust outliers — median absolute deviation replaces ts3's
    // μ/σ so the gate itself can't be dragged by the outliers it hunts
    // (breakdown point 50% vs 0%). Exact interpolated medians via
    // percentile() (== DuckDB quantile_cont, the agg10 parity); the 5-row
    // median/MAD tables broadcast back; deviations computed once and
    // checkpointed (two consumers). 1.4826 scales MAD to σ under
    // normality; |z|>3.5 filters pre-rounding, multiply-round protocol on
    // the output (ts2 lesson). Scale note: exact medians buffer O(group
    // rows) — at 100 TB both median aggs swap for agg15's GK sketch
    // (bounded state, same two-pass shape).
    "ts5_mad_outliers" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select("event_id", "event_type", "value")
      val med = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
        .localCheckpoint()
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .withColumn("rz", (col("value") - col("med")) /
          (lit(1.4826) * col("mad")))
        .filter(abs(col("rz")) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          (round(col("rz") * lit(1e6)) / lit(1e6)).as("robust_z"))
        .orderBy("event_id")
    }),

    // TS-8: classical seasonal decomposition (moving-average STL-lite) of
    // the global hourly series: y = trend + seasonal + resid, trend a
    // centered 25-hour moving average, seasonal the mean detrended value
    // per hour-of-day. Plan: ONE full scan (partial+final hash agg to
    // O(hours) rows); both windows then run over the metadata-sized hourly
    // table — the global ORDER BY window is single-partition over O(hours)
    // rows, the ts4 precedent (at 100 TB the series length is unchanged:
    // hours, not events). Parity: hourly sums are exact decimals; trend /
    // seasonal divide exact decimal window sums by exact counts (segment-
    // tree vs sequential window order cannot flip a ulp on decimals);
    // multiply-round protocol on the output.
    "ts8_seasonal_decompose" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("hour_idx"))
        .agg(sum(col("value").cast("decimal(28,12)")).as("y_dec"))
      val w = Window.orderBy("hour_idx").rowsBetween(-12, 12)
      val t = hourly.select(col("hour_idx"),
        col("y_dec").cast("double").as("y"),
        (sum("y_dec").over(w).cast("double") /
          count(lit(1)).over(w).cast("double")).as("trend"))
      val det = t
        .withColumn("detr", col("y") - col("trend"))
        .withColumn("hod", col("hour_idx") % 24)
      val wh = Window.partitionBy("hod")
      det
        .withColumn("seasonal",
          sum(col("detr").cast("decimal(28,12)")).over(wh).cast("double") /
            count(lit(1)).over(wh).cast("double"))
        .select(col("hour_idx"),
          (round(col("y") * lit(1000000.0)) / lit(1000000.0)).as("y"),
          (round(col("trend") * lit(1000000.0)) / lit(1000000.0)).as("trend"),
          (round(col("seasonal") * lit(1000000.0)) / lit(1000000.0))
            .as("seasonal"),
          (round((col("detr") - col("seasonal")) * lit(1000000.0)) /
            lit(1000000.0)).as("resid"))
        .orderBy("hour_idx")
    }),

    // TS-15: SEASONALLY-ADJUSTED anomaly detection — ts3/ts5 on raw
    // values flag every daily peak as an outlier; the right test runs
    // ts5's robust-z on ts8's RESIDUAL (y − trend − seasonal), where only
    // genuinely anomalous hours survive. Composition: ts8's decomposition
    // (unrounded residual) → global median / MAD (exact interpolated
    // percentile over the O(hours) series, the ts5 protocol) → |rz| > 3.
    // All post-rollup work is metadata-sized; the one full scan is the
    // hourly agg.
    "ts15_seasonal_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("hour_idx"))
        .agg(sum(col("value").cast("decimal(28,12)")).as("y_dec"))
      val w = Window.orderBy("hour_idx").rowsBetween(-12, 12)
      val t = hourly.select(col("hour_idx"),
        col("y_dec").cast("double").as("y"),
        (sum("y_dec").over(w).cast("double") /
          count(lit(1)).over(w).cast("double")).as("trend"))
      val det = t
        .withColumn("detr", col("y") - col("trend"))
        .withColumn("hod", col("hour_idx") % 24)
      val wh = Window.partitionBy("hod")
      val base = det
        .withColumn("seasonal",
          sum(col("detr").cast("decimal(28,12)")).over(wh).cast("double") /
            count(lit(1)).over(wh).cast("double"))
        .select(col("hour_idx"),
          (col("detr") - col("seasonal")).as("resid"))
        .localCheckpoint() // feeds med, mad, and the flag pass
      val med = base.agg(expr("percentile(resid, 0.5)").as("med"))
      val dev = base.crossJoin(broadcast(med))
        .withColumn("adev", abs(col("resid") - col("med")))
        .localCheckpoint()
      val mad = dev.agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.crossJoin(broadcast(mad))
        .withColumn("rz", (col("resid") - col("med")) /
          (lit(1.4826) * col("mad")))
        .filter(abs(col("rz")) > 3.0)
        .select(col("hour_idx"),
          (round(col("resid") * lit(1000000.0)) / lit(1000000.0))
            .as("resid"),
          (round(col("rz") * lit(1000000.0)) / lit(1000000.0)).as("rz"))
        .orderBy("hour_idx")
    }),

    // ER-1: blocked fuzzy entity matching over the part-name dictionary —
    // the record-linkage primitive (Fellegi–Sunter blocking + edit
    // distance). The scale-correct shape: resolve the DISTINCT-name
    // dictionary (64 names at sf0.01, ~constant in data size — dictionaries
    // grow sublinearly), not the 100 TB fact table; the resulting match map
    // broadcasts back onto facts for canonicalization. Blocking key = the
    // name's noun (last token): candidate pairs shrink from |names|² to
    // Σ block², and the codegen'd native `levenshtein` runs only inside
    // blocks. Output: cross-name match pairs at edit distance 1–3 with each
    // name's part count (the evidence weight), totally ordered.
    "er1_fuzzy_match" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("blk", substring_index(col("name"), " ", -1))
      val a = names.select(col("blk"), col("name").as("name_a"),
        col("n_parts").as("n_a"))
      val b = names.select(col("blk"), col("name").as("name_b"),
        col("n_parts").as("n_b"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        // thresholded variant: the DP early-exits once a row of the edit
        // matrix exceeds 3 (returns -1 past the bound) — at 100 TB the
        // candidate pairs dominate, so capping per-pair work matters more
        // than the blocked count
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 3))
        .filter(col("dist").between(1, 3))
        .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"),
          col("n_a"), col("n_b"))
        .orderBy("name_a", "name_b")
    }),

    // ER-4: blocking-key QUALITY profile — the pre-flight every linkage
    // run needs before paying for er1/er3: does the blocking key balance
    // (no block should dominate — pair work is Σ block², so one giant
    // block is the whole cost), and how much does it prune (candidate
    // pairs vs the |names|² cross)? One hash agg to block sizes (O(blocks)
    // rows), then a 1-row rollup with the exact pair arithmetic; reduction
    // is integer ppm (the graft float protocol). The same report drives
    // choosing between last-token / phonetic / multi-key blocking at
    // 100 TB — measured, not guessed.
    "er4_blocking_profile" -> ((s, d) => {
      val blocks = Tables.part(s, d)
        .select(col("p_name")).distinct()
        .withColumn("blk", substring_index(col("p_name"), " ", -1))
        .groupBy("blk").agg(count(lit(1)).as("bn"))
      blocks.agg(
          count(lit(1)).as("n_blocks"),
          sum("bn").as("n_names"),
          max("bn").as("max_block"),
          sum(expr("bn * (bn - 1) DIV 2")).as("cand_pairs"))
        .select(col("n_blocks"), col("n_names"), col("max_block"),
          col("cand_pairs"),
          expr("cand_pairs * 1000000 DIV (n_names * (n_names - 1) DIV 2)")
            .as("reduction_ppm"))
    }),

    // ER-3: ranked fuzzy matching by JARO-WINKLER score — er1 thresholds
    // edit DISTANCE (cheap binary gate); this ranks by the [0,1] prefix-
    // weighted SIMILARITY census-style linkage actually orders by
    // (Winkler 1990). jaro_winkler is EXPR-6, a native codegen'd
    // expression (functions/StringSimilarity.scala) semantics-matched to
    // DuckDB's jaro_winkler_similarity so the oracle is an exact hash
    // check at round-6; same dictionary+blocking discipline as er1, score
    // floor 0.93 inside blocks, top pairs per block ordered globally.
    "er3_jaro_rank" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("blk", substring_index(col("name"), " ", -1))
      val a = names.select(col("blk"), col("name").as("name_a"))
      val b = names.select(col("blk"), col("name").as("name_b"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw",
          expr("jaro_winkler(name_a, name_b)"))
        .filter(col("jw") >= 0.93)
        .select(col("name_a"), col("name_b"), round(col("jw"), 6).as("jw"))
        .orderBy(col("jw").desc, col("name_a"), col("name_b"))
    }),

    // ER-2: entity clusters — the step after er1's pairwise matching:
    // matched name pairs merge into ENTITIES by transitive closure
    // (a~b, b~c ⇒ {a,b,c}), then each cluster elects its lexicographic-min
    // name as canonical — the survivorship step of every record-linkage
    // pipeline. Closure = at most 6 synchronous hash-to-min rounds over
    // the pair graph: the llm12 [[LlmOps.connectedComponents]] loop on
    // string labels, capped at 6 rounds. 6 rounds cover diameter-6 name
    // chains and BOTH engines unroll the same recursion, so the result is
    // exact regardless of convergence (stopping at a fixpoint gives the
    // labels the remaining rounds would). The name dictionary is DISTINCT
    // names (sublinear in facts — the er1 discipline); the pair graph is
    // smaller still.
    "er2_entity_clusters" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("blk", substring_index(col("name"), " ", -1))
        .localCheckpoint() // pair join + final rollup both read it
      val a = names.select(col("blk"), col("name").as("name_a"))
      val b = names.select(col("blk"), col("name").as("name_b"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 3))
        .filter(col("dist").between(1, 3))
        .select("name_a", "name_b")
      val nb = pairs.select(col("name_a").as("src"), col("name_b").as("dst"))
        .unionByName(
          pairs.select(col("name_b").as("src"), col("name_a").as("dst")))
        .localCheckpoint() // scanned every round
      val lbl = graft.llm.LlmOps.connectedComponents(nb, maxIter = 6)
      val clusters = lbl.join(names.select("name", "n_parts"),
          col("node") === col("name"))
        .groupBy(col("comp").as("canonical"))
        .agg(count(lit(1)).as("n_members"),
          sum("n_parts").as("n_parts_total"))
      clusters
        .crossJoin(broadcast(clusters.agg(count(lit(1)).as("n_clusters"))))
        .orderBy(col("n_members").desc, col("canonical"))
        .limit(10)
    }),

    // TS-11: autocorrelation function of the hourly series, lags 1–12 —
    // the seasonality detector behind ts8's decomposition (a daily cycle
    // shows as a lag-24 peak; here 12 lags bound the output). Standard
    // estimator r_L = Σ(y_h−ȳ)(y_{h+L}−ȳ) / Σ(y_h−ȳ)². Exactness by the
    // ts9 n-scaling trick, taken to integer units: c_h = (n·y_h − T)·10⁶
    // is an exact integral decimal(19,0), products are decimal(38,0)
    // (≤ 32 digits — exact, no precision-loss rounding on either engine),
    // and the single final num/den division is one deterministic double
    // op. Plan: one scan → O(hours) rollup; the lag join explodes each
    // hour to its 12 (lag, h+L) probes and joins the rollup to itself —
    // all downstream work is metadata-sized (ts8's argument: hours don't
    // grow with data).
    "ts11_acf" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("h"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("y"))
      val tot = hourly.agg(count(lit(1)).cast("decimal(10,0)").as("n"),
        sum("y").as("t"))
      val c = hourly.crossJoin(broadcast(tot))
        .select(col("h"),
          ((col("n") * col("y") - col("t")) * lit(1000000))
            .cast("decimal(19,0)").as("c"))
        .localCheckpoint() // both sides of the lag join + the denominator
      val den = c.agg(sum(col("c") * col("c")).as("den"))
      val lagged = c.select(col("h"), col("c").as("ca"),
          explode(sequence(lit(1), lit(12))).as("lag"))
        .withColumn("h2", col("h") + col("lag"))
        .join(c.select(col("h").as("h2"), col("c").as("cb")), Seq("h2"))
        .groupBy("lag")
        .agg(sum(col("ca") * col("cb")).as("num"))
      lagged.crossJoin(broadcast(den))
        .select(col("lag").cast("long").as("lag"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("acf"))
        .orderBy("lag")
    }),

    // TS-12: Holt's linear-trend smoothing — the forecasting step above
    // ts7's EWMA (which cannot track a trending series: it lags a ramp
    // forever). Level + trend recurrences over the hourly aggregate
    // series (the ts8/ts11 rollup), l_i = αy_i + (1−α)(l_{i−1}+b_{i−1}),
    // b_i = β(l_i−l_{i−1}) + (1−β)b_{i−1}, one-step forecast l+b. The
    // recurrence is inherently sequential, so it runs AFTER the rollup on
    // the O(hours) metadata-sized series (one sorted-group pass — the ts4
    // single-partition justification); the heavy work, the hourly
    // aggregation, stays a map-side-combined distributed agg. The oracle
    // replays the identical IEEE arithmetic as a recursive CTE (the ts7
    // recipe), so doubles match bit-for-bit before the final display
    // rounding.
    "ts12_holt" -> ((s, d) => {
      import s.implicits._
      val (alpha, beta) = (0.5, 0.3)
      val hourly = Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("hour_idx"))
        .agg(sum(col("value").cast("decimal(28,12)")).as("y_dec"))
        .select(col("hour_idx"), col("y_dec").cast("double").as("y"))
        .as[(Long, Double)]
      hourly.groupByKey(_ => true)
        .flatMapSortedGroups($"hour_idx") { (_, rows) =>
          var l = Double.NaN
          var tr = 0.0
          rows.map { case (h, y) =>
            if (l.isNaN) { l = y; tr = 0.0 }
            else {
              val lNew = alpha * y + (1 - alpha) * (l + tr)
              tr = beta * (lNew - l) + (1 - beta) * tr
              l = lNew
            }
            (h, y, l, tr, l + tr)
          }
        }
        .toDF("hour_idx", "y", "level", "trend", "forecast_next")
        .select(col("hour_idx"),
          (round(col("y") * lit(1000000.0)) / lit(1000000.0)).as("y"),
          (round(col("level") * lit(1000000.0)) / lit(1000000.0))
            .as("level"),
          (round(col("trend") * lit(1000000.0)) / lit(1000000.0))
            .as("trend"),
          (round(col("forecast_next") * lit(1000000.0)) / lit(1000000.0))
            .as("forecast_next"))
        .orderBy("hour_idx")
    }),

    // TS-14: Holt–Winters additive SEASONAL smoothing — the top of the
    // forecasting ladder (ts7 EWMA lags ramps, ts12 Holt misses cycles;
    // hourly telemetry has a daily cycle, which ts11's ACF detects and
    // this models, period P=24). Level/trend/seasonal recurrences over
    // the ts12 hourly rollup: heavy work stays the distributed
    // map-side-combined agg; the inherently-sequential pass runs over the
    // O(hours) metadata-sized series. Init = textbook simple scheme
    // (l = day-1 mean — exact decimal sum, one division — b = 0,
    // s_i = y_i − mean), emission from hour P+1 on. The oracle replays
    // the identical IEEE arithmetic as a recursive CTE carrying the
    // 24-slot seasonal RING as a LIST column (r.slist[2:] ++ s_new) —
    // bit-identical doubles, hash-match; (1−β)/(1−γ) spelled as explicit
    // 1−x subtractions on BOTH sides (ts12's convention — 1−0.3 is NOT
    // the double literal 0.7).
    "ts14_holt_winters" -> ((s, d) => {
      import s.implicits._
      val (al, be, ga) = (0.5, 0.3, 0.2)
      val P = 24
      val hourly = Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("hour_idx"))
        .agg(sum(col("value").cast("decimal(28,12)")).as("y_dec"))
        .select(col("hour_idx"), col("y_dec"),
          col("y_dec").cast("double").as("y"))
        .as[(Long, java.math.BigDecimal, Double)]
      hourly.groupByKey(_ => true)
        .flatMapSortedGroups($"hour_idx") { (_, rows) =>
          val buf = rows.toIndexedSeq // O(hours), metadata-sized
          if (buf.size <= P) Iterator.empty
          else {
            var sumDec = java.math.BigDecimal.ZERO
            var i = 0
            while (i < P) { sumDec = sumDec.add(buf(i)._2); i += 1 }
            val m = sumDec.doubleValue / P
            val ring = scala.collection.mutable.Queue.empty[Double]
            i = 0
            while (i < P) { ring.enqueue(buf(i)._3 - m); i += 1 }
            var l = m
            var b = 0.0
            buf.drop(P).iterator.map { case (h, _, y) =>
              val sPrev = ring.dequeue()
              val lNew = al * (y - sPrev) + (1 - al) * (l + b)
              b = be * (lNew - l) + (1 - be) * b
              val sNew = ga * (y - lNew) + (1 - ga) * sPrev
              l = lNew
              ring.enqueue(sNew)
              (h, y, l, b, sNew, l + b + ring.head)
            }
          }
        }
        .toDF("hour_idx", "y", "level", "trend", "season",
          "forecast_next")
        .select(col("hour_idx") +: Seq("y", "level", "trend", "season",
          "forecast_next").map(c =>
            (round(col(c) * lit(1000000.0)) / lit(1000000.0)).as(c)): _*)
        .orderBy("hour_idx")
    }),

    // TS-13: Theil–Sen robust trend — the median of all pairwise slopes
    // (y_j − y_i)/(h_j − h_i) over the ts12 hourly series. OLS (agg30)
    // shatters under a single corrupted hour; the pairwise-slope median
    // has a 29% breakdown point (Sen 1968) and is the standard robust
    // trend for noisy telemetry. Heavy work stays the distributed hourly
    // rollup; the O(hours²) pair set is metadata-sized BY CONSTRUCTION
    // (hours, not rows — the same 720² pairs at sf0.01 and at 100 TB), so
    // the non-equi self-join and the k-smallest selection (TakeOrdered
    // heap, k = lower-median rank) are bounded regardless of data scale.
    // Slope division is exact-decimal difference → one IEEE double
    // division, identical in both engines; the median is an order
    // statistic of that identical value set — deterministic, hash-match.
    "ts13_theil_sen" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("h"))
        .agg(sum(col("value").cast("decimal(28,12)")).as("y"))
        .localCheckpoint() // both join sides + the count scalar
      val n = hourly.count() // O(hours) scalar, metadata-sized
      val m = n * (n - 1) / 2
      val k = ((m + 1) / 2).toInt // lower median, 1-indexed k-th smallest
      val a = hourly.select(col("h").as("hi"), col("y").as("yi"))
      val b = hourly.select(col("h").as("hj"), col("y").as("yj"))
      a.join(b, col("hi") < col("hj"))
        .select(((col("yj") - col("yi")).cast("double") /
          (col("hj") - col("hi")).cast("double")).as("slope"))
        .orderBy("slope").limit(k)
        .agg(round(max("slope"), 6).as("theil_sen_slope"))
        .withColumn("n_hours", lit(n))
        .withColumn("n_pairs", lit(m))
    }),

    // TS-10: interval union (gaps-and-islands merge) — give each event a
    // 5-minute activity interval and merge overlaps per user into islands,
    // reporting island count and total covered time: the classic coverage
    // question (billed-time union, uptime stitching, session coverage)
    // that naive SUM(duration) double-counts. One user-keyed window pass:
    // an island opens where ts exceeds the running max of prior interval
    // ends (strictly-greater: touching intervals merge), island id = the
    // running count of opens, then two hash aggs roll islands up. Exact
    // integer µs end-to-end; per-key window length = events/user, the
    // standard sessionization bound.
    "ts10_interval_union" -> ((s, d) => {
      val span = 300000000L // 5 min in µs
      val e = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"))
        .withColumn("end_us", col("ts_us") + span)
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val prevMax = max("end_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      e.withColumn("opens",
          when(col("ts_us") > coalesce(prevMax, lit(Long.MinValue)), 1L)
            .otherwise(0L))
        .withColumn("island", sum("opens").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min("ts_us").as("start_us"), max("end_us").as("stop_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("stop_us") - col("start_us")).as("covered_us"))
        .orderBy("user_id")
    }),

    // WIN-14: event-sequence pattern matching (MATCH_RECOGNIZE-lite) —
    // encode each user's time-ordered event trail as a one-char-per-event
    // string and count conversion paths (click, any views, purchase) with
    // ONE regexp scan per user. The standard funnel generalization: win10
    // counts a fixed ordered subset; a regex expresses arbitrary
    // quantified patterns. Plan: per-user sequences build as ONE
    // collect_list agg (shuffle keyed on user — the sessionization
    // shuffle), sorted ROW-LOCALLY via array_sort on the (ts, id, ch)
    // struct, so no window and no second exchange; the regex runs
    // codegen'd over the tiny per-user string. Sequence length per key is
    // events/user (~90 at gate SFs, bounded by retention at 100 TB) — the
    // same per-key bound every session op here already carries.
    "win14_event_regex" -> ((s, d) => {
      val ch = when(col("event_type") === "click", "c")
        .when(col("event_type") === "view", "v")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "signup", "s")
        .otherwise("e")
      Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), ch.as("ch"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("ts_us"), col("event_id"), col("ch")))).as("evs"))
        .select(col("user_id"),
          array_join(transform(col("evs"), x => x.getField("ch")), "")
            .as("seq"))
        .select(col("user_id"),
          length(col("seq")).cast("long").as("seq_len"),
          size(regexp_extract_all(col("seq"), lit("cv*p"), lit(0)))
            .cast("long").as("n_conv"))
        .orderBy("user_id")
    }),

    // WIN-17: last-touch attribution — each purchase is credited to the
    // most recent click by the same user within a 30-minute lookback,
    // the standard conversion-attribution rule (win10's funnel counts a
    // fixed ordered pattern; attribution answers "which touch gets the
    // credit" per conversion). Plan: ONE user-keyed exchange, a running
    // last-click carry via last_value(ignoreNulls) over preceding rows
    // (O(1) state per row — no per-purchase as-of join), then a
    // metadata-sized per-user rollup. Ties on ts break by event_id so
    // both engines walk the identical order. At 100 TB this is the
    // sessionization shuffle with a cheaper frame.
    "win17_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          col("event_type"), expr("ts div 1000").as("ts_us"))
        .withColumn("last_click_us",
          last(when(col("event_type") === "click", col("ts_us")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("last_click_us").isNotNull &&
              col("ts_us") - col("last_click_us") <= 1800000000L, 1L)
            .otherwise(0L)).as("n_attributed"))
        .orderBy("user_id")
    }),

    // TS-9: offline mean-shift changepoint screening per event_type — the
    // CUSUM statistic (Page 1954, screening form): with S_i the running
    // value sum and T/n the series total/count, the deviation
    // dev_i = S_i − i·T/n peaks at the most likely mean-shift point.
    // Everything stays EXACT by scaling through n: n·S_i − i·T is pure
    // decimal arithmetic (no division), so the argmax comparison cannot be
    // perturbed by float order; the single final ÷n to report magnitude is
    // one deterministic double op. Plan: one partial+final agg for (T, n)
    // per type (broadcast back — O(types) rows), one window cumsum per
    // type; the changepoint row is selected by window max, not a
    // driver-side loop.
    "ts9_cusum_changepoint" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          col("value").cast("decimal(18,6)").as("v"))
      val tot = e.groupBy("event_type")
        .agg(sum("v").as("t"), count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("event_id")
      val dev = e.join(broadcast(tot), "event_type")
        .withColumn("i", row_number().over(w).cast("decimal(18,0)"))
        .withColumn("s", sum("v").over(w))
        // n·S_i − i·T: decimal(38,6)-exact, comparison-safe
        .withColumn("dev_scaled",
          (col("n").cast("decimal(18,0)") * col("s") - col("i") * col("t"))
            .cast("decimal(38,6)"))
      val wmax = Window.partitionBy("event_type")
      dev
        .withColumn("max_abs", max(abs(col("dev_scaled"))).over(wmax))
        .filter(abs(col("dev_scaled")) === col("max_abs"))
        // several rows can tie at the max: keep the earliest event
        .groupBy("event_type")
        .agg(min("event_id").as("cp_event_id"),
          first("n").as("n"),
          max(abs(col("dev_scaled"))).as("mx"))
        .select(col("event_type"), col("cp_event_id"), col("n"),
          round(col("mx").cast("double") / col("n").cast("double"), 6)
            .as("max_absdev"))
        .orderBy("event_type")
    }),

    "ts3_zscore_outliers" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val dec = col("value").cast("decimal(18,6)")
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(dec).cast("double").as("s1"),
        sum(dec * dec).cast("double").as("s2"))
        .select(col("event_type"), (col("s1") / col("n")).as("mu"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)).as("sigma"))
      e.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 6).as("z"))
        .orderBy("event_id")
    })
  )

  /** er2's hash-to-min closure unrolled to `rounds` synchronous updates —
    * the mechanical SQL mirror of the Spark loop (GraphOps.lpaSql
    * rationale: label CTEs MATERIALIZED because each feeds the next
    * round's join). */
  private def er2Sql(rounds: Int): String = {
    val sb = new StringBuilder("""
      |WITH names AS (
      |  SELECT p_name AS name, COUNT(*) AS n_parts,
      |         split_part(p_name, ' ', -1) AS blk
      |  FROM part GROUP BY 1, 3),
      |pairs AS MATERIALIZED (
      |  SELECT a.name AS name_a, b.name AS name_b
      |  FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3),
      |nb AS MATERIALIZED (
      |  SELECT name_a AS v, name_b AS u FROM pairs
      |  UNION ALL SELECT name_b AS v, name_a AS u FROM pairs),
      |l0 AS (SELECT DISTINCT v, v AS lbl FROM nb)""".stripMargin)
    var prev = "l0"
    for (i <- 1 to rounds) {
      sb ++= s"""
        |, l$i AS MATERIALIZED (
        |  SELECT v, MIN(cand) AS lbl FROM (
        |    SELECT nb.v AS v, l.lbl AS cand
        |    FROM nb JOIN $prev l ON nb.u = l.v
        |    UNION ALL SELECT v, lbl FROM $prev)
        |  GROUP BY v)""".stripMargin
      prev = s"l$i"
    }
    sb ++= s"""
      |, cl AS (
      |  SELECT l.lbl AS canonical, COUNT(*) AS n_members,
      |         CAST(SUM(n.n_parts) AS BIGINT) AS n_parts_total
      |  FROM $prev l JOIN names n ON l.v = n.name GROUP BY 1)
      |SELECT canonical, n_members, n_parts_total,
      |  CAST((SELECT COUNT(*) FROM cl) AS BIGINT) AS n_clusters
      |FROM cl ORDER BY n_members DESC, canonical LIMIT 10""".stripMargin
    sb.toString
  }

  def oracle: Map[String, String] = Map(
    "er2_entity_clusters" -> er2Sql(rounds = 6),

    "er4_blocking_profile" -> """
      |WITH names AS (
      |  SELECT DISTINCT p_name FROM part),
      |blocks AS (
      |  SELECT split_part(p_name, ' ', -1) AS blk, COUNT(*) AS bn
      |  FROM names GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(bn) AS BIGINT) AS n_names,
      |  CAST(MAX(bn) AS BIGINT) AS max_block,
      |  CAST(SUM(bn * (bn - 1) // 2) AS BIGINT) AS cand_pairs,
      |  CAST(SUM(bn * (bn - 1) // 2) * 1000000 //
      |       (SUM(bn) * (SUM(bn) - 1) // 2) AS BIGINT) AS reduction_ppm
      |FROM blocks""".stripMargin,

    "er3_jaro_rank" -> """
      |WITH names AS (
      |  SELECT p_name AS name, split_part(p_name, ' ', -1) AS blk
      |  FROM part GROUP BY 1, 2)
      |SELECT a.name AS name_a, b.name AS name_b,
      |  ROUND(jaro_winkler_similarity(a.name, b.name), 6) AS jw
      |FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
      |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.93
      |ORDER BY jw DESC, name_a, name_b""".stripMargin,

    "er1_fuzzy_match" -> """
      |WITH names AS (
      |  SELECT p_name AS name, COUNT(*) AS n_parts,
      |         split_part(p_name, ' ', -1) AS blk
      |  FROM part GROUP BY 1, 3)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
      |       a.n_parts AS n_a, b.n_parts AS n_b
      |FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
      |WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
      |ORDER BY name_a, name_b""".stripMargin,

    "ts11_acf" -> """
      |WITH hourly AS (
      |  SELECT ts_ns // 3600000000000 AS h,
      |         SUM(CAST(value AS DECIMAL(18,6))) AS y
      |  FROM (SELECT epoch_us(ts) * 1000 AS ts_ns, value FROM events)
      |  GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS DECIMAL(10,0)) AS n, SUM(y) AS t
      |        FROM hourly),
      |c AS (
      |  SELECT h, CAST((n * y - t) * 1000000 AS DECIMAL(19,0)) AS c
      |  FROM hourly, tot),
      |den AS (SELECT SUM(c * c) AS den FROM c),
      |num AS (
      |  SELECT l.lag, SUM(a.c * b.c) AS num
      |  FROM c a, unnest(range(1, 13)) AS l(lag)
      |  JOIN c b ON b.h = a.h + l.lag
      |  GROUP BY 1)
      |SELECT CAST(num.lag AS BIGINT) AS lag,
      |       ROUND(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6)
      |         AS acf
      |FROM num, den ORDER BY lag""".stripMargin,

    "ts10_interval_union" -> """
      |WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |         epoch_us(ts) + 300000000 AS end_us
      |  FROM events),
      |marked AS (
      |  SELECT user_id, ts_us, end_us, event_id,
      |    CASE WHEN ts_us > COALESCE(
      |           MAX(end_us) OVER (PARTITION BY user_id
      |                             ORDER BY ts_us, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING
      |                                      AND 1 PRECEDING),
      |           -9223372036854775808) THEN 1 ELSE 0 END AS opens
      |  FROM e),
      |islands AS (
      |  SELECT user_id, end_us, ts_us,
      |    SUM(opens) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING
      |                              AND CURRENT ROW) AS island
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, island, MIN(ts_us) AS start_us, MAX(end_us) AS stop_us
      |  FROM islands GROUP BY 1, 2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
      |       CAST(SUM(stop_us - start_us) AS BIGINT) AS covered_us
      |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin,

    // identical window walk: last click ts over preceding rows per user,
    // ties broken by event_id; attribution window 30 min in µs
    "win17_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    last_value(CASE WHEN event_type = 'click' THEN ts_us END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click_us
        |  FROM e)
        |SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(CASE WHEN last_click_us IS NOT NULL
        |                 AND ts_us - last_click_us <= 1800000000
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
        |FROM m WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "win14_event_regex" -> """
      |WITH seqs AS (
      |  SELECT user_id,
      |    string_agg(CASE event_type
      |                 WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
      |                 WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
      |                 ELSE 'e' END, ''
      |               ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  CAST(length(seq) AS BIGINT) AS seq_len,
      |  CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_conv
      |FROM seqs ORDER BY user_id""".stripMargin,

    "ts9_cusum_changepoint" -> """
      |WITH e AS (
      |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |tot AS (SELECT event_type, SUM(v) AS t, COUNT(*) AS n
      |        FROM e GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, e.event_id, tot.n,
      |    CAST(CAST(tot.n AS DECIMAL(18,0)) *
      |           SUM(e.v) OVER (PARTITION BY e.event_type
      |                          ORDER BY e.event_id) -
      |         CAST(ROW_NUMBER() OVER (PARTITION BY e.event_type
      |                                 ORDER BY e.event_id)
      |              AS DECIMAL(18,0)) * tot.t
      |         AS DECIMAL(38,6)) AS dev_scaled
      |  FROM e JOIN tot USING (event_type)),
      |mx AS (SELECT event_type, MAX(ABS(dev_scaled)) AS m
      |       FROM dev GROUP BY 1)
      |SELECT d.event_type, MIN(d.event_id) AS cp_event_id,
      |       MIN(d.n) AS n,
      |       ROUND(CAST(MIN(m.m) AS DOUBLE) / CAST(MIN(d.n) AS DOUBLE), 6)
      |         AS max_absdev
      |FROM dev d JOIN mx m
      |  ON d.event_type = m.event_type AND ABS(d.dev_scaled) = m.m
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    // the EWMA recurrence as a sequential recursion over per-user row
    // numbers (one recursion level per rank; max events/user is ~90 at
    // the gate SFs, so the unrolling is shallow). Constants are forced
    // DOUBLE and combined in the Spark fold's exact operation order —
    // see the ts7 query comment for why that makes the trajectory
    // bit-identical, not merely close.
    // same IEEE arithmetic, same order, as the sorted-group pass: l_new
    // appears twice in the b-recurrence but is the same deterministic
    // expression, so its value is identical
    // the seasonal ring rides the recursion as a 24-slot LIST column;
    // <L> (the new level) is repeated textually where b'/s' need it,
    // exactly as ts12 repeats its level expression
    "ts14_holt_winters" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_idx,
        |    SUM(CAST(value AS DECIMAL(28,12))) AS y_dec
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT hour_idx, y_dec, CAST(y_dec AS DOUBLE) AS y,
        |    ROW_NUMBER() OVER (ORDER BY hour_idx) AS rn
        |  FROM hourly),
        |init AS (
        |  SELECT CAST(SUM(y_dec) AS DOUBLE) / 24 AS m
        |  FROM e WHERE rn <= 24),
        |seed AS (
        |  SELECT 24 AS rn, CAST(NULL AS BIGINT) AS hour_idx,
        |    CAST(NULL AS DOUBLE) AS y,
        |    i.m AS l, CAST(0 AS DOUBLE) AS b,
        |    (SELECT list(e2.y - i.m ORDER BY e2.rn)
        |     FROM e e2 WHERE e2.rn <= 24) AS slist
        |  FROM init i),
        |r AS (
        |  SELECT rn, hour_idx, y, l, b, slist FROM seed
        |  UNION ALL
        |  SELECT e.rn, e.hour_idx, e.y,
        |    CAST(0.5 AS DOUBLE) * (e.y - r.slist[1]) +
        |      (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.l + r.b),
        |    CAST(0.3 AS DOUBLE) *
        |      ((CAST(0.5 AS DOUBLE) * (e.y - r.slist[1]) +
        |        (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.l + r.b))
        |       - r.l) +
        |      (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.b,
        |    list_append(r.slist[2:],
        |      CAST(0.2 AS DOUBLE) *
        |        (e.y - (CAST(0.5 AS DOUBLE) * (e.y - r.slist[1]) +
        |          (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.l + r.b)))
        |        + (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.slist[1])
        |  FROM r JOIN e ON e.rn = r.rn + 1)
        |SELECT hour_idx,
        |  ROUND(y * 1000000.0) / 1000000.0 AS y,
        |  ROUND(l * 1000000.0) / 1000000.0 AS level,
        |  ROUND(b * 1000000.0) / 1000000.0 AS trend,
        |  ROUND(slist[24] * 1000000.0) / 1000000.0 AS season,
        |  ROUND((l + b + slist[1]) * 1000000.0) / 1000000.0
        |    AS forecast_next
        |FROM r WHERE rn > 24 ORDER BY hour_idx""".stripMargin,

    "ts12_holt" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_idx,
        |    CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT hour_idx, y,
        |    ROW_NUMBER() OVER (ORDER BY hour_idx) AS rn
        |  FROM hourly),
        |r AS (
        |  SELECT hour_idx, y, rn, y AS l, CAST(0 AS DOUBLE) AS tr
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.hour_idx, e.y, e.rn,
        |    CAST(0.5 AS DOUBLE) * e.y +
        |      (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.l + r.tr),
        |    CAST(0.3 AS DOUBLE) *
        |      ((CAST(0.5 AS DOUBLE) * e.y +
        |        (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.l + r.tr))
        |       - r.l) +
        |      (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.tr
        |  FROM r JOIN e ON e.rn = r.rn + 1)
        |SELECT hour_idx,
        |  ROUND(y * 1000000.0) / 1000000.0 AS y,
        |  ROUND(l * 1000000.0) / 1000000.0 AS level,
        |  ROUND(tr * 1000000.0) / 1000000.0 AS trend,
        |  ROUND((l + tr) * 1000000.0) / 1000000.0 AS forecast_next
        |FROM r ORDER BY hour_idx""".stripMargin,

    "ts7_ewma" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(value AS DOUBLE) AS value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, ts_us, rn, value AS ewma
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.ts_us, e.rn,
        |    CAST(0.3 AS DOUBLE) * e.value +
        |    (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.ewma
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id, event_id, ts_us, ewma
        |FROM r ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ts13_theil_sen" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    SUM(CAST(value AS DECIMAL(28,12))) AS y
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.h - a.h AS DOUBLE)
        |    AS slope
        |  FROM hourly a JOIN hourly b ON a.h < b.h),
        |st AS (SELECT (SELECT COUNT(*) FROM hourly) AS n,
        |              (SELECT COUNT(*) FROM s) AS m)
        |SELECT ROUND(MAX(slope), 6) AS theil_sen_slope,
        |  (SELECT CAST(n AS BIGINT) FROM st) AS n_hours,
        |  (SELECT CAST(m AS BIGINT) FROM st) AS n_pairs
        |FROM (SELECT slope FROM s ORDER BY slope
        |      LIMIT (SELECT (m + 1) // 2 FROM st))""".stripMargin,

    "ts15_seasonal_anomaly" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_idx,
        |    SUM(CAST(value AS DECIMAL(28,12))) AS y_dec
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT hour_idx, CAST(y_dec AS DOUBLE) AS y,
        |    CAST(SUM(y_dec) OVER w AS DOUBLE) /
        |    CAST(COUNT(*) OVER w AS DOUBLE) AS trend
        |  FROM hourly
        |  WINDOW w AS (ORDER BY hour_idx
        |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        |), d AS (
        |  SELECT hour_idx, y - trend AS detr, hour_idx % 24 AS hod
        |  FROM t
        |), base AS (
        |  SELECT hour_idx,
        |    detr - CAST(SUM(CAST(detr AS DECIMAL(28,12)))
        |                OVER (PARTITION BY hod) AS DOUBLE) /
        |           CAST(COUNT(*) OVER (PARTITION BY hod) AS DOUBLE)
        |      AS resid
        |  FROM d
        |), med AS (SELECT quantile_cont(resid, 0.5) AS med FROM base),
        |dev AS (
        |  SELECT b.hour_idx, b.resid, m.med,
        |    ABS(b.resid - m.med) AS adev
        |  FROM base b, med m),
        |mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dev)
        |SELECT d2.hour_idx,
        |  ROUND(d2.resid * 1000000.0) / 1000000.0 AS resid,
        |  ROUND((d2.resid - d2.med) / (1.4826 * md.mad) * 1000000.0)
        |    / 1000000.0 AS rz
        |FROM dev d2, mad md
        |WHERE ABS((d2.resid - d2.med) / (1.4826 * md.mad)) > 3.0
        |ORDER BY d2.hour_idx""".stripMargin,

    "ts8_seasonal_decompose" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_idx,
        |    SUM(CAST(value AS DECIMAL(28,12))) AS y_dec
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT hour_idx, CAST(y_dec AS DOUBLE) AS y,
        |    CAST(SUM(y_dec) OVER w AS DOUBLE) /
        |    CAST(COUNT(*) OVER w AS DOUBLE) AS trend
        |  FROM hourly
        |  WINDOW w AS (ORDER BY hour_idx
        |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        |), d AS (
        |  SELECT hour_idx, y, trend, y - trend AS detr,
        |    hour_idx % 24 AS hod
        |  FROM t
        |), ss AS (
        |  SELECT hour_idx, y, trend, detr,
        |    CAST(SUM(CAST(detr AS DECIMAL(28,12)))
        |         OVER (PARTITION BY hod) AS DOUBLE) /
        |    CAST(COUNT(*) OVER (PARTITION BY hod) AS DOUBLE) AS seasonal
        |  FROM d
        |)
        |SELECT hour_idx,
        |  ROUND(y * 1000000.0)/1000000.0 AS y,
        |  ROUND(trend * 1000000.0)/1000000.0 AS trend,
        |  ROUND(seasonal * 1000000.0)/1000000.0 AS seasonal,
        |  ROUND((detr - seasonal) * 1000000.0)/1000000.0 AS resid
        |FROM ss ORDER BY hour_idx""".stripMargin,

    "win16_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |runs AS (
        |  SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start_day
        |  FROM runs GROUP BY 1, 2),
        |best AS (
        |  SELECT user_id, len, start_day,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_day) AS rn
        |  FROM streaks),
        |tot AS (
        |  SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_days
        |  FROM streaks GROUP BY 1)
        |SELECT t.user_id, CAST(b.len AS BIGINT) AS longest_streak,
        |  CAST(b.start_day AS BIGINT) AS streak_start_day, t.active_days
        |FROM tot t JOIN best b ON t.user_id = b.user_id AND b.rn = 1
        |ORDER BY t.user_id""".stripMargin,

    "win9_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM e)
        |SELECT user_id, session_no,
        |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "win10_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) t FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) t FROM events e
        |      JOIN v ON e.user_id = v.user_id AND e.ts > v.t
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) t FROM events e
        |      JOIN c ON e.user_id = c.user_id AND e.ts > c.t
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM v) AS users_viewed,
        |       (SELECT COUNT(*) FROM c) AS users_clicked,
        |       (SELECT COUNT(*) FROM p) AS users_purchased""".stripMargin,

    "agg18_histogram" ->
      """WITH b AS (SELECT MIN(l_extendedprice) mn, MAX(l_extendedprice) mx
        |           FROM lineitem)
        |SELECT LEAST(CAST(FLOOR((l_extendedprice - mn) * 20.0 / (mx - mn))
        |                  AS BIGINT), 19) AS bucket,
        |       COUNT(*) AS n_items
        |FROM lineitem, b GROUP BY 1 ORDER BY 1""".stripMargin,

    "dim1_scd2" ->
      """SELECT user_id, event_type, event_id, value AS attr_value,
        |  epoch_us(ts) AS valid_from_us,
        |  LEAD(epoch_us(ts)) OVER w AS valid_to_us,
        |  CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type
        |             ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, event_type, valid_from_us, event_id""".stripMargin,

    "ts1_resample_ffill" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) h0,
        |         date_trunc('hour', MAX(ts)) h1
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |  FROM b),
        |hourly AS (
        |  SELECT user_id, hr, value AS v FROM (
        |    SELECT user_id, date_trunc('hour', ts) AS hr, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) rn
        |    FROM events) WHERE rn = 1),
        |j AS (
        |  SELECT g.user_id, epoch_us(g.hr) AS hour_us, h.v
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.user_id = h.user_id AND g.hr = h.hr)
        |SELECT user_id, hour_us,
        |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hour_us ROWS UNBOUNDED PRECEDING) AS v_ffill
        |FROM j ORDER BY user_id, hour_us""".stripMargin,

    "ts2_interpolate" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) h0,
        |         date_trunc('hour', MAX(ts)) h1
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |  FROM b),
        |hourly AS (
        |  SELECT user_id, hr, value AS v FROM (
        |    SELECT user_id, date_trunc('hour', ts) AS hr, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) rn
        |    FROM events) WHERE rn = 1),
        |j AS (
        |  SELECT g.user_id, epoch_us(g.hr) AS hour_us, h.v
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.user_id = h.user_id AND g.hr = h.hr),
        |a AS (
        |  SELECT user_id, hour_us, v,
        |    LAST_VALUE(v IGNORE NULLS) OVER wp AS vp,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour_us END
        |               IGNORE NULLS) OVER wp AS hp,
        |    FIRST_VALUE(v IGNORE NULLS) OVER wf AS vn,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour_us END
        |                IGNORE NULLS) OVER wf AS hn
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY hour_us
        |                ROWS UNBOUNDED PRECEDING),
        |         wf AS (PARTITION BY user_id ORDER BY hour_us
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, hour_us,
        |  ROUND(CASE WHEN vp IS NULL THEN NULL WHEN vn IS NULL THEN vp
        |        WHEN hn = hp THEN vp
        |        ELSE vp + (vn - vp) *
        |          (CAST(hour_us - hp AS DOUBLE) / (hn - hp)) END
        |        * 1000000.0) / 1000000.0 AS v_interp
        |FROM a ORDER BY user_id, hour_us""".stripMargin,

    "dim2b_pit_directions" ->
      """WITH a AS (SELECT user_id, epoch_us(ts) ts_us, event_id, value
        |           FROM events
        |           WHERE event_type = 'click' AND value IS NOT NULL),
        |p AS (SELECT user_id, event_id, epoch_us(ts) ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  b.value AS b_val, f.value AS f_val,
        |  CASE WHEN b.ts_us IS NULL THEN f.value
        |       WHEN f.ts_us IS NULL THEN b.value
        |       WHEN f.ts_us - p.ts_us < p.ts_us - b.ts_us THEN f.value
        |       ELSE b.value END AS nearest_val
        |FROM p
        |LEFT JOIN LATERAL (
        |  SELECT a.value, a.ts_us FROM a
        |  WHERE a.user_id = p.user_id AND a.ts_us <= p.ts_us
        |  ORDER BY a.ts_us DESC, a.event_id DESC LIMIT 1) b ON true
        |LEFT JOIN LATERAL (
        |  SELECT a.value, a.ts_us FROM a
        |  WHERE a.user_id = p.user_id AND a.ts_us >= p.ts_us
        |  ORDER BY a.ts_us ASC, a.event_id ASC LIMIT 1) f ON true
        |ORDER BY p.event_id""".stripMargin,

    "dim2_pit_join" ->
      """WITH a AS (SELECT user_id, epoch_us(ts) ts_us, event_id, value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  (SELECT a.value FROM a
        |   WHERE a.user_id = p.user_id AND a.ts_us <= p.ts_us
        |   ORDER BY a.ts_us DESC, a.event_id DESC LIMIT 1) AS feature_value
        |FROM p ORDER BY p.event_id""".stripMargin,

    // the NAIVE global running sum — proves the two-phase bucket plan
    // computes the identical concurrency sequence
    "ts4_peak_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM e),
        |sess AS (SELECT user_id, session_no, MIN(ts_us) st, MAX(ts_us) en
        |         FROM s GROUP BY 1, 2),
        |deltas AS (
        |  SELECT st AS ts_us, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT en AS ts_us, -1 AS delta FROM sess),
        |run AS (
        |  SELECT ts_us, delta,
        |    CAST(SUM(delta) OVER (ORDER BY ts_us, delta DESC
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS conc
        |  FROM deltas)
        |SELECT strftime(epoch_ms(ts_us // 1000), '%Y-%m-%d') AS day,
        |       MAX(conc) AS peak_concurrency
        |FROM run GROUP BY 1 ORDER BY 1""".stripMargin,

    "win11_cumulative_uniques" ->
      """WITH fd AS (SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS day
        |            FROM events GROUP BY 1),
        |nu AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS cumulative_users
        |FROM nu ORDER BY day""".stripMargin,

    "win12_cohort_retention" ->
      """WITH wk AS (
        |  SELECT user_id,
        |    CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
        |  FROM events GROUP BY 1, 2),
        |cohort AS (SELECT user_id, MIN(week) AS cohort_week
        |           FROM wk GROUP BY 1)
        |SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |       COUNT(*) AS n_users
        |FROM wk w JOIN cohort c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts6_winsorize" ->
      """WITH b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |                  quantile_cont(value, 0.95) AS hi
        |           FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  LEAST(GREATEST(e.value, b.lo), b.hi) AS value_w
        |FROM events e JOIN b USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    "win13_topk_native" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin,

    "agg20_copurchase_pairs" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       COUNT(*) AS n_orders
        |FROM op a JOIN op b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,

    "ts5_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
        |          ABS(e.value - m.med) AS adev
        |        FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value,
        |  ROUND((d.value - d.med) / (1.4826 * m.mad) * 1000000.0)
        |    / 1000000.0 AS robust_z
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE ABS((d.value - d.med) / (1.4826 * m.mad)) > 3.5
        |ORDER BY d.event_id""".stripMargin,

    "ts3_zscore_outliers" ->
      """WITH s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) *
        |             CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |st AS (SELECT event_type, s1 / n AS mu,
        |              SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sigma
        |       FROM s)
        |SELECT e.event_id, e.event_type, e.value,
        |  ROUND((e.value - st.mu) / st.sigma, 6) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE ABS((e.value - st.mu) / st.sigma) > 3.0
        |ORDER BY e.event_id""".stripMargin
  )
}
