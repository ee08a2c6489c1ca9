package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.{GameClock, GameIds}
import graft.ops.{AsOfJoin, Sessionize, StatefulScan}

/** Typed rows for the stateful-scan query — top-level (not nested private)
  * because Spark's generated encoder code must be able to instantiate them.
  */
case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp, event_type: String)
case class SinceSignup(event_id: Long, user_id: Long, n_since_signup: Long)

/** Event-log operators (SURVEY.md §2.5, §2.7, §2.9) mapped onto the
  * driver's `events` table — the play-by-play analog (FIXTURES.md §B):
  * ordered per-key scans, sessionization (stints), as-of lookups, JSON
  * round-trips, and the clock/id scalar functions, each with a DuckDB
  * oracle.
  *
  * Engine-portability rules used throughout (the driver hash-compares):
  *   - epoch math on whole seconds via `cast(ts as long)` == DuckDB
  *     `date_diff('second', ...)` / `floor(epoch(...))`;
  *   - `floor`/`abs` before any double->int cast (Spark truncates, DuckDB
  *     rounds — floor first makes both exact);
  *   - money/value sums cast to decimal(18,4) before aggregation.
  */
object EventOps {

  /** Session gap: 6 h — events land ~10 h apart per user at sf0.01, so this
    * yields a mix of single- and multi-event sessions. */
  private val GapSeconds = 21600L

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")

  /** Default funnel: the acquisition path through the synthetic event log. */
  private val DefaultFunnelSteps = Seq("view", "click", "purchase")
  private val DefaultFunnelGap = 86400L // q80's per-step deadline

  /** Ordered-funnel analysis (q65): how many users complete each prefix of
    * `steps`, where step i counts only at its earliest occurrence STRICTLY
    * after the user's earliest qualifying step i-1 (the classic product
    * funnel; ties at the same timestamp do not advance the funnel).
    *
    * One row out: per-step completing-user counts plus step-to-step
    * conversion rates.
    *
    * Shape at scale: ONE exchange. The per-user ordered scan is a chain of
    * running-min window columns over the same (user_id; ts, event_id)
    * window — one hash exchange + one sort, each later Window op reuses
    * both — and the per-user aggregate reuses the window's partitioning,
    * so the corpus-sized event table is shuffled exactly once. The final
    * funnel reduce is a single-row global aggregate (partial-agg maps emit
    * one row each). The equivalent min-per-step/join-back cascade (the
    * oracle's form) would shuffle a filtered copy of the table per step.
    *
    * Why the running mins are equivalent to the sequential definition: at
    * any row r of a user's ordered log, `run_i(r)` is the earliest
    * qualifying step-i timestamp among events ≤ r, so a step-i+1 event at
    * r qualifies iff its ts is strictly greater — the same condition as
    * "strictly after the user's final earliest step-i time", because a
    * qualifying step-i event earlier than ts(r) is always inside r's
    * prefix. Pinned against a literal join-cascade in EventOpsSpec. */
  def funnel(events: DataFrame,
      steps: Seq[String] = DefaultFunnelSteps,
      maxGapSeconds: Option[Long] = None): DataFrame = {
    val perUser = funnelPerUser(events, steps, maxGapSeconds)
    val counts = steps.indices.map(i =>
      count(col(s"t_$i")).as(s"n_${steps(i)}_users"))
    val row = perUser.agg(counts.head, counts.tail: _*)
    val convs = steps.indices.drop(1).map { i =>
      val prev = col(s"n_${steps(i - 1)}_users")
      when(prev > 0, col(s"n_${steps(i)}_users").cast("double") / prev)
        .as(s"conv_${steps(i - 1)}_to_${steps(i)}")
    }
    row.select(steps.indices.map(i => col(s"n_${steps(i)}_users")) ++ convs: _*)
  }

  /** The funnel's per-user completion table `(user_id, t_0 .. t_{k-1})`:
    * t_i is the user's earliest qualifying step-i timestamp (NULL where the
    * user stalls). Shared by [[funnel]] (counts the non-nulls) and
    * [[funnelLatency]] (differences adjacent columns) so the two can never
    * disagree on which event qualifies.
    *
    * maxGapSeconds adds the conversion DEADLINE (windowed funnel): step i
    * must land within the gap of the chosen step i-1 time, or the user
    * stalls at depth i-1 — no restart from a later step-(i-1) event (the
    * standard product-analytics "conversion window" semantics). The
    * running-min equivalence argument below survives the bound: whenever
    * a candidate's ts exceeds the running min, the final earliest
    * step-(i-1) event is already inside the prefix, so the bound is
    * always evaluated against the FINAL time, never a temporary one. */
  private def funnelPerUser(events: DataFrame, steps: Seq[String],
      maxGapSeconds: Option[Long]): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    require(maxGapSeconds.forall(_ >= 1),
      s"maxGapSeconds must be >= 1, got ${maxGapSeconds.get}")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"))
    val qualified = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val qual =
        if (i == 0) when(col("event_type") === step, col("ts"))
        else {
          val after = col("event_type") === step &&
            col("ts") > col(s"run_${i - 1}")
          val cond = maxGapSeconds.fold(after)(g =>
            after && col("ts") <= col(s"run_${i - 1}") + expr(s"INTERVAL $g SECOND"))
          when(cond, col("ts"))
        }
      // run_i is only read by qual_{i+1}: the last step needs no running min
      val withQual = df.withColumn(s"qual_$i", qual)
      if (i == steps.size - 1) withQual
      else withQual.withColumn(s"run_$i", min(col(s"qual_$i")).over(w))
    }
    qualified.groupBy(col("user_id"))
      .agg(min(col("qual_0")).as("t_0"),
        steps.indices.drop(1).map(i => min(col(s"qual_$i")).as(s"t_$i")): _*)
  }

  /** Skew pre-pass for the funnel (q103 = q65 over this): collapse exact
    * duplicate `(user_id, event_type, ts)` rows to one, keeping the
    * minimum event_id. Semantics-preserving for [[funnel]] /
    * [[funnelLatency]] at ANY gap bound: every `run_i` is a prefix-min of
    * qualifying timestamps under the (ts, event_id) order, so a duplicate
    * contributes the same qual value as its kept twin and removing it
    * shifts no other row out of (or into) any prefix — pinned against the
    * uncollapsed funnel in EventOpsSpec, bot fixture included.
    *
    * Why this is the skew lever: the funnel's running-min chain is
    * inherently sequential per user — salting cannot split a window and
    * AQE's skew handling only rewrites JOINS — so the only structural
    * defense against a bot user (10^5x median events) is to shrink the
    * hot partition BELOW the key exchange. This aggregation's map-side
    * partial collapses the bot's replayed spam inside each scan task;
    * the window exchange then carries distinct (user, type, ts) rows,
    * bounded by the bot's distinct action-seconds, not its event count.
    * The residual hot partition (a bot spamming DISTINCT timestamps) is
    * irreducible for exact funnel semantics — screen those upstream with
    * [[burstScore]]'s flag (the measured rule in SCALING.md's skew note). */
  def collapseFunnelEvents(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .groupBy(col("user_id"), col("event_type"), col("ts"))
      .agg(min(col("event_id")).as("event_id"))

  /** Funnel step-latency profile (q83): for every adjacent step pair, how
    * long completing users took — count, min/max/sum and the MEDIAN of the
    * step-(i-1)→step-i latency, over exactly the users [[funnel]] counts as
    * completing step i. The timing companion of the funnel's conversion
    * rates: conversion tells you how many make it, this tells you how fast.
    *
    * Portability: latencies are integer microseconds (`unix_micros`
    * differences — exact on both engines), and the median is a RANKED ROW
    * (the ⌈n/2⌉-th smallest, integer arithmetic only), not an interpolated
    * percentile — interpolation differs across engines (q78's rule).
    *
    * Shape at scale: the corpus-sized event table pays [[funnelPerUser]]'s
    * single (user_id) exchange; everything after operates on the per-USER
    * completion table (one row per funnel-entering user). The transition
    * long-form is a per-row generate (k-1 structs, no extra scan — the
    * naive per-transition union would re-run the window chain k-1 times),
    * and the ranked-median window + final agg share ONE (step_from,
    * step_to) exchange of that user-granular table (subset clustering).
    * k-1 distinct transition keys make that last exchange near-degenerate;
    * at a trillion events the cost is the funnel's own exchange, unchanged. */
  def funnelLatency(events: DataFrame,
      steps: Seq[String] = DefaultFunnelSteps,
      maxGapSeconds: Option[Long] = None): DataFrame = {
    val perUser = funnelPerUser(events, steps, maxGapSeconds)
    val transitions = steps.indices.drop(1).map { i =>
      struct(lit(steps(i - 1)).as("step_from"), lit(steps(i)).as("step_to"),
        (unix_micros(col(s"t_$i")) - unix_micros(col(s"t_${i - 1}")))
          .as("lat_us"))
    }
    val lat = perUser
      .select(explode(array(transitions: _*)).as("tr"))
      .select(col("tr.step_from"), col("tr.step_to"), col("tr.lat_us"))
      .filter(col("lat_us").isNotNull)
    val part = Window.partitionBy(col("step_from"), col("step_to"))
    lat
      .withColumn("rk", row_number().over(
        part.orderBy(col("lat_us").asc)))
      .withColumn("n", count(lit(1)).over(part))
      .groupBy(col("step_from"), col("step_to"))
      .agg(
        count(lit(1)).as("n_users"),
        min(col("lat_us")).as("min_lat_us"),
        max(col("lat_us")).as("max_lat_us"),
        sum(col("lat_us")).as("sum_lat_us"),
        max(when(col("rk") === expr("(n + 1) DIV 2"), col("lat_us")))
          .as("median_lat_us"))
  }

  /** Retention cohorts (q66): bucket every user by the ISO week of their
    * FIRST event (the cohort), then count how many distinct users of each
    * cohort were active in each subsequent week — the classic retention
    * triangle `(cohort_week, week_offset) -> n_users`.
    *
    * Shape at scale: the corpus-sized event table is shuffled ONCE. The
    * per-user first-event timestamp is an unordered window min over
    * `user_id` (one hash exchange, no sort — no orderBy on the window), and
    * the per-user-per-week dedup keys on `(user_id, cohort, offset)`, whose
    * clustering the window's user_id hash partitioning already satisfies
    * (subset rule) — so the distinct adds NO exchange. Only the already
    * per-user-weekly-deduped rows — bounded by users x active weeks, not
    * events — cross the wire into the final low-cardinality
    * (cohort, offset) count, which partial-aggregates map-side. The literal
    * form (min-per-user, join back, DISTINCT, group) — the oracle's — pays
    * three full-width exchanges.
    *
    * Week parity across engines: both Spark and DuckDB `date_trunc('week')`
    * truncate to Monday 00:00, the session pins UTC, and two Monday
    * truncations are always a whole number of days apart, so
    * `datediff / 7` is exact integer math on both sides. */
  def retention(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events.select(col("user_id"), col("ts"))
      .withColumn("t0", min(col("ts")).over(w))
      .select(col("user_id"),
        date_trunc("week", col("t0")).cast("date").as("cohort_week"),
        (datediff(date_trunc("week", col("ts")).cast("date"),
          date_trunc("week", col("t0")).cast("date")) / 7).cast("int")
          .as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Rolling N-day active users (q67): for every calendar day with at least
    * one event, the count of distinct users active in the trailing `days`
    * days — the WAU/MAU family, computed EXACTLY.
    *
    * A trailing-distinct can't be derived from daily distinct counts (users
    * overlap across days), and a naive RANGE window re-scans the raw log
    * per day. Instead: dedup to user-days FIRST (events collapse to at most
    * users x days rows — the corpus-sized table crosses the wire once,
    * partially aggregated map-side), then explode each user-day to the
    * `days` window-ending days it covers (a bounded x`days` generate on the
    * already-shrunk table, no shuffle), semi-join against the distinct-day
    * set (broadcast — it's calendar-sized) so windows ending on event-less
    * days don't materialize, and count-distinct per window day. Work is
    * O(user-days x days), independent of raw event volume.
    */
  def rollingActives(events: DataFrame, days: Int = 7): DataFrame = {
    require(days >= 1, s"window must be >= 1 day, got $days")
    val userDays = events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val presentDays = userDays.select(col("day")).distinct()
    userDays
      .select(explode(sequence(col("day"), date_add(col("day"), days - 1)))
        .as("wday"), col("user_id"))
      .join(broadcast(presentDays.withColumnRenamed("day", "wday")),
        Seq("wday"), "left_semi")
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as(s"n_active_${days}d"))
      .withColumnRenamed("wday", "day")
  }

  /** Sketch twin of [[rollingActives]]: rolling N-day active users
    * estimated with mergeable HLL++ sketches (`hll_sketch_agg` /
    * `hll_union_agg`). The 100 TB path for the WAU/MAU family: the raw log
    * collapses to ONE fixed-size sketch per day (a map-side-combinable
    * aggregate — each task emits at most days × 2^lgK bytes regardless of
    * row count), and the rolling union then operates on a calendar-sized
    * table: re-windowing (7d → 28d → 90d) or multi-window dashboards reuse
    * the same daily sketches without ever rescanning events, which is the
    * property the exact form's user-day expansion cannot offer. Standard
    * HLL++ error ≈ 1.04/√2^lgK (~1.6 % at the default lgK=12). No DuckDB
    * oracle by design — sketch estimates are engine-specific (same policy
    * as TextOps.approxCorpusStats); spec-pinned against [[rollingActives]]
    * within tolerance instead. */
  def rollingActivesApprox(events: DataFrame, days: Int = 7,
      lgK: Int = 12): DataFrame = {
    require(days >= 1, s"window must be >= 1 day, got $days")
    val daily = events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
    val presentDays = daily.select(col("day").as("wday"))
    daily
      .select(explode(sequence(col("day"), date_add(col("day"), days - 1)))
        .as("wday"), col("sk"))
      .join(broadcast(presentDays), Seq("wday"), "left_semi")
      .groupBy(col("wday"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as(s"n_active_${days}d_approx"))
      .withColumnRenamed("wday", "day")
  }

  /** Per-key attribute run-length intervals (q68) — the gaps-and-islands /
    * SCD2 idiom: collapse each user's consecutive run of equal `event_type`
    * (in (ts, event_id) order) into one row with the run's start, the next
    * run's start as its end (null while the run is current), and the run's
    * event count. The general change-tracking shape: a dimension snapshot
    * stream collapses to validity intervals the same way.
    *
    * Shape at scale: ONE corpus-sized exchange. Change flag (lag), run id
    * (running sum of flags), the per-run aggregate, and the lead to the
    * next run all key on user_id: the three window ops share one
    * (user_id; ts, event_id) hash exchange + sort, the groupBy rides it by
    * subset clustering, and the final lead re-sorts the already
    * run-compressed rows within the same partitioning. */
  def changeIntervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val runs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w) === col("event_type"), 0)
          .otherwise(1))
      .withColumn("run_id", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // event_type is constant within a run, so keying on it changes no
      // groups — but it makes the aggregate deterministic (no `first`)
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    // run_id is the per-user run ordinal — ordering the lead by it (not by
    // valid_from) stays deterministic when adjacent runs share a timestamp
    runs
      .select(col("user_id"), col("event_type"), col("valid_from"),
        lead(col("valid_from"), 1)
          .over(Window.partitionBy(col("user_id")).orderBy(col("run_id")))
          .as("valid_to"),
        col("n_events"))
  }

  /** Touch event types credited by [[attribution]]. */
  private[queries] val DefaultTouchTypes = Seq("view", "click")

  /** Last-touch attribution (q72): credit every `purchase` to the user's
    * most recent PRECEDING touch event (`view`/`click`; strictly-ordered by
    * (ts, event_id), so a same-row tie never self-credits), and report
    * conversions per channel — purchases with no preceding touch land in
    * the `"none"` channel. The marketing-attribution shape; swap the touch
    * set and conversion predicate for any credit model of the same form.
    *
    * Shape at scale: ONE exchange, the event table hashed by user. The
    * running "last touch type so far" is `last(..., ignoreNulls)` over the
    * user window — no join between conversions and touches ever exists
    * (the oracle's form is exactly that as-of self-join); the final
    * per-channel count is a low-cardinality map-side-combined aggregate. */
  def attribution(events: DataFrame,
      touchTypes: Seq[String] = DefaultTouchTypes,
      conversionType: String = "purchase"): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(conversionType),
      s"conversion '$conversionType' cannot also be a touch type")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("last_touch",
        last(when(col("event_type").isin(touchTypes: _*),
          col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === conversionType)
      .groupBy(coalesce(col("last_touch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** Key-skew report (q70): the operational pre-join diagnostic — the top
    * `k` hottest values of a prospective join/partition key, each with its
    * row count and share of the table. At 100 TB this is the cheap pass an
    * operator runs BEFORE a big join to decide whether a skew lever (AQE
    * skew-join, salting) is needed, and it names the hot keys.
    *
    * Shape at scale: one map-side-combinable count per key (the only
    * corpus-sized exchange), a 1-row total joined back via broadcast
    * nested-loop (1 row × key-count table — no shuffle), and a
    * partition-local TakeOrdered for the top-k. The share division is
    * exact-integer-in, IEEE-double-out on both engines. */
  def keySkewReport(df: DataFrame, keyCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("total_rows"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("n_rows"),
        (col("n_rows").cast("double") / col("total_rows")).as("share"))
      // nulls LAST to match SQL's default ASC ordering: a generic join key
      // may well contain nulls (that's often WHY it's being probed), and
      // Spark's plain .asc would rank the null group first at a rank-k tie
      .orderBy(col("n_rows").desc, col(keyCol).asc_nulls_last)
      .limit(k)
  }

  /** Top session paths (q69): the `k` most common ordered event-type
    * sequences across sessions — "what do users actually do in a visit".
    * Sessions come from [[graft.ops.Sessionize]] (same gap as q16); each
    * session's path is its event types joined in (ts, event_id) order.
    *
    * Shape at scale: the event table shuffles ONCE (the sessionizer's
    * user_id window); the per-session path aggregate keys on
    * (user_id, session_no) and rides that exchange by subset clustering —
    * the ordered collect uses the A1 `array_sort(collect_list(struct))`
    * idiom, never a re-sort of raw events. Only session-granularity path
    * strings cross the second (map-side-combined) exchange, and the top-k
    * is a partition-local TakeOrdered — no global sort. Ties at rank k
    * break by path string, so the result is total-order deterministic. */
  def topSessionPaths(events: DataFrame, gapSeconds: Long = GapSeconds,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tagged = graft.ops.Sessionize.withSessionNo(
      events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")),
      "user_id", "ts", "event_id", gapSeconds)
    tagged
      .groupBy(col("user_id"), col("session_no"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  private val AnomalyBaselineDays = 7
  private val AnomalyZ = 3.0

  /** Daily-count anomaly detection (q75): per event type, each day's event
    * count scored as a z-score against the trailing `baseline` observed
    * days — the operational spike/drop monitor over any event log (a bot
    * burst, a broken SDK, a holiday). A day is only scored once a FULL
    * baseline window precedes it (`baseline_n` = `baseline`) and the
    * baseline has nonzero variance; `is_spike` flags z >= `zThreshold`.
    *
    * Cross-engine determinism: the baseline moments come from INTEGER
    * window sums (count, sum, sum of squares — exact longs); mean and
    * variance are derived per row in one fixed parenthesization
    * (`sumsq/n - mean*mean`), and z adds one subtraction, one division
    * and one sqrt — all correctly-rounded IEEE ops, so the doubles are
    * bit-identical to the oracle's.
    *
    * Shape at scale: the raw log collapses to (event_type, day) rows via
    * ONE map-side-combinable count — the only corpus-sized exchange; the
    * trailing window then runs over a calendar-sized table (types × days)
    * partitioned by event_type, which no realistic retention makes large.
    * The ROWS frame is over OBSERVED days — a type with gap days scores
    * against its last `baseline` active days; densify against a calendar
    * dimension first if zero-filled semantics are wanted. */
  def dailyAnomaly(events: DataFrame, baseline: Int = AnomalyBaselineDays,
      zThreshold: Double = AnomalyZ): DataFrame = {
    require(baseline >= 2, s"baseline must be >= 2 days, got $baseline")
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-baseline, -1)
    val withMoments = daily
      .withColumn("baseline_n", count(col("cnt")).over(w))
      .withColumn("baseline_sum", sum(col("cnt")).over(w))
      .withColumn("baseline_sumsq", sum(col("cnt") * col("cnt")).over(w))
      .withColumn("mean",
        when(col("baseline_n") > 0,
          col("baseline_sum").cast("double") / col("baseline_n").cast("double")))
      .withColumn("variance",
        when(col("baseline_n") > 0,
          col("baseline_sumsq").cast("double") / col("baseline_n").cast("double")
            - col("mean") * col("mean")))
    withMoments
      .withColumn("z",
        when(col("baseline_n") === baseline && col("variance") > 0,
          (col("cnt").cast("double") - col("mean")) / sqrt(col("variance"))))
      .withColumn("is_spike", col("z").isNotNull && col("z") >= zThreshold)
      .select(col("event_type"), col("day"), col("cnt"), col("baseline_n"),
        col("mean"), col("z"), col("is_spike"))
  }

  /** Recency-decay cap: ages 0..15 days carry weight 2^(15-age); older
    * events contribute zero. Half-life = 1 day. */
  private val DecayCapDays = 16
  /** value is fixed-pointed to integer milli-units before weighting, so
    * the weighted sum aggregates exact longs (the q73 rule: a float SUM is
    * reduction-order-dependent and could never hash-match an oracle). */
  private val DecayUnitScale = 1000L
  private val DecayDenom = (1L << (DecayCapDays - 1)) * DecayUnitScale

  /** Recency-decayed engagement score (q88) — the feature-store staple:
    * per user, sum of event values weighted by an exponential decay
    * (half-life one day) of the event's age relative to that USER's most
    * recent event. Anchoring per user (not at a global max) keeps the
    * feature meaningful per entity AND keeps the plan to one exchange —
    * the anchor is a window max over the same key the final aggregation
    * groups by, so Catalyst plans a single hash partitioning for both.
    *
    * Cross-engine determinism: age is an INTEGER day count (floor of an
    * exact-double division); the weight is an integer power of two
    * (`shiftleft`), value is floored to integer milli-units, so the
    * aggregated sum is an exact long — one final division by the constant
    * denominator produces the double score, bit-identical to the oracle.
    *
    * Shape at scale: one shuffle on user_id shared by the window and the
    * aggregation (plan-pinned single Exchange); everything else is per-row
    * codegen. At 100 TB this is the shape of any per-entity feature
    * backfill: key-partitioned scan, narrow state, no second pass. */
  def decayScore(events: DataFrame, capDays: Int = DecayCapDays): DataFrame = {
    require(capDays >= 1 && capDays <= 62, s"capDays must be in [1,62], got $capDays")
    val w = Window.partitionBy(col("user_id"))
    val aged = events
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("age_days",
        floor((unix_micros(max(col("ts")).over(w)) - unix_micros(col("ts")))
          .cast("double") / lit(86400e6)).cast("int"))
      .withColumn("term", expr(
        s"""CASE WHEN age_days < $capDays
           |     THEN CAST(floor(value * $DecayUnitScale) AS BIGINT)
           |          * shiftleft(CAST(1 AS BIGINT), ${capDays - 1} - age_days)
           |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
    val denom = (1L << (capDays - 1)) * DecayUnitScale
    aged.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("age_days") < capDays, 1L).otherwise(0L)).as("n_recent"),
        max(col("ts")).as("last_ts"),
        sum(col("term")).as("raw"))
      .select(col("user_id"), col("n_events"), col("n_recent"), col("last_ts"),
        (col("raw").cast("double") / lit(denom.toDouble)).as("decay_score"))
  }

  /** [[decayScore]] without the window (q104, same output): the per-user
    * anchor (`max(ts)`) is computed as a map-side-combinable aggregate and
    * broadcast-joined back, so the event table never hash-partitions by
    * user_id at all — both remaining aggregations collapse a hot user
    * inside each scan task before their exchange (partial HashAggregate),
    * leaving every shuffle O(partitions x users) regardless of skew.
    *
    * Why a variant exists: the one-exchange window shape ([[decayScore]])
    * is optimal on a balanced key distribution — ONE pass, one shuffle —
    * but a bot user (10^5x median events) lands its whole log in one
    * window task, which must SORT and buffer it (WindowExec), the
    * straggler AQE cannot touch (skew rewrites apply to joins only, and
    * salting cannot split a window). This shape trades a second scan of
    * the (pruned, 3-column) event table for skew immunity: the measured
    * crossover is in SCALING.md's skew note.
    *
    * The anchor table is users-sized; at a user cardinality past the
    * broadcast threshold, pass `broadcastAnchors = false` — the forced
    * hint is a hard promise (Spark refuses, or the driver OOMs building
    * the hash relation, exactly in the high-cardinality scenario this
    * variant exists for), while the un-hinted shuffle hash join still
    * streams the hot partition (probe is per-row, no sort, no buffering),
    * which measured ~2x better than the window on the bot fixture. */
  def decayScoreSkewSafe(events: DataFrame, capDays: Int = DecayCapDays,
      broadcastAnchors: Boolean = true): DataFrame = {
    require(capDays >= 1 && capDays <= 62, s"capDays must be in [1,62], got $capDays")
    val anchors = events.groupBy(col("user_id"))
      .agg(max(col("ts")).as("anchor_ts"))
    val aged = events
      .select(col("user_id"), col("ts"), col("value"))
      .join(if (broadcastAnchors) broadcast(anchors) else anchors, Seq("user_id"))
      .withColumn("age_days",
        floor((unix_micros(col("anchor_ts")) - unix_micros(col("ts")))
          .cast("double") / lit(86400e6)).cast("int"))
      .withColumn("term", expr(
        s"""CASE WHEN age_days < $capDays
           |     THEN CAST(floor(value * $DecayUnitScale) AS BIGINT)
           |          * shiftleft(CAST(1 AS BIGINT), ${capDays - 1} - age_days)
           |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
    val denom = (1L << (capDays - 1)) * DecayUnitScale
    aged.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("age_days") < capDays, 1L).otherwise(0L)).as("n_recent"),
        max(col("ts")).as("last_ts"),
        sum(col("term")).as("raw"))
      .select(col("user_id"), col("n_events"), col("n_recent"), col("last_ts"),
        (col("raw").cast("double") / lit(denom.toDouble)).as("decay_score"))
  }

  private val DefaultWinsorPct = 10

  /** Per-key value winsorization (q106) — the outlier-clipping hygiene
    * pass run before aggregating behavioral values into features: a
    * fat-fingered client or a bot (q95's quarry) can put a single
    * absurd `value` on a user and poison every downstream mean; clipping
    * each user's values into [lo, hi] = their own [pct, 100−pct]
    * ranked-row percentiles bounds the damage while keeping the row.
    * Reports, per user: the bounds, raw and winsorized sums, and how many
    * rows clipped at each end — the winsorized mean is one division away,
    * and a high clip count is itself a bot signal.
    *
    * Cross-engine determinism (q78's rule): the cut index is PURE INTEGER
    * arithmetic — k_lo = ceil(pct·n/100) = (pct·n + 99) div 100, k_hi =
    * n + 1 − k_lo — under the tie-free (value, event_id) order, so both
    * engines pick the same physical rows; picking and clipping are
    * comparisons only (exact on doubles), and the sums aggregate
    * decimal(18,4) casts with one final double cast (q01's money rule).
    * A single-event user degenerates to lo = hi = its value, zero clips.
    *
    * Shape at scale: ONE exchange. The ranked row, the partition count,
    * and the bound picks are stacked window aggregates over the same
    * user_id hash partitioning (the ordered sort satisfies the unordered
    * specs), and the final aggregation rides that partitioning too —
    * plan-pinned no-join single-Exchange in EventOpsSpec. The hot-key
    * cost is one linear sort-bound task (the r11 skew note's residual);
    * every frame is whole-partition or expanding, never sliding. */
  def winsorizedStats(events: DataFrame, pct: Int = DefaultWinsorPct): DataFrame = {
    require(pct >= 1 && pct < 50, s"pct must be in [1, 50), got $pct")
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("v").asc, col("event_id").asc)
    val wAll = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("event_id"), col("value").as("v"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("k_lo", expr(s"($pct * n + 99) div 100"))
      .withColumn("lo", max(when(col("rn") === col("k_lo"), col("v"))).over(wAll))
      .withColumn("hi", max(when(col("rn") === col("n") + 1 - col("k_lo"),
        col("v"))).over(wAll))
      .withColumn("cv", least(greatest(col("v"), col("lo")), col("hi")))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(dec(col("v"))).cast("double").as("sum_raw"),
        sum(dec(col("cv"))).cast("double").as("sum_winsorized"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"))
  }

  /** Per-key label mode / majority vote (q89) — the label-aggregation pass
    * of an annotation or weak-supervision pipeline: per key, the most
    * frequent label, ties broken to the lexicographically smallest (a
    * stated rule, not engine luck). Reports the winner, its count, the
    * key's total, and the winner's share (one division of exact longs).
    *
    * Shape at scale: two map-side-combinable aggregations — (key, label)
    * counts, then an argmax via min(struct(-cnt, label)) at KEY
    * granularity. No window, no per-group buffering; the second shuffle
    * carries one row per distinct (key, label), bounded by label
    * cardinality, not events. */
  def labelMode(events: DataFrame, keyCol: String = "user_id",
      labelCol: String = "event_type"): DataFrame = {
    val counts = events.groupBy(col(keyCol), col(labelCol))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col(keyCol))
      .agg(
        min(struct((-col("cnt")).as("nc"), col(labelCol).as("lbl"))).as("m"),
        sum(col("cnt")).as("n_total"))
      .select(col(keyCol),
        col("m.lbl").as("mode_label"),
        (-col("m.nc")).as("n_mode"),
        col("n_total"),
        ((-col("m.nc")).cast("double") / col("n_total").cast("double"))
          .as("share"))
  }

  /** Session-level event-type co-occurrence (q90) — the market-basket
    * read over a behavioral log: for every unordered pair of event types,
    * in how many sessions do both occur? (Set semantics: a type occurring
    * five times in a session counts once — co-occurrence is about
    * presence, not volume.)
    *
    * Shape at scale: the sessionizer's single user_id exchange; the
    * per-session distinct type set rides the SAME partitioning (groupBy
    * (user, session_no) is clustered-subsumed by the window's hash on
    * user); pairs are one bounded per-row generate over the sorted set
    * (C(k,2) with k <= |event types|, sourceOverlap's idiom — never a
    * self-join of the log); the final count shuffles type-pair rows only.
    */
  def sessionCooccurrence(events: DataFrame,
      gapSeconds: Long = GapSeconds): DataFrame = {
    val tagged = Sessionize.withSessionNo(
      events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")),
      "user_id", "ts", "event_id", gapSeconds)
    tagged
      .groupBy(col("user_id"), col("session_no"))
      .agg(array_sort(collect_set(col("event_type"))).as("tps"))
      .filter(size(col("tps")) >= 2)
      .select(explode(flatten(transform(col("tps"), (a, i) =>
        transform(slice(col("tps"), i + 2, size(col("tps")) - i - 1), b =>
          struct(a.as("type_a"), b.as("type_b")))))).as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Inter-arrival gap histogram (q91) — the arrival-process read over a
    * behavioral log: per event type, the distribution of whole-second
    * gaps between a user's consecutive events of that type, collapsed
    * into power-of-two buckets (`floor(log2(gap+1))` — bucket b covers
    * gaps [2^b - 1, 2^(b+1) - 2]). The table an ingestion planner reads
    * to pick session gaps, watermark horizons, and polling cadences.
    *
    * Cross-engine determinism: gaps are integer seconds (the engine's
    * whole-second epoch rule); log2 of an integer argument cannot sit
    * within an ulp of an integer boundary below 2^31 (the nearest
    * non-power-of-two approach is ~1e-9 at 2^31, seven orders above
    * double ulp), so the floor is bit-stable across libms. Counts are
    * exact longs; bucket bounds are shifted integers.
    *
    * Shape at scale: one window exchange on (user_id, event_type) — the
    * lag is the only corpus-sized step — then a map-side-combinable count
    * into a (types × ~32 buckets)-sized table. */
  def gapHistogram(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("gap",
        col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
      .filter(col("gap").isNotNull)
      .withColumn("bucket", floor(log2(col("gap") + 1)).cast("int"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        (expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1).as("gap_lo"),
        (expr("shiftleft(CAST(1 AS BIGINT), bucket + 1)") - 2).as("gap_hi"),
        col("n"))
  }

  /** Burst detection (q95) — the bot / broken-SDK screen over a
    * behavioral log: per user, the maximum number of events inside ANY
    * trailing `windowSeconds` window (a RANGE frame over whole epoch
    * seconds — every event is scored with its own arrival as the window's
    * right edge, so the max is exact, not bucketed), flagged against
    * `threshold`. The canonical pre-training filter for behavioral data:
    * a user whose peak rate is physiologically impossible is a bot, and
    * their events poison engagement features (q88) and funnels alike.
    *
    * Cross-engine determinism: the frame arithmetic is RANGE over an
    * integer key (same peer semantics both engines), counts and the max
    * are exact longs.
    *
    * Shape at scale: one shuffle on user_id shared by the window and the
    * final aggregation (q88's shape). The trailing count is computed as
    * the DIFFERENCE OF TWO RUNNING SUMS — `cum(sec) − cum(sec − w)` —
    * rather than a literal sliding RANGE frame, because Spark cannot
    * retract from a non-invertible aggregate: a sliding frame re-counts
    * its contents at every frame move, O(frame × moves) per user (a
    * planted one-day bot at 10^5× median events extrapolates to HOURS in
    * one task — measured curve in SCALING.md's skew note), while both
    * running sums are add-only expanding frames Spark evaluates
    * incrementally, O(n) per user, and they share one WindowExec. */
  def burstScore(events: DataFrame, windowSeconds: Long = 60L,
      threshold: Long = 30L): DataFrame = {
    require(windowSeconds >= 1, s"windowSeconds must be >= 1, got $windowSeconds")
    def trailing(bound: Long) = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"))
      .rangeBetween(Window.unboundedPreceding, bound)
    events
      .select(col("user_id"), col("ts").cast("long").as("sec"))
      .withColumn("in_window",
        sum(lit(1L)).over(trailing(Window.currentRow)) -
          coalesce(sum(lit(1L)).over(trailing(-windowSeconds)), lit(0L)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("in_window")).as("max_burst"))
      .select(col("user_id"), col("n_events"), col("max_burst"),
        (col("max_burst") >= threshold).as("bursty"))
  }

  /** [[burstScore]] with the window input pre-collapsed to per-second
    * counts (q105, same output): events sharing an epoch second are RANGE
    * peers, so the trailing-window count at any of them equals the sum of
    * per-second counts over the same range — the window can run over
    * distinct `(user_id, sec)` rows carrying a count instead of raw
    * events. Exact, not approximate.
    *
    * Why this is the burst query's skew lever: the pathological input IS
    * a burst — a bot emitting thousands of events per second — and that
    * is exactly what the per-second aggregation collapses map-side,
    * inside each scan task, before any exchange (its shuffle key
    * (user_id, sec) also spreads one user across partitions). The window
    * task then sorts at most `span-seconds` rows per user (86,400/day)
    * no matter how hard the bot hammers: the hot partition's size is
    * bounded by TIME, not traffic. The trailing sum uses [[burstScore]]'s
    * difference-of-running-sums form for the same O(n)-per-user reason.
    * Measured before/after on a planted bot in SCALING.md's skew note. */
  def burstScoreSkewSafe(events: DataFrame, windowSeconds: Long = 60L,
      threshold: Long = 30L): DataFrame = {
    require(windowSeconds >= 1, s"windowSeconds must be >= 1, got $windowSeconds")
    val perSec = events
      .select(col("user_id"), col("ts").cast("long").as("sec"))
      .groupBy(col("user_id"), col("sec"))
      .agg(count(lit(1)).as("c"))
    def trailing(bound: Long) = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"))
      .rangeBetween(Window.unboundedPreceding, bound)
    perSec
      .withColumn("in_window",
        sum(col("c")).over(trailing(Window.currentRow)) -
          coalesce(sum(col("c")).over(trailing(-windowSeconds)), lit(0L)))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        max(col("in_window")).as("max_burst"))
      .select(col("user_id"), col("n_events"), col("max_burst"),
        (col("max_burst") >= threshold).as("bursty"))
  }

  /** Ingestion freshness report (q98) — the feed-health read an operator
    * checks before trusting any downstream metric: per event type, the
    * first/last arrival, total volume, the volume inside the type's own
    * trailing day (anchored at ITS last event — a feed is judged against
    * itself, and the per-type window anchor shares the aggregation's
    * exchange, q88's pattern), the active span in whole days, and the
    * per-active-day rate (one division of exact longs; a single-day span
    * reports its count over one day rather than dividing by zero).
    *
    * Shape at scale: one shuffle on event_type shared by the window and
    * the aggregation; output is types-sized. */
  def freshness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    val daysSpan = floor((unix_micros(col("last_ts")) - unix_micros(col("first_ts")))
      .cast("double") / lit(86400e6)) + 1
    events
      .select(col("event_type"), col("ts"))
      .withColumn("anchor", max(col("ts")).over(w))
      .groupBy(col("event_type"))
      .agg(
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(when(unix_micros(col("anchor")) - unix_micros(col("ts"))
          < 86400000000L, 1L).otherwise(0L)).as("n_last_day"))
      .withColumn("span_days", daysSpan.cast("long"))
      .withColumn("per_day",
        col("n_events").cast("double") / col("span_days").cast("double"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W2 first-row-per-group — the starter-derivation idiom (reference:
    // etl/players_on_court_at_start_of_period.py:73-88).
    "q15_first_per_key" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    },

    // Stint/sessionization (reference stints are per-player on-court
    // sessions; SURVEY §2.9-§2.10): gap-based sessions per user.
    "q16_sessionize" -> { (s, dir) =>
      // Final cast to double: the internal decimal sum is order-independent,
      // but a DECIMAL in the *output* schema hash-mismatches the driver's
      // representation comparator (Spark DECIMAL(28,4) vs DuckDB (38,4)).
      Sessionize.sessions(
        Tables.events(s, dir), "user_id", "ts", "event_id", GapSeconds,
        extraAggs = Seq(sum(dec(col("value"))).cast("double").as("sum_value")))
    },

    // A1-adjacent: per-key sorted distinct collect (the reference's
    // grouped collect with imposed order, etl/rotations.py:49-63).
    // The array is serialized to a JSON string: array-typed output cells
    // crash the driver's pandas row sort (unhashable ndarray), and both
    // engines render ["a","b"] identically.
    "q17_collect_types" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          to_json(sort_array(collect_set(col("event_type")))).as("types"),
          count(lit(1)).as("n_events"))
    },

    // J6 as-of (point-in-interval) lookup: latest signup at-or-before each
    // purchase, via the union+window rewrite (no inequality-join blowup).
    "q18_asof_signup" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("sid"), col("event_id"))
      AsOfJoin.backward(purchases, signups,
          keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightTie = "event_id", payloadCols = Seq("sid"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_sid").as("last_signup_id"))
    },

    // F6/F7 JSON round-trip (reference STINTS encode/decode,
    // etl/rotations.py:13 / etl/play_by_play_with_players.py:16).
    "q19_json_roundtrip" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k"))
        .withColumn("k2", col("k") * 2)
        .select(col("event_id"), col("k"),
          // ignoreNullFields=false: Spark's default DROPS null struct
          // fields ("{}") while DuckDB's to_json emits them
          // ('{"k":null,...}') — rows with unparseable/missing k would
          // hash-mismatch without it
          to_json(struct(col("k"), col("k2")),
            Map("ignoreNullFields" -> "false")).as("js"))
    },

    // F1/F2 game-clock math on a synthesized 'MM:SS' column (reference:
    // utils/utils.py:19-27) — string build + parse both happen in-plan.
    "q20_clock_math" -> { (s, dir) =>
      val period = (col("event_id") % 6 + 1).cast("int")
      // NaN caveat: Spark's non-ANSI cast renders NaN as 0 where DuckDB's
      // CAST errors — equivalent only while `value` is NaN-free (the
      // testdata generator never emits NaN; a NaN-bearing source would
      // need a symmetric isnan() guard on both sides)
      val base = floor(abs(col("value"))).cast("int")
      val perLen = when(period <= 4, 720).otherwise(300)
      val remaining = base % perLen
      val clock = format_string("%d:%02d", (remaining / 60).cast("int"), remaining % 60)
      Tables.events(s, dir)
        .select(col("event_id"), period.as("period"), clock.as("clock"))
        .withColumn("seconds_from_start",
          GameClock.secondsFromStart(col("period"), col("clock")))
    },

    // F3/F4/F5 game-id parse + synthetic id on synthesized zero-padded ids
    // (reference: utils/utils.py:57-79).
    "q21_season_parse" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val td = when(col("o_orderkey") % 3 === 0, "1")
        .when(col("o_orderkey") % 3 === 1, "2").otherwise("4")
      val yy = (col("o_custkey") % 100).cast("int")
      val gid = concat(lit("00"), td,
        lpad(yy.cast("string"), 2, "0"),
        lpad((col("o_orderkey") % 100000).cast("string"), 5, "0"))
      o.select(
        gid.as("game_id"),
        GameIds.extractSeason(gid).as("season"),
        GameIds.extractSeasonType(gid).as("season_type"),
        GameIds.syntheticId(gid, col("o_orderkey")).as("id"))
    },

    // A1 grouped ordered collect of structs — the reference's stint
    // aggregation (etl/rotations.py:49-63), sessions as array<struct>.
    "q22_stint_agg" -> { (s, dir) =>
      Sessionize.sessions(Tables.events(s, dir), "user_id", "ts", "event_id", GapSeconds)
        .select(col("user_id"),
          col("session_start").cast("long").as("in_s"),
          col("session_end").cast("long").as("out_s"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_stints"),
          // JSON-serialized (see q17): array<struct> cells break the
          // driver's pandas canonicalization; to_json is engine-portable.
          to_json(sort_array(collect_list(struct(col("in_s"), col("out_s"))))).as("stints"))
    },

    // §2.9 flagship idiom: per-key ordered imperative state machine via
    // secondary sort + mapPartitions (events since last signup).
    "q23_stateful_scan" -> { (s, dir) =>
      import s.implicits._
      val ds = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .as[Ev]
      StatefulScan.scanPartitions(ds,
        partitionExprs = Seq(col("user_id")),
        sortCols = Seq(col("user_id"), col("ts"), col("event_id"))) { it =>
        var curUser = Long.MinValue
        var counter = 0L
        it.map { e =>
          if (e.user_id != curUser) { curUser = e.user_id; counter = 0L }
          if (e.event_type == "signup") counter = 0L else counter += 1
          SinceSignup(e.event_id, e.user_id, counter)
        }
      }.toDF()
    },

    // W3 first matching row per key (the reference's filter + iloc[0],
    // play_by_play_with_players.py:50-56): earliest purchase per user via a
    // lexicographic struct-min — a single map-side-combinable aggregate,
    // cheaper at scale than a row_number window (no per-key sort).
    "q24_first_match" -> { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"))
    },

    // J8 composite-key anti-join — the shot_details delta driver shape
    // (etl/shot_details.py:28-51): 4-part combos not yet in the target.
    "q26_composite_delta" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      def combos(minQty: Double) = li
        .filter(col("l_quantity") >= minQty)
        .select(col("l_suppkey"), col("l_returnflag"), col("l_linestatus"),
          month(col("l_shipdate")).as("ship_month"))
        .distinct()
      combos(30).join(combos(45),
        Seq("l_suppkey", "l_returnflag", "l_linestatus", "ship_month"), "left_anti")
    },

    // J6 relational interval join as a checking query (SURVEY §2.3 J6):
    // error events matched into their covering session interval.
    "q25_interval_join" -> { (s, dir) =>
      val sess = Sessionize.sessions(Tables.events(s, dir), "user_id", "ts", "event_id", GapSeconds)
      val err = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"), col("event_id").as("e_id"))
      sess.join(err,
          col("user_id") === col("e_user") &&
          col("e_ts") >= col("session_start") && col("e_ts") <= col("session_end"),
          "left")
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(col("e_id")).as("n_errors"))
    },

    // Ordered-funnel analysis (see funnel): view -> click -> purchase.
    "q65_funnel" -> { (s, dir) => funnel(Tables.events(s, dir)) },

    // q65 over the duplicate-collapsed log — the funnel's skew pre-pass
    // (see collapseFunnelEvents); oracle-identical to q65 by construction.
    "q103_funnel_collapsed" -> { (s, dir) =>
      funnel(collapseFunnelEvents(Tables.events(s, dir))) },

    // Retention cohorts (see retention): first-event week x active week.
    "q66_retention" -> { (s, dir) => retention(Tables.events(s, dir)) },

    // Rolling 7-day active users (see rollingActives).
    "q67_rolling_actives" -> { (s, dir) => rollingActives(Tables.events(s, dir)) },

    // Gaps-and-islands change intervals (see changeIntervals).
    "q68_change_intervals" -> { (s, dir) => changeIntervals(Tables.events(s, dir)) },

    // Top session paths (see topSessionPaths): ordered event-type journeys.
    "q69_top_paths" -> { (s, dir) => topSessionPaths(Tables.events(s, dir)) },

    // Key-skew report (see keySkewReport): hottest join-key values.
    "q70_key_skew" -> { (s, dir) =>
      keySkewReport(Tables.events(s, dir), "user_id") },

    // Last-touch attribution (see attribution): conversions per channel.
    "q72_attribution" -> { (s, dir) => attribution(Tables.events(s, dir)) },

    // Daily-count anomaly z-scores (see dailyAnomaly).
    "q75_daily_anomaly" -> { (s, dir) => dailyAnomaly(Tables.events(s, dir)) },

    // Windowed funnel: q65 with a 1-day conversion deadline per step.
    "q80_windowed_funnel" -> { (s, dir) =>
      funnel(Tables.events(s, dir), maxGapSeconds = Some(DefaultFunnelGap)) },

    // Funnel step-latency profile (see funnelLatency).
    "q83_funnel_latency" -> { (s, dir) => funnelLatency(Tables.events(s, dir)) },

    // J6's mirror: FORWARD as-of — earliest purchase at-or-after each
    // signup (time-to-first-conversion), same union+window rewrite.
    "q79_asof_next" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("pid"),
          col("event_id"))
      AsOfJoin.forward(signups, purchases,
          keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightTie = "event_id", payloadCols = Seq("pid"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_pid").as("next_purchase_id"))
    },

    // Nearest-in-time as-of join (q107): each signup matched to its
    // NEAREST purchase by time, ties to the backward side — upgrades
    // ops/AsOfJoin.nearest from spec-pinned to hash-checked. Same union
    // shape as q79; both direction windows ride ONE user_id exchange.
    "q107_asof_nearest" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("pid"),
          col("event_id"))
      AsOfJoin.nearest(signups, purchases,
          keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightTie = "event_id", payloadCols = Seq("pid"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_pid").as("nearest_purchase_id"))
    },

    // Recency-decayed per-user engagement (see decayScore).
    "q88_decay_score" -> { (s, dir) => decayScore(Tables.events(s, dir)) },

    // q88 rebuilt windowless — the decay feature's skew-immune shape
    // (see decayScoreSkewSafe); oracle-identical to q88.
    "q104_decay_skew_safe" -> { (s, dir) =>
      decayScoreSkewSafe(Tables.events(s, dir)) },

    // Majority-vote label aggregation (see labelMode).
    "q89_label_mode" -> { (s, dir) => labelMode(Tables.events(s, dir)) },

    // Session-level event-type co-occurrence (see sessionCooccurrence).
    "q90_cooccurrence" -> { (s, dir) =>
      sessionCooccurrence(Tables.events(s, dir)) },

    // Inter-arrival gap histogram (see gapHistogram).
    "q91_gap_histogram" -> { (s, dir) => gapHistogram(Tables.events(s, dir)) },

    // Burst detection — a day window at threshold 3 so the sparse
    // synthetic log (events ~10h apart per user) exercises both flags.
    "q95_burst_detect" -> { (s, dir) =>
      burstScore(Tables.events(s, dir), windowSeconds = 86400L, threshold = 3L) },

    // q95 over per-second pre-collapsed counts — the burst query's
    // skew-immune shape (see burstScoreSkewSafe); oracle-identical to q95.
    "q105_burst_skew_safe" -> { (s, dir) =>
      burstScoreSkewSafe(Tables.events(s, dir), windowSeconds = 86400L,
        threshold = 3L) },

    // Ingestion freshness report (see freshness).
    "q98_freshness" -> { (s, dir) => freshness(Tables.events(s, dir)) },

    // Per-user value winsorization (see winsorizedStats).
    "q106_winsorize" -> { (s, dir) => winsorizedStats(Tables.events(s, dir)) })

  private val sessionCte =
    s"""WITH flagged AS (
          SELECT user_id, ts, event_id, value,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR date_diff('second', lag(ts) OVER w, ts) > $GapSeconds
                 THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts, event_id, value,
            -- BIGINT cast: DuckDB's window sum(int) yields HUGEINT, which
            -- pandas renders as float64 ('1.0' vs Spark's '1') and the
            -- driver hash-compares representations.
            CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
          FROM flagged),
        sess AS (
          SELECT user_id, session_no,
            min(ts) AS session_start, max(ts) AS session_end,
            count(*) AS n_events,
            CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM numbered GROUP BY user_id, session_no)"""

  private val oraclesBase: Map[String, String] = Map(
    "q15_first_per_key" ->
      """SELECT user_id, event_id, event_type, ts FROM (
           SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) t WHERE rn = 1""",
    "q16_sessionize" ->
      s"""$sessionCte
         SELECT user_id, session_no, session_start, session_end, n_events, sum_value
         FROM sess""",
    "q17_collect_types" ->
      """SELECT d.user_id,
           CAST(to_json((SELECT list(DISTINCT event_type ORDER BY event_type)
              FROM events e WHERE e.user_id = d.user_id)) AS VARCHAR) AS types,
           count(*) AS n_events
         FROM events d GROUP BY d.user_id""",
    "q18_asof_signup" ->
      """WITH u AS (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'signup' THEN event_id END AS sid,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
           FROM events WHERE event_type IN ('signup','purchase')),
         w AS (
           SELECT *, last_value(sid IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts ASC, tag ASC, sid ASC NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
           FROM u)
         SELECT event_id, user_id, ts, last_signup_id FROM w WHERE tag = 1""",
    // Forward mirror of q18: right rows sort AFTER left at equal ts
    // ((1 - tag) flips), first_value over the following frame.
    "q79_asof_next" ->
      """WITH u AS (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN event_id END AS pid,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS tag
           FROM events WHERE event_type IN ('signup','purchase')),
         w AS (
           SELECT *, first_value(pid IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY ts ASC, (1 - tag) ASC, pid ASC NULLS FIRST
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS next_purchase_id
           FROM u)
         SELECT event_id, user_id, ts, next_purchase_id FROM w WHERE tag = 1""",
    // both direction matches via q79's window forms, then the nearest
    // pick mirrors AsOfJoin.nearest's double arithmetic exactly:
    // ts -> micros/1e6 double, back wins at lts-bts <= fts-lts
    "q107_asof_nearest" ->
      """WITH u AS (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN event_id END AS pid,
             CASE WHEN event_type = 'purchase' THEN ts END AS pts,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS tag
           FROM events WHERE event_type IN ('signup','purchase')),
         w AS (
           SELECT *,
             last_value(pid IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, tag ASC, pid ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_pid,
             last_value(pts IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, tag ASC, pid ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
             first_value(pid IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, (1 - tag) ASC, pid ASC NULLS FIRST
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_pid,
             first_value(pts IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, (1 - tag) ASC, pid ASC NULLS FIRST
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts
           FROM u)
         SELECT event_id, user_id, ts,
           CASE WHEN back_pid IS NULL THEN fwd_pid
                WHEN fwd_pid IS NULL THEN back_pid
                WHEN CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
                     - CAST(epoch_us(back_ts) AS DOUBLE) / 1000000.0
                  <= CAST(epoch_us(fwd_ts) AS DOUBLE) / 1000000.0
                     - CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
                THEN back_pid
                ELSE fwd_pid END AS nearest_purchase_id
         FROM w WHERE tag = 1""",
    "q19_json_roundtrip" ->
      """SELECT event_id, k, to_json({'k': k, 'k2': k2})::VARCHAR AS js FROM (
           SELECT event_id, CAST(props->>'k' AS INT) AS k,
             CAST(props->>'k' AS INT) * 2 AS k2
           FROM events) t""",
    "q20_clock_math" ->
      """SELECT event_id, period, clock,
           CAST(CASE WHEN period <= 4
             THEN (period-1)*720 + (720 - remaining)
             ELSE 2880 + (period-5)*300 + (300 - remaining) END AS INT)
             AS seconds_from_start
         FROM (
           SELECT event_id, period, remaining,
             printf('%d:%02d', remaining // 60, remaining % 60) AS clock
           FROM (
             SELECT event_id,
               CAST(event_id % 6 + 1 AS INT) AS period,
               CAST(floor(abs(value)) AS INT)
                 % (CASE WHEN CAST(event_id % 6 + 1 AS INT) <= 4 THEN 720 ELSE 300 END)
                 AS remaining
             FROM events) a) b""",
    "q21_season_parse" ->
      """WITH t AS (
           SELECT o_orderkey,
             CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '4' END AS td,
             CAST(o_custkey % 100 AS INT) AS yy
           FROM orders),
         g AS (
           SELECT o_orderkey, td, yy,
             '00' || td || lpad(CAST(yy AS VARCHAR), 2, '0')
                 || lpad(CAST(o_orderkey % 100000 AS VARCHAR), 5, '0') AS gid
           FROM t)
         SELECT gid AS game_id,
           printf('%d-%02d', 2000 + yy, (yy + 1) % 100) AS season,
           CASE td WHEN '1' THEN 'Pre Season' WHEN '2' THEN 'Regular Season'
                   ELSE 'Playoffs' END AS season_type,
           gid || '-' || CAST(o_orderkey AS VARCHAR) AS id
         FROM g""",
    "q22_stint_agg" ->
      s"""$sessionCte,
         per AS (
           SELECT user_id,
             CAST(floor(epoch(session_start)) AS BIGINT) AS in_s,
             CAST(floor(epoch(session_end)) AS BIGINT) AS out_s
           FROM sess)
         SELECT user_id, count(*) AS n_stints,
           CAST(to_json(list({'in_s': in_s, 'out_s': out_s} ORDER BY in_s, out_s)) AS VARCHAR) AS stints
         FROM per GROUP BY user_id""",
    "q23_stateful_scan" ->
      """WITH g AS (
           SELECT event_id, user_id, ts,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM events)
         SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id, grp ORDER BY ts, event_id)
             - CASE WHEN grp > 0 THEN 1 ELSE 0 END AS n_since_signup
         FROM g""",
    "q24_first_match" ->
      """SELECT user_id, ts, event_id FROM (
           SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type = 'purchase') t
         WHERE rn = 1""",
    "q26_composite_delta" ->
      """WITH c30 AS (
           SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus,
             month(l_shipdate) AS ship_month
           FROM lineitem WHERE l_quantity >= 30),
         c45 AS (
           SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus,
             month(l_shipdate) AS ship_month
           FROM lineitem WHERE l_quantity >= 45)
         SELECT a.* FROM c30 a
         WHERE NOT EXISTS (
           SELECT 1 FROM c45 b
           WHERE a.l_suppkey = b.l_suppkey AND a.l_returnflag = b.l_returnflag
             AND a.l_linestatus = b.l_linestatus AND a.ship_month = b.ship_month)""",
    "q25_interval_join" ->
      s"""$sessionCte
         SELECT s.user_id, s.session_no, count(e.event_id) AS n_errors
         FROM sess s LEFT JOIN events e
           ON e.user_id = s.user_id AND e.event_type = 'error'
           AND e.ts BETWEEN s.session_start AND s.session_end
         GROUP BY s.user_id, s.session_no""",
    // The literal sequential definition — a min-per-step/join-back cascade;
    // the Spark side's one-exchange running-min window form must agree.
    "q65_funnel" ->
      """WITH s0 AS (
           SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s1 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s0 ON e.user_id = s0.user_id
           WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
         n AS (
           SELECT (SELECT count(*) FROM s0) AS n_view_users,
                  (SELECT count(*) FROM s1) AS n_click_users,
                  (SELECT count(*) FROM s2) AS n_purchase_users)
         SELECT n_view_users, n_click_users, n_purchase_users,
           CASE WHEN n_view_users > 0
                THEN CAST(n_click_users AS DOUBLE) / n_view_users END
             AS conv_view_to_click,
           CASE WHEN n_click_users > 0
                THEN CAST(n_purchase_users AS DOUBLE) / n_click_users END
             AS conv_click_to_purchase
         FROM n""",
    // q65's cascade with the per-step conversion deadline bound.
    "q80_windowed_funnel" ->
      s"""WITH s0 AS (
           SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s1 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s0 ON e.user_id = s0.user_id
           WHERE e.event_type = 'click' AND e.ts > s0.t
             AND e.ts <= s0.t + INTERVAL $DefaultFunnelGap SECOND GROUP BY 1),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s1.t
             AND e.ts <= s1.t + INTERVAL $DefaultFunnelGap SECOND GROUP BY 1),
         n AS (
           SELECT (SELECT count(*) FROM s0) AS n_view_users,
                  (SELECT count(*) FROM s1) AS n_click_users,
                  (SELECT count(*) FROM s2) AS n_purchase_users)
         SELECT n_view_users, n_click_users, n_purchase_users,
           CASE WHEN n_view_users > 0
                THEN CAST(n_click_users AS DOUBLE) / n_view_users END
             AS conv_view_to_click,
           CASE WHEN n_click_users > 0
                THEN CAST(n_purchase_users AS DOUBLE) / n_click_users END
             AS conv_click_to_purchase
         FROM n""",
    // q65's cascade extended with per-transition latency rows; the median
    // is the ranked ⌈n/2⌉-th smallest (integer rank math, no interpolation)
    // and sums are cast back to BIGINT (DuckDB's sum(BIGINT) is HUGEINT,
    // which pandas renders as float and the driver hash-compares).
    "q83_funnel_latency" ->
      """WITH s0 AS (
           SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s1 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s0 ON e.user_id = s0.user_id
           WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
         lat AS (
           SELECT 'view' AS step_from, 'click' AS step_to,
             epoch_us(s1.t) - epoch_us(s0.t) AS lat_us
           FROM s1 JOIN s0 ON s1.user_id = s0.user_id
           UNION ALL
           SELECT 'click' AS step_from, 'purchase' AS step_to,
             epoch_us(s2.t) - epoch_us(s1.t) AS lat_us
           FROM s2 JOIN s1 ON s2.user_id = s1.user_id),
         r AS (
           SELECT step_from, step_to, lat_us,
             row_number() OVER (PARTITION BY step_from, step_to
               ORDER BY lat_us) AS rk,
             count(*) OVER (PARTITION BY step_from, step_to) AS n
           FROM lat)
         SELECT step_from, step_to, count(*) AS n_users,
           min(lat_us) AS min_lat_us, max(lat_us) AS max_lat_us,
           CAST(sum(lat_us) AS BIGINT) AS sum_lat_us,
           max(CASE WHEN rk = (n + 1) // 2 THEN lat_us END) AS median_lat_us
         FROM r GROUP BY 1, 2""",
    // The literal definition: first event per user, join back, dedup to
    // user-weeks, count — the three-exchange form the Spark side avoids.
    "q66_retention" ->
      """WITH firsts AS (
           SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
         user_weeks AS (
           SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', f.t0) AS DATE) AS cohort_week,
             CAST(date_diff('day', date_trunc('week', f.t0),
                            date_trunc('week', e.ts)) // 7 AS INT)
               AS week_offset
           FROM events e JOIN firsts f ON e.user_id = f.user_id)
         SELECT cohort_week, week_offset, count(*) AS n_users
         FROM user_weeks GROUP BY 1, 2""",
    // The literal definition: for each day with events, distinct users
    // over the trailing 7 days — the per-day re-scan the Spark side's
    // user-day expansion avoids.
    "q67_rolling_actives" ->
      """WITH ud AS (
           SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
         days AS (SELECT DISTINCT day FROM ud)
         SELECT d.day AS day, count(DISTINCT u.user_id) AS n_active_7d
         FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
         GROUP BY 1""",
    // The textbook gaps-and-islands form; run_id ordinals agree with the
    // Spark side's by construction (same change flag, same running sum,
    // same (ts, event_id) order).
    "q68_change_intervals" ->
      """WITH marked AS (
           SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  = event_type THEN 0 ELSE 1 END AS chg,
             event_id
           FROM events),
         runs AS (
           SELECT *, sum(chg) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS run_id
           FROM marked),
         agg AS (
           SELECT user_id, run_id, event_type,
             min(ts) AS valid_from, count(*) AS n_events
           FROM runs GROUP BY 1, 2, 3)
         SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
             AS valid_to,
           n_events
         FROM agg""",
    // Same sessionization CTE as q16; the path is an ordered string_agg.
    // LIMIT's rank-k tie breaks by path string on both sides.
    "q69_top_paths" -> {
      s"""WITH flagged AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > $GapSeconds
                  THEN 1 ELSE 0 END AS ns
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT user_id, ts, event_id, event_type,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
           FROM flagged),
         paths AS (
           SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM numbered GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions
         FROM paths GROUP BY 1
         ORDER BY n_sessions DESC, path ASC LIMIT 20"""
    },
    // Exact-integer counts; the share division is IEEE double on both
    // engines, so the hash compare is exact.
    "q70_key_skew" ->
      """WITH counts AS (
           SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
         total AS (SELECT sum(n_rows) AS total_rows FROM counts)
         SELECT user_id, n_rows,
           CAST(n_rows AS DOUBLE) / total_rows AS share
         FROM counts, total
         ORDER BY n_rows DESC, user_id ASC LIMIT 20""",
    // The same strictly-preceding frame; the Spark side never joins —
    // this window IS the as-of self-join collapsed into one pass.
    "q72_attribution" ->
      """WITH t AS (
           SELECT user_id, event_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
           FROM events)
         SELECT coalesce(last_touch, 'none') AS channel,
           count(*) AS n_conversions
         FROM t WHERE event_type = 'purchase' GROUP BY 1""",
    // Integer window moments; mean/variance/z derived with the exact
    // parenthesization dailyAnomaly uses, so the doubles are bit-equal.
    "q75_daily_anomaly" ->
      s"""WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, cnt,
             count(cnt) OVER win AS baseline_n,
             CAST(sum(cnt) OVER win AS BIGINT) AS baseline_sum,
             CAST(sum(cnt * cnt) OVER win AS BIGINT) AS baseline_sumsq
           FROM daily
           WINDOW win AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN $AnomalyBaselineDays PRECEDING AND 1 PRECEDING)),
         m AS (
           SELECT event_type, day, cnt, baseline_n,
             CASE WHEN baseline_n > 0
                  THEN CAST(baseline_sum AS DOUBLE) / CAST(baseline_n AS DOUBLE)
             END AS mean,
             CASE WHEN baseline_n > 0
                  THEN CAST(baseline_sumsq AS DOUBLE) / CAST(baseline_n AS DOUBLE)
                    - (CAST(baseline_sum AS DOUBLE) / CAST(baseline_n AS DOUBLE))
                      * (CAST(baseline_sum AS DOUBLE) / CAST(baseline_n AS DOUBLE))
             END AS variance
           FROM w),
         z AS (
           SELECT event_type, day, cnt, baseline_n, mean,
             CASE WHEN baseline_n = $AnomalyBaselineDays AND variance > 0
                  THEN (CAST(cnt AS DOUBLE) - mean) / sqrt(variance)
             END AS z
           FROM m)
         SELECT event_type, day, cnt, baseline_n, mean, z,
           COALESCE(z >= $AnomalyZ, false) AS is_spike
         FROM z""",
    // Integer age-days, power-of-two weights, milli-unit values: the
    // aggregated sum is an exact BIGINT; the single final division is the
    // only double op, bit-equal across engines.
    "q88_decay_score" ->
      s"""WITH a AS (
           SELECT user_id, ts, value,
             CAST(floor(CAST(epoch_us(max(ts) OVER (PARTITION BY user_id))
                             - epoch_us(ts) AS DOUBLE) / 86400000000.0)
                  AS INTEGER) AS age_days
           FROM events),
         s AS (
           SELECT user_id, count(*) AS n_events,
             CAST(sum(CASE WHEN age_days < $DecayCapDays THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_recent,
             max(ts) AS last_ts,
             CAST(sum(CASE WHEN age_days < $DecayCapDays
                   THEN CAST(floor(value * $DecayUnitScale) AS BIGINT)
                        * (CAST(1 AS BIGINT) << (${DecayCapDays - 1} - age_days))
                   ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS raw
           FROM a GROUP BY 1)
         SELECT user_id, n_events, n_recent, last_ts,
           CAST(raw AS DOUBLE) / ${DecayDenom.toDouble} AS decay_score
         FROM s""",
    // the argmax mirrored as max-count join + min(label): exactly
    // labelMode's stated tie rule, no engine-default argmax luck
    "q89_label_mode" ->
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT user_id, max(cnt) AS n_mode,
             CAST(sum(cnt) AS BIGINT) AS n_total
           FROM c GROUP BY 1)
         SELECT m.user_id, min(c.event_type) AS mode_label,
           m.n_mode, m.n_total,
           CAST(m.n_mode AS DOUBLE) / CAST(m.n_total AS DOUBLE) AS share
         FROM c JOIN m ON c.user_id = m.user_id AND c.cnt = m.n_mode
         GROUP BY m.user_id, m.n_mode, m.n_total""",
    // set semantics via DISTINCT, unordered pairs via the < self-join —
    // the literal form of sessionCooccurrence's sorted-set generate
    "q90_cooccurrence" ->
      s"""WITH flagged AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > $GapSeconds
                  THEN 1 ELSE 0 END AS ns
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT user_id, ts, event_id, event_type,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
           FROM flagged),
         t AS (
           SELECT DISTINCT user_id, session_no, event_type FROM numbered)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_sessions
         FROM t a JOIN t b
           ON a.user_id = b.user_id AND a.session_no = b.session_no
           AND a.event_type < b.event_type
         GROUP BY 1, 2""",
    // whole-second integer gaps, log2 floor (bit-stable below 2^31 — see
    // gapHistogram's scaladoc), shifted-integer bucket bounds
    "q91_gap_histogram" ->
      """WITH g AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
         b AS (
           SELECT event_type,
             CAST(floor(log2(gap + 1)) AS INTEGER) AS bucket
           FROM g WHERE gap IS NOT NULL)
         SELECT event_type, bucket,
           (CAST(1 AS BIGINT) << bucket) - 1 AS gap_lo,
           (CAST(1 AS BIGINT) << (bucket + 1)) - 2 AS gap_hi,
           count(*) AS n
         FROM b GROUP BY 1, 2""",
    // RANGE frame over integer seconds — identical peer semantics both
    // engines; counts and max are exact longs
    "q95_burst_detect" ->
      """WITH s AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
         w AS (
           SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS in_window
           FROM s)
         SELECT user_id, count(*) AS n_events,
           CAST(max(in_window) AS BIGINT) AS max_burst,
           max(in_window) >= 3 AS bursty
         FROM w GROUP BY 1""",
    // per-type self-anchored trailing day, integer span, one division
    "q98_freshness" ->
      """WITH a AS (
           SELECT event_type, ts,
             max(ts) OVER (PARTITION BY event_type) AS anchor
           FROM events),
         g AS (
           SELECT event_type,
             min(ts) AS first_ts, max(ts) AS last_ts,
             count(*) AS n_events,
             CAST(sum(CASE WHEN epoch_us(anchor) - epoch_us(ts) < 86400000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day
           FROM a GROUP BY 1)
         SELECT event_type, first_ts, last_ts, n_events, n_last_day,
           CAST(floor(CAST(epoch_us(last_ts) - epoch_us(first_ts) AS DOUBLE)
                / 86400000000.0) + 1 AS BIGINT) AS span_days,
           CAST(n_events AS DOUBLE) /
             CAST(CAST(floor(CAST(epoch_us(last_ts) - epoch_us(first_ts) AS DOUBLE)
                  / 86400000000.0) + 1 AS BIGINT) AS DOUBLE) AS per_day
         FROM g""")

  /** The skew-safe variants (q103/q104/q105) are output-identical to
    * their window-form originals BY CONSTRUCTION (the scaladocs carry the
    * equivalence arguments; EventOpsSpec pins them on a planted-bot
    * fixture), so they share the originals' oracle text verbatim — the
    * driver independently hash-checks that the restructured plans produce
    * the same rows. */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "q103_funnel_collapsed" -> oraclesBase("q65_funnel"),
    "q104_decay_skew_safe" -> oraclesBase("q88_decay_score"),
    "q105_burst_skew_safe" -> oraclesBase("q95_burst_detect"),
    // integer cut index under a tie-free order, comparison-only clipping,
    // decimal sums with one final double cast (q78 + q01 rules)
    "q106_winsorize" ->
      s"""WITH r AS (
           SELECT user_id, event_id, value AS v,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events),
         k AS (
           SELECT user_id, event_id, v, rn, n,
             ($DefaultWinsorPct * n + 99) // 100 AS k_lo
           FROM r),
         b AS (
           SELECT user_id,
             max(CASE WHEN rn = k_lo THEN v END) AS lo,
             max(CASE WHEN rn = n + 1 - k_lo THEN v END) AS hi
           FROM k GROUP BY 1)
         SELECT k.user_id, count(*) AS n_events, b.lo, b.hi,
           CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_raw,
           CAST(sum(CAST(least(greatest(v, b.lo), b.hi) AS DECIMAL(18,4)))
             AS DOUBLE) AS sum_winsorized,
           CAST(sum(CASE WHEN v < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN v > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi
         FROM k JOIN b USING (user_id)
         GROUP BY k.user_id, b.lo, b.hi""")
}
