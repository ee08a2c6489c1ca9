package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.schema.{PbpEvent, PbpWithPlayers}
import graft.nba.{GameSide, Lineups}

/** Structured Streaming forms of the engine's event-log operators
  * (SURVEY.md §2.10 and §7.6 — the designed streaming extension; the
  * reference is batch-only, its closest analog being the delta/incremental
  * mode and the ordered stateful scan).
  *
  * Watermark semantics: the reference's lineup state machine performs
  * in-place substitutions, so a late event would have to rewrite history —
  * reference semantics therefore map to "drop late rows", which is exactly
  * what a watermark + event-time ordering inside each micro-batch gives.
  *
  * ==State-schema compatibility (the upgrade contract)==
  *
  * Every stateful tracker here persists its state case class into the
  * checkpoint through its Spark `Encoder` ([[FunnelState]],
  * [[CounterState]], [[ModeState]], [[TopKState]], [[BurstState]],
  * [[QuantileState]], [[AnomalyState]], and the lineup tracker's roster
  * map), and Spark's state store offers NO schema evolution for
  * flatMapGroupsWithState state: the serialized shape is the FIELD
  * NAMES, TYPES, AND ORDER of the class at write time. A redeploy that
  * adds, removes, reorders, or retypes a field and then restarts from an
  * existing checkpoint is undefined behavior — at best a loud
  * state-schema error, at worst silently misread state (the failure mode
  * this note exists to prevent on a long-running gate). The contract:
  *
  *   - these state classes are FROZEN. A behavior change that needs more
  *     state is a NEW tracker with a NEW state class and a new
  *     checkpoint, never a field added to an existing one;
  *   - a code-identical redeploy (same class shape, recompiled/restarted
  *     process) restores cleanly — StreamOpsSpec pins this by stopping a
  *     checkpointed query and resuming it with a fresh query instance;
  *   - the supported upgrade path for a SHAPE change is the gate's own
  *     operational story: drain the stream, let the at-rest tables
  *     absorb ([[graft.corpus.GateState]] compaction), start the new
  *     code with a NEW checkpoint dir and rebuild tracker state from the
  *     at-rest truth — the same restart-from-tables path a checkpoint
  *     loss already requires, which is why it needs no extra machinery.
  */
object StreamOps {

  /** Tumbling-window counts/sums per event type with late-data drop. */
  def tumblingCounts(events: DataFrame, tsCol: String, watermark: String,
      windowLen: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))

  /** Session windows (gap-based), the streaming twin of ops.Sessionize. */
  def sessionWindows(events: DataFrame, tsCol: String, watermark: String,
      gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact dedup — the streaming twin of the batch content-hash
    * dedup (queries.DedupOps q30), for an ingest stream feeding the corpus:
    * first document per content hash wins; later copies are dropped.
    * `dropDuplicatesWithinWatermark` bounds the hash state by the
    * watermark, which is the only way exact dedup state stays finite on an
    * unbounded stream — duplicates farther apart than the watermark are the
    * batch pass's job (run q30 over the landed table), exactly how a
    * stream+batch dedup pipeline splits the work at scale. */
  def dedupExact(docs: DataFrame, tsCol: String, watermark: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Per-user funnel progress carried across micro-batches: the earliest
    * qualifying timestamp (epoch MICROS — `Timestamp.getTime` millis would
    * truncate the sub-ms precision the events table ships, making a 500µs
    * gap look like a tie and silently diverging from the batch rule) of
    * each completed step prefix. O(|steps|) longs per user — bounded by
    * construction. */
  case class FunnelState(reached: Seq[Long])

  /** Full-precision epoch micros of a Timestamp: getTime carries millis
    * only; getNanos carries the whole sub-second part. */
  private def epochMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming twin of the batch funnel ([[graft.queries.EventOps.funnel]],
    * q65): emits `(event_id, user_id, depth)` whenever a user's funnel
    * depth GROWS — step i qualifies at its first occurrence strictly after
    * the user's earliest qualifying step i-1, the batch operator's exact
    * rule (same-timestamp ties do not advance; within a micro-batch rows
    * are processed in (ts, event_id) order, and cross-batch order is the
    * source's append order — the in-order-log assumption
    * [[sinceLastSignup]] documents). A batch count of the emitted max
    * depth per user IS the batch funnel's per-step census, which is how
    * the spec pins the two engines together. */
  def funnelProgress(events: Dataset[(Long, java.sql.Timestamp, Long, String)],
      steps: Seq[String] = graft.queries.EventOps.DefaultFunnelSteps)(
      implicit spark: SparkSession): Dataset[(Long, Long, Int)] = {
    import spark.implicits._
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[FunnelState]) => {
          var reached = state.getOption.map(_.reached).getOrElse(Seq.empty)
          val out = it.toSeq.sortBy(e => (epochMicros(e._2), e._3)).flatMap { e =>
            val depth = reached.size
            if (depth < steps.size && e._4 == steps(depth) &&
                (depth == 0 || epochMicros(e._2) > reached(depth - 1))) {
              reached = reached :+ epochMicros(e._2)
              Some((e._3, user, reached.size))
            } else None
          }
          state.update(FunnelState(reached))
          out.iterator
        })
  }

  /** Streaming per-key running state: events-since-last-'signup' counter —
    * the streaming twin of the batch stateful scan (queries.q23). Rows are
    * ordered by event time within each micro-batch; cross-batch order is
    * the source's append order (correct for an in-order log; late rows
    * would need the watermark variant).
    */
  case class CounterState(n: Long)

  def sinceLastSignup(events: Dataset[(Long, java.sql.Timestamp, Long, String)])(
      implicit spark: SparkSession): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[CounterState]) => {
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = it.toSeq.sortBy(e => (e._2.getTime, e._3)).map { e =>
            if (e._4 == "signup") n = 0L else n += 1
            (e._3, user, n)
          }
          state.update(CounterState(n))
          out.iterator
        })
  }

  /** State of [[labelModeProgress]]: the per-key label histogram — bounded
    * by label cardinality, never by event count. */
  case class ModeState(counts: Map[String, Long])

  /** Streaming twin of the batch majority vote
    * ([[graft.queries.EventOps.labelMode]], q89): maintains a per-key
    * label histogram and emits `(key, mode_label, n_mode, n_seen)`
    * whenever the WINNING (label, count) pair moves — the live
    * label-aggregation view of an annotation stream. The tie rule is the
    * batch operator's stated one (max count, then lexicographically
    * smallest label), and the winning pair only changes when a row is
    * emitted, so after ANY prefix of the log the key's latest emission
    * (highest `n_seen` — the strictly-increasing per-key event count at
    * emission time) carries exactly the batch operator's (mode_label,
    * n_mode) over that prefix: the stream == batch pin. The restored
    * state's mode seeds the comparison, so a batch boundary alone never
    * re-emits. Ordering follows [[sinceLastSignup]]'s in-order-log
    * assumption.
    */
  def labelModeProgress(events: Dataset[(Long, java.sql.Timestamp, Long, String)])(
      implicit spark: SparkSession): Dataset[(Long, String, Long, Long)] = {
    import spark.implicits._
    def modeOf(counts: Map[String, Long]): Option[(String, Long)] =
      if (counts.isEmpty) None
      else Some(counts.minBy { case (l, c) => (-c, l) })
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[ModeState]) => {
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          var seen = counts.valuesIterator.sum
          var last = modeOf(counts)
          val out = it.toSeq.sortBy(e => (epochMicros(e._2), e._3)).flatMap { e =>
            counts = counts.updated(e._4, counts.getOrElse(e._4, 0L) + 1L)
            seen += 1L
            val m = modeOf(counts)
            if (m != last) { last = m; m.map(p => (user, p._1, p._2, seen)) }
            else None
          }
          state.update(ModeState(counts))
          out.iterator
        })
  }

  /** State of [[topKProgress]]: the k-bounded kept set (best first) and
    * the per-group event count — O(k) per group, the streaming mirror of
    * [[graft.expressions.TopKByScore]]'s aggregation buffer. */
  case class TopKState(items: Seq[(Double, Long)], seen: Long)

  /** Streaming twin of the bounded-heap top-k aggregate (q96's
    * `graft_topk`): maintains each group's k best (score, id) pairs under
    * the aggregate's EXACT total order (`TopKByScore.WorstFirst` — shared,
    * so the two cannot drift) and, whenever a micro-batch CHANGES a
    * group's kept set, emits the full current ranking as
    * `(group, rank, id, score, n_seen)` rows — the live leaderboard.
    * `n_seen` (the per-group event count at emission) is strictly
    * increasing, so a group's rows at its max n_seen ARE the batch
    * aggregate's answer over everything delivered so far: the
    * stream == batch pin. Top-k is order-insensitive, so no within-batch
    * sort is needed and late/out-of-order delivery cannot change the
    * converged answer — only when it surfaces. */
  def topKProgress(rows: Dataset[(String, Long, Double)], k: Int = 3)(
      implicit spark: SparkSession): Dataset[(String, Int, Long, Double, Long)] = {
    import spark.implicits._
    import graft.expressions.TopKByScore.WorstFirst
    require(k >= 1, s"k must be >= 1, got $k")
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (g: String, it: Iterator[(String, Long, Double)],
         state: GroupState[TopKState]) => {
          val st = state.getOption.getOrElse(TopKState(Seq.empty, 0L))
          val buf = scala.collection.mutable.PriorityQueue
            .empty[(Double, Long)](WorstFirst)
          st.items.foreach(buf.enqueue(_))
          var seen = st.seen
          var changed = false
          it.foreach { e =>
            seen += 1L
            val item = (e._3, e._2)
            if (buf.size < k) { buf.enqueue(item); changed = true }
            else if (WorstFirst.compare(item, buf.head) < 0) {
              buf.dequeue(); buf.enqueue(item); changed = true
            }
          }
          val sorted = buf.toArray.sorted(WorstFirst).toSeq // best first
          state.update(TopKState(sorted, seen))
          if (!changed) Iterator.empty
          else sorted.iterator.zipWithIndex.map { case ((s, i), idx) =>
            (g, idx + 1, i, s, seen)
          }
        })
  }

  /** State of [[burstProgress]]: the trailing-window per-second counts
    * (ascending secs, only those within `windowSeconds` of the newest),
    * their running sum, the running burst max, and the per-user event
    * count — O(windowSeconds) entries per user at ANY traffic rate, the
    * same time-not-traffic state bound the batch skew-safe form (q105)
    * gets from its per-second collapse. */
  case class BurstState(window: Seq[(Long, Long)], inWindow: Long,
      maxBurst: Long, seen: Long)

  /** Streaming twin of the batch burst detector
    * ([[graft.queries.EventOps.burstScore]], q95): per user, the live
    * maximum number of events inside any trailing `windowSeconds` window,
    * emitted as `(user_id, n_seen, max_burst, bursty)` whenever the max
    * GROWS — the moment a bot crosses `threshold` the flag flips in-flight,
    * instead of in the next batch re-curation. Each batch pre-collapses a
    * group's events to per-second counts before anything buffers or
    * sorts, so per-batch memory is O(distinct seconds), never
    * traffic-proportional, and a second emits at most once (its final
    * count — the granularity the stream==batch argument below is stated
    * at anyway).
    *
    * Output-granularity change (r12): emission WAS per-event — an
    * intermediate (n_seen, max_burst) row for every event that grew the
    * max within a second — and is NOW per-second (one row per second
    * that grows the max, carrying that second's final count). The
    * latest row per user is unchanged, but a consumer that pinned the
    * intra-second growth rows sees fewer, coarser emissions.
    *
    * Stream == batch: events are processed in (event-time micros,
    * event_id) order; at the LAST event of each distinct second the
    * sliding sum equals the batch RANGE frame's peer-inclusive
    * `in_window` for every event of that second, and intermediate values
    * are never larger — so the running max equals the batch max over any
    * prefix, and the latest emission per user carries exactly the batch
    * row's (max_burst, bursty) (n_seen ≤ n_events when the max was set
    * before the last event; the spec pins the census). Eviction is
    * `sec <= current - windowSeconds` — the frame's exact left edge (a
    * gap equal to the window does NOT count as inside, the batch edge
    * rule).
    *
    * Ordering: in-order-log assumption ([[sinceLastSignup]]); a row older
    * than its user's newest processed second is DROPPED (its trailing
    * window is partially evicted and its peers are already scored —
    * recovering it exactly is the batch pass's job, the
    * [[anomalyProgress]] late-data rule). */
  def burstProgress(events: Dataset[(Long, java.sql.Timestamp, Long)],
      windowSeconds: Long = 60L, threshold: Long = 30L)(
      implicit spark: SparkSession): Dataset[(Long, Long, Long, Boolean)] = {
    import spark.implicits._
    require(windowSeconds >= 1, s"windowSeconds must be >= 1, got $windowSeconds")
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[BurstState]) => {
          val st = state.getOption.getOrElse(BurstState(Seq.empty, 0L, 0L, 0L))
          val window = scala.collection.mutable.ArrayDeque.from(st.window)
          var inWindow = st.inWindow
          var maxBurst = st.maxBurst
          var seen = st.seen
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Boolean)]
          // pre-collapse to per-second counts BEFORE sorting: only the
          // counts drive the state transition, so a bot group's batch
          // costs O(distinct seconds) memory + sort, not O(events) — the
          // same time-not-traffic bound the batch skew-safe form (q105)
          // gets from its collapse, now applied to the per-batch buffer
          // too (the r11 advisory's residual). A second's events land as
          // ONE transition (and at most one emission), which is exactly
          // the scaladoc's per-second equality point.
          val counts = scala.collection.mutable.HashMap.empty[Long, Long]
          it.foreach { e =>
            val sec = Math.floorDiv(epochMicros(e._2), 1000000L)
            counts(sec) = counts.getOrElse(sec, 0L) + 1L
          }
          counts.toSeq.sortBy(_._1).foreach { case (sec, c) =>
            val newest = window.lastOption.map(_._1).getOrElse(Long.MinValue)
            if (sec >= newest) { // in order; older rows drop (scaladoc)
              while (window.nonEmpty && window.head._1 <= sec - windowSeconds) {
                inWindow -= window.removeHead()._2
              }
              if (sec == newest) {
                val (s0, c0) = window.removeLast()
                window.append((s0, c0 + c))
              } else window.append((sec, c))
              inWindow += c
              seen += c
              if (inWindow > maxBurst) {
                maxBurst = inWindow
                out += ((user, seen, maxBurst, maxBurst >= threshold))
              }
            }
          }
          state.update(BurstState(window.toSeq, inWindow, maxBurst, seen))
          out.iterator
        })
  }

  /** A Greenwald–Khanna ε-approximate quantile summary: ascending
    * `(v, g, delta)` tuples where `g` is the rank gap to the previous
    * tuple and `delta` the rank uncertainty — the GK invariant
    * `g + delta <= floor(2εn)` guarantees any φ-quantile query answers
    * within ±εn RANKS of exact, while the summary holds
    * O((1/ε)·log(εn)) tuples instead of n values (Greenwald & Khanna,
    * SIGMOD 2001). Pure functions over immutable vectors so the spec
    * pins the size bound and the rank guarantee directly; the band-less
    * compress is the common simplification — same guarantee, slightly
    * larger space constant. */
  private[streaming] object Gk {
    type T = Vector[(Double, Long, Long)]

    /** Insert `v` into the summary (`n` = count BEFORE this insert). A
      * new global min/max enters with delta 0 (its rank is exact);
      * interior inserts take the full floor(2εn)−1 uncertainty. */
    def insert(t: T, n: Long, eps: Double, v: Double): T = {
      val i = t.indexWhere(_._1 > v)
      if (t.isEmpty) Vector((v, 1L, 0L))
      else if (i == 0) (v, 1L, 0L) +: t
      else if (i < 0) t :+ ((v, 1L, 0L))
      else {
        val d = math.max(0L, math.floor(2 * eps * n).toLong - 1L)
        (t.take(i) :+ ((v, 1L, d))) ++ t.drop(i)
      }
    }

    /** Merge adjacent tuples whose combined coverage stays under the
      * floor(2εn) budget, right-to-left; the extremes never merge away
      * (their ranks anchor the summary). */
    def compress(t: T, n: Long, eps: Double): T = {
      if (t.size <= 2) t
      else {
        val budget = math.floor(2 * eps * n).toLong
        val out = scala.collection.mutable.ArrayDeque[(Double, Long, Long)](t.last)
        var i = t.size - 2
        while (i >= 1) {
          val (v, g, d) = t(i)
          val (rv, rg, rd) = out.head
          if (g + rg + rd < budget) out(0) = (rv, rg + g, rd)
          else out.prepend((v, g, d))
          i -= 1
        }
        out.prepend(t.head)
        out.toVector
      }
    }

    /** The stored value whose rank is within ±⌈εn⌉ of ceil(φ·n). */
    def query(t: T, n: Long, eps: Double, phi: Double): Double = {
      require(t.nonEmpty && n > 0, "empty summary has no quantiles")
      val r = math.max(1L, math.ceil(phi * n).toLong)
      val bound = math.ceil(eps * n).toLong
      var rmin = 0L
      var prev = t.head._1
      var i = 0
      while (i < t.size) {
        val (v, g, d) = t(i)
        rmin += g
        if (rmin + d > r + bound) return prev
        prev = v
        i += 1
      }
      prev
    }
  }

  /** State of [[quantileProgress]]: the per-key GK summary tuples, the
    * running count, and the last emitted estimates — O((1/ε)·log(εn))
    * entries per key at ANY traffic rate (the sketch's own bound; the
    * spec pins it numerically), never value-proportional. */
  case class QuantileState(vs: Seq[(Double, Long, Long)], n: Long,
      emitted: Seq[Double])

  /** Streaming per-key quantile tracker — the rank-based monitoring twin
    * the tracker family (funnel/anomaly/label/top-k/burst) was missing,
    * pairing with the batch winsorization pass (q106): per user, live
    * ε-approximate estimates of `probs` quantiles over `value`, emitted
    * as `(user_id, n_seen, quantiles)` at the end of any micro-batch in
    * which an estimate MOVED — the live view of the distribution a batch
    * percentile query can only produce in hindsight (e.g. watching a
    * user's value p90 drift upward is the winsorization-bound alarm).
    *
    * Stream == batch within tolerance: after any prefix, each emitted
    * estimate's EXACT rank among that user's values so far is within
    * ±⌈εn⌉ of ceil(φ·n) (the GK guarantee; the spec pins it against a
    * brute-force sort). Unlike the order-sensitive trackers, quantiles
    * are permutation-invariant, so this one needs NO in-order-log
    * assumption — late rows are simply absorbed.
    *
    * Scale: state is the sketch bound above (compress runs every
    * 1/(2ε) inserts — amortized O(sketch) per event); one shuffle on
    * user_id, the state store holds everything else. */
  def quantileProgress(events: Dataset[(Long, java.sql.Timestamp, Double)],
      probs: Seq[Double] = Seq(0.1, 0.5, 0.9), eps: Double = 0.01)(
      implicit spark: SparkSession): Dataset[(Long, Long, Seq[Double])] = {
    import spark.implicits._
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"probs must sit in (0, 1), got $probs")
    require(eps > 0 && eps < 0.5, s"eps must sit in (0, 0.5), got $eps")
    val period = math.max(1L, math.floor(1.0 / (2 * eps)).toLong)
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[QuantileState]) => {
          val st = state.getOption.getOrElse(QuantileState(Vector.empty, 0L, Seq.empty))
          var t = st.vs.toVector
          var n = st.n
          var sinceCompress = 0L
          it.foreach { e =>
            t = Gk.insert(t, n, eps, e._3)
            n += 1
            sinceCompress += 1
            if (sinceCompress >= period) {
              t = Gk.compress(t, n, eps)
              sinceCompress = 0
            }
          }
          t = Gk.compress(t, n, eps)
          if (n == st.n) Iterator.empty
          else {
            val qs = probs.map(Gk.query(t, n, eps, _))
            state.update(QuantileState(t, n, qs))
            if (qs == st.emitted) Iterator.empty
            else Iterator.single((user, n, qs))
          }
        })
  }

  /** State of [[anomalyProgress]]: the open (not yet scored) epoch-day, its
    * running count, and the trailing completed-day counts (oldest first,
    * at most `baseline` entries) — O(baseline) per event type. */
  case class AnomalyState(day: Long, cnt: Long, window: Seq[Long])

  /** A scored completed day — field-for-field the row the batch operator
    * ([[graft.queries.EventOps.dailyAnomaly]], q75) produces for it. */
  case class AnomalyRow(event_type: String, day: java.sql.Date, cnt: Long,
      baseline_n: Long, mean: Option[Double], z: Option[Double],
      is_spike: Boolean)

  /** Streaming twin of the batch daily-anomaly monitor (q75): maintains a
    * per-event-type day counter plus the trailing `baseline` completed-day
    * counts, and emits a day's scored row the moment a LATER day's first
    * event closes it — the live spike/drop alert the batch form can only
    * produce in hindsight. The open day is never emitted (its count is
    * still growing); a stream==batch comparison therefore covers every
    * type's days except its last.
    *
    * The z math is the batch operator's bit-for-bit: integer sums of the
    * trailing window, `mean = sum/n`, `variance = sumsq/n - mean*mean`,
    * `z = (cnt - mean)/sqrt(variance)` — plain JVM double ops, the same
    * IEEE operations Spark's codegen emits for the batch Columns.
    *
    * Ordering: rows are processed in (event-time, event_id) order within a
    * micro-batch; across batches the in-order-log assumption of
    * [[sinceLastSignup]] applies. A row older than its type's open day is
    * DROPPED (the reference-semantics late-data rule — see the class note;
    * a watermarked window variant is the remedy when late days matter). */
  def anomalyProgress(events: Dataset[(String, java.sql.Timestamp, Long)],
      baseline: Int = 7, zThreshold: Double = 3.0)(
      implicit spark: SparkSession): Dataset[AnomalyRow] = {
    import spark.implicits._
    require(baseline >= 2, s"baseline must be >= 2 days, got $baseline")
    val microsPerDay = 86400L * 1000000L
    def score(typ: String, day: Long, cnt: Long, window: Seq[Long]): AnomalyRow = {
      val n = window.size.toLong
      val mean = if (n > 0) Some(window.sum.toDouble / n.toDouble) else None
      val variance = mean.map(m =>
        window.map(c => c * c).sum.toDouble / n.toDouble - m * m)
      val z = if (n == baseline && variance.exists(_ > 0))
        Some((cnt.toDouble - mean.get) / math.sqrt(variance.get))
      else None
      AnomalyRow(typ,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)),
        cnt, n, mean, z, z.exists(_ >= zThreshold))
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (typ: String, it: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[AnomalyState]) => {
          var st = state.getOption.getOrElse(
            AnomalyState(Long.MinValue, 0L, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyRow]
          it.toSeq.sortBy(e => (epochMicros(e._2), e._3)).foreach { e =>
            val d = Math.floorDiv(epochMicros(e._2), microsPerDay)
            if (st.day == Long.MinValue) st = AnomalyState(d, 1L, Seq.empty)
            else if (d == st.day) st = st.copy(cnt = st.cnt + 1)
            else if (d > st.day) {
              out += score(typ, st.day, st.cnt, st.window)
              st = AnomalyState(d, 1L,
                (st.window :+ st.cnt).takeRight(baseline))
            }
            // d < st.day: late beyond the open day — dropped (scaladoc)
          }
          state.update(st)
          out.iterator
        })
  }

  /** The per-game roster/starters/matchup side inputs as STREAMING initial
    * state: one [[Lineups.LineupState]] per game, carrying only the side
    * rows. This is how the static side of the join reaches the tracker at
    * scale — the roster table is a distributed Dataset end to end (grouped,
    * shuffled and stored alongside the stream state), never a driver-held
    * map or broadcast. */
  private def rosterState(roster: Dataset[GameSide])(
      implicit spark: SparkSession):
      org.apache.spark.sql.KeyValueGroupedDataset[String, Lineups.LineupState] = {
    import spark.implicits._
    roster.groupByKey(_.GAME_ID)
      .mapGroups((gid, it) => gid -> Lineups.rosterState(it.toSeq))
      .groupByKey(_._1).mapValues(_._2)
  }

  /** Streaming lineup tracker — the flagship operator as a stream
    * (SURVEY.md §2.9 "streaming variant"). Keyed by game; the GroupState is
    * the batch engine's own LineupState, and every transition runs through
    * the same Lineups.advance, so batch and streaming cannot drift apart.
    * The static side (rotations/starters/matchup rows, shaped by
    * [[graft.nba.Lineups.sideInputs]]) joins the stream through the
    * initial-state API: each game's roster is grouped ON THE CLUSTER and
    * seeded into that game's state before its first event, then carried by
    * the state store — a game is ~20 small rows, so state residency beats
    * re-shipping the roster with every event. */
  def trackLineups(
      events: Dataset[PbpEvent],
      roster: Dataset[GameSide])(
      implicit spark: SparkSession): Dataset[PbpWithPlayers] = {
    import spark.implicits._
    events
      .groupByKey(_.GAME_ID)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout(),
        rosterState(roster))(
        (gid: String, it: Iterator[PbpEvent], state: GroupState[Lineups.LineupState]) => {
          val batch = it.toArray.sortBy(e => (e.PERIOD, e.SECONDS_FROM_START, e.EVENTNUM))
          // initial-state seeding: Spark invokes this function with an
          // EMPTY iterator for every initial-state key absent from the
          // micro-batch (skipEmittingInitialStateKeys defaults to false).
          // Running advance there would resolve teams from the matchup
          // fallback — or crash without one — before any event exists;
          // just keep the seeded roster state until events arrive
          if (batch.isEmpty) Iterator.empty
          else {
            val st = state.getOption
            val side = st.map(_.side.toArray).getOrElse(Array.empty[GameSide])
            val (rows, next) = Lineups.advance(gid, batch, side, st)
            state.update(next)
            rows.iterator
          }
        })
  }
}
