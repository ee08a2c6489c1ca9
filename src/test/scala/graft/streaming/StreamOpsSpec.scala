package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.nba.GameSide
import graft.schema.{PbpEvent, Stint}

/** Streaming operators driven through MemoryStream micro-batches —
  * verifying cross-batch state continuity, which is the part batch tests
  * cannot cover. */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("tumblingCounts aggregates per window+type; late row beyond watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.tumblingCounts(df, "ts", "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("tumbling").outputMode("update").start()
    try {
      in.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0), (ts(70), "view", 3.0))
      q.processAllAvailable()
      // watermark now 70-10=60; a row at t=5 (window [0,60)) is late -> dropped
      in.addData((ts(5), "click", 99.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT window.start, event_type, n_events, CAST(sum_value AS DOUBLE)
           FROM tumbling""")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(60), "view", 1L, 3.0)))
      assert(!rows.exists { case (_, t, n, v) => t == "click" && v == 102.0 })
    } finally q.stop()
  }

  test("dedupExact drops a replayed document in a later micro-batch (within watermark)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = StreamOps.dedupExact(in.toDF().toDF("ts", "doc_id", "text"), "ts", "1 minute")
    val q = out.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData((ts(10), 1L, "alpha"), (ts(11), 2L, "beta"))
      q.processAllAvailable()
      in.addData((ts(12), 3L, "alpha"), (ts(13), 4L, "gamma")) // doc 3 is a dup
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM dedup").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("sinceLastSignup keeps the running counter across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val out = StreamOps.sinceLastSignup(in.toDS())
    val q = out.toDF("event_id", "user_id", "n")
      .writeStream.format("memory").queryName("counter").outputMode("append").start()
    try {
      in.addData((1L, ts(1), 10L, "click"), (1L, ts(2), 11L, "click"))
      q.processAllAvailable()
      in.addData((1L, ts(3), 12L, "signup"), (1L, ts(4), 13L, "click"))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, n FROM counter")
        .as[(Long, Long)].collect().toMap
      // batch 1: 10->1, 11->2; batch 2 resumes: signup->0, then 1
      assert(got == Map(10L -> 1L, 11L -> 2L, 12L -> 0L, 13L -> 1L))
    } finally q.stop()
  }

  test("checkpointed tracker state survives a code-identical redeploy (restart pin)") {
    // the state-schema compatibility contract's positive half (see the
    // StreamOps object scaladoc): stop a checkpointed stateful query,
    // deliver more data, start a FRESH query instance over the same
    // unchanged state class and checkpoint — the counter must CONTINUE
    // from restored state, not restart from zero
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("restart_pin").toString
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    // a DURABLE sink: the memory sink refuses checkpoint recovery, and a
    // real gate writes files anyway
    def startQuery() =
      StreamOps.sinceLastSignup(in.toDS())
        .toDF("event_id", "user_id", "n")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    val q1 = startQuery()
    try {
      in.addData((1L, ts(1), 10L, "click"), (1L, ts(2), 11L, "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    // delivered while the query is DOWN — the restarted instance picks it
    // up from the committed source offsets
    in.addData((1L, ts(3), 12L, "click"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).select("event_id", "n")
      .as[(Long, Long)].collect().toMap
    // event 12 counts 3, not 1: CounterState(n = 2) was RESTORED from
    // the checkpoint by the second (code-identical) query instance
    assert(got == Map(10L -> 1L, 11L -> 2L, 12L -> 3L),
      s"restored state must continue the pre-restart count: $got")
  }

  test("funnelProgress: cross-batch depth, tie rule, and stream == batch census") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val out = StreamOps.funnelProgress(in.toDS())
    val q = out.toDF("event_id", "user_id", "depth")
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    // user 1 views in batch 1, converts across batches; user 2's click
    // arrives BEFORE any view (no credit) and its same-ts re-click after
    // the view must not advance (strictly-after rule); user 3 full-depth
    // inside one batch.
    val b1 = Seq(
      (1L, ts(10), 1L, "view"),
      (2L, ts(5), 4L, "click"), (2L, ts(10), 5L, "view"), (2L, ts(10), 6L, "click"),
      (3L, ts(1), 7L, "view"), (3L, ts(2), 8L, "click"), (3L, ts(3), 9L, "purchase"))
    val b2 = Seq(
      (1L, ts(20), 2L, "click"), (1L, ts(30), 3L, "purchase"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val depths = spark.sql("SELECT user_id, max(depth) FROM funnel GROUP BY 1")
        .as[(Long, Int)].collect().toMap
      assert(depths == Map(1L -> 3, 2L -> 1, 3L -> 3))
      // the stream's census == the batch operator over the full log
      val all = (b1 ++ b2).toDF("user_id", "ts", "event_id", "event_type")
      val batch = graft.queries.EventOps.funnel(all).collect().head
      val census = (1 to 3).map(d => depths.values.count(_ >= d).toLong)
      assert(census == Seq(batch.getLong(0), batch.getLong(1), batch.getLong(2)))
    } finally q.stop()
  }

  test("labelModeProgress: cross-batch histogram, tie rule, latest emission == batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val out = StreamOps.labelModeProgress(in.toDS())
    val q = out.toDF("user_id", "mode_label", "n_mode", "n_seen")
      .writeStream.format("memory").queryName("labelmode").outputMode("append").start()
    // user 1: b, then a (tie at 1-1 flips to the smaller label), then b
    // twice across the batch boundary (retakes and extends), then a (no
    // flip — no emission). user 2: one label, one emission.
    val b1 = Seq((1L, ts(1), 1L, "b"), (1L, ts(2), 2L, "a"), (2L, ts(3), 5L, "c"))
    val b2 = Seq((1L, ts(4), 3L, "b"), (1L, ts(5), 4L, "b"), (1L, ts(6), 6L, "a"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, mode_label, n_mode, n_seen FROM labelmode")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(rows == Set(
        (1L, "b", 1L, 1L), // first event wins outright
        (1L, "a", 1L, 2L), // 1-1 tie flips to the smaller label
        (1L, "b", 2L, 3L), // b retakes
        (1L, "b", 3L, 4L), // and extends; the trailing 'a' emits nothing
        (2L, "c", 1L, 1L)), rows.toString) // n_seen is per-KEY, not global
      // the latest emission per user == the batch operator over the log
      val latest = rows.groupBy(_._1).map { case (u, rs) =>
        val r = rs.maxBy(_._4); u -> ((r._2, r._3)) }
      val batch = graft.queries.EventOps.labelMode(
          (b1 ++ b2).toDF("user_id", "ts", "event_id", "event_type"))
        .select("user_id", "mode_label", "n_mode")
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(latest == batch, s"stream $latest != batch $batch")
    } finally q.stop()
  }

  test("labelModeProgress: latest emission == batch on a randomized two-batch log") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(89)
    val labels = Vector("a", "b", "c", "d")
    val all = (1 to 240).map(i =>
      (rnd.nextInt(5).toLong + 1L, ts(i), i.toLong, labels(rnd.nextInt(labels.size))))
    val (b1, b2) = all.splitAt(120)
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamOps.labelModeProgress(in.toDS())
      .toDF("user_id", "mode_label", "n_mode", "n_seen")
      .writeStream.format("memory").queryName("labelmode_rnd").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val latest = spark.sql(
          "SELECT user_id, mode_label, n_mode, n_seen FROM labelmode_rnd")
        .as[(Long, String, Long, Long)].collect()
        .groupBy(_._1).map { case (u, rs) =>
          val r = rs.maxBy(_._4); u -> ((r._2, r._3)) }
      val batch = graft.queries.EventOps.labelMode(
          all.toDF("user_id", "ts", "event_id", "event_type"))
        .select("user_id", "mode_label", "n_mode")
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(latest == batch)
    } finally q.stop()
  }

  test("topKProgress: emits only on kept-set change, latest emission == batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val q = StreamOps.topKProgress(in.toDS(), k = 2)
      .toDF("g", "rk", "id", "s", "n_seen")
      .writeStream.format("memory").queryName("topk").outputMode("append").start()
    try {
      // batch 1: two entries fill the heap
      in.addData(("a", 1L, 0.5), ("a", 2L, 0.9))
      q.processAllAvailable()
      // batch 2: a WORSE entry changes nothing (no emission), then check
      in.addData(("a", 3L, 0.1))
      q.processAllAvailable()
      val afterWorse = spark.sql("SELECT max(n_seen) FROM topk WHERE g = 'a'")
        .collect().head.getLong(0)
      assert(afterWorse == 2L, "a non-improving batch must emit nothing")
      // batch 3: a better entry displaces the weakest
      in.addData(("a", 4L, 0.7))
      q.processAllAvailable()
      val latest = spark.sql(
          "SELECT rk, id, s FROM topk WHERE g = 'a' AND n_seen = 4 ORDER BY rk")
        .as[(Int, Long, Double)].collect().toSeq
      assert(latest == Seq((1, 2L, 0.9), (2, 4L, 0.7)), latest.toString)
      // == the batch aggregate over everything delivered
      val batch = Seq(("a", 1L, 0.5), ("a", 2L, 0.9), ("a", 3L, 0.1), ("a", 4L, 0.7))
        .toDF("g", "i", "s")
        .groupBy(col("g"))
        .agg(call_function("graft_topk", col("s"), col("i"), lit(2)).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).as("rk"), col("col.id"), col("col.score"))
        .as[(Int, Long, Double)].collect().toSeq
      assert(latest == batch, s"stream latest $latest != batch $batch")
    } finally q.stop()
  }

  test("burstProgress: edge-exact trailing max across batches, flag flips in-flight") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamOps.burstProgress(in.toDS(), windowSeconds = 60L, threshold = 3L)
      .toDF("user_id", "n_seen", "max_burst", "bursty")
      .writeStream.format("memory").queryName("burst").outputMode("append").start()
    try {
      // batch 1: user 1 at secs 0,30 (burst 2); user 2 at sec 0
      in.addData((1L, ts(0), 1L), (1L, ts(30), 2L), (2L, ts(0), 5L))
      q.processAllAvailable()
      // batch 2: user 1's sec 59 lands inside [0,59] -> burst 3, flag
      // flips; user 2's sec 60 is a gap EQUAL to the window -> still 1
      // (the batch edge rule), so no emission for user 2
      in.addData((1L, ts(59), 3L), (2L, ts(60), 6L))
      q.processAllAvailable()
      // batch 3: user 1 far away -> window evicted, burst 1 < max, silent
      in.addData((1L, ts(1000), 4L))
      q.processAllAvailable()
      val rows = spark.sql(
          "SELECT user_id, n_seen, max_burst, bursty FROM burst ORDER BY user_id, n_seen")
        .as[(Long, Long, Long, Boolean)].collect().toSeq
      assert(rows == Seq(
        (1L, 1L, 1L, false), (1L, 2L, 2L, false), (1L, 3L, 3L, true),
        (2L, 1L, 1L, false)), rows.toString)
    } finally q.stop()
  }

  test("burstProgress: randomized two-batch stream == batch q95 census") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(95)
    // bursty-ish traffic: small second range so windows overlap heavily
    val all = (1 to 300).map(i =>
      ((rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(200).toLong), i.toLong))
      .sortBy(e => (e._2.getTime, e._3)) // in-order log (the stated assumption)
    val (b1, b2) = all.splitAt(150)
    val in = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamOps.burstProgress(in.toDS(), windowSeconds = 45L, threshold = 20L)
      .toDF("user_id", "n_seen", "max_burst", "bursty")
      .writeStream.format("memory").queryName("burst_rnd").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val latest = spark.sql("SELECT user_id, max_burst, bursty FROM burst_rnd")
        .as[(Long, Long, Boolean)].collect()
        .groupBy(_._1).map { case (u, rs) => u -> {
          val m = rs.map(_._2).max; (m, rs.find(_._2 == m).get._3)
        }}
      val batch = graft.queries.EventOps.burstScore(
          all.toDF("user_id", "ts", "event_id"), windowSeconds = 45L, threshold = 20L)
        .select(col("user_id"), col("max_burst"), col("bursty"))
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(latest == batch, s"stream $latest != batch $batch")
    } finally q.stop()
  }

  test("Gk sketch: sublinear summary with the ±εn rank guarantee") {
    val rnd = new scala.util.Random(42)
    val eps = 0.05
    val vals = rnd.shuffle((1 to 5000).toVector).map(_.toDouble)
    var t: StreamOps.Gk.T = Vector.empty
    var n = 0L
    vals.foreach { v =>
      t = StreamOps.Gk.insert(t, n, eps, v); n += 1
      if (n % 10 == 0) t = StreamOps.Gk.compress(t, n, eps)
    }
    t = StreamOps.Gk.compress(t, n, eps)
    assert(t.size <= 150, s"summary must stay sublinear: ${t.size} tuples for $n")
    // values are the distinct ints 1..5000, so exact rank(est) == est
    for (phi <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = StreamOps.Gk.query(t, n, eps, phi)
      val r = math.max(1L, math.ceil(phi * n).toLong)
      assert(math.abs(est.toLong - r) <= math.ceil(eps * n).toLong,
        s"phi=$phi est=$est target rank=$r")
    }
  }

  test("quantileProgress: emits only when an estimate moves; constant stream is silent") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.quantileProgress(in.toDS(), probs = Seq(0.5, 0.9), eps = 0.05)
      .toDF("user_id", "n_seen", "qs")
      .writeStream.format("memory").queryName("quant").outputMode("append").start()
    try {
      in.addData((1 to 50).map(i => (1L, ts(i.toLong), 5.0)): _*)
      q.processAllAvailable()
      // more of the same value: every estimate stays put -> NO emission
      in.addData((1 to 10).map(i => (1L, ts(100L + i), 5.0)): _*)
      q.processAllAvailable()
      // a new upper mass: p90 must move -> exactly one new emission
      in.addData((1 to 60).map(i => (1L, ts(200L + i), 50.0)): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_seen, qs FROM quant ORDER BY n_seen")
        .as[(Long, Long, Seq[Double])].collect().toSeq
      assert(rows.map(_._2) == Seq(50L, 120L), rows.toString)
      assert(rows.head._3 == Seq(5.0, 5.0), rows.toString)
      assert(rows(1)._3(1) == 50.0, "p90 must land in the new mass")
    } finally q.stop()
  }

  test("quantileProgress: randomized two-batch estimates honor the GK rank tolerance") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(111)
    val eps = 0.05
    val all = (1 to 400).map(i =>
      ((rnd.nextInt(3) + 1).toLong, ts(i.toLong),
        math.floor(rnd.nextDouble() * 1000) / 10))
    val (b1, b2) = all.splitAt(200)
    val in = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.quantileProgress(in.toDS(), probs = Seq(0.25, 0.5, 0.9),
        eps = eps)
      .toDF("user_id", "n_seen", "qs")
      .writeStream.format("memory").queryName("quant_rnd")
      .outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // the latest emission per user carries the CURRENT estimates (a
      // silent batch means they did not move), so each one's exact rank
      // among ALL the user's values must sit inside the ±⌈εn⌉ bracket
      val latest = spark.sql("SELECT user_id, n_seen, qs FROM quant_rnd")
        .as[(Long, Long, Seq[Double])].collect()
        .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2)._3 }
      val byUser = all.groupBy(_._1)
      assert(latest.keySet == byUser.keySet)
      latest.foreach { case (u, qs) =>
        val vs = byUser(u).map(_._3).sorted
        Seq(0.25, 0.5, 0.9).zip(qs).foreach { case (phi, est) =>
          val r = math.max(1, math.ceil(phi * vs.size).toInt)
          val bound = math.ceil(eps * vs.size).toInt
          val lo = vs((r - bound - 1).max(0))
          val hi = vs((r + bound - 1).min(vs.size - 1))
          assert(est >= lo && est <= hi,
            s"u=$u phi=$phi est=$est outside rank bracket [$lo, $hi]")
        }
      }
    } finally q.stop()
  }

  test("topKProgress: randomized two-batch stream converges to the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(96)
    val all = (1 to 200).map(i =>
      (s"g${rnd.nextInt(4)}", i.toLong, math.floor(rnd.nextDouble() * 100) / 100))
    val (b1, b2) = all.splitAt(100)
    val in = MemoryStream[(String, Long, Double)]
    val q = StreamOps.topKProgress(in.toDS(), k = 3)
      .toDF("g", "rk", "id", "s", "n_seen")
      .writeStream.format("memory").queryName("topk_rnd").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val rows = spark.sql("SELECT g, rk, id, s, n_seen FROM topk_rnd")
        .as[(String, Int, Long, Double, Long)].collect()
      val latest = rows.groupBy(_._1).map { case (g, rs) =>
        val mx = rs.map(_._5).max
        g -> rs.filter(_._5 == mx).sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq
      }
      val batch = all.toDF("g", "i", "s")
        .groupBy(col("g"))
        .agg(call_function("graft_topk", col("s"), col("i"), lit(3)).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), (col("pos") + 1).as("rk"), col("col.id"), col("col.score"))
        .as[(String, Int, Long, Double)].collect()
        .groupBy(_._1).map { case (g, rs) =>
          g -> rs.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq }
      assert(latest == batch)
    } finally q.stop()
  }

  test("funnelProgress keeps sub-millisecond precision: a 500us gap is strictly after") {
    implicit val sqlCtx = spark.sqlContext
    // the events table ships micros — same epoch MILLI, different micros.
    // getTime-based comparison would call this a tie and refuse to advance.
    def microTs(ms: Long, micros: Int): Timestamp = {
      val t = new Timestamp(ms)
      t.setNanos(micros * 1000)
      t
    }
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val out = StreamOps.funnelProgress(in.toDS())
    val q = out.toDF("event_id", "user_id", "depth")
      .writeStream.format("memory").queryName("funnel_us").outputMode("append").start()
    try {
      in.addData(
        (1L, microTs(1000, 100), 1L, "view"),
        (1L, microTs(1000, 600), 2L, "click"), // +500us: strictly after
        (2L, microTs(1000, 100), 3L, "view"),
        (2L, microTs(1000, 100), 4L, "click")) // true tie: no credit
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, max(depth) FROM funnel_us GROUP BY 1")
        .as[(Long, Int)].collect().toMap
      assert(got == Map(1L -> 2, 2L -> 1))
    } finally q.stop()
  }

  test("trackLineups: static roster table via initial state; stream == batch path") {
    implicit val sqlCtx = spark.sqlContext
    val G = "0022400100"
    val T1 = 100L
    val T2 = 200L
    // the STATIC side: a roster table (Dataset, not a driver map), exactly
    // what Lineups.sideInputs produces from the rotations table
    val roster: Seq[GameSide] =
      (101L to 105L).map(p => GameSide(G, 0, T1, p, -1, Seq(Stint(0.0, 28800.0)), null)) ++
        Seq(GameSide(G, 0, T1, 106L, -1, Seq(Stint(3600.0, 28800.0)), null)) ++
        (201L to 205L).map(p => GameSide(G, 0, T2, p, -1, Seq(Stint(0.0, 28800.0)), null))

    def ev(num: Long, typ: Int, act: Int, clock: String,
        p1: Option[Long] = None, t1: Option[Long] = None,
        p2: Option[Long] = None, t2: Option[Long] = None) = {
      val Array(m, s) = clock.split(":").map(_.toInt)
      PbpEvent(G, num, typ, act, 1, clock,
        720 - (m * 60 + s), p1, t1, p2, t2)
    }
    val batch1 = Seq(ev(1L, 10, 0, "12:00", Some(101L), Some(T1), Some(201L), Some(T2)))
    val batch2 = Seq(ev(2L, 8, 0, "6:00", Some(103L), Some(T1), Some(106L), Some(T1)))

    val in = MemoryStream[PbpEvent]
    val out = StreamOps.trackLineups(in.toDS(), roster.toDS())
    val q = out.writeStream.format("memory").queryName("lineups").outputMode("append").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      // next batch: substitution must apply against the REMEMBERED lineup
      in.addData(batch2: _*)
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT EVENTNUM, TEAM1_PLAYER1, TEAM1_PLAYER2, TEAM1_PLAYER3,
                  TEAM1_PLAYER4, TEAM1_PLAYER5 FROM lineups ORDER BY EVENTNUM""")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(rows == Seq(
        (1L, 101L, 102L, 103L, 104L, 105L),
        (2L, 101L, 102L, 104L, 105L, 106L)))
      // the stream-static composition must agree with the batch operator
      // run over the same events + the same static tables, row for row
      val rotations = roster.toDS().toDF()
        .select(col("GAME_ID"), col("TEAM_ID"), col("PLAYER_ID"), col("STINTS"))
      val batchRows = graft.nba.Lineups.withPlayers(
        (batch1 ++ batch2).toDS().toDF(), rotations, failFast = true)
        .collect().toSet
      val streamed = spark.sql("SELECT * FROM lineups")
        .as[graft.schema.PbpWithPlayers].collect().toSet
      assert(streamed == batchRows, "stream and batch paths diverged")
    } finally q.stop()
  }

  test("a roster game with no events yet only seeds state (initial-state keys fire with an empty iterator)") {
    implicit val sqlCtx = spark.sqlContext
    val T1 = 100L
    val T2 = 200L
    def gameRoster(g: String): Seq[GameSide] =
      (101L to 105L).map(p => GameSide(g, 0, T1, p, -1, Seq(Stint(0.0, 28800.0)), null)) ++
        (201L to 205L).map(p => GameSide(g, 0, T2, p, -1, Seq(Stint(0.0, 28800.0)), null))
    val gA = "0022400103"
    val gB = "0022400104"
    def jump(g: String, num: Long) = PbpEvent(g, num, 10, 0, 1, "12:00", 0,
      Some(101L), Some(T1), Some(201L), Some(T2))

    val in = MemoryStream[PbpEvent]
    // roster covers BOTH games; batch 1 has events only for A — Spark
    // still invokes the tracker for B (empty iterator) to seed its state,
    // which must neither crash (no matchup fallback here) nor emit
    val q = StreamOps.trackLineups(in.toDS(), (gameRoster(gA) ++ gameRoster(gB)).toDS())
      .writeStream.format("memory").queryName("lineups_seed").outputMode("append").start()
    try {
      in.addData(jump(gA, 1L))
      q.processAllAvailable()
      val afterA = spark.sql("SELECT GAME_ID FROM lineups_seed").as[String].collect()
      assert(afterA.toSeq == Seq(gA), "the event-less game must not emit")
      // B's events arrive later and must find the seeded roster in state:
      // assert on the LINEUP PLAYERS (derivable only from the seeded
      // GameSide stints) — a jump-ball event alone could resolve the teams,
      // so game presence would not prove the roster survived
      in.addData(jump(gB, 1L))
      q.processAllAvailable()
      val bRow = spark.sql(
        s"""SELECT TEAM1_PLAYER1, TEAM1_PLAYER5, TEAM2_PLAYER1, TEAM2_PLAYER5
            FROM lineups_seed WHERE GAME_ID = '$gB'""")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(bRow == Seq((101L, 105L, 201L, 205L)),
        "game B's lineups must come from the roster seeded in batch 1")
    } finally q.stop()
  }

  test("nearDupAgainst gates a stream against a static corpus: stateless, == batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.DedupOps
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // exact dup of 0
      (3L, "totally unrelated words in this row"), // no collision survives verify
      (5L, "one two three four five six seven"))   // exact dup of 2
    val in = MemoryStream[(Long, String)]
    val out = DedupOps.nearDupAgainst(in.toDF().toDF("doc_id", "text"), corpus)
    val q = out.writeStream.format("memory").queryName("gate")
      .outputMode("append").start()
    try {
      in.addData(incoming.take(2): _*)
      q.processAllAvailable()
      in.addData(incoming.drop(2): _*)
      q.processAllAvailable()
      // stateless by construction: per-row signatures + stream-static
      // joins only — append mode with NO state operators and no watermark
      assert(q.lastProgress.stateOperators.isEmpty,
        "the gate must not hold streaming state")
      val got = spark.sql("SELECT doc_id, corpus_id, jaccard FROM gate")
        .as[(Long, Long, Double)].collect().toSeq
      // canonical-band emission: identical docs collide in ALL bands but
      // emit exactly once
      assert(got.length == got.distinct.length, "duplicate emission")
      val batch = DedupOps.nearDupAgainst(incoming.toDF("doc_id", "text"), corpus)
        .as[(Long, Long, Double)].collect().toSeq
      assert(got.toSet == batch.toSet, "stream and batch semantics must agree")
      assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 0L), (5L, 2L)))
    } finally q.stop()
  }

  test("the curation gates (mixFilter + hashSplit) run statelessly on a stream, == batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.TextOps
    val rows = (0L until 64L).map(i => (i, s"src${i % 2}", s"text $i"))
    val in = MemoryStream[(Long, String, String)]
    // the crawl-ingest composition: mix the arriving batch, then stamp its
    // deterministic split — both pure row functions, so they lift to a
    // stream unchanged (no watermark, no state)
    val mixed = TextOps.mixFilter(
      in.toDF().toDF("doc_id", "source", "text"), Seq("src0" -> "7f"), "33")
    val out = TextOps.hashSplit(mixed)
    val q = out.writeStream.format("memory").queryName("curation")
      .outputMode("append").start()
    try {
      in.addData(rows.take(32): _*)
      q.processAllAvailable()
      in.addData(rows.drop(32): _*)
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "curation gates must not hold streaming state")
      val got = spark.sql("SELECT doc_id, split FROM curation")
        .as[(Long, String)].collect().toSet
      val batchDocs = rows.toDF("doc_id", "source", "text")
      val batch = TextOps.hashSplit(
          TextOps.mixFilter(batchDocs, Seq("src0" -> "7f"), "33"))
        .select("doc_id", "split").as[(Long, String)].collect().toSet
      assert(got == batch, "stream and batch curation must agree")
    } finally q.stop()
  }

  test("trackLineups enforces the A5 duplicate-id invariant ACROSS micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val G = "0022400101"
    val T1 = 100L
    val T2 = 200L
    val roster: Seq[GameSide] =
      (101L to 105L).map(p => GameSide(G, 0, T1, p, -1, Seq(Stint(0.0, 28800.0)), null)) ++
        (201L to 205L).map(p => GameSide(G, 0, T2, p, -1, Seq(Stint(0.0, 28800.0)), null))
    def ev(num: Long) = PbpEvent(G, num, 10, 0, 1, "12:00", 0,
      Some(101L), Some(T1), Some(201L), Some(T2))

    val in = MemoryStream[PbpEvent]
    val out = StreamOps.trackLineups(in.toDS(), roster.toDS())
    val q = out.writeStream.format("memory").queryName("lineups_dup").outputMode("append").start()
    try {
      in.addData(ev(1L))
      q.processAllAvailable()
      in.addData(ev(1L)) // replayed EVENTNUM in a LATER batch
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(messages(e).exists(_.contains("duplicate id")),
        s"expected the batch engine's duplicate-id failure, got: ${messages(e)}")
    } finally q.stop()
  }

  test("anomalyProgress: days close across batches, scored rows == batch q75 minus open days") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Long)]
    val out = StreamOps.anomalyProgress(in.toDS(), baseline = 2)
    val q = out.toDF()
      .writeStream.format("memory").queryName("anomaly").outputMode("append").start()
    def day(d: Int, i: Int) = ts(d * 86400L + i)
    // type "t": day1 x2, day2 x3, day3 x4, day4 x1 (closes day 3).
    // day3 scores vs window [2,3]: mean 2.5, var 0.25, z = (4-2.5)/0.5 = 3.0
    // -> exactly at the flag threshold. Type "u" never sees a second day:
    // its single open day must emit nothing.
    val b1 = Seq.tabulate(2)(i => ("t", day(1, i), 10L + i)) ++
      Seq.tabulate(3)(i => ("t", day(2, i), 20L + i)) ++
      Seq(("u", day(1, 0), 90L))
    val b2 = Seq.tabulate(4)(i => ("t", day(3, i), 30L + i))
    val b3 = Seq(("t", day(4, 0), 40L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val afterB2 = spark.sql("SELECT event_type, day FROM anomaly")
        .as[(String, java.sql.Date)].collect()
      assert(afterB2.length == 2 && afterB2.forall(_._1 == "t"),
        s"days 1,2 closed, day 3 still open, 'u' never closes: ${afterB2.toSeq}")
      in.addData(b3: _*); q.processAllAvailable()
      val got = spark.sql(
        "SELECT event_type, day, cnt, baseline_n, mean, z, is_spike FROM anomaly")
        .as[(String, java.sql.Date, Long, Long, Option[Double], Option[Double], Boolean)]
        .collect().toSet
      val spike = got.find(_._2.toString == "1970-01-04").get
      assert(spike._6.contains(3.0) && spike._7,
        s"day 3 must flag at exactly z = 3.0: $spike")
      // batch q75 over the full log, minus each type's open (= last) day
      val all = (b1 ++ b2 ++ b3).toDF("event_type", "ts", "event_id")
      val batch = graft.queries.EventOps.dailyAnomaly(all, baseline = 2)
      val lastDay = batch.groupBy(col("event_type"))
        .agg(max(col("day")).as("day"))
      val exp = batch.join(lastDay, Seq("event_type", "day"), "left_anti")
        .as[(String, java.sql.Date, Long, Long, Option[Double], Option[Double], Boolean)]
        .collect().toSet
      assert(got == exp, s"stream rows != batch rows:\n got=$got\n exp=$exp")
    } finally q.stop()
  }
}
