package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** IncrementalAgg.maintain: the algebraic MV-refresh must land on exactly
  * the direct aggregate of the final table state, keys must enter and leave
  * the view correctly, and corrupt CDC must stay loud/visible. */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def dec(s: String) = new java.math.BigDecimal(s).setScale(4)

  private def facts(rows: (Long, String)*): DataFrame =
    rows.toDF("k", "vs").select(col("k"),
      col("vs").cast("decimal(18,4)").as("v"))

  private def mvOf(base: DataFrame): DataFrame =
    base.groupBy("k").agg(count(lit(1)).as("n_rows"), sum("v").as("sum_value"))

  private def cdc(rows: (String, Long, Option[String], Option[String])*): DataFrame =
    rows.toDF("op", "k", "o", "n").select(col("op"), col("k"),
      col("o").cast("decimal(18,4)").as("old_value"),
      col("n").cast("decimal(18,4)").as("new_value"))

  private def collectMv(df: DataFrame): Map[Long, (Long, java.math.BigDecimal)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDecimal(2).setScale(4))).toMap

  test("maintain == direct aggregate of the final state (insert/delete/update mix)") {
    val base = facts((1L, "10.5"), (1L, "2.25"), (2L, "7"), (3L, "4"))
    val delta = cdc(
      ("insert", 1L, None, Some("1.75")),       // key 1 gains a row
      ("delete", 2L, Some("7"), None),          // key 2's only row goes: key leaves
      ("update", 3L, Some("4"), Some("9.5")),   // key 3 revalued
      ("insert", 9L, None, Some("3.125")))      // brand-new key enters
    val got = collectMv(IncrementalAgg.maintain(mvOf(base), delta, Seq("k")))
    val finalFacts = facts((1L, "10.5"), (1L, "2.25"), (1L, "1.75"),
      (3L, "9.5"), (9L, "3.125"))
    val want = collectMv(mvOf(finalFacts))
    assert(got == want, s"got $got want $want")
    assert(!got.contains(2L), "a key whose count reaches 0 leaves the view")
    assert(got(9L) == ((1L, dec("3.125"))), "a delta-only key enters the view")
  }

  test("maintain on a randomized base/delta agrees with recompute") {
    val rnd = new scala.util.Random(5)
    val base = facts((1 to 300).map(i =>
      (rnd.nextInt(20).toLong, s"${rnd.nextInt(1000)}.${rnd.nextInt(100)}")): _*)
    // deletes/updates must reference rows the base actually aggregated:
    // sample them from the base
    val rows = base.as[(Long, java.math.BigDecimal)].collect()
    val dels = rows.take(40).map { case (k, v) =>
      ("delete", k, Some(v.toString), None: Option[String]) }
    val upds = rows.drop(40).take(40).map { case (k, v) =>
      ("update", k, Some(v.toString), Some((v.add(dec("1"))).toString)) }
    val ins = (1 to 40).map(i =>
      ("insert", rnd.nextInt(25).toLong, None: Option[String],
        Some(s"${rnd.nextInt(500)}.5")))
    val got = collectMv(
      IncrementalAgg.maintain(mvOf(base), cdc(dels ++ upds ++ ins: _*), Seq("k")))
    // recompute: base minus deleted rows, updated rows revalued, inserts in
    val delBag = scala.collection.mutable.Buffer(dels.map(d => (d._2, dec(d._3.get))): _*)
    val updBag = scala.collection.mutable.Buffer(upds.map(u => (u._2, dec(u._3.get))): _*)
    val kept = rows.flatMap { case (k, v) =>
      val key = (k, v.setScale(4))
      if (delBag.contains(key)) { delBag -= key; Nil }
      else if (updBag.contains(key)) {
        updBag -= key; Seq((k, v.add(dec("1")).toString))
      } else Seq((k, v.toString))
    }
    val want = collectMv(mvOf(facts(
      kept.map { case (k, v) => (k, v.toString) } ++
        ins.map(i => (i._2, i._4.get)): _*)))
    assert(got == want)
  }

  test("a delete for a row the view never saw leaves a visible negative count") {
    val got = collectMv(IncrementalAgg.maintain(
      mvOf(facts()), cdc(("delete", 7L, Some("3"), None)), Seq("k")))
    assert(got(7L)._1 == -1L, "corruption evidence must not be filtered away")
  }

  test("an unknown CDC op fails the job loudly") {
    val e = intercept[Exception] {
      IncrementalAgg.maintain(mvOf(facts((1L, "1"))),
        cdc(("upsert", 1L, None, Some("2"))), Seq("k")).collect()
    }
    assert(messages(e).exists(_.contains("unknown CDC op")), messages(e).toString)
  }

  private def mvExtOf(base: DataFrame): DataFrame =
    base.groupBy("k").agg(count(lit(1)).as("n_rows"), sum("v").as("sum_value"),
      min("v").as("min_value"), max("v").as("max_value"))

  private def collectExt(df: DataFrame)
      : Map[Long, (Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1),
      r.getDecimal(2).setScale(4), r.getDecimal(3).setScale(4),
      r.getDecimal(4).setScale(4))).toMap

  /** The post-delta fact state for maintainExtrema's base contract. */
  private def applyCdc(base: DataFrame,
      delta: Seq[(String, Long, Option[String], Option[String])]): DataFrame = {
    val rows = base.as[(Long, java.math.BigDecimal)].collect()
      .map { case (k, v) => (k, v.setScale(4)) }.toBuffer
    delta.foreach {
      case ("insert", k, _, Some(n)) => rows += ((k, dec(n)))
      case ("delete", k, Some(o), _) =>
        val i = rows.indexOf((k, dec(o))); require(i >= 0); rows.remove(i); ()
      case ("update", k, Some(o), Some(n)) =>
        val i = rows.indexOf((k, dec(o))); require(i >= 0)
        rows(i) = (k, dec(n))
      case other => fail(s"bad delta row $other")
    }
    facts(rows.toSeq.map { case (k, v) => (k, v.toPlainString) }: _*)
  }

  test("maintainExtrema: bounds tighten on arrival, recompute only when a departure reaches one") {
    val base = facts((1L, "10"), (1L, "2"), (1L, "5"),
      (2L, "7"), (2L, "1"), (3L, "4"))
    val delta = Seq[(String, Long, Option[String], Option[String])](
      ("insert", 1L, None, Some("0.5")),   // new global min for key 1: incremental
      ("delete", 2L, Some("1"), None),     // departs key 2's MIN: recompute path
      ("update", 3L, Some("4"), Some("9")),// key 3's only row revalued: both bounds move
      ("insert", 9L, None, Some("3")))     // brand-new key: bounds from arrivals
    val post = applyCdc(base, delta)
    val got = collectExt(IncrementalAgg.maintainExtrema(
      mvExtOf(base), cdc(delta: _*), post, Seq("k")))
    val want = collectExt(mvExtOf(post))
    assert(got == want, s"got $got want $want")
    assert(got(1L)._3 == dec("0.5") && got(1L)._4 == dec("10"))
    assert(got(2L)._3 == dec("7"), "second-smallest must come back from base")
    assert(got(9L)._3 == dec("3") && got(9L)._4 == dec("3"))
  }

  test("maintainExtrema: a non-extremal departure moves no bound (and matches recompute)") {
    val base = facts((1L, "10"), (1L, "2"), (1L, "5"))
    val delta = Seq[(String, Long, Option[String], Option[String])](
      ("delete", 1L, Some("5"), None))
    val post = applyCdc(base, delta)
    val got = collectExt(IncrementalAgg.maintainExtrema(
      mvExtOf(base), cdc(delta: _*), post, Seq("k")))
    assert(got(1L) == ((2L, dec("12"), dec("2"), dec("10"))), got.toString)
  }

  test("maintainExtrema on a randomized CDC story agrees with full recompute") {
    val rnd = new scala.util.Random(108)
    val base = facts((1 to 200).map(i =>
      (rnd.nextInt(12).toLong, s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")): _*)
    val baseRows = base.as[(Long, java.math.BigDecimal)].collect()
      .map { case (k, v) => (k, v.setScale(4)) }
    // mix: deletes/updates target REAL base rows (sampled), inserts are new
    val targets = rnd.shuffle(baseRows.toSeq).take(60)
    val delta =
      targets.take(30).map { case (k, v) =>
        ("delete", k, Some(v.toPlainString), None) } ++
      targets.drop(30).map { case (k, v) =>
        ("update", k, Some(v.toPlainString),
          Some(s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")) } ++
      (1 to 25).map(_ => ("insert", rnd.nextInt(14).toLong, None,
        Some(s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")))
    val post = applyCdc(base, delta)
    val got = collectExt(IncrementalAgg.maintainExtrema(
      mvExtOf(base), cdc(delta: _*), post, Seq("k")))
    val want = collectExt(mvExtOf(post))
    assert(got == want, "selective extrema maintenance must equal full recompute")
  }

  test("maintainExtrema: base enters only through the at-risk semi join, no cartesian") {
    val base = facts((1L, "10"), (1L, "2"))
    val delta = Seq[(String, Long, Option[String], Option[String])](
      ("delete", 1L, Some("2"), None))
    val plan = IncrementalAgg.maintainExtrema(
        mvExtOf(base), cdc(delta: _*), applyCdc(base, delta), Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"), plan)
    assert("LeftSemi".r.findAllIn(plan).length == 1,
      s"base must be filtered by exactly one at-risk semi join: $plan")
  }

  test("maintainAggBatch folds a CDC stream into an at-rest MV, exactly-once on replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mvDir = java.nio.file.Files.createTempDirectory("mv").toString + "/mv"
    val in = MemoryStream[(String, Long, Option[String], Option[String])]
    val cdcStream = in.toDF().toDF("op", "k", "o", "n").select(col("op"), col("k"),
      col("o").cast("decimal(18,4)").as("old_value"),
      col("n").cast("decimal(18,4)").as("new_value"))
    val q = cdcStream.writeStream
      .foreachBatch(IncrementalAgg.maintainAggBatch(mvDir, Seq("k")) _)
      .start()
    try {
      in.addData(("insert", 1L, None, Some("2.5")), ("insert", 2L, None, Some("4")))
      q.processAllAvailable()
      in.addData(("insert", 1L, None, Some("1.5")),
        ("update", 2L, Some("4"), Some("6")),
        ("insert", 3L, None, Some("9")))
      q.processAllAvailable()
      in.addData(("delete", 3L, Some("9"), None))
      q.processAllAvailable()
    } finally q.stop()
    val got = collectMv(spark.read.parquet(mvDir)
      .select(col("k"), col("n_rows"), col("sum_value").cast("decimal(18,4)")))
    assert(got == Map(1L -> ((2L, dec("4"))), 2L -> ((1L, dec("6")))))
    // a replayed micro-batch id must be a no-op (restart redelivery)
    val replay = cdc(("insert", 1L, None, Some("100")))
    IncrementalAgg.maintainAggBatch(mvDir, Seq("k"))(replay, 0L)
    val after = collectMv(spark.read.parquet(mvDir)
      .select(col("k"), col("n_rows"), col("sum_value").cast("decimal(18,4)")))
    assert(after == got, "batch id 0 was already applied: replay must not double-fold")
    // a genuinely NEW batch id applies
    IncrementalAgg.maintainAggBatch(mvDir, Seq("k"))(replay, 99L)
    val next = collectMv(spark.read.parquet(mvDir)
      .select(col("k"), col("n_rows"), col("sum_value").cast("decimal(18,4)")))
    assert(next(1L) == ((3L, dec("104"))))
  }

  test("maintainExtremaBatch folds a CDC stream into an extrema MV, exactly-once on replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("mvext").toString
    val mvDir = root + "/mv"
    val baseDir = root + "/base"
    // the base table is maintained by its own writer; here the test plays
    // that role, landing each batch's post-state BEFORE the fold runs
    def landBase(rows: (Long, String)*): Unit =
      facts(rows: _*).write.mode("overwrite").parquet(baseDir)
    val in = MemoryStream[(String, Long, Option[String], Option[String])]
    val cdcStream = in.toDF().toDF("op", "k", "o", "n").select(col("op"), col("k"),
      col("o").cast("decimal(18,4)").as("old_value"),
      col("n").cast("decimal(18,4)").as("new_value"))
    val q = cdcStream.writeStream
      .foreachBatch(IncrementalAgg.maintainExtremaBatch(mvDir, baseDir, Seq("k")) _)
      .start()
    try {
      landBase((1L, "2.5"), (2L, "4"))
      in.addData(("insert", 1L, None, Some("2.5")), ("insert", 2L, None, Some("4")))
      q.processAllAvailable()
      landBase((1L, "2.5"), (1L, "1.5"), (2L, "6"), (3L, "9"))
      in.addData(("insert", 1L, None, Some("1.5")),
        ("update", 2L, Some("4"), Some("6")),
        ("insert", 3L, None, Some("9")))
      q.processAllAvailable()
      // delete key 1's MIN: the at-risk recompute must consult base
      landBase((1L, "2.5"), (2L, "6"), (3L, "9"))
      in.addData(("delete", 1L, Some("1.5"), None))
      q.processAllAvailable()
    } finally q.stop()
    def readMv() = collectExt(spark.read.parquet(mvDir)
      .select(col("k"), col("n_rows"), col("sum_value").cast("decimal(18,4)"),
        col("min_value"), col("max_value")))
    val got = readMv()
    assert(got == Map(
      1L -> ((1L, dec("2.5"), dec("2.5"), dec("2.5"))),
      2L -> ((1L, dec("6"), dec("6"), dec("6"))),
      3L -> ((1L, dec("9"), dec("9"), dec("9")))), got.toString)
    // a replayed micro-batch id must be a no-op (restart redelivery)
    IncrementalAgg.maintainExtremaBatch(mvDir, baseDir, Seq("k"))(
      cdc(("insert", 1L, None, Some("100"))), 0L)
    assert(readMv() == got, "batch id 0 was already applied: replay must not double-fold")
    // a genuinely NEW batch id applies and tightens the max incrementally
    landBase((1L, "2.5"), (1L, "100"), (2L, "6"), (3L, "9"))
    IncrementalAgg.maintainExtremaBatch(mvDir, baseDir, Seq("k"))(
      cdc(("insert", 1L, None, Some("100"))), 99L)
    val next = readMv()
    assert(next(1L) == ((2L, dec("102.5"), dec("2.5"), dec("100"))), next.toString)
  }

  test("the delta aggregates before the merge join — the MV side is never re-aggregated") {
    val mv = mvOf(facts((1L, "1"), (2L, "2")))
    val plan = IncrementalAgg.maintain(mv, cdc(("insert", 1L, None, Some("3"))), Seq("k"))
      .queryExecution.executedPlan.toString
    // exactly two aggregate chains: the fixture MV's own, and the delta's
    // (each a partial+final pair); the maintained view adds none
    assert("HashAggregate".r.findAllIn(plan).length <= 4, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // --- distinct-count support table (q110) ---

  private def sfacts(rows: (Long, String)*): DataFrame =
    rows.toDF("k", "v")

  private def supportOf(base: DataFrame): DataFrame =
    base.groupBy("k", "v").agg(count(lit(1)).as("n_rows"))

  private def scdc(rows: (String, Long, Option[String], Option[String])*): DataFrame =
    rows.toDF("op", "k", "old_value", "new_value")

  private def collectDistinct(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("maintainDistinctSupport: a departing value's distinct count survives via multiplicity") {
    val base = sfacts((1L, "a"), (1L, "a"), (1L, "b"), (2L, "x"))
    val delta = scdc(
      ("delete", 1L, Some("a"), None),       // one of two 'a's: distinct UNCHANGED
      ("update", 2L, Some("x"), Some("y")),  // sole 'x' re-valued: still 1 distinct
      ("insert", 1L, None, Some("c")),       // third distinct value for key 1
      ("insert", 9L, None, Some("z")))       // brand-new key enters
    val got = collectDistinct(IncrementalAgg.distinctCounts(
      IncrementalAgg.maintainDistinctSupport(supportOf(base), delta, Seq("k")),
      Seq("k")))
    assert(got == Map(1L -> ((3L, 3L)), 2L -> ((1L, 1L)), 9L -> ((1L, 1L))),
      got.toString)
  }

  test("maintainDistinctSupport: deleting a value's LAST row drops it from the count") {
    val base = sfacts((1L, "a"), (1L, "b"))
    val got = collectDistinct(IncrementalAgg.distinctCounts(
      IncrementalAgg.maintainDistinctSupport(supportOf(base),
        scdc(("delete", 1L, Some("b"), None)), Seq("k")),
      Seq("k")))
    assert(got == Map(1L -> ((1L, 1L))), got.toString)
  }

  test("maintainDistinctSupport on a randomized CDC story agrees with full recompute") {
    val rnd = new scala.util.Random(110)
    val vals = Array("a", "b", "c", "d", "e", "f")
    val baseRows = (1 to 250).map(_ =>
      (rnd.nextInt(10).toLong, vals(rnd.nextInt(vals.length))))
    val targets = rnd.shuffle(baseRows).take(80)
    val delta =
      targets.take(40).map { case (k, v) => ("delete", k, Some(v), None) } ++
      targets.drop(40).map { case (k, v) =>
        ("update", k, Some(v), Some(vals(rnd.nextInt(vals.length)))) } ++
      (1 to 30).map(_ => ("insert", rnd.nextInt(12).toLong, None,
        Some(vals(rnd.nextInt(vals.length)))))
    // replay the story row-by-row against a bag (the ground truth)
    val bag = scala.collection.mutable.Buffer(baseRows: _*)
    delta.foreach {
      case ("insert", k, _, Some(n)) => bag += ((k, n))
      case ("delete", k, Some(o), _) =>
        val i = bag.indexOf((k, o)); require(i >= 0); bag.remove(i); ()
      case ("update", k, Some(o), Some(n)) =>
        val i = bag.indexOf((k, o)); require(i >= 0); bag(i) = (k, n)
      case other => fail(s"bad delta row $other")
    }
    val got = collectDistinct(IncrementalAgg.distinctCounts(
      IncrementalAgg.maintainDistinctSupport(supportOf(sfacts(baseRows: _*)),
        scdc(delta.map(d => (d._1, d._2, d._3, d._4)): _*), Seq("k")),
      Seq("k")))
    val want = collectDistinct(sfacts(bag.toSeq: _*).groupBy("k")
      .agg(countDistinct(col("v")).as("n_distinct"), count(lit(1)).as("n_rows")))
    assert(got == want, "support-table maintenance must equal full recompute")
  }

  test("maintainDistinctBatch folds a CDC stream into an at-rest support table, exactly-once on replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val supDir = java.nio.file.Files.createTempDirectory("sup").toString + "/support"
    val in = MemoryStream[(String, Long, Option[String], Option[String])]
    val cdcStream = in.toDF().toDF("op", "k", "old_value", "new_value")
    val q = cdcStream.writeStream
      .foreachBatch(IncrementalAgg.maintainDistinctBatch(supDir, Seq("k")) _)
      .start()
    try {
      in.addData(("insert", 1L, None, Some("a")), ("insert", 1L, None, Some("a")),
        ("insert", 1L, None, Some("b")))
      q.processAllAvailable()
      // one of the two 'a's departs (distinct count survives via
      // multiplicity), 'b' re-values to 'c'
      in.addData(("delete", 1L, Some("a"), None),
        ("update", 1L, Some("b"), Some("c")))
      q.processAllAvailable()
    } finally q.stop()
    def readCounts() = collectDistinct(IncrementalAgg.distinctCounts(
      spark.read.parquet(supDir), Seq("k")))
    val got = readCounts()
    assert(got == Map(1L -> ((2L, 2L))), got.toString)
    // a replayed micro-batch id must be a no-op (restart redelivery)
    IncrementalAgg.maintainDistinctBatch(supDir, Seq("k"))(
      scdc(("insert", 1L, None, Some("z"))), 0L)
    assert(readCounts() == got, "batch id 0 was already applied: replay must not double-fold")
    // a genuinely NEW batch id applies
    IncrementalAgg.maintainDistinctBatch(supDir, Seq("k"))(
      scdc(("insert", 1L, None, Some("z"))), 99L)
    assert(readCounts()(1L) == ((3L, 3L)))
  }

  test("maintainDistinctSupport: unknown op is loud; phantom delete stays visible") {
    val e = intercept[Exception] {
      IncrementalAgg.maintainDistinctSupport(supportOf(sfacts((1L, "a"))),
        scdc(("upsert", 1L, None, Some("b"))), Seq("k")).collect()
    }
    assert(messages(e).exists(_.contains("unknown CDC op")), messages(e).toString)
    val sup = IncrementalAgg.maintainDistinctSupport(supportOf(sfacts()),
      scdc(("delete", 7L, Some("ghost"), None)), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(sup.toSeq == Seq((7L, "ghost", -1L)),
      "corruption evidence must not be filtered away")
  }

  test("a null-key CDC row fails loudly across the family (equality joins cannot address it)") {
    // without the guard the merge would manufacture a spurious second
    // null-key row (maintain) or silently never mark the key at risk
    // (top-k) — divergence, not an error
    val e1 = intercept[Exception] {
      IncrementalAgg.maintain(mvOf(facts((1L, "2"))),
        Seq(("delete", Option.empty[Long], Some("2"), Option.empty[String]))
          .toDF("op", "k", "o", "n")
          .select(col("op"), col("k"),
            col("o").cast("decimal(18,4)").as("old_value"),
            col("n").cast("decimal(18,4)").as("new_value")),
        Seq("k")).collect()
    }
    assert(messages(e1).exists(_.contains("null key")), messages(e1).toString)
    val e2 = intercept[Exception] {
      IncrementalAgg.maintainTopK(topOf(tfacts((1L, 10L, "5")), 2),
        Seq(("delete", 1L, Option.empty[Long], Some("5"), Option.empty[String]))
          .toDF("op", "k", "id", "o", "n")
          .select(col("op"), col("k"), col("id"),
            col("o").cast("decimal(18,4)").as("old_value"),
            col("n").cast("decimal(18,4)").as("new_value")),
        tfacts(), Seq("k"), k = 2).collect()
    }
    assert(messages(e2).exists(_.contains("null key")), messages(e2).toString)
  }

  test("intra-batch event chains net out exactly in the ALGEBRAIC classes (feed-contract exempt half)") {
    // one physical row inserted THEN updated inside one batch — the
    // multi-event feed the object scaladoc's contract discusses. The
    // algebraic maintainers must land on the net effect; the
    // selective-recompute classes (extrema, top-k) document the
    // one-event-per-row contract instead (snapshotDiff satisfies it by
    // construction: full outer on the key, one event per row per diff).
    val got = collectMv(IncrementalAgg.maintain(mvOf(facts()),
      cdc(("insert", 1L, None, Some("5")),
        ("update", 1L, Some("5"), Some("50"))), Seq("k")))
    assert(got == Map(1L -> ((1L, dec("50")))), got.toString)
    val sup = IncrementalAgg.maintainDistinctSupport(supportOf(sfacts()),
      scdc(("insert", 1L, None, Some("a")),
        ("update", 1L, Some("a"), Some("b"))), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(sup == Seq((1L, "b", 1L)), sup.toString)
  }

  // ---- per-key top-k (the fourth IVM class) ---------------------------

  private def tfacts(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("k", "id", "v")
      .select(col("k"), col("id"), col("v").cast("decimal(18,4)").as("v"))

  private def topOf(base: DataFrame, kk: Int): DataFrame =
    base.groupBy(col("k"))
      .agg(call_function("graft_topk", col("v"), col("id"), lit(kk)).as("t"))
      .select(col("k"), explode(col("t")).as("t"))
      .select(col("k"), col("t.id").as("id"), col("t.score").as("v"))

  private def tcdc(
      rows: (String, Long, Long, Option[String], Option[String])*): DataFrame =
    rows.toDF("op", "k", "id", "o", "n").select(col("op"), col("k"), col("id"),
      col("o").cast("decimal(18,4)").as("old_value"),
      col("n").cast("decimal(18,4)").as("new_value"))

  private def collectTop(df: DataFrame): Map[Long, Set[(Long, Double)]] =
    df.select(col("k"), col("id"), col("v").cast("double"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def applyTopCdc(base: DataFrame,
      delta: Seq[(String, Long, Long, Option[String], Option[String])]): DataFrame = {
    val deletes = delta.collect { case ("delete", k, id, _, _) => (k, id) }.toSet
    val updates = delta.collect {
      case ("update", k, id, _, Some(n)) => ((k, id), n) }.toMap
    val inserts = delta.collect { case ("insert", k, id, _, Some(n)) => (k, id, n) }
    val post = base.select(col("k"), col("id"), col("v").cast("string"))
      .as[(Long, Long, String)].collect().toSeq
      .filterNot { case (k, id, _) => deletes((k, id)) }
      .map { case (k, id, v) => (k, id, updates.getOrElse((k, id), v)) } ++ inserts
    tfacts(post: _*)
  }

  test("maintainTopK: arrivals fold via the heap; only a kept-row departure recomputes") {
    // key 1 holds (10 -> 10.0, 20 -> 8.0) with 30 -> 5.0 discarded;
    // key 2 holds its only row (40 -> 3.0)
    val base = tfacts((1L, 10L, "10"), (1L, 20L, "8"), (1L, 30L, "5"),
      (2L, 40L, "3"))
    // delete key 1's KEPT 20: the slot refills with the discarded 30,
    // which only the post-delta base remembers; key 2's insert is pure
    // arrival algebra (no base access needed for it)
    val delta = Seq[(String, Long, Long, Option[String], Option[String])](
      ("delete", 1L, 20L, Some("8"), None),
      ("insert", 2L, 50L, None, Some("9")))
    val post = applyTopCdc(base, delta)
    val got = collectTop(IncrementalAgg.maintainTopK(
      topOf(base, 2), tcdc(delta: _*), post, Seq("k"), k = 2))
    assert(got == Map(
      1L -> Set((10L, 10.0), (30L, 5.0)),
      2L -> Set((50L, 9.0), (40L, 3.0))), got.toString)
  }

  test("maintainTopK: a non-kept departure costs nothing and moves nothing") {
    val base = tfacts((1L, 10L, "10"), (1L, 20L, "8"), (1L, 30L, "5"))
    val delta = Seq[(String, Long, Long, Option[String], Option[String])](
      ("delete", 1L, 30L, Some("5"), None))
    val refreshed = IncrementalAgg.maintainTopK(
      topOf(base, 2), tcdc(delta: _*), applyTopCdc(base, delta), Seq("k"), k = 2)
    assert(collectTop(refreshed) == Map(1L -> Set((10L, 10.0), (20L, 8.0))))
    // and the plan shape: never a cartesian, and the at-risk key set is
    // BROADCAST into both the anti (safe side) and semi (base side)
    // joins — delta-bounded, so neither corpus-sized side reshuffles for
    // it. (The semi count is > 1 because atRisk's own mv-vs-departing
    // probe is also a semi join, inlined into both referencing subtrees.)
    val plan = refreshed.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"), plan)
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).nonEmpty,
      s"base must be filtered by a broadcast at-risk semi join: $plan")
  }

  test("maintainTopK on a randomized CDC story agrees with full recompute") {
    val rnd = new scala.util.Random(114)
    val baseRows = (1 to 200).map(i => (rnd.nextInt(12).toLong, i.toLong,
      s"${rnd.nextInt(100)}.${rnd.nextInt(100)}"))
    val base = tfacts(baseRows: _*)
    val targets = rnd.shuffle(baseRows).take(60)
    val delta =
      targets.take(30).map { case (k, id, v) =>
        ("delete", k, id, Some(v), None) } ++
      targets.drop(30).map { case (k, id, v) =>
        ("update", k, id, Some(v),
          Some(s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")) } ++
      (1 to 25).map(i => ("insert", rnd.nextInt(14).toLong, 1000L + i, None,
        Some(s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")))
    val post = applyTopCdc(base, delta)
    val got = collectTop(IncrementalAgg.maintainTopK(
      topOf(base, 3), tcdc(delta: _*), post, Seq("k"), k = 3))
    val want = collectTop(topOf(post, 3))
    assert(got == want, "selective top-k maintenance must equal full recompute")
  }

  test("maintainTopK: string ids ride graft_topk's widened id path (URL/term keys)") {
    // real serving keys are often URLs or terms, not synthetic longs —
    // graft_topk's string-id path (binary UTF-8 tie order) must survive
    // the fold unchanged
    val base = Seq((1L, "ur", "10"), (1L, "va", "8"), (1L, "zb", "5"))
      .toDF("k", "id", "v")
      .select(col("k"), col("id"), col("v").cast("decimal(18,4)").as("v"))
    def top(rows: org.apache.spark.sql.DataFrame) = rows.groupBy(col("k"))
      .agg(call_function("graft_topk", col("v"), col("id"), lit(2)).as("t"))
      .select(col("k"), explode(col("t")).as("t"))
      .select(col("k"), col("t.id").as("id"), col("t.score").as("v"))
    val delta = Seq(("delete", 1L, "va", Some("8"), Option.empty[String]))
      .toDF("op", "k", "id", "o", "n").select(col("op"), col("k"), col("id"),
        col("o").cast("decimal(18,4)").as("old_value"),
        col("n").cast("decimal(18,4)").as("new_value"))
    val post = base.filter(col("id") =!= "va")
    val got = IncrementalAgg.maintainTopK(top(base), delta, post, Seq("k"),
        k = 2, idCol = "id")
      .select(col("k"), col("id"), col("v").cast("double"))
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "ur", 10.0), (1L, "zb", 5.0)), got.toString)
  }

  test("maintainTopK: unknown op fails the job loudly") {
    val base = tfacts((1L, 10L, "10"))
    val e = intercept[Exception] {
      IncrementalAgg.maintainTopK(topOf(base, 2),
        tcdc(("upsert", 1L, 11L, None, Some("5"))), base, Seq("k"), k = 2)
        .collect()
    }
    assert(messages(e).exists(_.contains("unknown CDC op")), messages(e).toString)
  }

  test("maintainTopK: an intra-batch event chain for one (key, id) raises, naming the contract") {
    // insert-then-update of one id inside one batch — the feed-contract
    // violation the r13 review flagged as silently diverging; it must
    // now fail like the null-key and unknown-op cases do
    val base = tfacts((1L, 10L, "10"))
    val e = intercept[Exception] {
      IncrementalAgg.maintainTopK(topOf(base, 2),
        tcdc(("insert", 1L, 11L, None, Some("5")),
          ("update", 1L, 11L, Some("5"), Some("50"))),
        tfacts((1L, 10L, "10"), (1L, 11L, "50")), Seq("k"), k = 2).collect()
    }
    assert(messages(e).exists(m => m.contains("feed contract") &&
      m.contains("at most one event per physical row per batch")),
      messages(e).toString)
    // two inserts of the same (key, id) are the same violation
    val e2 = intercept[Exception] {
      IncrementalAgg.maintainTopK(topOf(base, 2),
        tcdc(("insert", 1L, 11L, None, Some("5")),
          ("insert", 1L, 11L, None, Some("7"))),
        tfacts((1L, 10L, "10")), Seq("k"), k = 2).collect()
    }
    assert(messages(e2).exists(_.contains("feed contract")), messages(e2).toString)
    // one event per (key, id) — including the same id under two
    // DIFFERENT keys, which is legal (ids are only unique within a key's
    // fact domain here) — still folds cleanly
    val ok = collectTop(IncrementalAgg.maintainTopK(topOf(base, 2),
      tcdc(("insert", 1L, 11L, None, Some("5")),
        ("insert", 2L, 11L, None, Some("7"))),
      tfacts((1L, 10L, "10"), (1L, 11L, "5"), (2L, 11L, "7")), Seq("k"), k = 2))
    assert(ok == Map(1L -> Set((10L, 10.0), (11L, 5.0)),
      2L -> Set((11L, 7.0))), ok.toString)
  }

  test("maintainTopK: an insert naming an already-kept (key, id) cannot create a phantom candidate") {
    // an update mislabeled as insert (the other feed fault): folding it
    // as a pure arrival would keep the superseded (20 -> 8.0) as a
    // second live candidate beside (20 -> 12.0). The at-risk probe now
    // covers arrivals too, so the key recomputes from base — the
    // post-delta truth — and exactly one row per id survives.
    val base = tfacts((1L, 10L, "10"), (1L, 20L, "8"), (1L, 30L, "5"))
    val post = tfacts((1L, 10L, "10"), (1L, 20L, "12"), (1L, 30L, "5"))
    val got = collectTop(IncrementalAgg.maintainTopK(
      topOf(base, 3), tcdc(("insert", 1L, 20L, None, Some("12"))),
      post, Seq("k"), k = 3))
    assert(got == Map(1L -> Set((20L, 12.0), (10L, 10.0), (30L, 5.0))),
      got.toString)
  }

  test("rebuildTopK equals the row_number oracle and is a fold fixpoint (the k-raise path)") {
    val rnd = new scala.util.Random(116)
    val rows = (1 to 150).map(i => (rnd.nextInt(10).toLong, i.toLong,
      s"${rnd.nextInt(40)}.${rnd.nextInt(100)}"))
    val base = tfacts(rows: _*)
    val rebuilt = IncrementalAgg.rebuildTopK(base, Seq("k"), 3)
    // the oracle form maintainTopK's scaladoc warns against hand-writing:
    // row_number over (value desc, id asc) — graft_topk's total order
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("v").cast("double").desc, col("id").asc)
    val want = collectTop(base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("k"), col("id"), col("v").cast("double").as("v")))
    assert(collectTop(rebuilt) == want,
      "rebuildTopK must reproduce the row_number total order")
    // fixpoint: a subsequent fold with an empty delta returns the
    // rebuild unchanged (the MV round-trip maintainTopK promises)
    val folded = collectTop(IncrementalAgg.maintainTopK(
      rebuilt, tcdc(), base, Seq("k"), k = 3))
    assert(folded == want, "an empty-delta fold over the rebuild must be a fixpoint")
  }

  /** The enforced-extrema MV shape: argmin/argmax ids beside the bounds,
    * ties to the LOWER id (graft_topk's total order) via struct ordering
    * — an oracle independent of the code under test. */
  private def extEnfOf(base: DataFrame): DataFrame =
    base.groupBy(col("k")).agg(
      min(struct(col("v").cast("double").as("v"), col("id"))).as("mn"),
      max(struct(col("v").cast("double").as("v"), (-col("id")).as("nid"))).as("mx"))
      .select(col("k"), col("mn.id").as("min_id"), col("mn.v").as("min_value"),
        (-col("mx.nid")).as("max_id"), col("mx.v").as("max_value"))

  private def collectEnf(df: DataFrame): Map[Long, (Long, Double, Long, Double)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap

  test("maintainExtremaEnforced: bounds equal maintainExtrema's on a valid feed, ids equal the argmin/argmax oracle") {
    val rnd = new scala.util.Random(115)
    val baseRows = (1 to 200).map(i => (rnd.nextInt(12).toLong, i.toLong,
      s"${rnd.nextInt(100)}.${rnd.nextInt(100)}"))
    val base = tfacts(baseRows: _*)
    val targets = rnd.shuffle(baseRows).take(60)
    val delta =
      targets.take(30).map { case (k, id, v) =>
        ("delete", k, id, Some(v), None) } ++
      targets.drop(30).map { case (k, id, v) =>
        ("update", k, id, Some(v),
          Some(s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")) } ++
      (1 to 25).map(i => ("insert", rnd.nextInt(14).toLong, 1000L + i, None,
        Some(s"${rnd.nextInt(100)}.${rnd.nextInt(100)}")))
    val post = applyTopCdc(base, delta)
    val got = collectEnf(IncrementalAgg.maintainExtremaEnforced(
      extEnfOf(base), tcdc(delta: _*), post, Seq("k")))
    // full equality (ids included) against the independent struct oracle
    // over the post-delta state
    assert(got == collectEnf(extEnfOf(post)),
      "enforced extrema must equal the argmin/argmax recompute")
    // and the VALUES equal the unenforced maintainer's on the same story
    // (the id columns are ignored by maintainExtrema's grouping) — the
    // two operators may never disagree on a bound for a valid feed
    val unenforced = collectExt(IncrementalAgg.maintainExtrema(
      mvExtOf(base), tcdc(delta: _*), post, Seq("k")))
    assert(got.keySet == unenforced.keySet)
    got.foreach { case (k, (_, mn, _, mx)) =>
      assert(mn == unenforced(k)._3.doubleValue && mx == unenforced(k)._4.doubleValue,
        s"key $k: enforced ($mn, $mx) vs maintainExtrema ${unenforced(k)}")
    }
    // fold-stability: the output round-trips as the next refresh's mv
    val folded = collectEnf(IncrementalAgg.maintainExtremaEnforced(
      IncrementalAgg.maintainExtremaEnforced(
        extEnfOf(base), tcdc(delta: _*), post, Seq("k")),
      tcdc(), post, Seq("k")))
    assert(folded == got, "an empty-delta fold must be a fixpoint")
  }

  test("maintainExtremaEnforced: an intra-batch duplicate (key, id) raises in BOTH directions") {
    val base = tfacts((1L, 10L, "10"))
    val e = intercept[Exception] {
      IncrementalAgg.maintainExtremaEnforced(extEnfOf(base),
        tcdc(("insert", 1L, 11L, None, Some("5")),
          ("update", 1L, 11L, Some("5"), Some("50"))),
        tfacts((1L, 10L, "10"), (1L, 11L, "50")), Seq("k")).collect()
    }
    assert(messages(e).exists(_.contains("feed contract")), messages(e).toString)
    // the min direction alone (negated axis) carries the same check:
    // consume only the min columns and the raise still fires
    val e2 = intercept[Exception] {
      IncrementalAgg.maintainExtremaEnforced(extEnfOf(base),
        tcdc(("insert", 1L, 11L, None, Some("5")),
          ("insert", 1L, 11L, None, Some("7"))),
        tfacts((1L, 10L, "10")), Seq("k"))
        .select(col("k"), col("min_id"), col("min_value")).collect()
    }
    assert(messages(e2).exists(_.contains("feed contract")), messages(e2).toString)
    // and a mislabeled insert (already-kept id) routes through the base
    // recompute in both directions instead of folding a phantom bound
    val got = collectEnf(IncrementalAgg.maintainExtremaEnforced(
      extEnfOf(tfacts((1L, 10L, "10"), (1L, 20L, "8"))),
      tcdc(("insert", 1L, 10L, None, Some("2"))),
      tfacts((1L, 10L, "2"), (1L, 20L, "8")), Seq("k")))
    assert(got == Map(1L -> ((10L, 2.0, 20L, 8.0))), got.toString)
  }

  test("maintainExtremaEnforced plan shape: two broadcast at-risk probes, a full-outer merge, no cartesian") {
    // a kept-row departure in each direction so BOTH at-risk recomputes
    // are live in the plan (nothing prunes to the trivial safe-only form)
    val base = tfacts((1L, 10L, "10"), (1L, 20L, "2"), (1L, 30L, "5"))
    val delta = Seq[(String, Long, Long, Option[String], Option[String])](
      ("delete", 1L, 10L, Some("10"), None), // departs the MAX
      ("delete", 1L, 20L, Some("2"), None))  // departs the MIN
    val post = applyTopCdc(base, delta)
    val refreshed = IncrementalAgg.maintainExtremaEnforced(
      extEnfOf(base), tcdc(delta: _*), post, Seq("k"))
    assert(collectEnf(refreshed) == collectEnf(extEnfOf(post)))
    val plan = refreshed.queryExecution.executedPlan.toString
    // the composition a refactor must not regress silently (each sibling
    // maintainer carries the same class of pin): never a cartesian or
    // nested loop anywhere in the two-direction composition...
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"), plan)
    // ...the at-risk key sets stay DELTA-BOUNDED broadcasts into their
    // semi/anti joins — one probe per direction, so at least two
    // broadcast semi joins (neither direction's base filter may degrade
    // to a shuffled join of corpus-sized sides)...
    val semis = "BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).size
    assert(semis >= 2,
      s"expected a broadcast at-risk semi probe per direction, found $semis: $plan")
    assert(plan.contains("LeftAnti"), plan)
    // ...and the final min/max pairing is the MV-sized FULL-OUTER merge
    // (asymmetric keys stay visible as half-null corruption evidence,
    // never silently inner-joined away)
    assert(plan.contains("FullOuter"),
      s"the direction merge must stay full-outer: $plan")
  }

  test("maintainExtremaEnforcedBatch folds a CDC stream into an at-rest MV, exactly-once on replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("mvenf").toString
    val mvDir = root + "/mv"
    val baseDir = root + "/base"
    def landBase(rows: (Long, Long, String)*): Unit =
      tfacts(rows: _*).write.mode("overwrite").parquet(baseDir)
    val in = MemoryStream[(String, Long, Long, Option[String], Option[String])]
    val cdcStream = in.toDF().toDF("op", "k", "id", "o", "n")
      .select(col("op"), col("k"), col("id"),
        col("o").cast("decimal(18,4)").as("old_value"),
        col("n").cast("decimal(18,4)").as("new_value"))
    val q = cdcStream.writeStream
      .foreachBatch(
        IncrementalAgg.maintainExtremaEnforcedBatch(mvDir, baseDir, Seq("k")) _)
      .start()
    try {
      landBase((1L, 10L, "10"), (1L, 20L, "2"), (1L, 30L, "5"))
      in.addData(("insert", 1L, 10L, None, Some("10")),
        ("insert", 1L, 20L, None, Some("2")),
        ("insert", 1L, 30L, None, Some("5")))
      q.processAllAvailable()
      // delete the argmax 10: the refill (30 -> 5.0) lives only in base;
      // the min bound (20 -> 2.0) is untouched by the departure
      landBase((1L, 20L, "2"), (1L, 30L, "5"))
      in.addData(("delete", 1L, 10L, Some("10"), None))
      q.processAllAvailable()
    } finally q.stop()
    def readMv() = collectEnf(spark.read.parquet(mvDir)
      .select(col("k"), col("min_id"), col("min_value"),
        col("max_id"), col("max_value")))
    val got = readMv()
    assert(got == Map(1L -> ((20L, 2.0, 30L, 5.0))), got.toString)
    // a replayed micro-batch id must be a no-op (restart redelivery)
    IncrementalAgg.maintainExtremaEnforcedBatch(mvDir, baseDir, Seq("k"))(
      tcdc(("insert", 1L, 40L, None, Some("100"))), 0L)
    assert(readMv() == got, "batch id 0 was already applied: replay must not double-fold")
    // a genuinely NEW batch id applies through the arrival algebra
    landBase((1L, 20L, "2"), (1L, 30L, "5"), (1L, 40L, "100"))
    IncrementalAgg.maintainExtremaEnforcedBatch(mvDir, baseDir, Seq("k"))(
      tcdc(("insert", 1L, 40L, None, Some("100"))), 99L)
    assert(readMv() == Map(1L -> ((20L, 2.0, 40L, 100.0))))
  }

  test("maintainTopKBatch: a randomized multi-trigger CDC story lands on the final-state top-k") {
    // eight random batches (inserts of fresh ids, deletes/updates of live
    // rows — one event per row per batch, the feed contract), base landed
    // before each trigger (downstream-of-the-base-writer wiring); the
    // at-rest MV after the last fold must equal a direct top-k of the
    // final base — pinning the arrival-algebra / at-risk-recompute
    // interplay across many triggers, not just one
    val rnd = new scala.util.Random(115)
    val root = java.nio.file.Files.createTempDirectory("mvtopk_rand").toString
    val (mvDir, baseDir) = (root + "/mv", root + "/base")
    var live = Map.empty[(Long, Long), String]
    var nextId = 1000L
    for (b <- 0 until 8) {
      val liveSeq = rnd.shuffle(live.toSeq)
      val dels = liveSeq.take(rnd.nextInt(1 + live.size / 3))
      val upds = liveSeq.drop(dels.size).take(rnd.nextInt(1 + live.size / 3))
      val ins = (0 until (3 + rnd.nextInt(5))).map { _ =>
        nextId += 1
        (rnd.nextInt(5).toLong, nextId, s"${rnd.nextInt(50)}.${rnd.nextInt(100)}")
      }
      val events: Seq[(String, Long, Long, Option[String], Option[String])] =
        dels.map { case ((k, id), v) => ("delete", k, id, Some(v), None) } ++
          upds.map { case ((k, id), v) =>
            ("update", k, id, Some(v),
              Some(s"${rnd.nextInt(50)}.${rnd.nextInt(100)}")) } ++
          ins.map { case (k, id, v) => ("insert", k, id, None, Some(v)) }
      live = live -- dels.map(_._1) ++
        events.collect { case ("update", k, id, _, Some(n)) => (k, id) -> n } ++
        ins.map { case (k, id, v) => (k, id) -> v }
      tfacts(live.toSeq.map { case ((k, id), v) => (k, id, v) }: _*)
        .write.mode("overwrite").parquet(baseDir)
      IncrementalAgg.maintainTopKBatch(mvDir, baseDir, Seq("k"), k = 2)(
        tcdc(events: _*), b.toLong)
    }
    val got = collectTop(spark.read.parquet(mvDir))
    val want = collectTop(topOf(
      tfacts(live.toSeq.map { case ((k, id), v) => (k, id, v) }: _*), 2))
    assert(got == want, s"multi-trigger fold diverged: got $got want $want")
  }

  test("maintainTopKBatch folds a CDC stream into an at-rest top-k MV, exactly-once on replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("mvtopk").toString
    val mvDir = root + "/mv"
    val baseDir = root + "/base"
    def landBase(rows: (Long, Long, String)*): Unit =
      tfacts(rows: _*).write.mode("overwrite").parquet(baseDir)
    val in = MemoryStream[(String, Long, Long, Option[String], Option[String])]
    val cdcStream = in.toDF().toDF("op", "k", "id", "o", "n")
      .select(col("op"), col("k"), col("id"),
        col("o").cast("decimal(18,4)").as("old_value"),
        col("n").cast("decimal(18,4)").as("new_value"))
    val q = cdcStream.writeStream
      .foreachBatch(
        IncrementalAgg.maintainTopKBatch(mvDir, baseDir, Seq("k"), k = 2) _)
      .start()
    try {
      landBase((1L, 10L, "10"), (1L, 20L, "8"), (1L, 30L, "5"))
      in.addData(("insert", 1L, 10L, None, Some("10")),
        ("insert", 1L, 20L, None, Some("8")),
        ("insert", 1L, 30L, None, Some("5")))
      q.processAllAvailable()
      // delete the kept 20: the refill (30) lives only in base
      landBase((1L, 10L, "10"), (1L, 30L, "5"))
      in.addData(("delete", 1L, 20L, Some("8"), None))
      q.processAllAvailable()
    } finally q.stop()
    def readMv() = collectTop(spark.read.parquet(mvDir))
    val got = readMv()
    assert(got == Map(1L -> Set((10L, 10.0), (30L, 5.0))), got.toString)
    // a replayed micro-batch id must be a no-op (restart redelivery)
    IncrementalAgg.maintainTopKBatch(mvDir, baseDir, Seq("k"), k = 2)(
      tcdc(("insert", 1L, 40L, None, Some("100"))), 0L)
    assert(readMv() == got, "batch id 0 was already applied: replay must not double-fold")
    // a genuinely NEW batch id applies through the arrival algebra
    landBase((1L, 10L, "10"), (1L, 30L, "5"), (1L, 40L, "100"))
    IncrementalAgg.maintainTopKBatch(mvDir, baseDir, Seq("k"), k = 2)(
      tcdc(("insert", 1L, 40L, None, Some("100"))), 99L)
    assert(readMv() == Map(1L -> Set((40L, 100.0), (10L, 10.0))))
  }
}
