package graft.queries

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** The text-analysis operators beyond their oracle coverage: hand-computed
  * fixtures for the repetition signals and tf-idf ranking, plus the plan
  * shapes that make them scale (broadcast df table, no global sort). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionSignals flags a degenerate looping doc and passes a diverse one") {
    val docs = Seq(
      (1L, "spam spam spam spam"),        // bigrams: "spam spam" x3
      (2L, "a b c d"),                    // bigrams: all distinct
      (3L, "x")                           // single token: no bigrams, dropped
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, Double)]
      .collect()
    assert(out.length == 2, "a doc with < 2 tokens has no bigrams and no row")
    assert(out(0) == ((1L, 3L, 1L, 3L, 1.0, 1.0 / 3.0)),
      "the loop doc: one bigram owns all 3 slots")
    assert(out(1) == ((2L, 3L, 3L, 1L, 1.0 / 3.0, 1.0)),
      "the diverse doc: every bigram unique")
  }

  test("tfIdfTopTerms ranks high-tf low-df terms first, ties by term, honors k") {
    // "stop" appears in every doc (df 3); "rare"/"gem" in one (df 1)
    val docs = Seq(
      (1L, "stop stop rare rare gem"),
      (2L, "stop alpha"),
      (3L, "stop beta")
    ).toDF("doc_id", "text")
    val top = TextOps.tfIdfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rnk")
      .as[(Long, String, Long, Long, Long)]
      .collect()
    // doc 1: rare (tf 2, df 1) beats stop (tf 2, df 3); gem (tf 1) third -> cut
    assert(top.filter(_._1 == 1L).toSeq ==
      Seq((1L, "rare", 2L, 1L, 1L), (1L, "stop", 2L, 3L, 2L)))
    // doc 2: alpha (tf 1, df 1) beats stop (tf 1, df 3)
    assert(top.filter(_._1 == 2L).toSeq ==
      Seq((2L, "alpha", 1L, 1L, 1L), (2L, "stop", 1L, 3L, 2L)))
    assert(top.forall(_._5 <= 2L), "k = 2 caps every doc's rows")
  }

  test("domainQuota keeps the k best-quality docs per source, ties by id, one source-exchange") {
    // quality = (1 - stop_ratio) * 0.5 + (mean_tok_len in [3,6] ? 0.5 : 0)
    val docs = Seq(
      (1L, "srcA", "the a the a"),            // all stopwords, short tokens: 0.0
      (2L, "srcA", "data query value word"),  // no stops, mean len 4.5: 1.0
      (3L, "srcA", "data query the word"),    // 1/4 stops, mean len 4: 0.875
      (5L, "srcA", "word data query value"),  // same tokens as 2: 1.0 (tie)
      (4L, "srcB", "the the the the"))        // 0.0, but srcB's best anyway
      .toDF("doc_id", "source", "text")
    val out = TextOps.domainQuota(docs, k = 2)
      .select("doc_id", "source", "rk").as[(Long, String, Long)]
      .collect().toSet
    // srcA: the two quality-1.0 docs win, id breaks the tie; 3 and 1 cut.
    // srcB: its only doc survives — the quota is per source.
    assert(out == Set((2L, "srcA", 1L), (5L, "srcA", 2L), (4L, "srcB", 1L)),
      out.toString)
    // scale shape: ONE hash exchange on the quota key, never a global sort
    val plan = TextOps.domainQuota(docs, 2).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), "global sort in a quota cut")
    intercept[IllegalArgumentException] { TextOps.domainQuota(docs, 0) }
  }

  test("domainQuotaByThreshold == domainQuota on a skewed corpus, with no document-scale window") {
    // one degenerate domain holding almost everything (the case the
    // variant exists for), one domain under the quota. Texts repeat
    // across ids so equal qualities TIE inside a histogram bin — the
    // doc_id tiebreak must match the rank form's exactly.
    val docs = ((0L until 200L).map { i =>
      val stops = Seq.fill((i % 7).toInt)("the")
      val body = Seq.fill(3 + (i % 5).toInt)(s"tok${i % 11}")
      (i, "big", (stops ++ body).mkString(" "))
    } ++ Seq(
      (900L, "small", "alpha beta gamma delta"),
      (901L, "small", "one two three"),
      (902L, "small", "the the the the"))).toDF("doc_id", "source", "text")
    val viaRank = TextOps.domainQuota(docs, k = 7)
      .select("doc_id", "source", "quality")
      .as[(Long, String, Double)].collect().toSet
    val viaThreshold = TextOps.domainQuotaByThreshold(docs, k = 7)
      .select("doc_id", "source", "quality")
      .as[(Long, String, Double)].collect().toSet
    assert(viaThreshold == viaRank,
      s"the histogram cut must keep exactly the rank cut's rows:\n" +
        s"rank - threshold: ${viaRank -- viaThreshold}\n" +
        s"threshold - rank: ${viaThreshold -- viaRank}")
    assert(viaThreshold.count(_._2 == "small") == 3,
      "a domain under the quota keeps everything (no boundary bin)")
    // the plan property that IS the operator: every window runs over
    // histogram rows (below an Aggregate) or over one boundary bin (below
    // a bin filter) — never over a whole domain of documents, which is
    // domainQuota's shape and exactly what a degenerate domain breaks
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window => LWindow}
    val plan = TextOps.domainQuotaByThreshold(docs, k = 7)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "the threshold cut still windows (just never over a domain)")
    wins.foreach { w =>
      val guarded = w.child.collectFirst {
        case a: Aggregate => a
        case f: Filter if f.condition.references.exists(r =>
          Set("bin", "bbin", "cum")(r.name)) => f
      }.nonEmpty
      assert(guarded, s"document-scale window in the threshold plan:\n$w")
    }
    intercept[IllegalArgumentException] { TextOps.domainQuotaByThreshold(docs, 0) }
    intercept[IllegalArgumentException] { TextOps.domainQuotaByThreshold(docs, 5, bins = 1) }
  }

  test("mixToTokenBudget: under-budget source kept whole, over-budget source cut at budget/total") {
    // srcB totals 6 tokens <= budget 10: kept whole, null cut. srcA
    // totals 40: cut = floor(10 * 65536 / 40) = 16384 = '4000'.
    val docs = ((0L until 10L).map(i => (i, "srcA", "w x y z")) ++ Seq(
      (100L, "srcB", "a b c"), (101L, "srcB", "d e f")))
      .toDF("doc_id", "source", "text")
    val out = TextOps.mixToTokenBudget(docs, budget = 10L)
      .select("doc_id", "source", "n_tokens", "tb_bucket", "tb_cut")
      .as[(Long, String, Long, String, Option[String])].collect()
    assert(out.filter(_._2 == "srcB").map(_._1).sorted.toSeq == Seq(100L, 101L),
      "an under-budget source is kept whole")
    assert(out.filter(_._2 == "srcB").forall(_._5.isEmpty), "null cut = uncapped")
    // independent md5: the op's decision must match hex chars 5-8 of the
    // digest compared against the hand-computed cut
    def coord(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.substring(4, 8)
    }
    val keptA = out.filter(_._2 == "srcA")
    assert(keptA.forall(_._5.contains("4000")), keptA.mkString(","))
    val expectA = (0L until 10L).filter(coord(_) < "4000").toSet
    assert(keptA.map(_._1).toSet == expectA,
      s"kept = ids whose digest coordinate < cut: got ${keptA.map(_._1).toSet}, want $expectA")
    assert(keptA.forall(r => r._4 == coord(r._1)), "emitted bucket is the digest coordinate")
    // per-source purity: another source's docs never move srcA's cut
    val more = docs.unionByName(
      Seq((200L, "srcC", "lots of extra words here")).toDF("doc_id", "source", "text"))
    val keptA2 = TextOps.mixToTokenBudget(more, budget = 10L)
      .filter(col("source") === "srcA").select("doc_id")
      .as[Long].collect().toSet
    assert(keptA2 == expectA, "adding srcC docs must not change srcA's sample")
    // scale shape: the corpus joins the per-source cut table by BROADCAST;
    // the only hash exchange is the tiny per-source token aggregation
    val plan = TextOps.mixToTokenBudget(docs, 10L).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).length == 1, plan)
    intercept[IllegalArgumentException] { TextOps.mixToTokenBudget(docs, 0L) }
  }

  test("boilerplateSignals: a shared template shingle is flagged, unique text is not") {
    // "nav bar home" appears in 3 of 4 eligible docs (df 3/4 >= 0.75);
    // every other trigram is unique (df 1/4). The 2-token doc has no
    // trigram and no row.
    val docs = Seq(
      (1L, "nav bar home alpha beta gamma"),
      (2L, "nav bar home delta eps zeta"),
      (3L, "nav bar home eta theta iota"),
      (4L, "one two three four"),
      (5L, "x y")).toDF("doc_id", "text")
    val out = TextOps.boilerplateSignals(docs, minDfFrac = 0.75, flagFrac = 0.25)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 1L, 0.25, true),
      (2L, 4L, 1L, 0.25, true),
      (3L, 4L, 1L, 0.25, true),
      (4L, 2L, 0L, 0.0, false)), out.toString)
    // scale shape: the boilerplate set reaches the postings by broadcast
    // semi-join — the corpus-sized posting table never shuffles for it
    val plan = TextOps.boilerplateSignals(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    intercept[IllegalArgumentException] { TextOps.boilerplateSignals(docs, minDfFrac = 0.0) }
    intercept[IllegalArgumentException] { TextOps.boilerplateSignals(docs, flagFrac = 1.5) }
  }

  test("vocabTopK ranks (df desc, tf desc, term asc), cuts at k, plans a partition-local top-k") {
    // df order: "common" in 3 docs; "mid"/"twin" in 2; the rest in 1.
    // "mid" vs "twin" tie on df 2 -> tf breaks it (mid 3 > twin 2);
    // "aaa" vs "zzz" tie on (df 1, tf 1) -> term breaks it.
    val docs = Seq(
      (1L, "common mid mid twin aaa"),
      (2L, "common mid twin zzz"),
      (3L, "common")).toDF("doc_id", "text")
    val top = TextOps.vocabTopK(docs, k = 4)
      .as[(String, Long, Long)].collect().toSeq
    assert(top == Seq(
      ("common", 3L, 3L),
      ("mid", 3L, 2L),
      ("twin", 2L, 2L),
      ("aaa", 1L, 1L)), top.toString)
    // k larger than the vocabulary returns everything, no padding
    assert(TextOps.vocabTopK(docs, k = 100).count() == 5L)
    // scale shape: the cut is a partition-local top-k merged on the
    // driver, never a global sort of the vocabulary
    val plan = TextOps.vocabTopK(docs, 4).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    intercept[IllegalArgumentException] { TextOps.vocabTopK(docs, 0) }
  }

  test("chunkWindows cuts overlapping fixed-size windows; short tail; no shuffle") {
    // 7 tokens, chunk 4, stride 2: starts 0/2/4/6 -> windows of 4,4,3,1
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6"), (2L, "solo")).toDF("doc_id", "text")
    val out = TextOps.chunkWindows(docs, chunk = 4, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 2L, 4L, "t2 t3 t4 t5"),
      (1L, 2L, 4L, 3L, "t4 t5 t6"),
      (1L, 3L, 6L, 1L, "t6"),
      (2L, 0L, 0L, 1L, "solo")), out.toString)
    // stride <= chunk means every token lands in at least one window
    val covered = out.filter(_._1 == 1L)
      .flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered == (0L until 7L).toSet, "no token may fall between windows")
    // scale shape: per-row generate only — nothing shuffles
    val plan = TextOps.chunkWindows(docs).queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException] { TextOps.chunkWindows(docs, chunk = 0) }
    intercept[IllegalArgumentException] {
      TextOps.chunkWindows(docs, chunk = 4, stride = 5) // gaps would skip tokens
    }
  }

  test("corpusComposition fills missing cells with 0 and plans one low-cardinality agg") {
    val docs = Seq(
      (1L, "en", "srcA"), (2L, "en", "srcA"), (3L, "en", "srcB"),
      (4L, "fr", "srcB"),
      (5L, "de", "srcC")) // srcC unlisted: out of the matrix AND the total
      .toDF("doc_id", "lang", "source")
    val out = TextOps.corpusComposition(docs, sources = Seq("srcA", "srcB"))
      .orderBy("lang")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("de", 0L, 0L, 0L),   // de has only unlisted srcC rows: zeros, not nulls
      ("en", 2L, 1L, 3L),
      ("fr", 0L, 1L, 1L)), out.toString)
    // ONE hash exchange (the lang rollup) and no pivotfirst — the
    // conditional-aggregate form skips Dataset.pivot's extra
    // (lang, source) pre-aggregation hop entirely
    val plan = TextOps.corpusComposition(docs, Seq("srcA", "srcB"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("pivotfirst"), plan)
    intercept[IllegalArgumentException] {
      TextOps.corpusComposition(docs, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextOps.corpusComposition(docs, Seq("srcA", "srcA"))
    }
  }

  test("approxCorpusStats sketches land within tolerance of the exact values") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val r = TextOps.approxCorpusStats(docs, rsd = 0.05).collect()(0)
    val (nDocs, totalTokens, approxVocab) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val exactVocab = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("t"))
      .distinct().count()
    assert(nDocs == docs.count(), "doc count is exact, not sketched")
    assert(totalTokens == docs.select(org.apache.spark.sql.functions
      .explode(org.apache.spark.sql.functions.split(col("text"), " "))).count())
    assert(math.abs(approxVocab - exactVocab).toDouble / exactVocab <= 3 * 0.05,
      s"HLL estimate $approxVocab vs exact $exactVocab drifts past 3x rsd")
    // quantiles are over per-doc token counts: bounded by observed min/max
    val lens = docs.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.split(col("text"), " ")).as("n"))
      .as[Int].collect()
    Seq(r.getInt(3), r.getInt(4), r.getInt(5)).foreach { q =>
      assert(q >= lens.min && q <= lens.max, s"quantile $q outside data range")
    }
    assert(r.getInt(3) <= r.getInt(4) && r.getInt(4) <= r.getInt(5),
      "quantiles must be monotone")
    intercept[IllegalArgumentException] { TextOps.approxCorpusStats(docs, 0.0) }
  }

  test("hashSplit is a pure function of the id: subset-invariant, partition-invariant, ~80/10/10") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 2000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val full = TextOps.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // growing or shrinking the corpus never moves an existing doc between
    // splits — the property randomSplit's per-partition RNG cannot give
    val subset = TextOps.hashSplit(docs.filter(col("doc_id") < 500)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(subset.forall { case (id, v) => full(id) == v })
    assert(TextOps.hashSplit(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap == full)
    // cut points land within binomial noise of 204/26/26 out of 256
    val byplit = full.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byplit("train") > 1500 && byplit("train") < 1700, byplit.toString)
    assert(byplit("val") > 120 && byplit("val") < 300, byplit.toString)
    assert(byplit("test") > 120 && byplit("test") < 300, byplit.toString)
    // increasing-cut-point guard
    intercept[IllegalArgumentException] {
      TextOps.hashSplit(docs, trainUpper = "e6", valUpper = "cc")
    }
  }

  test("packWindows lays each source's docs end-to-end: contiguous offsets, capacity-sized bins") {
    val docs = Seq(
      (1L, "a b c", "s0"),   // 3 tokens, offset 0, bin 0
      (2L, "d e", "s0"),     // 2 tokens, offset 3, bin 0
      (3L, "f g h i", "s0"), // 4 tokens, offset 5, bin 1 (capacity 4)
      (10L, "x y z", "s1")   // separate stream: offset 0 again
    ).toDF("doc_id", "text", "source")
    val got = TextOps.packWindows(docs, capacity = 4)
      .orderBy("source", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "s0", 3, 0L, 0L),
      (2L, "s0", 2, 3L, 0L),
      (3L, "s0", 4, 5L, 1L),
      (10L, "s1", 3, 0L, 0L)))
    // contiguity invariant on real data: within a source, each offset is
    // the previous doc's offset + n_tokens
    val real = TextOps.packWindows(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(3)))
      .groupBy(_._1)
    real.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((_, _, n, off), (_, _, _, off2)) =>
        assert(off2 == off + n, "offsets must be contiguous per source")
      }
      assert(sorted.head._4 == 0L)
    }
    intercept[IllegalArgumentException] { TextOps.packWindows(docs, 0) }
  }

  test("tfIdfTopTerms broadcasts the vocabulary-sized df table — the tf side never sort-merge-joins") {
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    // toString, not a node walk: AQE wraps the live plan and hides its
    // children from a naive traversal, but prints the full inner plan.
    // Auto-broadcast OFF while planning: tiny fixtures would broadcast
    // every join anyway, and this pin exists to catch a dropped hint.
    val plan = noAutoBroadcast {
      TextOps.tfIdfTopTerms(docs).queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("mixCorpus: membership is the documented pure function of (doc_id, source rate)") {
    val docs = (0L until 512L).map(i => (i, s"src${i % 4}", "w"))
      .toDF("doc_id", "source", "text")
    val rates = Seq("src0" -> "ff", "src1" -> "7f", "src2" -> "00")
    val kept = TextOps.mixCorpus(docs, rates, defaultRate = "0f")
      .select("doc_id").as[Long].collect().toSet
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0L until 512L).filter { i =>
      val cut = Map(0 -> "ff", 1 -> "7f", 2 -> "00").getOrElse((i % 4).toInt, "0f")
      md5hex(i.toString).substring(2, 4) <= cut
    }.toSet
    assert(kept == expected)
    // 'ff' keeps every doc of the source; unlisted src3 rides the default
    assert((0L until 512L).filter(_ % 4 == 0).forall(kept))
    assert(kept.exists(_ % 4 == 3) || expected.forall(_ % 4 != 3))
  }

  test("mixCorpus is stable under corpus growth and independent of hashSplit's coordinate") {
    val small = (0L until 128L).map(i => (i, s"src${i % 2}", "w"))
      .toDF("doc_id", "source", "text")
    val grown = (0L until 256L).map(i => (i, s"src${i % 2}", "w"))
      .toDF("doc_id", "source", "text")
    val rates = Seq("src0" -> "7f", "src1" -> "33")
    def keep(df: org.apache.spark.sql.DataFrame) =
      TextOps.mixCorpus(df, rates).select("doc_id").as[Long].collect().toSet
    val (a, b) = (keep(small), keep(grown))
    assert(b.filter(_ < 128L) == a, "growing the corpus never resamples old docs")
    // mixing reads md5 chars 3-4, splitting chars 1-2: within the kept set
    // every split must still appear (the coordinates are independent)
    val splits = TextOps.hashSplit(grown).join(
        TextOps.mixCorpus(grown, rates).select("doc_id"), "doc_id")
      .select("split").as[String].collect().toSet
    assert(splits == Set("train", "val", "test"))
  }

  test("mixCorpus rejects malformed rate cuts and duplicate sources") {
    val docs = Seq((1L, "src0", "w")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException] {
      TextOps.mixCorpus(docs, Seq("src0" -> "FF"))
    }
    intercept[IllegalArgumentException] {
      TextOps.mixCorpus(docs, Seq("src0" -> "f"))
    }
    intercept[IllegalArgumentException] {
      TextOps.mixCorpus(docs, Seq("src0" -> "aa", "src0" -> "bb"))
    }
    intercept[IllegalArgumentException] {
      TextOps.mixCorpus(docs, Seq("src0" -> "aa"), defaultRate = "zz")
    }
  }

  test("mixFilter keeps full rows, matches mixCorpus membership, plans no shuffle") {
    val docs = (0L until 256L).map(i => (i, s"src${i % 3}", s"t$i"))
      .toDF("doc_id", "source", "text")
    val rates = Seq("src0" -> "7f")
    val full = TextOps.mixFilter(docs, rates, defaultRate = "33")
    assert(full.columns.toSeq == docs.columns.toSeq, "original columns, original order")
    assert(full.select("doc_id").as[Long].collect().toSet ==
      TextOps.mixCorpus(docs, rates, "33").select("doc_id").as[Long].collect().toSet)
    val plan = full.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // empty rates = flat global sample at the default rate: no join at all
    val flat = TextOps.mixFilter(docs, Seq.empty, "7f")
    assert(!flat.queryExecution.executedPlan.toString.contains("Join"))
    assert(flat.count() ==
      TextOps.mixCorpus(docs, Seq.empty, "7f").count())
  }

  test("the publish composition (split + pack in place) plans exactly one exchange") {
    val docs = (0L until 64L).map(i => (i, s"src${i % 2}", s"text $i words here"))
      .toDF("doc_id", "source", "text")
    val withSplit = docs.withColumn("split", TextOps.splitColumn(col("doc_id")))
    val packed = TextOps.packWindowsAll(withSplit, 64, Seq("split", "source"))
    // one Exchange: the pack window's partition-by. The old join-back shape
    // added two more corpus-sized hash exchanges on doc_id.
    val plan = packed.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange (pack window), got $exchanges:\n$plan")
    // every input column survives, bookkeeping appended
    assert(packed.columns.toSeq ==
      docs.columns.toSeq ++ Seq("split", "n_tokens", "offset", "bin"))
    // and the values agree with the q50-shaped projection
    val viaProjection = TextOps.packWindows(withSplit, 64, Seq("split", "source"))
      .select("doc_id", "offset", "bin").as[(Long, Long, Long)].collect().toSet
    assert(packed.select("doc_id", "offset", "bin")
      .as[(Long, Long, Long)].collect().toSet == viaProjection)
  }

  test("mixCorpus broadcasts the rate table — the corpus side never shuffles") {
    val docs = Seq((1L, "src0", "w"), (2L, "src1", "w"))
      .toDF("doc_id", "source", "text")
    val plan = noAutoBroadcast {
      TextOps.mixCorpus(docs).queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("redact scrubs email/ip/phone once each, progressively, and leaves clean text alone") {
    val docs = Seq(
      (1L, "write to jane.doe+x@corp.example.com or 192.168.1.200 tel 5551234567 now"),
      (2L, "perfectly clean prose with words only"),
      // a digit run inside a dotted quad must be billed to ipv4, not phone
      (3L, "server at 10.20.30.40 only"),
      // 7 digits is the phone floor; 6 is not a phone
      (4L, "short 123456 long 1234567")
    ).toDF("doc_id", "text")
    val out = TextOps.redact(docs).orderBy("doc_id")
      .as[(Long, String, Int, Int, Int, Int)].collect()
    assert(out(0) == ((1L, "write to <EMAIL> or <IP> tel <PHONE> now", 1, 1, 1, 3)))
    assert(out(1) == ((2L, "perfectly clean prose with words only", 0, 0, 0, 0)),
      "a clean doc passes byte-identical with zero counts")
    assert(out(2) == ((3L, "server at <IP> only", 0, 1, 0, 1)),
      "quad digits are consumed by the ipv4 pass, never double-counted as phones")
    assert(out(3) == ((4L, "short 123456 long <PHONE>", 0, 0, 1, 1)))
  }

  test("redactInPlace rewrites text only, keeps every other column, plans no join") {
    val docs = Seq((1L, "srcA", "mail me a@b.cc please", 21L))
      .toDF("doc_id", "source", "text", "n_chars")
    val out = TextOps.redactInPlace(docs)
    assert(out.columns.toSeq == docs.columns.toSeq)
    val row = out.as[(Long, String, String, Long)].collect().head
    assert(row == ((1L, "srcA", "mail me <EMAIL> please", 21L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"pure per-row rewrite must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"and must not shuffle:\n$plan")
  }

  test("redact rejects empty, duplicate-named, and malformed-name pattern sets") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] { TextOps.redact(docs, Seq.empty) }
    intercept[IllegalArgumentException] {
      TextOps.redact(docs, Seq(("a", "x", "y"), ("a", "z", "w")))
    }
    intercept[IllegalArgumentException] {
      TextOps.redact(docs, Seq(("Bad Name", "x", "y")))
    }
  }

  test("ngramTopK counts corpus bigrams, breaks ties by gram, honors n and k") {
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: "a b" x2, "b a" x1
      (2L, "a b c"),     // "a b", "b c"
      (3L, "solo")       // < n tokens: contributes nothing
    ).toDF("doc_id", "text")
    val top = TextOps.ngramTopK(docs, n = 2, k = 2)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("a b", 3L), ("b a", 1L)),
      "count desc, then gram asc breaks the b-a/b-c tie at the k boundary")
    val tri = TextOps.ngramTopK(docs, n = 3, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(tri == Seq(("a b a", 1L), ("a b c", 1L), ("b a b", 1L)),
      "n = 3 windows; docs shorter than n drop out")
    intercept[IllegalArgumentException] { TextOps.ngramTopK(docs, n = 0) }
    intercept[IllegalArgumentException] { TextOps.ngramTopK(docs, k = 0) }
  }

  test("ngramTopK plans one partial-final count agg and a TakeOrdered, no global sort") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val plan = TextOps.ngramTopK(docs).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered (driver receives k rows), not Sort+Limit:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"the gram count must map-side combine before the shuffle:\n$plan")
  }

  test("ppsTokenSample: interval-cover picks, multiplicity, token-mass coverage, cross-source independence") {
    def doc(id: Long, src: String, n: Int) =
      (id, src, (1 to n).map(i => s"t$i").mkString(" "))
    val docs = Seq(doc(1, "a", 30), doc(2, "a", 450), doc(3, "a", 150),
      doc(4, "b", 250)).toDF("doc_id", "source", "text")
    val got = TextOps.ppsTokenSample(docs, stride = 200L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // source a's cumulative axis: doc1 [1,30] covers no multiple of 200;
    // doc2 [31,480] covers 200 AND 400 (multiplicity 2 — the
    // with-replacement PPS weight); doc3 [481,630] covers 600
    assert(got == Set(
      (2L, "a", 450L, 30L, 2L),
      (3L, "a", 150L, 480L, 1L),
      (4L, "b", 250L, 0L, 1L)), got.toString)
    // token-mass coverage: per source, total picks == floor(total/stride)
    assert(got.filter(_._2 == "a").map(_._5).sum == 630L / 200L)
    // growth of ANOTHER source moves nothing (per-source axes)
    val grown = docs.unionByName(Seq(doc(9, "b", 500)).toDF("doc_id", "source", "text"))
    val aRows = TextOps.ppsTokenSample(grown, stride = 200L)
      .filter(col("source") === "a").collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSet
    assert(aRows == Set((2L, 2L), (3L, 1L)))
    intercept[IllegalArgumentException] { TextOps.ppsTokenSample(docs, 0L) }
  }

  test("stratifiedSample: exact k per source, deterministic, stable under unrelated growth") {
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 30) "big" else "small", s"text $i"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.stratifiedSample(docs, k = 5)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(out.count(_._2 == "big") == 5 && out.count(_._2 == "small") == 5)
    // rerun == same sample (pure function of doc_id)
    val again = TextOps.stratifiedSample(docs, k = 5)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(again == out)
    // growing ONE source never changes another source's sample — the
    // property a rank over a global order would break
    val grown = docs.union(Seq((100L, "big", "new doc"))
      .toDF("doc_id", "source", "text"))
    val afterGrowth = TextOps.stratifiedSample(grown, k = 5)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(afterGrowth.filter(_._2 == "small") == out.filter(_._2 == "small"))
    intercept[IllegalArgumentException] { TextOps.stratifiedSample(docs, 0) }
  }

  test("stratifiedSample is independent of the split/mix/budget coordinates") {
    // the sample key reads md5 hex chars 9-16: verify a doc's sample rank
    // ignores chars 1-8 by construction — same digest, disjoint substrings
    val docs = Seq((7L, "s", "x")).toDF("doc_id", "source", "text")
    val row = TextOps.stratifiedSample(docs, k = 1).collect().head
    assert(row.getLong(0) == 7L && row.getInt(2) == 1)
    val plan = TextOps.stratifiedSample(docs, k = 1)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("lmFamiliarity: known = corpus bigram count >= 2, scores are count ratios") {
    val docs = Seq(
      (1L, "a b c"),  // bigrams "a b" (corpus cnt 2), "b c" (cnt 1)
      (2L, "a b x"),  // bigrams "a b" (cnt 2), "b x" (cnt 1)
      (3L, "z")       // single token: no bigrams, no row
    ).toDF("doc_id", "text")
    val out = TextOps.lmFamiliarity(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, Double)]
      .collect()
    assert(out.length == 2, "a 1-token doc has no bigrams and no row")
    // both docs: 2 bigrams, 1 shared ("a b"), sum of corpus counts 2+1=3
    assert(out(0) == ((1L, 2L, 1L, 3L, 0.5, 1.5)))
    assert(out(1) == ((2L, 2L, 1L, 3L, 0.5, 1.5)))
    intercept[IllegalArgumentException] { TextOps.lmFamiliarity(docs, 0L) }
  }

  test("softQualityFilter: survival prob == quality, exact vs a hand-rolled md5 check") {
    // "a a a a": stop_ratio 1, mean len 1 -> quality 0 -> never survives.
    // "tok tok tok": quality 1 -> NULL cut -> always survives.
    // "the the the the": stop_ratio 1 BUT mean 3 earns the len bonus ->
    // quality 0.5 -> cut 0x8000; survival decided by md5 hex 17-20.
    val docs = ((1L to 200L).map(i => (i, "mid", "the the the the")) ++
      Seq((900L, "zero", "a a a a"), (901L, "one", "tok tok tok")))
      .toDF("doc_id", "source", "text")
    val kept = TextOps.softQualityFilter(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(900L), "quality-0 doc must never survive")
    assert(kept.contains(901L), "quality-1 doc must always survive")
    val md = java.security.MessageDigest.getInstance("MD5")
    def slice(id: Long): String = {
      val h = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h.substring(16, 20)
    }
    val expectMid = (1L to 200L).filter(slice(_) < "8000").toSet
    assert(kept - 901L == expectMid,
      s"survivors must be exactly the sub-cut md5 slices")
    // an even quality split keeps roughly half (sanity on the rate)
    assert(expectMid.size > 70 && expectMid.size < 130, expectMid.size.toString)
  }

  test("lengthQuantiles: rank-picked exact median/p90, single-doc source, one exchange") {
    val docs = (1 to 10).map(n =>
        (n.toLong, "s", (1 to n).map(_ => "tok").mkString(" "))) :+
      (99L, "t", "tok tok tok")
    val df = docs.toDF("doc_id", "source", "text")
    val out = TextOps.lengthQuantiles(df)
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out("s") == ((10L, 5L, 9L)),
      "counts 1..10: median = rank 5 -> 5, p90 = rank 9 -> 9")
    assert(out("t") == ((1L, 3L, 3L)), "a single doc is its own quantiles")
    val plan = TextOps.lengthQuantiles(df).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("normalizeText: whitespace variants to space, controls stripped, runs collapsed, trim") {
    val d = Seq(
      (1L, "a\tb"),            // tab -> space
      (2L, "  a   b  "),       // runs collapse, ends trim
      (3L, "a\r\nb"),          // CR LF -> two spaces -> one
      (4L, "a\u0001b\u007Fc"), // C0/DEL controls stripped outright
      (5L, "a b")              // already clean: untouched, changed=false
    ).toDF("doc_id", "text")
    val got = TextOps.normalizeText(d)
      .as[(Long, Int, String, Int, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3, "a b", 3, true)))
    assert(got(2L) == ((2L, 9, "a b", 3, true)))
    assert(got(3L) == ((3L, 4, "a b", 3, true)))
    assert(got(4L) == ((4L, 5, "abc", 3, true)))
    assert(got(5L) == ((5L, 3, "a b", 3, false)))
    val plan = TextOps.normalizeText(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // pure per-row scan
  }

  test("urlCanonicalize: case, utm stripping in every position, fragment drop, null surface") {
    val d = Seq(
      (1L, "x url=HTTP://WWW.A.COM/p?id=1#frag"),       // case + fragment
      (2L, "x url=http://a.com/p?utm_s=1&id=2"),        // utm FIRST, keeper after
      (3L, "x url=http://a.com/p?id=3&utm_s=1"),        // utm last
      (4L, "x url=http://a.com/p?utm_a=1&utm_b=2"),     // utm ONLY: no '?'
      (5L, "x url=http://a.com/p?utm_a=1&id=5&utm_b=2"),// utm both sides
      (6L, "no link here"),                             // no URL: nulls
      (7L, "x url=https://B.com"),                      // empty path, no query
      (8L, "x url=not-a-url"))                          // scheme-less: nulls
      .toDF("doc_id", "text")
    val got = TextOps.urlCanonicalize(d)
      .as[(Long, Option[String], Option[String], Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, Some("www.a.com"), Some("/p"), Some("http://www.a.com/p?id=1"))))
    assert(got(2L)._4 == Some("http://a.com/p?id=2"))
    assert(got(3L)._4 == Some("http://a.com/p?id=3"))
    assert(got(4L)._4 == Some("http://a.com/p"), "utm-only query must drop the '?'")
    assert(got(5L)._4 == Some("http://a.com/p?id=5"))
    assert(got(6L) == ((6L, None, None, None)))
    assert(got(7L)._4 == Some("https://b.com"))
    assert(got(8L) == ((8L, None, None, None)),
      "a scheme-less token is not a canonicalizable URL")
    val plan = TextOps.urlCanonicalize(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // pure per-row scan
  }

  test("urlDedup: min-id survivor per canonical, URL-less docs pass through") {
    val d = Seq(
      (3L, "x url=http://a.com/p?utm_s=1&id=7"), // same canonical as doc 5
      (5L, "x url=HTTP://A.COM/p?id=7#frag"),    // case/utm/fragment variants
      (8L, "x url=http://a.com/q?id=7"),         // different path: own group
      (9L, "no link at all"))                    // URL-less: own survivor
      .toDF("doc_id", "text")
    val got = TextOps.urlDedup(TextOps.urlCanonicalize(d))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("http://a.com/p?id=7") == ((3L, 2L)),
      "variants must collapse to the min-id fetch")
    assert(got("http://a.com/q?id=7") == ((8L, 1L)))
    assert(got("doc:9") == ((9L, 1L)), "URL-less docs keep themselves")
    // one exchange: the canonical group — the per-row chain adds none
    val plan = TextOps.urlDedup(TextOps.urlCanonicalize(d))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("calibratedQuality: per-source percent_rank, singleton = 0, one exchange") {
    val d = Seq(
      (1L, "sA", "the a the a"),          // high stop ratio: low quality
      (2L, "sA", "meaningful longer words present here"),
      (3L, "sA", "middle quality words go here now"),
      (4L, "sB", "a lone document"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.calibratedQuality(d)
      .select(col("doc_id"), col("q_pr")).as[(Long, Double)].collect().toMap
    // sA ranks its three docs 0, 0.5, 1 in quality order; sB's singleton
    // calibrates to 0.0 — and crucially the MAPPING is within-source
    assert(got(4L) == 0.0, s"singleton source must calibrate to 0: $got")
    assert(Set(got(1L), got(2L), got(3L)) == Set(0.0, 0.5, 1.0), got.toString)
    assert(got(1L) == 0.0, "the stopword-heavy doc must rank lowest in its source")
    val plan = TextOps.calibratedQuality(d).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).length == 1, plan)
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("qualityFloorDrops: exactly floor(p*n) per source, worst first, singletons safe") {
    val d = Seq(
      (1L, "sA", "the a the a"),                       // sA's worst
      (2L, "sA", "the a the a the"),                   // sA's 2nd worst
      (3L, "sA", "meaningful longer words present here"),
      (4L, "sA", "different meaningful words also here"),
      (5L, "sB", "the the the the"))                   // singleton, and globally worst
      .toDF("doc_id", "source", "text")
    val drops = TextOps.qualityFloorDrops(d, 0.3)
      .select(col("doc_id")).as[Long].collect().toSet
    // sA: floor(0.3 * 4) = 1 -> drops only its worst; sB: floor(0.3) = 0
    // -> the singleton survives even though it is the corpus's worst doc
    assert(drops == Set(1L), s"source-relative floor: $drops")
    val half = TextOps.qualityFloorDrops(d, 0.5)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(half == Set(1L, 2L), s"floor(0.5*4)=2 from sA, none from sB: $half")
    assert(TextOps.qualityFloorDrops(d, 0.0).count() == 0)
    val plan = TextOps.qualityFloorDrops(d, 0.3)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).length == 1, plan)
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("qualityFloorDrops: floor(p*n) boundary where the double product rounds low") {
    // p=0.29, n=100: 0.29*100 = 28.999999999999996 in double — the
    // epsilon guard must yield the mathematical floor, 29 drops.
    val d = (0L until 100L).map { i =>
      val stops = Seq.fill((i % 13).toInt)("the")
      val body = Seq.fill(2 + (i % 7).toInt)(s"w${i % 17}")
      (i, "s", (stops ++ body).mkString(" "))
    }.toDF("doc_id", "source", "text")
    assert(TextOps.qualityFloorDrops(d, 0.29).count() == 29,
      "p*n integer boundaries must cut the mathematical floor")
    assert(TextOps.qualityFloorByThreshold(d, 0.29).count() == 29,
      "both floor forms share the boundary guard")
  }

  test("qualityFloorByThreshold == qualityFloorDrops on a skewed corpus, no document-scale window") {
    // one degenerate source holding almost everything (the case the
    // variant exists for), one small source, one singleton. Texts repeat
    // so equal qualities TIE inside a bin — the doc_id tiebreak must
    // match the window form's exactly.
    val docs = ((0L until 200L).map { i =>
      val stops = Seq.fill((i % 7).toInt)("the")
      val body = Seq.fill(3 + (i % 5).toInt)(s"tok${i % 11}")
      (i, "big", (stops ++ body).mkString(" "))
    } ++ Seq(
      (900L, "small", "alpha beta gamma delta"),
      (901L, "small", "one two three"),
      (902L, "small", "the the the the"),
      (910L, "solo", "the the the the the"))).toDF("doc_id", "source", "text")
    for (p <- Seq(0.1, 0.3, 0.5, 0.9)) {
      val viaWindow = TextOps.qualityFloorDrops(docs, p)
        .select("doc_id", "source", "quality", "n_src")
        .as[(Long, String, Double, Long)].collect().toSet
      val viaThreshold = TextOps.qualityFloorByThreshold(docs, p)
        .select("doc_id", "source", "quality", "n_src")
        .as[(Long, String, Double, Long)].collect().toSet
      assert(viaThreshold == viaWindow,
        s"p=$p histogram cut must drop exactly the window cut's rows:\n" +
          s"window - threshold: ${viaWindow -- viaThreshold}\n" +
          s"threshold - window: ${viaThreshold -- viaWindow}")
      assert(!viaThreshold.exists(_._1 == 910L),
        s"p=$p: the count-based floor keeps a singleton source's only doc")
    }
    assert(TextOps.qualityFloorByThreshold(docs, 0.0).count() == 0)
    // the plan property that IS the operator: every window runs over
    // histogram rows (below an Aggregate) or over one boundary bin (below
    // a bin filter) — never over a whole source of documents
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window => LWindow}
    val plan = TextOps.qualityFloorByThreshold(docs, 0.3)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "the threshold cut still windows (just never over a source)")
    wins.foreach { w =>
      val guarded = w.child.collectFirst {
        case a: Aggregate => a
        case f: Filter if f.condition.references.exists(r =>
          Set("bin", "bbin", "cum")(r.name)) => f
      }.nonEmpty
      assert(guarded, s"document-scale window in the threshold plan:\n$w")
    }
    intercept[IllegalArgumentException] { TextOps.qualityFloorByThreshold(docs, 1.0) }
    intercept[IllegalArgumentException] { TextOps.qualityFloorByThreshold(docs, 0.3, bins = 1) }
  }

  test("domainQuotaHeap == domainQuota exactly, with no Window in the plan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val window = TextOps.domainQuota(docs, 4)
      .as[(Long, String, Double, Long)].collect().toSet
    val heap = TextOps.domainQuotaHeap(docs, 4)
      .as[(Long, String, Double, Long)].collect().toSet
    assert(heap == window, "the two quota forms must make the identical cut")
    val plan = TextOps.domainQuotaHeap(docs, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("lmFamiliarity plan: the count join builds post-agg, no cartesian, three exchanges") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    noAutoBroadcast {
      val plan = TextOps.lmFamiliarity(docs)
        .queryExecution.executedPlan.toString
      // gram-count build, gram probe, final doc_id agg — plus the r22
      // staging repartition (the gram frame is doc_id-repartitioned +
      // persisted, see lmFamiliarity), whose ONE exchange prints twice:
      // the shared InMemoryRelation's child plan renders under each of
      // the two InMemoryTableScans. 3 + 2 rendered copies of 1 = 5.
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 5, plan)
      assert("InMemoryTableScan".r.findAllIn(plan).length == 2, plan)
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoop"), plan)
    }
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
}
