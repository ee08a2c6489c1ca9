package graft.queries

import graft.SparkSpec

/** The q33 `dfMax` posting-list cap: the O(Σ df²) self-join cost lever.
  * Pins the two properties the scaladoc claims: a cap above every shingle's
  * df is a no-op, and a binding cap removes exactly the pairs whose every
  * shared shingle is a stop-shingle while surviving pairs keep exact scores.
  */
class DedupOpsSpec extends SparkSpec {

  import spark.implicits._

  // six copies of a stop-phrase (every shingle df=6) + one rare near-dup
  // pair (shingles df=2) + one unrelated doc
  private def docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumps"),
    (3L, "the quick brown fox jumps"),
    (4L, "the quick brown fox jumps"),
    (5L, "the quick brown fox jumps"),
    (6L, "the quick brown fox jumps"),
    (7L, "zeta eta theta iota kappa"),
    (8L, "zeta eta theta iota kappa"),
    (9L, "alpha beta gamma delta epsilon")
  ).toDF("doc_id", "text")

  private def pairs(dfMax: Option[Int]) =
    DedupOps.ngramJaccard(DedupOps.shingledOf(docs), dfMax)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("dfMax above every df is a no-op (exact equivalence)") {
    assert(pairs(Some(1000)) == pairs(None))
  }

  test("a binding dfMax drops exactly the stop-shingle-only pairs, keeps exact scores") {
    val exact = pairs(None)
    val capped = pairs(Some(3)) // stop-phrase shingles have df=6 > 3
    // the rare pair survives with its exact score
    assert(capped == Set((7L, 8L, 1.0)))
    // everything removed was a pair among the six stop-phrase copies
    val removed = exact -- capped
    assert(removed.nonEmpty)
    assert(removed.forall { case (a, b, _) => a <= 6 && b <= 6 })
    assert(removed.size == 15) // C(6,2) identical copies, jaccard 1.0 each
  }

  test("components: min-label propagation converges across chains and leaves islands apart") {
    val pairs = Seq(
      (10L, 20L), (20L, 30L), (30L, 40L), // a 4-doc chain
      (100L, 200L))                       // a separate pair
      .toDF("doc_a", "doc_b")
    val got = DedupOps.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      100L -> 100L, 200L -> 100L))
  }

  test("dedupeCorpus keeps one canonical per component plus every untouched doc") {
    val corpus = docs // ids 1-9
    val pairs = DedupOps.ngramJaccard(DedupOps.shingledOf(corpus))
    val kept = DedupOps.dedupeCorpus(corpus, pairs)
      .select("doc_id").as[Long].collect().toSet
    // docs 1-6 are one identical-text component (canonical 1), 7-8 another
    // (canonical 7), 9 is untouched
    assert(kept == Set(1L, 7L, 9L))
  }

  test("nearDupAgainst == posting-form minhash pairs restricted to cross-side, emitted exactly once") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val all = graft.sources.Tables.documents(spark, dir)
    val gate = DedupOps.nearDupAgainst(
        all.filter(col("doc_id") % 2 === 1), all.filter(col("doc_id") % 2 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // canonical-band emission: one row per pair even when several bands agree
    assert(gate.length == gate.map(t => (t._1, t._2)).distinct.length,
      "a pair was emitted from more than one band")
    // ground truth: the posting-form self-join pipeline's pairs, restricted
    // to odd-even, reoriented as (incoming, corpus); jaccards must be
    // bit-equal (same Shingles.jaccard over the same arrays)
    val exp = DedupOps.minhashNearDup(DedupOps.shingledOf(all))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 1) (a, b, j) else (b, a, j) }
      .toSet
    assert(gate.nonEmpty, "no cross-side near-dups at sf0.001 — vacuous")
    assert(gate.toSet == exp)
  }

  test("contamination counts exactly the corpus shingles present in the bench set") {
    // bench doc: shingles {a b c, b c d, c d e}; corpus doc 10 shares 2 of
    // its 3 shingles, doc 11 shares none, doc 12 shares all of its 1
    val bench = Seq((97L, "a b c d e")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "a b c d x"),   // shingles: {a b c, b c d, c d x} -> 2 hits
      (11L, "p q r s"),     // disjoint -> no row
      (12L, "b c d")        // single shingle, shared -> 1 hit
    ).toDF("doc_id", "text")
    val hits = DedupOps.contamination(
        DedupOps.shingledOf(corpus), DedupOps.shingledOf(bench))
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(10L -> 2L, 12L -> 1L),
      "only contaminated docs appear, with exact shared-shingle counts")
  }

  test("contamination broadcasts the bench shingle set — the corpus side never shuffles for the join") {
    val bench = Seq((97L, "a b c d e")).toDF("doc_id", "text")
    val corpus = Seq((10L, "a b c d x")).toDF("doc_id", "text")
    val plan = noAutoBroadcast {
      DedupOps.contamination(
          DedupOps.shingledOf(corpus), DedupOps.shingledOf(bench))
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan)
  }

  test("fuzzyNearDup: thresholded edit distance within blocks, length prune, no cartesian") {
    val d = Seq(
      (1L, "the quick brown fox jumps over it"), // prefix: "the quick brown fox jump"
      (2L, "the quack brown fox jumps over it"), // 1 substitution in-prefix: dist 1
      (3L, "the quack brewn fix jumps banana"), // 2 more edits: dist 3 from 1, 2 from 2
      (4L, "the quick brown wolf leaps around"), // > 2 edits from all: cut by threshold
      (5L, "xhe quick brown fox jumps over it"), // first-char edit: other block (recall trade)
      (6L, "zz totally unrelated text here now")
    ).toDF("doc_id", "text")
    val got = DedupOps.fuzzyNearDup(d, prefixLen = 24, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // verify against an independent quadratic-DP reference
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) => 0)
      for (i <- 0 to a.length) m(i)(0) = i
      for (j <- 0 to b.length) m(0)(j) = j
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val prefixes = d.collect().map(r => r.getLong(0) -> r.getString(1).take(24)).toMap
    val expected = (for {
      a <- prefixes.keys; b <- prefixes.keys
      if a < b
      // the same blocking the operator documents: first two chars equal
      if prefixes(a).take(2) == prefixes(b).take(2)
      dd = lev(prefixes(a), prefixes(b))
      if dd <= 2
    } yield (a, b, dd.toLong)).toSet
    assert(got == expected, s"got $got want $expected")
    // the fixture actually exercises the interesting cases: a nonzero
    // in-threshold distance found, an over-threshold pair cut
    assert(got.contains((1L, 2L, 1L)), got.toString)
    assert(got.contains((2L, 3L, 2L)), got.toString)
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L), "dist-3 pair leaked")
    assert(!got.exists(p => p._2 == 4L), "past-threshold pair leaked")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L),
      "a first-char edit lands in another block — the documented recall trade")
    // scale shape: the pair generator is an equi-join on the block key,
    // never a cartesian
    val plan = noAutoBroadcast {
      DedupOps.fuzzyNearDup(d).queryExecution.executedPlan.toString
    }
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    intercept[IllegalArgumentException] { DedupOps.fuzzyNearDup(d, prefixLen = 2) }
    intercept[IllegalArgumentException] { DedupOps.fuzzyNearDup(d, maxDist = -1) }
  }

  test("simhashNearDup refuses a hammingMax beyond the pigeonhole-exact bound") {
    // 32 bits / 8-bit bands -> banded join is exact only for hamming <= 3;
    // a larger bound would silently lose recall, so it must throw instead
    val e = intercept[IllegalArgumentException] {
      DedupOps.simhashNearDup(DedupOps.shingledOf(docs), hammingMax = 4)
    }
    assert(e.getMessage.contains("hammingMax"))
  }

  test("dupStats: component-size histogram counts cliques and chains, ignores singletons") {
    // {1,2,3} a triangle, {4,5} a pair, {6,7} a chain via 8: sizes 3,2,3
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (6L, 8L), (8L, 7L))
      .toDF("doc_a", "doc_b")
    val got = DedupOps.dupStats(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 2L, 2L -> 1L))
  }

  test("canonicalByQuality: best quality survives, ties to low id, singletons self-map") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, 0.2), (2L, 0.9),           // component {1,2}: 2 wins on quality
      (3L, 0.5),                      // singleton: maps to itself
      (4L, 0.9), (5L, 0.9)            // component {4,5}: tie -> low id 4
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = DedupOps.canonicalByQuality(d, pairs, col("q"))
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)]
      .collect().toSeq
    assert(out == Seq(
      (1L, 2L, false), (2L, 2L, true), (3L, 3L, true),
      (4L, 4L, true), (5L, 4L, false)))
  }

  test("spanDedup: cross-doc span cut, within-doc repeat cut, short docs untouched") {
    val d = Seq(
      // docs 1/2 share the 8-token run a..h at different offsets
      (1L, "a b c d e f g h x1 x2"),
      (2L, "z1 z2 a b c d e f g h"),
      // doc 3: no duplicated gram anywhere
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      // doc 4: the same 8-gram repeated within ONE doc — every window of 8
      // matches its +8 twin, so the whole doc is covered
      (4L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"),
      // doc 5: shorter than the gram width — no grams, passes through
      (5L, "s1 s2 s3")
    ).toDF("doc_id", "text")
    val got = DedupOps.spanDedup(d)
      .as[(Long, Int, Int, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 10, 8, 0.8, "x1 x2")))
    assert(got(2L) == ((2L, 10, 8, 0.8, "z1 z2")))
    assert(got(3L) == ((3L, 9, 0, 0.0, "u1 u2 u3 u4 u5 u6 u7 u8 u9")))
    assert(got(4L) == ((4L, 16, 16, 1.0, "")))
    assert(got(5L) == ((5L, 3, 0, 0.0, "s1 s2 s3")))
  }

  test("spanDedup: a heavily-covered LONG doc cleans in linear time, order preserved") {
    // 40k tokens of one repeated 8-gram: fully covered. The old
    // filter/array_contains lambda was O(len x |cov|) = 1.6e9 comparisons
    // on this row alone; the array_except rewrite is O(len). The test is
    // a correctness pin (the timing curve lives in SCALING.md) but it
    // would also time out spectacularly under a quadratic regression.
    val longDup = Seq.fill(5000)("p1 p2 p3 p4 p5 p6 p7 p8").mkString(" ")
    // unique head + 2k-repeat middle + unique tail: the kept tokens must
    // come back in document order, exactly head ++ tail
    val head = (1 to 12).map(i => s"h$i").mkString(" ")
    val tail = (1 to 12).map(i => s"t$i").mkString(" ")
    val mixed = head + " " +
      Seq.fill(2000)("m1 m2 m3 m4 m5 m6 m7 m8").mkString(" ") + " " + tail
    val d = Seq((1L, longDup), (2L, mixed)).toDF("doc_id", "text")
    val got = DedupOps.spanDedup(d)
      .as[(Long, Int, Int, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 40000, 40000, 1.0, "")))
    assert(got(2L)._2 == 16024 && got(2L)._3 == 16000,
      s"only the repeated middle is covered: ${got(2L)}")
    assert(got(2L)._5 == s"$head $tail",
      "kept tokens must preserve document order across the cut")
  }

  test("spanDedup plans equi-joins only — no cartesian, no nested-loop") {
    val d = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val plan = DedupOps.spanDedup(d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sourceOverlap: distinct shared shingles per unordered source pair") {
    val d = Seq(
      (1L, "w1 w2 w3 w4", "srcA"),   // shingles: [w1 w2 w3], [w2 w3 w4]
      (2L, "w1 w2 w3 zz", "srcB"),   // shares [w1 w2 w3] with srcA
      (3L, "w1 w2 w3 yy", "srcA"),   // same shingle AGAIN in srcA: set, not bag
      (4L, "q1 q2 q3", "srcC")       // no overlap with anyone
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.sourceOverlap(d)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("srcA", "srcB", 1L)))
  }

  test("sourceOverlap: a shingle in k sources feeds every one of its C(k,2) pairs") {
    val d = Seq(
      (1L, "c1 c2 c3", "s1"), (2L, "c1 c2 c3", "s3"), (3L, "c1 c2 c3", "s2"),
      (4L, "c1 c2 c3 d4", "s1") // extra shingle [c2 c3 d4] only in s1
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.sourceOverlap(d)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("s1", "s2", 1L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("dupRateBySource: within once, cross once per side, exact rates, zero rows kept") {
    val docs = Seq(
      (1L, "sA"), (2L, "sA"), (3L, "sA"), (4L, "sA"), // sA: 4 docs
      (5L, "sB"), (6L, "sB"),                         // sB: 2 docs
      (7L, "sC"))                                     // sC: clean source
      .toDF("doc_id", "source")
    // pairs: (1,2) within sA; (3,5) cross sA-sB; doc 4, 6, 7 untouched
    val pairs = Seq((1L, 2L), (3L, 5L)).toDF("doc_a", "doc_b")
    val got = DedupOps.dupRateBySource(docs, pairs)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("sA") == (("sA", 4L, 3L, 1L, 1L, 0.75)), got("sA").toString)
    assert(got("sB") == (("sB", 2L, 1L, 0L, 1L, 0.5)))
    assert(got("sC") == (("sC", 1L, 0L, 0L, 0L, 0.0)),
      "a clean source must still report a zero row")
  }

  test("dupRateBySource: a doc in many pairs counts once toward dup_rate") {
    val docs = Seq((1L, "s"), (2L, "s"), (3L, "s"), (4L, "s"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = DedupOps.dupRateBySource(docs, pairs)
      .as[(String, Long, Long, Long, Long, Double)].collect().head
    assert(got == (("s", 4L, 3L, 3L, 0L, 0.75)), got.toString)
  }

  test("splitLeakageReport: hand-computed shares, distinct docs count once, broadcast totals") {
    import org.apache.spark.sql.functions.col
    // resolve each id's split with the library's own splitter so the
    // fixture can be built cross-split BY CONSTRUCTION
    val splits = (1L to 80L).toDF("doc_id")
      .select(col("doc_id"), TextOps.splitColumn(col("doc_id")).as("s"))
      .as[(Long, String)].collect().toMap
    val train = (1L to 80L).filter(splits(_) == "train")
    val other = (1L to 80L).filter(splits(_) != "train")
    // corpus: 6 train docs + 3 non-train docs
    val ids = train.take(6) ++ other.take(3)
    val docs = ids.toDF("doc_id")
    // one train doc (t0) near-dups TWO held-out docs; a second pair
    // reuses t0 — distinct-doc counts must count t0 ONCE per side pair
    val t0 = train.head
    val (h0, h1) = (other.head, other(1))
    val pairs = Seq((t0, h0, 0.9), (t0, h1, 0.8))
      .toDF("doc_a", "doc_b", "jaccard")
      .withColumn("split_a", TextOps.splitColumn(col("doc_a")))
      .withColumn("split_b", TextOps.splitColumn(col("doc_b")))
    val report = DedupOps.splitLeakageReport(docs, pairs)
    val rows = report
      .as[(String, String, Long, Long, Long, Long, Long, Double, Double)]
      .collect()
    // h0 and h1 may sit in different non-train splits: group by split_b
    val bySplitB = rows.map(r => r._2 -> r).toMap
    val totals = ids.groupBy(splits).view.mapValues(_.size.toLong).toMap
    var pairsSeen = 0L
    for ((sb, (sa, _, np, na, nb, ta, tb, sha, shb)) <- bySplitB) {
      assert(sa == "train")
      pairsSeen += np
      assert(na == 1L, s"t0 must count once on the a side: $rows")
      // the denominators publish beside the shares (the purge
      // re-derivation's staleness evidence)
      assert(ta == totals("train") && tb == totals(sb), rows.mkString("|"))
      assert(math.abs(sha - 1.0 / totals("train")) < 1e-12)
      assert(math.abs(shb - nb.toDouble / totals(sb)) < 1e-12)
    }
    assert(pairsSeen == 2L, rows.mkString("|"))
    // plan: the 3-row totals broadcast onto the report — the pair set
    // never sort-merge-joins the corpus
    val plan = report.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 2, plan)
  }

  test("splitLeakageReport denominators follow a PUBLISHED split column over recomputation") {
    import org.apache.spark.sql.functions.col
    // a corpus published under custom cuts carries its own split labels;
    // the report's denominators must describe THOSE, not a default-cut
    // recomputation that would disagree with the corpus (the r13
    // advisory's desync scenario). Here every doc is labeled train
    // regardless of what the default cuts would say.
    // a 5/5 train/val labeling no default cut produces over 1..10 (the
    // default assigns ~80% train), so matching 5 proves the published
    // column won
    val docs = (1L to 10L)
      .map(i => (i, if (i <= 5) "train" else "val")).toDF("doc_id", "split")
    val pairs = Seq((1L, 6L, 0.9)).toDF("doc_a", "doc_b", "jaccard")
      .withColumn("split_a", org.apache.spark.sql.functions.lit("train"))
      .withColumn("split_b", org.apache.spark.sql.functions.lit("val"))
    val row = DedupOps.splitLeakageReport(docs, pairs)
      .select(col("n_total_a"), col("n_total_b")).as[(Long, Long)].collect()
    assert(row.toSeq == Seq((5L, 5L)),
      s"published split labels are the denominator authority: ${row.toSeq}")
  }
}
