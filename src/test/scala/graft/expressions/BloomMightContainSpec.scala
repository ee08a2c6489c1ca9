package graft.expressions

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec
import graft.queries.DedupOps

/** The native Bloom-probe expression and the bloom-prefiltered
  * decontamination built on it: no false negatives ever, exactness of the
  * prefilter + verify composition at ANY fpp, and the plan shape that is
  * the operator's whole point — the probe filter below the shuffle. */
class BloomMightContainSpec extends SparkSpec {
  import spark.implicits._

  private def bloomOf(items: Seq[Long], n: Long = 100, fpp: Double = 0.01): Array[Byte] = {
    val bf = BloomFilter.create(n, fpp)
    items.foreach(bf.putLong)
    BloomMightContain.serialize(bf)
  }

  test("no false negatives; null hash yields null") {
    val bytes = bloomOf(Seq(1L, 2L, 3L))
    val got = Seq(Some(1L), Some(2L), Some(3L), None)
      .toDF("h")
      .select(BloomMightContain.might(col("h"), bytes).as("m"))
      .as[Option[Boolean]].collect().toSeq
    assert(got.take(3) == Seq(Some(true), Some(true), Some(true)),
      "a bloom filter can never miss an inserted key")
    assert(got(3).isEmpty, "null in, null out")
  }

  test("interpreted path (direct eval, no codegen) agrees") {
    val bytes = bloomOf(Seq(42L))
    import org.apache.spark.sql.catalyst.expressions.Literal
    val expr = BloomMightContain(Literal(42L), Literal(bytes))
    assert(expr.eval(null) == true)
    val exprNull = BloomMightContain(
      Literal.create(null, org.apache.spark.sql.types.LongType), Literal(bytes))
    assert(exprNull.eval(null) == null)
  }

  test("a NULL bloom literal fails type-check on BOTH paths, never null-propagates") {
    // Without the check, the interpreted path silently returns null per
    // row while codegen throws at planning — the paths must agree, and
    // they agree by rejecting at analysis (Spark's own
    // BloomFilterMightContain rule).
    val e = intercept[Exception] {
      Seq(1L).toDF("h")
        .select(call_function("graft_might_contain", col("h"),
          lit(null).cast("binary")).as("m"))
        .collect()
    }
    assert(e.getMessage.contains("non-null bloom literal"), e.getMessage)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val check = BloomMightContain(Literal(1L),
      Literal.create(null, BinaryType)).checkInputDataTypes()
    assert(check.isFailure, "direct expression construction must fail too")
  }

  test("registered for SQL via GraftExtensions") {
    val bytes = bloomOf(Seq(7L))
    Seq(7L, 1234567L).toDF("h")
      .createOrReplaceTempView("bloom_probe_fixture")
    val rows = spark.sql(
      "SELECT graft_might_contain(h, " +
        s"X'${bytes.map("%02X".format(_)).mkString}') AS m " +
        "FROM bloom_probe_fixture ORDER BY h")
      .as[Boolean].collect().toSeq
    assert(rows.head, "inserted key must hit")
    // the non-inserted key is OVERWHELMINGLY a miss at this fpp, but a hit
    // would not be a bug — only the inserted key's presence is a contract
  }

  test("contaminationBloom == contamination exactly, both join modes") {
    val sh = DedupOps.shingledOf(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val corpus = sh.filter(col("doc_id") % 101 =!= 0)
    val bench = sh.filter(col("doc_id") % 101 === 0)
    val exact = DedupOps.contamination(corpus, bench)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "fixture must actually overlap")
    for (bcast <- Seq(true, false)) {
      val got = DedupOps.contaminationBloom(corpus, bench, broadcastBench = bcast)
        .as[(Long, Long)].collect().toMap
      assert(got == exact, s"broadcastBench=$bcast must be hash-identical")
    }
  }

  test("exact even under a saturated bloom (undersized, high fpp)") {
    // an undersized filter fires false positives on purpose; the verify
    // join must remove every one of them
    val sh = DedupOps.shingledOf(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val corpus = sh.filter(col("doc_id") % 101 =!= 0)
    val bench = sh.filter(col("doc_id") % 101 === 0)
    val exact = DedupOps.contamination(corpus, bench)
      .as[(Long, Long)].collect().toMap
    val got = DedupOps.contaminationBloom(corpus, bench,
        fpp = 0.4, expectedItems = Some(8L))
      .as[(Long, Long)].collect().toMap
    assert(got == exact, "false positives must never survive the verify join")
  }

  test("plan: the bloom probe filters BELOW the verify join's shuffle") {
    noAutoBroadcast {
      val sh = DedupOps.shingledOf(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      val plan = DedupOps.contaminationBloom(
        sh.filter(col("doc_id") % 101 =!= 0),
        sh.filter(col("doc_id") % 101 === 0))
        .queryExecution.executedPlan.toString
      assert(plan.contains("graft_might_contain"),
        s"the probe filter must survive optimization:\n$plan")
      val exchangeOnG = "Exchange hashpartitioning\\(g".r
      assert(exchangeOnG.findAllIn(plan).nonEmpty,
        s"non-broadcast mode must shuffle the join keys:\n$plan")
      // tree rendering prints parents before children: the probe filter
      // below an exchange prints AFTER it; a filter wrongly hoisted above
      // the join would print before both join-key exchanges
      assert(plan.indexOf("graft_might_contain") >
        exchangeOnG.findFirstMatchIn(plan).get.start,
        s"the bloom probe must filter BELOW the join's shuffle:\n$plan")
    }
  }
}
