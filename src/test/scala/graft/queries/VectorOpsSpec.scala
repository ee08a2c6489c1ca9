package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.VectorSim
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** q34's distributed all-pairs kernel: exactness vs the declarative HOF
  * form, and the no-driver-collect property (the round-2 scale-killer was a
  * full-table `collect()` at plan-construction time).
  */
class VectorOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q34: block-partitioned all-pairs == declarative cross-join, bit-exact") {
    val got = SparkEntry.queries("q34_cosine_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val n = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorSim.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", VectorSim.norm(col("e")))
    val exp = n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorSim.cosinePre(VectorSim.dotHof(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty, "threshold yields no pairs — test is vacuous")
    assert(got == exp)
  }

  test("exactNearDupInLshBuckets == lshNearDup, and == the global kernel on recall-complete data") {
    import spark.implicits._
    // 4 orthogonal clusters x 6 scaled copies of one direction: parallel
    // vectors have cosine exactly 1.0 and IDENTICAL hyperplane signs
    // (scaling never flips a dot's sign), so every true pair shares all
    // bands — the bucketing is recall-complete and the three paths must
    // agree exactly; cross-cluster cosines are exactly 0.0 (orthogonal)
    val rows = for (c <- 0 until 4; k <- 1 to 6) yield {
      val e = Array.fill(64)(0.0); e(c * 7) = k.toDouble
      (c * 10L + k, e.toSeq)
    }
    val n = rows.toDF("vec_id", "e")
      .withColumn("nrm", VectorSim.norm(col("e")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = pairs(VectorOps.exactNearDupInLshBuckets(n, 0.4))
    val banded = pairs(VectorOps.lshNearDup(n, 0.4))
    val global = pairs(VectorOps.exactNearDup(n, 0.4, 4))
    assert(bucketed.size == 4 * 15, "C(6,2) pairs per cluster")
    assert(bucketed == banded, "same candidate universe, same verification")
    assert(bucketed == global, "recall-complete buckets must reproduce the global kernel")
  }

  test("q109: the timed plan never materializes the exact all-pairs join") {
    // the 100x-scale point of the query: its pair producer is the banded
    // equi-join — candidates only, no cartesian/block-nested-loop kernel
    // anywhere in the plan (q53's exact producer is the stand-in this
    // entry exists to NOT time)
    val pairs = VectorOps.lshNearDup(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), VectorSim.toDouble(col("embedding")).as("e"))
        .withColumn("nrm", VectorSim.norm(col("e"))), 0.4)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan)
    // and the full q109 components agree with a driver-side union-find
    // over the same pair set (composition smoke on real data)
    val got = SparkEntry.queries("q109_embed_dedup_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = pairs.select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val exp = ComponentsPropSpec.unionFind(edges.toSeq).toSet
    assert(got.nonEmpty && got == exp)
  }

  test("q34: building the plan collects no data to the driver") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            "q34-construct" == js.properties.getProperty("spark.jobGroup.id"))
          // the result stage's name is the job's call site, e.g.
          // "parquet at Tables.scala:17" or "collect at VectorOps.scala:61"
          seen.add(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("q34-construct", "q34 plan construction probe", false)
    try {
      val df = SparkEntry.queries("q34_cosine_neardup")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("MapGroups"), p)
      // the listener bus is async — give it a beat before reading
      Thread.sleep(500)
      // the 1-task `parquet at ...` footer schema-inference job is benign
      // and fires for ANY reader; anything else (collect/count/take) means
      // a driver-side materialization is back in the construction path
      val dataJobs = seen.asScala.filterNot(_.startsWith("parquet at"))
      assert(dataJobs.isEmpty,
        s"constructing q34 ran data jobs on the driver: $dataJobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("kmeans: fixed-point accumulation is partition-invariant, assignment argmax is q36's") {
    val n = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorSim.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", VectorSim.norm(col("e")))
    def cells(df: org.apache.spark.sql.DataFrame) =
      VectorOps.kmeansCells(df, 4, 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
        .toMap
    val base = cells(n)
    assert(base.nonEmpty && base.keySet.map(_._1).size > 1,
      "one cluster swallowed everything — the invariance check would be weak")
    // the whole point of quantized updates: ANY repartitioning (different
    // partial-sum groupings, different task order) must yield bit-identical
    // centroids; a plain double sum fails this on real data
    assert(cells(n.repartition(7)) == base)
    assert(cells(n.repartition(1)) == base)
    // every surviving cluster carries all 64 dims, sizes sum to the corpus
    val byCluster = base.keySet.groupBy(_._1)
    byCluster.foreach { case (c, ks) => assert(ks.size == 64, s"cluster $c dims") }
    val sizes = base.collect { case ((_, 0), (_, sz)) => sz }.sum
    assert(sizes == n.filter(col("nrm") > 0).count(),
      "cluster sizes must partition the corpus")
    // centroid rows fold back consistently: same clusters, 64-dim arrays
    val cent = VectorOps.kmeansCentroids(n, 4, 2).collect()
    assert(cent.map(_.getLong(0)).toSet == byCluster.keySet)
    assert(cent.forall(_.getSeq[Double](1).length == 64))
  }

  test("semanticDedup: in-cell near-dups drop against lower ids, cross-cell ones keep") {
    import spark.implicits._
    // ids < 8 are the static centroids: 0 = x-axis, 1 = y-axis.
    // 10, 11 land in cell 0 within eps of it -> both drop against 0;
    // 12 lands in cell 1 within eps of 1 -> drops; 13 assigns to cell 1
    // but cos(1, 13) = 0.4/|13| < 0.4 -> survives; 14 is zero-norm ->
    // excluded from the operator's universe entirely.
    val n = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0),
      10L -> Array(1.0, 0.01), 11L -> Array(1.0, 0.02),
      12L -> Array(0.01, 1.0), 13L -> Array(-1.0, 0.4),
      14L -> Array(0.0, 0.0))
      .toDF("vec_id", "e")
      .withColumn("nrm", VectorSim.norm(col("e")))
    val out = VectorOps.semanticDedup(n)(spark)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 13L -> 1L))
  }

  test("clusterPurity: hand fixture — majority, stated tie rule, exact shares") {
    import spark.implicits._
    // two obvious clusters on the axes; labels chosen so cluster x has a
    // 2-2 TIE (must break to the smaller label) and cluster y a majority
    val n = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0),  // seeds (vec_id < k)
      2L -> Array(1.0, 0.1), 3L -> Array(1.0, -0.1), 4L -> Array(0.9, 0.05),
      5L -> Array(0.1, 1.0), 6L -> Array(-0.05, 1.0))
      .toDF("vec_id", "e")
      .withColumn("nrm", VectorSim.norm(col("e")))
    val labels = Seq(
      (0L, 7), (2L, 7), (3L, 5), (4L, 5),  // cluster 0: 7,7,5,5 -> tie -> 5
      (1L, 9), (5L, 9), (6L, 2))           // cluster 1: 9,9,2 -> 9
      .toDF("vec_id", "label")
    val got = VectorOps.clusterPurity(n, labels, k = 2, iters = 2)
      .as[(Long, Long, Int, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 4L, 5, 2L, 0.5)), s"tie must break low: ${got(0L)}")
    assert(got(1L) == ((1L, 3L, 9, 2L, 2.0 / 3.0)), got(1L).toString)
  }

  test("clusterPurity on real embeddings: partition of the nonzero universe") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.select(col("vec_id"),
        VectorSim.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", VectorSim.norm(col("e")))
    val got = VectorOps.clusterPurity(n,
      emb.select(col("vec_id"), col("label")), k = 4, iters = 2)
      .as[(Long, Long, Int, Long, Double)].collect()
    val universe = n.filter(col("nrm") > 0).count()
    assert(got.map(_._2).sum == universe,
      "every nonzero-norm vector lands in exactly one cluster's count")
    assert(got.forall(r => r._4 <= r._2 && r._5 > 0.0 && r._5 <= 1.0))
  }
}
