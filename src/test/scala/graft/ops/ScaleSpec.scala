package graft.ops

import graft.SparkSpec
import graft.sources.Warehouse

/** Scale tooling: bucketing removes the join exchange. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no exchange (co-located join)") {
    val a = (1L to 1000L).map(k => (k, k * 2)).toDF("k", "va")
    val b = (1L to 1000L).map(k => (k, k * 3)).toDF("k", "vb")
    Warehouse.writeBucketed(a, "bucket_a", "k", numBuckets = 8)
    Warehouse.writeBucketed(b, "bucket_b", "k", numBuckets = 8)
    val joined = spark.table("bucket_a").join(spark.table("bucket_b"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() == 1000)
    spark.sql("DROP TABLE bucket_a")
    spark.sql("DROP TABLE bucket_b")
  }
}
