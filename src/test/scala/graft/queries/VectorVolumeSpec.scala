package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.VectorSim

/** The vector near-dup pair (exact triangle kernel vs hyperplane LSH) at
  * 16x the sf0.01 volume (8,000 vectors, 32M candidate pairs for the
  * exact kernel): the properties that must hold as N grows —
  *   - precision is exact on BOTH paths (every pair clears the threshold);
  *   - LSH output is a SUBSET of the exact output (it can only miss,
  *     never invent);
  *   - recall stays above a floor (identical-vector pairs always agree on
  *     every band, so the replicated corpus puts a hard lower bound on
  *     what banding must find).
  */
class VectorVolumeSpec extends SparkSpec {

  private val Threshold = 0.4
  private val Replicas = 16

  private lazy val vecs16x = {
    val base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val rep = (0 until Replicas).map { r =>
      base.select((col("vec_id") + lit(r * 10000L)).as("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
    rep.select(col("vec_id"), VectorSim.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", VectorSim.norm(col("e")))
  }

  test("at 16x volume: LSH pairs are a subset of exact pairs with bounded recall loss") {
    val t0 = System.nanoTime()
    val exact = VectorOps.exactNearDup(vecs16x, Threshold, nBlocks = 8)(spark)
      .select("vec_a", "vec_b").persist()
    val nExact = exact.count()
    val tExact = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val lsh = VectorOps.lshNearDup(vecs16x, Threshold)
      .select("vec_a", "vec_b").persist()
    val nLsh = lsh.count()
    val tLsh = (System.nanoTime() - t1) / 1e9
    info(f"exact: $nExact pairs in $tExact%.1fs; lsh: $nLsh pairs in $tLsh%.1fs")

    // the replicated corpus has many pairs: the volume is real
    assert(nExact > 50000L, s"expected a large exact pair set, got $nExact")
    // subset: LSH never invents a pair the exact kernel doesn't have
    assert(lsh.exceptAll(exact).count() == 0, "LSH must be a subset of exact")
    // recall floor: identical-replica pairs (cos = 1.0) agree on every
    // band, so banding must recover a large fraction of this corpus
    val recall = nLsh.toDouble / nExact
    assert(recall >= 0.5, f"recall $recall%.2f below floor")
    exact.unpersist(); lsh.unpersist()
    ()
  }

  test("precision is exact on both paths: every emitted pair clears the threshold") {
    val bad = VectorOps.lshNearDup(vecs16x, Threshold)
      .filter(col("cos") < Threshold).count()
    assert(bad == 0)
  }
}
