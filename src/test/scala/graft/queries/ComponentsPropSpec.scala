package graft.queries

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** [[DedupOps.components]] against an independent driver-side
  * union-find model: on ScalaCheck-generated random graphs (fixed seed —
  * reproducible), and on fixed shapes — a clique, a 64-chain deeper than
  * any workload's graph, a braid with the global minimum on a tail, and a
  * pair-free input. Random graphs are small (Spark jobs run per case) but
  * the property is shape-complete.
  */
class ComponentsPropSpec extends SparkSpec {
  import spark.implicits._
  import ComponentsPropSpec.unionFind

  /** A random graph: n nodes (ids offset to catch 0-based assumptions),
    * m edges sampled with replacement (duplicates + both orders allowed —
    * the operators promise duplicate-insensitivity). */
  private case class G(n: Int, edges: List[(Long, Long)])

  private val graphGen: Gen[G] = for {
    n <- Gen.choose(2, 14)
    m <- Gen.choose(1, 24)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1)
      b <- Gen.choose(0, n - 1)
      if a != b
    } yield (a.toLong + 5, b.toLong + 5))
    if edges.nonEmpty
  } yield G(n, edges)

  private val graphs =
    Gen.listOfN(10, graphGen).pureApply(Gen.Parameters.default, Seed(11L))

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  test("components == union-find on random graphs") {
    graphs.foreach { g =>
      val pairs = g.edges.toDF("doc_a", "doc_b")
      assert(labelsOf(DedupOps.components(pairs)) == unionFind(g.edges),
        s"label-prop diverged on ${g.edges}")
    }
  }

  test("clique, 64-chain, braid and pair-free input match union-find") {
    val clique = for (a <- 0L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val chain = (0 until 64).map(i => (i.toLong, (i + 1).toLong))
    // two chains cross-linked, with the global min entering from one end
    val braid = (0 until 32).map(i => (i * 2L + 2, i * 2L + 4)) ++
      (0 until 32).map(i => (i * 2L + 3, i * 2L + 5)) ++
      Seq((0L, 66L), (66L, 67L), (2L, 3L))
    // rounds = diameter, the first hop fused into the init and the last
    // round the detect: the clique converges in the init, and the
    // 64-chain runs all 64 rounds with no budget to stop it
    for ((edges, name, rounds) <- Seq((clique, "clique", Some(1)),
        (chain, "64-chain", Some(64)), (braid, "braid", None))) {
      val (labels, ran) = DedupOps.componentsWithRounds(edges.toDF("doc_a", "doc_b"))
      assert(labelsOf(labels) == unionFind(edges), s"$name: labels diverged")
      rounds.foreach(r => assert(ran == r, s"$name: $ran rounds, expected $r"))
    }
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (labels, ran) = DedupOps.componentsWithRounds(none)
    assert(labels.isEmpty && ran == 1, s"pair-free input: $ran rounds")
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(DedupOps.dedupeCorpus(docs, none).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L))
  }
}

object ComponentsPropSpec {

  /** Driver-side union-find: the independent oracle. Every node of
    * `edges` mapped to the minimum node of its component. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // root of each set is its minimum by construction (union by min)
    nodes.map(x => x -> find(x)).toMap
  }
}
