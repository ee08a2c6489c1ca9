package graft.queries

import graft.SparkSpec

/** components() at the shapes that maximize round count: a 32-hop chain and
  * a 64-leaf star (16x the unit-spec graphs). Pins the cost model the
  * scaladoc promises — rounds = diameter (first hop fused into the init),
  * ONE action per round (the Observation-carrying materialization; the old
  * shape ran a second join + isEmpty probe per round), and per-round
  * release of the previous round's checkpoint blocks. */
class DedupVolumeSpec extends SparkSpec {
  import spark.implicits._

  test("chain at 16x: labels converge to the min endpoint in diameter rounds") {
    val n = 32 // nodes 0..32, diameter 32
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, rounds) = DedupOps.componentsWithRounds(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n + 1)
    assert(got.values.forall(_ == 0L), "every chained doc joins component 0")
    // the first hop is fused into the init, the last round is the detect
    assert(rounds == n, s"expected $n rounds (diameter, hop 1 in init), got $rounds")
    // each round must RELEASE the previous round's checkpoint blocks
    // (Dataset.unpersist can't — the blocks belong to the underlying RDD):
    // after 32 rounds, at most the final checkpoint + unpersist-in-flight
    // stragglers may remain, never one entry per round
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 3, s"rounds leaked ${leaked.size} persisted RDDs")
  }

  test("star at 16x: rounds follow diameter (2 when the min label sits on a leaf), not size") {
    // center 100, leaves 1..64: min label 1 must cross the center — diameter 2
    val pairs = (1L to 64L).map(l => (100L, l)).toDF("doc_a", "doc_b")
    val (labels, rounds) = DedupOps.componentsWithRounds(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 65)
    assert(got.values.forall(_ == 1L))
    assert(rounds == 2, s"star must converge by diameter (init hop + 1) + detect, got $rounds")
  }

  test("one action per round: only the fused materialize+converge count runs (no isEmpty probe)") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            "cc-probe" == js.properties.getProperty("spark.jobGroup.id"))
          seen.add(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("cc-probe", "components action probe", false)
    try {
      val pairs = (0 until 8).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
      DedupOps.components(pairs).collect()
      Thread.sleep(500) // listener bus is async
      // every job must be the per-round count, the final checkpoint, or the
      // spec's own collect; an `isEmpty at`/extra `count at` elsewhere means
      // the second-probe-per-round shape is back
      val actions = seen.asScala.map(_.takeWhile(_ != ':')).toSet
      // withThreadLocalCaptured: AQE's async broadcast-exchange stage — a
      // subjob of the round's single action, not a driver-side probe
      val allowed = Set("localCheckpoint at DedupOps.scala",
        "collect at DedupVolumeSpec.scala",
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java")
      assert(actions.subsetOf(allowed), s"unexpected actions: ${actions -- allowed}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
