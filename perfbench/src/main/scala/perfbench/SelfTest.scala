package perfbench

/** The benchmark's own tests: every generator is deterministic per seed,
  * and every check passes on the true output and rejects a corrupted one.
  * Needs no Spark session. Exits non-zero on the first failed test.
  *
  * usage: perfbench.SelfTest (tests/test_perfbench.py runs it) */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    import NbaWorkload.LineupRow
    val scope = NbaWorkload.Season
    def league(seed: Long) = League.scopeGames(scope, 6, 60, seed, Set(2), 0.5)

    test("league generator is deterministic per seed") {
      league(7) == league(7) && league(7) != league(8)
    }
    val games = league(7)
    val rows = games.filterNot(_.bad).flatMap(g => g.events.map(e =>
      LineupRow(s"${g.id}-${e.num}", g.id, e.num, g.away, g.home, e.msgType, e.lineup1, e.lineup2)))
    val starters = games.flatMap(g => g.starters.toSeq.flatMap { case ((p, t), ps) =>
      ps.map(pl => (g.id, p, t, pl)) })
    val errors = games.filter(_.bad).map(_.id)
    test("nba check passes on the ground truth") {
      NbaWorkload.check(rows, starters, errors, games).isEmpty
    }
    test("nba check rejects one flipped lineup player") {
      val r = rows(rows.size / 2)
      val flipped = r.copy(players1 = (r.players1.tail :+ 299999L).sorted)
      NbaWorkload.check(rows.updated(rows.size / 2, flipped), starters, errors, games).nonEmpty
    }
    test("nba check rejects a wrong starter and a missing quarantine row") {
      NbaWorkload.check(rows, starters.tail, errors, games).nonEmpty &&
        NbaWorkload.check(rows, starters, Nil, games).nonEmpty
    }
    test("every league game has ten starters per period and lineups of five") {
      games.forall(g => (1 to 4).forall(p => g.starters.filter(_._1._1 == p).values.map(_.size).sum == 10) &&
        g.events.forall(e => e.lineup1.size == 5 && e.lineup2.size == 5))
    }

    val size = CorpusWorkload.Size(fresh = 60, exactGroups = 4, nearPairs = 4, contaminated = 3,
      batches = 2, batchFresh = 20, erase = 4)
    import CorpusWorkload.{Batch, Corpus}
    test("corpus and batch generators are deterministic per seed") {
      Corpus.generate(3, size) == Corpus.generate(3, size) &&
        Corpus.generate(3, size) != Corpus.generate(4, size) &&
        Batch.generate(3, Corpus.generate(3, size), size) == Batch.generate(3, Corpus.generate(3, size), size)
    }
    val c = Corpus.generate(3, size)
    val keep = c.docs.map(_.id).filterNot(id => c.contaminated(id) || c.groups.exists(g => g.tail.contains(id))).toSet
    val pairs = c.groups.flatMap(g => g.combinations(2).map(p => (p(0), p(1))))
    val benchSh = c.bench.flatMap(d => CorpusWorkload.shingles(d.text)).toSet
    val hits = c.docs.map(d => d.id -> (CorpusWorkload.shingles(d.text) intersect benchSh).size.toLong)
      .filter(_._2 > 0).toMap
    test("publish check passes on the expected corpus") {
      CorpusWorkload.checkPublish(c, keep, pairs, hits).isEmpty
    }
    test("publish check rejects one surviving planted dup") {
      CorpusWorkload.checkPublish(c, keep + c.groups.head.last, pairs, hits).nonEmpty
    }
    test("publish check rejects a pair that does not verify by exact Jaccard") {
      val a = c.docs.map(_.id).filter(keep).sorted
      CorpusWorkload.checkPublish(c, keep, pairs :+ (a(0), a(1)), hits).nonEmpty
    }
    test("publish check rejects a published contaminated doc") {
      CorpusWorkload.checkPublish(c, keep + c.contaminated.head, pairs, hits).nonEmpty
    }
    val b = Batch.generate(3, c, size).head
    val admitted = b.fresh ++ b.twins.map(_._1)
    test("gate check passes on the expected batch and rejects an admitted corpus near-dup") {
      CorpusWorkload.checkBatch(b, admitted).isEmpty &&
        CorpusWorkload.checkBatch(b, admitted + b.ofCorpus.head).nonEmpty &&
        CorpusWorkload.checkBatch(b, admitted ++ b.twins.map(_._2)).nonEmpty
    }
    val before = c.docs.map(d => d.id -> d.text).toMap
    val erase = before.keySet.take(3)
    test("purge check passes on a clean erasure and rejects a left-over id") {
      CorpusWorkload.checkPurge(erase, before, before -- erase, Map("t" -> (before.keySet -- erase))).isEmpty &&
        CorpusWorkload.checkPurge(erase, before, before -- erase, Map("t" -> before.keySet)).nonEmpty &&
        CorpusWorkload.checkPurge(erase, before, before -- erase - before.keys.last, Map.empty).nonEmpty
    }
    test("exact Jaccard of a planted near-dup pair is at least 0.95") {
      c.groups.forall(g => CorpusWorkload.jaccard(c.byId(g(0)).text, c.byId(g(1)).text) >= 0.95)
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
