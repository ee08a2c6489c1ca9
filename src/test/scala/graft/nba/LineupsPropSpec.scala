package graft.nba

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{PbpEvent, Stint}

/** SURVEY §5(3): property-based coverage of the lineup state machine on
  * ScalaCheck-generated substitution walks (fixed seed — reproducible).
  * Exercises Lineups.processGame directly: no Spark jobs, hundreds of games.
  *
  * Properties (reference etl/play_by_play_with_players.py:88-98,146-149):
  *   - every emitted event carries exactly 5 sorted players per team;
  *   - the last emitted lineup equals an independently tracked set model;
  *   - substituting a player who is not on court throws.
  */
class LineupsPropSpec extends AnyFunSuite {

  private val G = "0022400001"
  private val T1 = 100L
  private val T2 = 200L

  private def roster(team: Long, base: Long): Array[GameSide] =
    (0L until 8L).map { i =>
      val stints = if (i < 5) Seq(Stint(0.0, 28800.0)) else Seq(Stint(7200.0, 28800.0))
      GameSide(G, 0, team, base + i, -1, stints, null)
    }.toArray

  private val side = roster(T1, 101L) ++ roster(T2, 201L) ++ Array(
    GameSide(G, 2, T1, 0L, -1, null, "CHA vs. CLE"),
    GameSide(G, 2, T2, 0L, -1, null, "CLE @ CHA"))

  /** One generated game: a walk of `n` valid substitutions. Returns the
    * events and the model's expected final (team1, team2) sets. */
  private case class Walk(events: Vector[PbpEvent], cur1: Set[Long], cur2: Set[Long])

  private val walkGen: Gen[Walk] = {
    def step(w: Walk, k: Int, picks: (Int, Int, Int)): Walk = {
      val (teamPick, outPick, inPick) = picks
      val team = if (teamPick == 0) T1 else T2
      val cur = if (team == T1) w.cur1 else w.cur2
      val bench = (if (team == T1) (101L until 109L) else (201L until 209L)).toSet -- cur
      val out = cur.toSeq.sorted.apply(outPick % cur.size)
      val in = bench.toSeq.sorted.apply(inPick % bench.size)
      val e = PbpEvent(G, k.toLong, 8, 0, 1, "6:00", 10 + k,
        Some(out), Some(team), Some(in), Some(team))
      val (n1, n2) =
        if (team == T1) (w.cur1 - out + in, w.cur2) else (w.cur1, w.cur2 - out + in)
      Walk(w.events :+ e, n1, n2)
    }
    for {
      n <- Gen.choose(1, 40)
      picks <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 1), Gen.choose(0, 4), Gen.choose(0, 2)))
    } yield picks.zipWithIndex.foldLeft(
      Walk(Vector.empty, (101L to 105L).toSet, (201L to 205L).toSet)) {
      case (w, (p, i)) => step(w, i + 1, p)
    }
  }

  private val walks: List[Walk] =
    Gen.listOfN(150, walkGen).pureApply(Gen.Parameters.default, Seed(7L))

  test("every emitted event has 5 sorted players per team and the final lineup matches the model") {
    walks.foreach { w =>
      val rows = Lineups.processGame(G, w.events.toArray, side)
      assert(rows.size == w.events.size)
      rows.foreach { r =>
        val t1 = Seq(r.TEAM1_PLAYER1, r.TEAM1_PLAYER2, r.TEAM1_PLAYER3, r.TEAM1_PLAYER4, r.TEAM1_PLAYER5)
        val t2 = Seq(r.TEAM2_PLAYER1, r.TEAM2_PLAYER2, r.TEAM2_PLAYER3, r.TEAM2_PLAYER4, r.TEAM2_PLAYER5)
        assert(t1 == t1.sorted && t1.distinct.size == 5, s"event ${r.EVENTNUM}: $t1")
        assert(t2 == t2.sorted && t2.distinct.size == 5, s"event ${r.EVENTNUM}: $t2")
      }
      val last = rows.last
      assert(Set(last.TEAM1_PLAYER1, last.TEAM1_PLAYER2, last.TEAM1_PLAYER3,
        last.TEAM1_PLAYER4, last.TEAM1_PLAYER5) == w.cur1)
      assert(Set(last.TEAM2_PLAYER1, last.TEAM2_PLAYER2, last.TEAM2_PLAYER3,
        last.TEAM2_PLAYER4, last.TEAM2_PLAYER5) == w.cur2)
    }
  }

  test("substituting a player who is not on court throws (reference :88-98)") {
    walks.take(20).foreach { w =>
      val bad = w.events :+ PbpEvent(G, 9999L, 8, 0, 1, "1:00", 700,
        Some(999L), Some(T1), Some(108L), Some(T1)) // 999 never on court
      val e = intercept[IllegalStateException] {
        Lineups.processGame(G, bad.toArray, side)
      }
      assert(e.getMessage.contains("not found in current team players"))
    }
  }
}
