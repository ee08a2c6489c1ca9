package graft.nba

import scala.util.Random

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The per-game starters kernel (`Starters`) against the relational
  * derivation it replaced (`StartersReference`) on seeded random games.
  *
  * Each game is a substitution walk over four periods (sometimes one or
  * two overtimes) with the noise real feeds carry: a player OUT and IN at
  * the same event, two sub events tied on clock and EVENTNUM, team-0 and
  * null slots, a player listed for the other team, malformed clocks, box
  * slices with duplicate rows, null-MIN rows, a missing starter or an
  * extra player, missing slices and phantom periods. Every form must give
  * the same rows, and the strict form the same outcome: both pass, or
  * both fail naming a period that violates the invariant.
  */
class StartersPropSpec extends SparkSpec {
  import spark.implicits._

  private type PbpRow = (String, Int, Long, Int, String,
    Option[Long], Option[Long], Option[Long], Option[Long], Option[Long], Option[Long])
  private type BoxRow = (String, Int, Long, Long, Option[String])

  private case class Game(pbp: Seq[PbpRow], box: Seq[BoxRow])

  /** One game; `noise` scales the odds of every kind of dirt. */
  private def game(gid: String, r: Random, noise: Double): Game = {
    val (ta, tb) = (100L, 200L)
    val roster = Map(ta -> (101L to 108L), tb -> (201L to 208L))
    val pbp = Seq.newBuilder[PbpRow]
    val box = Seq.newBuilder[BoxRow]
    var eventnum = 0L
    def p(x: Double) = r.nextDouble() < x * noise
    // a sub event's clock is parsed (an unparsable one is null in either
    // form), any other event's clock is not
    def clock(secsLeft: Int, tpe: Int): String =
      if (p(0.04)) {
        val odd = if (tpe == 8) Seq(null, "1:2:3", "11:75") else Seq("bad", "", "7", null)
        odd(r.nextInt(odd.size))
      } else f"${secsLeft / 60}%d:${secsLeft % 60}%02d"
    val periods = (1 to 4) ++ (if (r.nextDouble() < 0.3) 5 to (5 + r.nextInt(2)) else Nil)
    periods.foreach { period =>
      val starters = roster.map { case (t, ps) => t -> r.shuffle(ps.toList).take(5) }
      val onCourt = scala.collection.mutable.Map(starters.toSeq: _*)
      val subbedIn = scala.collection.mutable.Set.empty[Long]
      var left = if (period <= 4) 720 else 300
      def team(t: Long) = Some(if (p(0.03)) (if (t == ta) tb else ta) else t)
      def ev(tpe: Int, slots: (Option[Long], Option[Long])*): PbpRow = {
        if (!p(0.05)) eventnum += 1 // else reused: a tie on EVENTNUM
        left = math.max(0, left - r.nextInt(60))
        val s = slots.padTo(3, (None, None))
        val row = (gid, period, eventnum, tpe, clock(left, tpe),
          s(0)._1, s(0)._2, s(1)._1, s(1)._2, s(2)._1, s(2)._2)
        pbp += row
        row
      }
      (0 until 4 + r.nextInt(10)).foreach { _ =>
        val t = if (r.nextBoolean()) ta else tb
        val court = onCourt(t)
        if (r.nextDouble() < 0.4) {
          val out = court(r.nextInt(5))
          val in = r.shuffle(roster(t).filterNot(court.contains).toList).head
          onCourt(t) = court.map(x => if (x == out) in else x)
          subbedIn += in
          val sub = ev(8, Some(out) -> team(t), Some(in) -> team(t))
          // the same two players swapped at the same clock and EVENTNUM
          if (p(0.1)) pbp += sub.copy(_6 = sub._8, _8 = sub._6)
        }
        else if (p(0.05)) ev(8, Some(court.head) -> team(t), Some(court.head) -> team(t))
        else {
          val slot3: (Option[Long], Option[Long]) =
            if (p(0.1)) (Some(900L + r.nextInt(5)), Some(0L))
            else if (p(0.1)) (None, Some(t))
            else if (p(0.1)) (Some(court(1)), None)
            else (None, None)
          ev(1, Some(court(r.nextInt(5))) -> team(t), (None, None), slot3)
        }
      }
      // the period-sliced box score, sometimes missing or dirty
      if (!p(0.15)) {
        val rows = Seq.newBuilder[BoxRow]
        starters.foreach { case (t, ps) =>
          ps.foreach(pl => rows += ((gid, period, pl, t, Some("12:00"))))
        }
        subbedIn.foreach(pl => rows += ((gid, period, pl, if (pl < 200) ta else tb, Some("3:00"))))
        roster.foreach { case (t, ps) =>
          ps.filterNot(pl => starters(t).contains(pl) || subbedIn(pl))
            .foreach(pl => rows += ((gid, period, pl, t, None)))
        }
        var slice = rows.result()
        if (p(0.15)) slice = slice.filterNot(_._3 == starters(ta).head)
        if (p(0.15)) slice = slice :+ slice.head
        if (p(0.1)) slice = slice :+ ((gid, period, 999L, ta, Some("1:00")))
        if (p(0.1)) slice = slice.map(b => if (b._3 == starters(tb).head) b.copy(_5 = None) else b)
        box ++= slice
      }
    }
    if (p(0.15)) (201L to 210L).foreach(pl => box += ((gid, 7, pl, tb, Some("5:00"))))
    Game(pbp.result(), box.result())
  }

  /** `n` games; every other one is only lightly dirty when `mixed`. */
  private def games(seed: Long, n: Int, mixed: Boolean = false): Seq[(String, Game)] = {
    val r = new Random(seed)
    (1 to n).map { i =>
      val gid = f"00224$seed%02d$i%03d"
      gid -> game(gid, r, if (mixed && i % 2 == 0) 0.2 else 1.0)
    }
  }

  private def pbpOf(gs: Seq[Game]): DataFrame =
    gs.flatMap(_.pbp).toDF("GAME_ID", "PERIOD", "EVENTNUM", "EVENTMSGTYPE", "PCTIMESTRING",
      "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID",
      "PLAYER3_ID", "PLAYER3_TEAM_ID")
  private def boxOf(gs: Seq[Game]): DataFrame =
    gs.flatMap(_.box).toDF("GAME_ID", "PERIOD", "PLAYER_ID", "TEAM_ID", "MIN")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Same columns and types (the reference's strict form puts its join
    * keys first), same rows. */
  private def sameRows(kernel: DataFrame, reference: DataFrame, what: String): Unit = {
    def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType)).sortBy(_._1)
    assert(typed(kernel) == typed(reference), s"$what: schema")
    val (k, ref) = (rows(kernel), rows(reference.select(kernel.columns.map(reference.col): _*)))
    assert(k == ref, s"$what: kernel-only ${k.diff(ref).take(5)}, reference-only ${ref.diff(k).take(5)}")
  }

  private val Violation = "starters invariant violated: game \\S+ period \\S+ has \\d+ starters, expected 10".r

  /** The violation a strict run failed with, or None when it passed. */
  private def strictOutcome(df: => DataFrame): Option[String] =
    try { df.count(); None }
    catch {
      case e: Exception =>
        val found = messages(e).flatMap(m => Violation.findFirstIn(String.valueOf(m)))
        assert(found.nonEmpty, messages(e).mkString("|"))
        found.headOption
    }

  test("every form gives the reference's rows on random games") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val gs = games(seed, 30).map(_._2)
      val (pbp, box) = (pbpOf(gs), boxOf(gs))
      sameRows(Starters.derive(pbp), StartersReference.derive(pbp), s"seed $seed pbp-only")
      sameRows(Starters.deriveFromBox(pbp, box), StartersReference.deriveFromBox(pbp, box),
        s"seed $seed box-only")
      sameRows(Starters.derive(pbp, box), StartersReference.derive(pbp, box),
        s"seed $seed combined")
    }
  }

  test("the strict form passes or fails like the reference, naming a violating period") {
    val outcomes = games(21L, 16, mixed = true).map { case (gid, g) =>
      val (pbp, box) = (pbpOf(Seq(g)), boxOf(Seq(g)))
      // the violations the reference's non-strict rows imply
      val expected = StartersReference.derive(pbp, box).filter($"PLAYER_ID".isNotNull)
        .groupBy("PERIOD").count().as[(Int, Long)].collect().toMap
      val allowed = g.pbp.map(_._2).distinct.flatMap { period =>
        val n = expected.getOrElse(period, 0L)
        if (n == 10) None
        else Some(s"starters invariant violated: game $gid period $period has $n starters, expected 10")
      }.toSet
      val kernel = strictOutcome(Starters.derive(pbp, box, strict = true))
      val reference = strictOutcome(StartersReference.derive(pbp, box, strict = true))
      assert(kernel.isEmpty == allowed.isEmpty && reference.isEmpty == allowed.isEmpty,
        s"$gid: kernel $kernel, reference $reference, violations $allowed")
      kernel.foreach(m => assert(allowed(m), s"$gid: kernel failed with $m, violations $allowed"))
      reference.foreach(m => assert(allowed(m), s"$gid: reference failed with $m"))
      if (allowed.size == 1) assert(kernel == reference)
      if (kernel.isEmpty)
        sameRows(Starters.derive(pbp, box, strict = true),
          StartersReference.derive(pbp, box, strict = true), s"$gid strict")
      kernel.isEmpty
    }
    assert(outcomes.contains(true) && outcomes.contains(false),
      s"the games must cover both outcomes: $outcomes")
  }
}
