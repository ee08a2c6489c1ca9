package graft

import org.apache.spark.sql.functions._
import graft.functions.{GameClock, GameIds}

/** F1-F5 scalar functions (SURVEY.md §2.7) against hand-computed values and
  * exhaustive small-domain sweeps (the clock domain is tiny — check all of
  * it rather than sampling). */
class GameFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def clockOf(rows: (Int, String)*): Seq[Int] =
    rows.toSeq.toDF("PERIOD", "PCTIMESTRING")
      .select(GameClock.secondsFromStart(col("PERIOD"), col("PCTIMESTRING")))
      .as[Int].collect().toSeq

  test("secondsFromStart matches the reference clock model (utils/utils.py:19-27)") {
    assert(clockOf((1, "12:00")) == Seq(0))
    assert(clockOf((1, "0:00")) == Seq(720))
    assert(clockOf((2, "12:00")) == Seq(720))
    assert(clockOf((4, "0:00")) == Seq(2880))
    assert(clockOf((5, "5:00")) == Seq(2880))
    assert(clockOf((5, "0:00")) == Seq(3180))
    assert(clockOf((6, "4:59")) == Seq(3181))
    assert(clockOf((3, "7:30")) == Seq((2 * 720) + (720 - 450)))
  }

  test("secondsFromStart is null, not an ANSI cast failure, for a clock that is not M:SS") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val bad = Seq("", "bad", "7", "1:2:3", "7:xx", ":30", "7:", null)
    val got = (bad :+ "7:30").map(c => (3, c)).toDF("PERIOD", "PCTIMESTRING")
      .select(GameClock.secondsFromStart(col("PERIOD"), col("PCTIMESTRING")))
      .as[Option[Int]].collect().toSeq
    assert(got == bad.map(_ => None) :+ Some((2 * 720) + (720 - 450)))
  }

  test("secondsFromStart is strictly monotone over the whole clock domain") {
    // every (period, remaining-second) in game order, periods 1..8
    val domain = for {
      p <- 1 to 8
      rem <- (if (p <= 4) 720 else 300) to 0 by -1
    } yield (p, f"${rem / 60}%d:${rem % 60}%02d")
    val ts = clockOf(domain: _*)
    // consecutive clock ticks differ by exactly 1s, except at period
    // boundaries where end-of-period == start-of-next (12:00 of p+1 == 0:00 of p)
    ts.sliding(2).zip(domain.sliding(2)).foreach {
      case (Seq(a, b), Seq((p1, _), (p2, _))) =>
        if (p1 == p2) assert(b == a + 1)
        else assert(b == a, s"period boundary $p1->$p2")
      case _ =>
    }
  }

  test("period bounds bracket the period's clock values, in tenths (F2)") {
    for (p <- 1 to 8) {
      val Seq((start, end)) = Seq(p).toDF("PERIOD").select(
        GameClock.periodStartTenths(col("PERIOD")),
        GameClock.periodEndTenths(col("PERIOD"))).as[(Double, Double)].collect().toSeq
      assert(end - start == (if (p <= 4) 7200 else 3000))
      val Seq(t0) = clockOf((p, if (p <= 4) "12:00" else "5:00"))
      assert(t0 * 10.0 == start)
    }
  }

  test("extractSeason/extractSeasonType parse by character position (utils/utils.py:66-79)") {
    val df = Seq("0022400061", "0012300001", "0040500123", "0039900001").toDF("GAME_ID")
    val got = df.select(
      GameIds.extractSeason(col("GAME_ID")),
      GameIds.extractSeasonType(col("GAME_ID"))).as[(String, String)].collect().toSeq
    assert(got == Seq(
      ("2024-25", "Regular Season"),
      ("2023-24", "Pre Season"),
      ("2005-06", "Playoffs"), // reference bug would print '205-6'; ours is well-formed
      ("2099-00", null)))      // type digit '3' is unmapped -> null
  }

  test("syntheticId keeps null-position ids distinct (ADVICE r1)") {
    val df = Seq(
      (Some(1L), None: Option[Long], Some(2L)),
      (Some(1L), Some(2L), None: Option[Long])).toDF("a", "b", "c")
    val ids = df.select(GameIds.syntheticId(col("a"), col("b"), col("c")))
      .as[String].collect().toSeq
    assert(ids == Seq("1-None-2", "1-2-None"))
    assert(ids.distinct.size == 2)
  }

  test("fillNulls zeroes numeric nulls and NaNs only (utils/utils.py:28-37)") {
    val df = Seq(
      (Some(1.0), Some("x")),
      (None: Option[Double], None: Option[String]),
      (Some(Double.NaN), Some("y"))).toDF("v", "s")
    val got = GameIds.fillNulls(df).as[(Double, Option[String])].collect().toSeq
    assert(got == Seq((1.0, Some("x")), (0.0, None), (0.0, Some("y"))))
  }
}
