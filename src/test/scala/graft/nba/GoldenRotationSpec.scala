package graft.nba

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.Schemas

/** Golden-file test against the reference's ONE committed real fixture —
  * `/root/reference/game_rotation.csv` (written by reference test.py:11-15
  * from the live game_rotation endpoint for game 0022400236). Unlike the
  * synthetic fixtures in StintsSpec, this pins the pipeline against real
  * data, including the 22 dirty rows whose OUT_TIME_REAL < IN_TIME_REAL
  * (game_rotation.csv:61-65 among others): real API output the operators
  * must carry through verbatim, never "repair". (SURVEY.md §5.)
  */
class GoldenRotationSpec extends SparkSpec {
  import spark.implicits._

  private val GoldenCsv = "/root/reference/game_rotation.csv"
  private lazy val raw = spark.read
    .option("header", "true")
    .schema(Schemas.gameRotation)
    .csv(GoldenCsv)
  private lazy val agg = Stints.aggregate(raw)

  test("golden shape: 64 stint rows over 19 (team, player) slots, one game, two teams") {
    assert(raw.count() == 64)
    assert(raw.select(col("GAME_ID")).distinct().as[String].collect().toSeq == Seq("0022400236"))
    assert(raw.select(col("TEAM_ID")).distinct().count() == 2)
    assert(agg.count() == 19)
  }

  test("aggregate preserves every stint, sorted ascending per player") {
    val stintCount = agg
      .select(sum(size(col("STINTS")))).as[Long].head()
    assert(stintCount == 64L)
    val unsorted = agg.filter(not(
      col("STINTS") === sort_array(col("STINTS")))).count()
    assert(unsorted == 0, "STINTS must be ascending by (IN_TIME_REAL, OUT_TIME_REAL)")
  }

  test("pinned player: Seth Curry (203552) played stints 572.0-851.0s and 1750.0-2030.0s") {
    val got = agg.filter(col("PLAYER_ID") === 203552L)
      .select(col("id"), col("TEAM_NAME"), col("SEASON"), col("SEASON_TYPE"),
        col("STINTS").cast("array<struct<IN_TIME_REAL:double,OUT_TIME_REAL:double>>"))
      .as[(String, String, String, String, Seq[(Double, Double)])].head()
    assert(got == (("0022400236-203552", "Hornets", "2024-25", "Regular Season",
      Seq((5720.0, 8510.0), (17500.0, 20300.0)))))
  }

  test("the 22 dirty OUT < IN rows survive the aggregate/explode round trip verbatim") {
    val dirtyIn = raw.filter(col("OUT_TIME_REAL") < col("IN_TIME_REAL"))
    assert(dirtyIn.count() == 22)
    val roundTrip = Stints.explodeStints(agg)
    assert(roundTrip.count() == 64)
    val key = Seq("GAME_ID", "TEAM_ID", "PLAYER_ID", "IN_TIME_REAL", "OUT_TIME_REAL")
    val lost = raw.withColumnRenamed("PERSON_ID", "PLAYER_ID")
      .select(key.map(col): _*)
      .exceptAll(roundTrip.select(key.map(col): _*))
    assert(lost.count() == 0, "round trip must reproduce every raw stint, dirty ones included")
  }

  test("JSON sink parity round-trips the real stint lists (F6/F7)") {
    val back = Stints.stintsFromJson(Stints.stintsJson(agg))
    assert(back.exceptAll(agg).count() == 0 && agg.exceptAll(back).count() == 0)
  }

  test("six real opening stints (IN_TIME_REAL == 0) per the initial-lineup rule feed") {
    // Lineups.processGame seeds initial lineups from stints starting at 0.0
    // (reference etl/play_by_play_with_players.py:81-86) — on the real file
    // only 6 of 19 players qualify (the fixture is mid-capture, not a full
    // game), which is exactly why the starters fallback (kind-1 side rows)
    // exists. Pin the rule's feed so a schema drift can't silently break it.
    val openers = agg.filter(exists(col("STINTS"), s => s.getField("IN_TIME_REAL") === 0.0))
    assert(openers.count() == 6)
  }
}
