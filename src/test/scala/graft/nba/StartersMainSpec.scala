package graft.nba

import java.nio.file.Files
import graft.SparkSpec

/** The starters ETL entry point end-to-end: strict invariant, idempotent
  * rerun, delta append (reference players_on_court_at_start_of_period.py
  * main, :196-230). */
class StartersMainSpec extends SparkSpec {
  import spark.implicits._

  private val G = "0022400001"
  private val T1 = 100L
  private val T2 = 200L

  private type PbpRow = (String, Int, Long, Int, String,
    Option[Long], Option[Long], Option[Long], Option[Long], Option[Long], Option[Long])

  private def writeFixture(input: String, withBox: Boolean = true,
      boxPlayers: Seq[Long] = (1L to 5L) ++ (11L to 15L)): Unit = {
    val pbp = Seq[PbpRow](
      (G, 1, 1L, 1, "11:00", Some(1L), Some(T1), None, None, None, None),
      (G, 1, 2L, 1, "10:00", Some(11L), Some(T2), None, None, None, None))
      .toDF("GAME_ID", "PERIOD", "EVENTNUM", "EVENTMSGTYPE", "PCTIMESTRING",
        "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID",
        "PLAYER3_ID", "PLAYER3_TEAM_ID")
    pbp.write.mode("overwrite").parquet(s"$input/play_by_play")
    if (withBox)
      boxPlayers.map(p => (G, 1, p, if (p < 10) T1 else T2, Some(1.0)))
        .toDF("GAME_ID", "PERIOD", "PLAYER_ID", "TEAM_ID", "MIN")
        .write.mode("overwrite").parquet(s"$input/box_score_per_period")
  }

  private def args(input: String, output: String, delta: Boolean = false) =
    PipelineArgs.Args(season = Some("2024-25"), seasonType = Some("Regular Season"),
      delta = delta, input = input, output = output)

  test("derives 10 starters from the box primary path and reruns idempotently") {
    val root = Files.createTempDirectory("graft_sm").toString
    writeFixture(s"$root/in")
    StartersMain.runWith(spark, args(s"$root/in", s"$root/out"))
    val out = s"$root/out/${StartersMain.TableName}"
    val got = spark.read.parquet(out)
    assert(got.count() == 10)
    assert(got.select("SEASON").distinct().as[String].head() == "2024-25")
    // rerun must replace, not duplicate
    StartersMain.runWith(spark, args(s"$root/in", s"$root/out"))
    assert(spark.read.parquet(out).count() == 10)
    // delta rerun: the game exists in the output, nothing to append
    StartersMain.runWith(spark, args(s"$root/in", s"$root/out", delta = true))
    assert(spark.read.parquet(out).count() == 10)
  }

  test("fails the job when a period cannot produce 10 starters (reference raises, :159-161)") {
    val root = Files.createTempDirectory("graft_sm").toString
    writeFixture(s"$root/in", boxPlayers = (1L to 5L) ++ (11L to 14L)) // 9 players
    val e = intercept[Exception] {
      StartersMain.runWith(spark, args(s"$root/in", s"$root/out"))
    }
    assert(messages(e).exists(_.contains("starters invariant violated")), messages(e))
  }

  test("raw-less: box scores are fetched per (game, period), landed, and drive the primary path") {
    val root = Files.createTempDirectory("graft_sm").toString
    writeFixture(s"$root/in", withBox = false) // NO landed box table
    StartersMain.runWith(spark, args(s"$root/in", s"$root/out"),
      Some(StartersMainSpec.FakeBoxApi))
    val got = spark.read.parquet(s"$root/out/${StartersMain.TableName}")
    assert(got.count() == 10, "the fetched box table must drive the primary path")
    // the box table was landed under --input with the PERIOD stamped from
    // the request slice (the response rows never carry it)
    val landed = spark.read.parquet(s"$root/in/${Fetch.BoxTable}")
    assert(landed.count() == 10)
    assert(landed.select("PERIOD").distinct().as[Int].collect().toSeq == Seq(1))
    assert(landed.schema("PLAYER_ID").dataType.typeName == "long")
    assert(spark.read.parquet(s"$root/in/${Fetch.BoxTable}_fetch_errors").count() == 0)
    // a delta rerun scopes to zero new games -> zero requests; the landed
    // box table must MERGE (keep the 10 rows), not be replaced by the
    // empty slice — transport-less reruns depend on it
    StartersMain.runWith(spark, args(s"$root/in", s"$root/out", delta = true),
      Some(StartersMainSpec.FakeBoxApi))
    assert(spark.read.parquet(s"$root/in/${Fetch.BoxTable}").count() == 10,
      "an empty delta fetch must not destroy previously landed box data")
  }

  test("without a landed box table every period falls back to pbp, still strict") {
    val root = Files.createTempDirectory("graft_sm").toString
    writeFixture(s"$root/in", withBox = false) // pbp names only 2 players
    val e = intercept[Exception] {
      StartersMain.runWith(spark, args(s"$root/in", s"$root/out"))
    }
    assert(messages(e).exists(_.contains("starters invariant violated")), messages(e))
  }
}

object StartersMainSpec {
  /** Period-sliced traditional box score: 5 players per team with non-null
    * MIN for whatever (gameId, startPeriod) slice is requested. */
  object FakeBoxApi extends graft.sources.Fetcher.Transport {
    def get(r: graft.sources.Endpoints.Request): String = {
      require(r.path == "boxscoretraditionalv2", s"unexpected path ${r.path}")
      require(r.param("rangeType").contains("2"), "starters fetch must be range-sliced (F2)")
      val gid = r.param("gameId").get
      val players = (1 to 5).map(p => (p.toLong, 100L)) ++ (11 to 15).map(p => (p.toLong, 200L))
      val rows = players.map { case (p, t) => s"""["$gid","$t","$p","11:45"]""" }.mkString(",")
      s"""{"resultSets":[{"name":"PlayerStats",
           "headers":["GAME_ID","TEAM_ID","PLAYER_ID","MIN"],
           "rowSet":[$rows]}]}""".replaceAll("\n\\s*", "")
    }
  }
}
