package graft.schema

import org.apache.spark.sql.types._

/** Explicit schemas for the six reference tables (SURVEY.md §1.2).
  *
  * The reference infers schemas from whatever the stats API returns
  * (reference: api/smart.py:566-578, database/db_client.py:44-54); we declare
  * them because the column universe is closed and declared schemas are what
  * make Catalyst column pruning / predicate pushdown reliable at scale
  * (SURVEY.md §1.5). `GAME_ID` stays StringType everywhere — it is
  * zero-padded and characters encode season/season-type
  * (reference: utils/utils.py:66-79).
  *
  * Usage map: `stint`/`stints` and the case classes are load-bearing in
  * the engine; `gameRotation` pins the golden-file read
  * (GoldenRotationSpec). The remaining table StructTypes are the declared
  * decode-time shapes for the fetch boundary (`RestDecoder.cast` — which
  * now REQUIRES every declared column, so casting against these catches
  * API drift at the source); the parquet ingest path reads the landed
  * files' embedded schemas (`Warehouse.readTable`, from one footer on the
  * driver) and does not re-apply them — a pre-landed raw table may carry
  * any shape, and a declared read would drop or null-fill its columns.
  */
object Schemas {

  /** Stint interval, game clock in tenths of a second
    * (reference: etl/rotations.py:10-14). Stored as a first-class
    * array<struct> instead of the reference's JSON text (SURVEY.md §1.4).
    */
  val stint: StructType = StructType(Seq(
    StructField("IN_TIME_REAL", DoubleType, nullable = false),
    StructField("OUT_TIME_REAL", DoubleType, nullable = false)))

  val stints: ArrayType = ArrayType(stint, containsNull = false)

  /** reference: etl/team_game_log.py:22-33; FIXTURES.md §team_game_log. */
  val teamGameLog: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("GAME_ID", StringType, nullable = false),
    StructField("TEAM_ID", LongType, nullable = false),
    StructField("TEAM_ABBREVIATION", StringType),
    StructField("GAME_DATE", StringType),
    StructField("MATCHUP", StringType),
    StructField("WL", StringType),
    StructField("PTS", DoubleType),
    StructField("SEASON", StringType, nullable = false),
    StructField("SEASON_TYPE", StringType, nullable = false)))

  /** reference: etl/play_by_play.py:21-36; FIXTURES.md §play_by_play. */
  val playByPlay: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("GAME_ID", StringType, nullable = false),
    StructField("EVENTNUM", LongType, nullable = false),
    StructField("EVENTMSGTYPE", IntegerType, nullable = false),
    StructField("EVENTMSGACTIONTYPE", IntegerType, nullable = false),
    StructField("PERIOD", IntegerType, nullable = false),
    StructField("PCTIMESTRING", StringType),
    StructField("HOMEDESCRIPTION", StringType),
    StructField("NEUTRALDESCRIPTION", StringType),
    StructField("VISITORDESCRIPTION", StringType),
    StructField("PLAYER1_ID", LongType),
    StructField("PLAYER1_TEAM_ID", LongType),
    StructField("PLAYER2_ID", LongType),
    StructField("PLAYER2_TEAM_ID", LongType),
    StructField("PLAYER3_ID", LongType),
    StructField("PLAYER3_TEAM_ID", LongType),
    StructField("SEASON", StringType, nullable = false),
    StructField("SEASON_TYPE", StringType, nullable = false)))

  /** reference: etl/rotations.py:49-68 (aggregated form, FIXTURES.md §rotations). */
  val rotations: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("GAME_ID", StringType, nullable = false),
    StructField("TEAM_ID", LongType, nullable = false),
    StructField("TEAM_NAME", StringType),
    StructField("PLAYER_ID", LongType, nullable = false),
    StructField("PLAYER_FIRST", StringType),
    StructField("PLAYER_LAST", StringType),
    StructField("SEASON", StringType, nullable = false),
    StructField("SEASON_TYPE", StringType, nullable = false),
    StructField("STINTS", stints, nullable = false)))

  /** Exploded per-stint form, the shape of the reference's one golden
    * fixture (reference: game_rotation.csv, test.py:11-15).
    */
  val gameRotation: StructType = StructType(Seq(
    StructField("GAME_ID", StringType, nullable = false),
    StructField("TEAM_ID", LongType, nullable = false),
    StructField("TEAM_CITY", StringType),
    StructField("TEAM_NAME", StringType),
    StructField("PERSON_ID", LongType, nullable = false),
    StructField("PLAYER_FIRST", StringType),
    StructField("PLAYER_LAST", StringType),
    StructField("IN_TIME_REAL", DoubleType, nullable = false),
    StructField("OUT_TIME_REAL", DoubleType, nullable = false),
    StructField("PLAYER_PTS", DoubleType),
    StructField("PT_DIFF", DoubleType),
    StructField("USG_PCT", DoubleType)))

  /** reference: etl/players_on_court_at_start_of_period.py:136-158,190-195. */
  val playersOnCourtAtStartOfPeriod: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("GAME_ID", StringType, nullable = false),
    StructField("SEASON", StringType, nullable = false),
    StructField("SEASON_TYPE", StringType, nullable = false),
    StructField("PERIOD", IntegerType, nullable = false),
    StructField("PLAYER_ID", LongType, nullable = false),
    StructField("TEAM_ID", LongType, nullable = false)))
}

// ---------------------------------------------------------------------------
// Case classes for the typed operators (SURVEY.md §2.9). Field names mirror
// the reference's column names so `df.as[T]` binds by name.
// ---------------------------------------------------------------------------

/** One stint interval, clock in tenths of a second. */
case class Stint(IN_TIME_REAL: Double, OUT_TIME_REAL: Double)

/** Rotation row with nested stints (reference: etl/rotations.py:49-63). */
case class RotationRow(
    GAME_ID: String,
    TEAM_ID: Long,
    PLAYER_ID: Long,
    STINTS: Seq[Stint])

/** Play-by-play event, the input row of the flagship lineup tracker
  * (reference: etl/play_by_play_with_players.py:113-165).
  */
case class PbpEvent(
    GAME_ID: String,
    EVENTNUM: Long,
    EVENTMSGTYPE: Int,
    EVENTMSGACTIONTYPE: Int,
    PERIOD: Int,
    PCTIMESTRING: String,
    SECONDS_FROM_START: Int,
    PLAYER1_ID: Option[Long],
    PLAYER1_TEAM_ID: Option[Long],
    PLAYER2_ID: Option[Long],
    PLAYER2_TEAM_ID: Option[Long])

/** Period-starter row (reference: etl/players_on_court_at_start_of_period.py:190-195). */
case class PeriodStarter(GAME_ID: String, PERIOD: Int, PLAYER_ID: Long, TEAM_ID: Long)

/** Output row of the lineup tracker: the event plus both 5-man lineups,
  * sorted ascending (reference: etl/play_by_play_with_players.py:130-133).
  */
case class PbpWithPlayers(
    id: String,
    GAME_ID: String,
    EVENTNUM: Long,
    EVENTMSGTYPE: Int,
    PERIOD: Int,
    SECONDS_FROM_START: Int,
    TEAM1_ID: Long,
    TEAM2_ID: Long,
    TEAM1_PLAYER1: Long, TEAM1_PLAYER2: Long, TEAM1_PLAYER3: Long,
    TEAM1_PLAYER4: Long, TEAM1_PLAYER5: Long,
    TEAM2_PLAYER1: Long, TEAM2_PLAYER2: Long, TEAM2_PLAYER3: Long,
    TEAM2_PLAYER4: Long, TEAM2_PLAYER5: Long)
