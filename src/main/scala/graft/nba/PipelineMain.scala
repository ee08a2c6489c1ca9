package graft.nba

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI entry points mirroring the reference scripts' argument contract
  * (reference: utils/arg_parser.py:1-34 and the XOR validation every etl
  * script repeats, e.g. etl/play_by_play_with_players.py:198-203):
  * either --game-id, or both --season and --season-type, never both;
  * --delta restricts work to unseen games.
  */
object PipelineArgs {

  final case class Args(
      season: Option[String] = None,
      seasonType: Option[String] = None,
      gameId: Option[String] = None,
      delta: Boolean = false,
      input: String = "",
      output: String = "",
      table: Option[String] = None)

  def parse(argv: Seq[String]): Either[String, Args] = {
    def loop(rest: List[String], acc: Args): Either[String, Args] = rest match {
      case Nil => Right(acc)
      case "--season" :: v :: t => loop(t, acc.copy(season = Some(v)))
      case "--season-type" :: v :: t => loop(t, acc.copy(seasonType = Some(v)))
      case "--game-id" :: v :: t => loop(t, acc.copy(gameId = Some(v)))
      case "--delta" :: t => loop(t, acc.copy(delta = true))
      case "--input" :: v :: t => loop(t, acc.copy(input = v))
      case "--output" :: v :: t => loop(t, acc.copy(output = v))
      case "--table" :: v :: t => loop(t, acc.copy(table = Some(v)))
      case other :: _ => Left(s"unknown argument: $other")
    }
    loop(argv.toList, Args()).flatMap(validate)
  }

  /** The reference's XOR rule, verbatim semantics. */
  def validate(a: Args): Either[String, Args] = {
    val hasGameId = a.gameId.isDefined
    val hasSeasonAndType = a.season.isDefined && a.seasonType.isDefined
    if (hasGameId && hasSeasonAndType)
      Left("You must provide either --game-id or both --season and --season-type, but not both.")
    else if (!hasGameId && !hasSeasonAndType)
      Left("You must provide either --game-id or both --season and --season-type.")
    else if (a.input.isEmpty || a.output.isEmpty)
      Left("--input and --output are required.")
    else Right(a)
  }
}

/** The flagship job as a runnable main: read play_by_play + rotations
  * (+ optional players_on_court, team_game_log) parquet from --input,
  * track lineups, write partitioned parquet + a quarantine table to
  * --output. Delta mode anti-joins the existing output's game ids
  * (reference: etl/play_by_play_with_players.py:167-176).
  *
  * Idempotence (reference: `INSERT ... ON CONFLICT (id) DO UPDATE`,
  * database/db_client.py:69-92): a non-delta rerun REPLACES what it
  * recomputes instead of appending duplicates — every existing row of a
  * recomputed game is replaced by the game's new rows (Publish.idempotent),
  * and only the affected (SEASON, SEASON_TYPE) partitions are swapped
  * (Warehouse.overwritePartitions); other seasons are untouched. The
  * quarantine table heals the same way: errors of the games processed this
  * run are replaced, so a game that fails twice has one error row and a
  * game that now succeeds has none.
  */
object PipelineMain {

  def main(argv: Array[String]): Unit =
    PipelineArgs.parse(argv.toSeq) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
      case Right(args) =>
        val spark = graft.Sessions.local("graft-lineups")
        try runWith(spark, args) finally spark.stop()
    }

  /** The job body, on a caller-owned session (testable; main owns its own). */
  def runWith(spark0: SparkSession, args: PipelineArgs.Args): Unit = {
    implicit val spark: SparkSession = spark0
    import graft.functions.GameIds
    import graft.sources.Warehouse

    def tbl(name: String) = Warehouse.readTable(spark, s"${args.input}/$name")
    def optTbl(name: String) = Warehouse.readTableIfPresent(spark, s"${args.input}/$name")
    val outDir = s"${args.output}/play_by_play_with_players"
    val errDir = s"${args.output}/lineup_errors"
    Warehouse.recover(spark, outDir) // heal interrupted swaps before any read
    Warehouse.recover(spark, errDir)

    val pbp = Publish.deltaOnly(
      Publish.scope(tbl("play_by_play"), args), args.delta, outDir, Seq("GAME_ID"))

    val starters = optTbl("players_on_court_at_start_of_period")
    val teamLog = optTbl("team_game_log")
    val tracked = Lineups.tracked(pbp, tbl("rotations"), starters, teamLog)

    val newRows = tracked.rows.toDF()
      .withColumn("SEASON", GameIds.extractSeason(col("GAME_ID")))
      .withColumn("SEASON_TYPE", GameIds.extractSeasonType(col("GAME_ID")))
    Publish.idempotent(newRows, outDir, args.delta)

    // quarantine channel: drop stale errors of every game processed this
    // run (delta or not), then add this run's failures — both read from
    // the tracker's staged outcomes, not from the play-by-play again
    val processed = tracked.processed.toDF("GAME_ID")
    val errDf = tracked.errors.toDF()
    Warehouse.readTableIfPresent(spark, errDir) match {
      case Some(exErr) =>
        Warehouse.replaceDir(
          exErr.join(processed, Seq("GAME_ID"), "left_anti").unionByName(errDf), errDir)
      case None => errDf.write.mode("append").parquet(errDir)
    }
    tracked.release() // both channels are written; free the staged outcomes
  }
}
