package graft.nba

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The period-starters ETL as a runnable main (reference:
  * etl/players_on_court_at_start_of_period.py:196-230), with the same
  * argument contract as the other entry points (PipelineArgs): read
  * play_by_play — and the landed period-sliced box score table
  * `box_score_per_period`, if present — from --input, derive starters for
  * the scoped games, and publish idempotently.
  *
  * The reference raises per game when a period cannot produce 10 starters
  * (:159-161); here the strict combined derivation checks that invariant
  * inside its per-game kernel, so the job fails at action time with the
  * offending (game, period) in the message — same contract, one
  * distributed pass instead of a driver loop. When no box table is
  * landed, the same strict check runs over the pbp-fallback-only
  * derivation (an empty primary makes every period fall back, which is
  * exactly the reference's behavior when every box fetch comes back
  * dirty).
  *
  * Delta mode (:167-183): only games absent from the output table are
  * derived, then plain-appended. Non-delta reruns replace the recomputed
  * games' rows and swap the affected partitions (Publish.idempotent), like the
  * flagship PipelineMain.
  */
object StartersMain {

  val TableName = "players_on_court_at_start_of_period"

  def main(argv: Array[String]): Unit =
    PipelineArgs.parse(argv.toSeq) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
      case Right(args) =>
        val spark = graft.Sessions.local("graft-starters")
        try runWith(spark, args) finally spark.stop()
    }

  /** The job body, on a caller-owned session (testable; main owns its own).
    * With a `transport`, the period-sliced box scores are FETCHED for the
    * scoped (game, period) pairs and landed by [[Fetch.landBoxScores]]
    * instead of read pre-landed — the last main's fetch half, raw-less. */
  def runWith(spark0: SparkSession, args: PipelineArgs.Args,
      transport: Option[graft.sources.Fetcher.Transport] = None): Unit = {
    implicit val spark: SparkSession = spark0
    import spark.implicits._

    def tbl(name: String) = graft.sources.Warehouse.readTable(spark, s"${args.input}/$name")
    val outDir = s"${args.output}/$TableName"
    graft.sources.Warehouse.recover(spark, outDir) // heal swaps before any read

    val pbp = Publish.deltaOnly(
      Publish.scope(tbl("play_by_play"), args), args.delta, outDir, Seq("GAME_ID"))

    // primary path candidates, when the period-sliced box scores are landed;
    // an empty primary sends every period down the pbp fallback (still
    // strict-checked), matching the reference with no usable box data.
    val box: DataFrame = transport match {
      case Some(t) =>
        Fetch.landBoxScores(pbp.select(col("GAME_ID"), col("PERIOD")), args, t)
      case None => scala.util.Try(tbl("box_score_per_period")).toOption
        .getOrElse(Seq.empty[(String, Int, Long, Long, Option[Double])]
          .toDF("GAME_ID", "PERIOD", "PLAYER_ID", "TEAM_ID", "MIN"))
    }
    // The derivation ignores box rows of games without events, so scoping
    // the box table only bounds what the night shuffles: the same scope and
    // delta rules as the play-by-play keep it to this run's games without
    // a join against the play-by-play (the reference fetches box scores
    // inside its per-game loop, so its box data is game-scoped too).
    val boxScoped = Publish.deltaOnly(Publish.scope(box, args), args.delta, outDir, Seq("GAME_ID"))
    val newRows = Starters.derive(pbp, boxScoped, strict = true)

    Publish.idempotent(newRows, outDir, args.delta)
  }
}
