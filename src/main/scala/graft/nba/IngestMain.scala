package graft.nba

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GameIds

/** The four thin ingest scripts as one runnable entry point, selected by
  * `--table` (reference: etl/play_by_play.py, etl/rotations.py,
  * etl/team_game_log.py, etl/shot_details.py — each is fetch -> enrich ->
  * upsert; the fetch half lands raw frames under `--input/<table>_raw`,
  * this job owns enrich + idempotent publish):
  *
  *   - play_by_play:  F3/F4 stamps, id on (GAME_ID, EVENTNUM), full-row
  *                    dedup (play_by_play.py:21-36); delta by GAME_ID
  *   - rotations:     per-player stint aggregation with a native
  *                    array<struct> STINTS column (rotations.py:49-68);
  *                    delta by GAME_ID
  *   - team_game_log: season stamps + id on (GAME_ID, TEAM_ID)
  *                    (team_game_log.py:22-33); delta by GAME_ID
  *   - shot_details:  id on (PLAYER_ID, GAME_ID, GAME_EVENT_ID), dedup
  *                    (shot_details.py:10-26); delta by the fetch-combo
  *                    key (PLAYER_ID, TEAM_ID, SEASON, SEASON_TYPE), the
  *                    same unit shot_details.py:41-51 filters by
  *
  * Scoping and publish follow the other entry points: --game-id or
  * --season/--season-type (XOR), non-delta reruns merge-and-swap the
  * affected partitions, delta appends only unseen work.
  */
object IngestMain {

  val Tables: Set[String] =
    Set("play_by_play", "rotations", "team_game_log", "shot_details")

  def main(argv: Array[String]): Unit =
    PipelineArgs.parse(argv.toSeq) match {
      case Right(args) if args.table.exists(Tables.contains) =>
        val spark = graft.Sessions.local(s"graft-ingest-${args.table.get}")
        try runWith(spark, args) finally spark.stop()
      case Right(_) =>
        System.err.println(s"--table must be one of ${Tables.mkString(", ")}")
        sys.exit(2)
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
    }

  /** The job body, on a caller-owned session (testable; main owns its own).
    *
    * With a `transport`, the job is the WHOLE reference script: the fetch
    * front ([[Fetch.landRaw]]) enumerates the scope, fans the requests out
    * over the cluster, decodes, and lands `<input>/<table>_raw` itself;
    * without one (this zero-egress environment's default) the raw table is
    * read pre-landed, exactly as before. */
  def runWith(spark0: SparkSession, args: PipelineArgs.Args,
      transport: Option[graft.sources.Fetcher.Transport] = None): Unit = {
    implicit val spark: SparkSession = spark0
    require(args.table.exists(Tables.contains),
      s"--table must be one of ${Tables.mkString(", ")}; got ${args.table.getOrElse("<none>")}")
    val table = args.table.get
    val raw = transport match {
      case Some(t) => Fetch.landRaw(table, args, t)
      case None => graft.sources.Warehouse.readTable(spark, s"${args.input}/${table}_raw")
    }
    val outDir = s"${args.output}/$table"
    graft.sources.Warehouse.recover(spark, outDir) // heal swaps before any read

    // shot_details raw carries stamped SEASON/SEASON_TYPE (and its delta
    // unit is the fetch combo); the game-keyed tables derive season from
    // the game id and delta by game
    val deltaKeys =
      if (table == "shot_details") Seq("PLAYER_ID", "TEAM_ID", "SEASON", "SEASON_TYPE")
      else Seq("GAME_ID")
    val scoped = Publish.scope(raw, args, seasonFromColumns = table == "shot_details")
    // a fetched delta landing already holds only unpublished keys, so the
    // anti-join against the target could drop nothing; a pre-landed raw
    // table can hold anything and keeps it
    val in =
      if (transport.isDefined && Fetch.landsUnseenOnly(table)) scoped
      else Publish.deltaOnly(scoped, args.delta, outDir, deltaKeys)

    val enriched: DataFrame = table match {
      case "play_by_play" => Etl.playByPlay(in)
      case "rotations" => Stints.aggregate(in)
      case "team_game_log" => Etl.teamGameLog(in)
      case "shot_details" => Etl.shotDetails(in)
    }
    // a full rerun replaces whole units inside its scope: a combo spans
    // games, so a --game-id run recomputes only the combo's shots in that game
    val unit = if (args.gameId.isDefined) (deltaKeys :+ "GAME_ID").distinct else deltaKeys
    Publish.idempotent(enriched, outDir, args.delta, unit)
  }
}
