package graft.nba

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.Schemas
import graft.sources.{Endpoints, FetchAll, Fetcher, RestDecoder, Warehouse}

/** The fetch front of the ingest pipeline: what turns each `--table` into a
  * dataset of requests, fans them out ([[FetchAll]]), decodes the declared
  * result sets, and LANDS `<input>/<table>_raw` — the table every ingest
  * main so far assumed pre-landed. With this, `IngestMain.runWith(spark,
  * args, transport = Some(...))` is the whole reference script: fetch ->
  * land -> enrich -> publish (etl/rotations.py:95-143,
  * etl/play_by_play_with_players.py:227-239).
  *
  * Scope enumeration follows the reference's driving queries:
  *   - `--game-id`: that one game (rotations.py:111-117);
  *   - `--season`: game ids from ONE leaguegamelog fetch — the reference
  *     reads them from its team_game_log table (rotations.py:84-88), which
  *     that same endpoint feeds; deriving from the endpoint keeps the fetch
  *     front self-contained;
  *   - shot_details: (player, team) combos from the PUBLISHED rotations
  *     table, exactly the reference's combo query (shot_details.py:28-38).
  *
  * Everything between enumeration and landing is a Dataset transform —
  * game ids and combos never collect to the driver; they `map` straight
  * into Request rows and fan out.
  */
object Fetch {

  /** Result-set names per endpoint (public stats-API contract, consumed by
    * the reference at api/smart.py:425 ['PlayByPlay'], :457
    * ['LeagueGameLog'], etl/rotations.py:19-20 ['HomeTeam'/'AwayTeam']). */
  val PlayByPlaySet = "PlayByPlay"
  val LeagueGameLogSet = "LeagueGameLog"
  val RotationSets: Seq[String] = Seq("AwayTeam", "HomeTeam")
  val ShotChartSet = "Shot_Chart_Detail"

  private def without(s: StructType, drop: String*): StructType =
    StructType(s.fields.filterNot(f => drop.contains(f.name)))

  /** Decode-time raw shapes: the enrichment stages (`Etl`, `Stints`) add
    * id/SEASON/SEASON_TYPE, so the raw tables are the declared schemas
    * minus those stamps. */
  val playByPlayRaw: StructType = without(Schemas.playByPlay, "id", "SEASON", "SEASON_TYPE")
  val rotationsRaw: StructType = Schemas.gameRotation
  val teamGameLogRaw: StructType = without(Schemas.teamGameLog, "id", "SEASON", "SEASON_TYPE")

  /** Minimal declared shot-chart shape (reference consumes GAME_ID /
    * GAME_EVENT_ID / PLAYER_ID / TEAM_ID plus the measure columns,
    * shot_details.py:19-23); SEASON/SEASON_TYPE are stamped from the fetch
    * scope like the reference stamps its request args (:15-18). */
  val shotDetailsRaw: StructType = StructType(Seq(
    StructField("GAME_ID", StringType, nullable = false),
    StructField("GAME_EVENT_ID", LongType, nullable = false),
    StructField("PLAYER_ID", LongType, nullable = false),
    StructField("TEAM_ID", LongType, nullable = false),
    StructField("SHOT_MADE_FLAG", IntegerType),
    StructField("SHOT_TYPE", StringType)))

  /** Game ids in scope: `--game-id` verbatim, else the distinct GAME_IDs of
    * one season game-log fetch. The driving request is a SINGLE fetch, so
    * it runs on the driver (like RestDecoder's header probe) — routing it
    * through the distributed fan-out would re-issue the HTTP request once
    * per consuming action (the header probe + the fan-out materialization),
    * and a fetch failure would surface as a misleading "result set absent"
    * instead of the transport error, which this way propagates with its
    * cause. The RESULT decodes distributed, and the ids map straight into
    * request rows without collecting. */
  def gameIds(transport: Fetcher.Transport, args: PipelineArgs.Args)(
      implicit spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    args.gameId match {
      case Some(g) => Seq(g).toDS()
      case None =>
        val body = Fetcher.fetch(transport, Endpoints.teamsGameLog(
          seasonType = args.seasonType.get, season = args.season.get))
        val log = RestDecoder.resultSet(
          RestDecoder.parse(Seq(body).toDS()), LeagueGameLogSet)
        log.select(col("GAME_ID")).distinct().as[String]
    }
  }

  /** In a `--delta` run, the keys not yet published in `<output>/<table>`
    * (the same anti-join IngestMain applies to the landed rows), so a
    * delta fetches only unseen games or combos, as the reference's delta
    * mode filters before it fetches. */
  private def unseen(keys: DataFrame, table: String, args: PipelineArgs.Args)(
      implicit spark: SparkSession): DataFrame = {
    val outDir = s"${args.output}/$table"
    if (args.delta) Warehouse.recover(spark, outDir)
    Publish.deltaOnly(keys, args.delta, outDir, keys.columns.toSeq)
  }

  /** Whether a `--delta` landing of `table` holds only unpublished keys:
    * [[requestsFor]] drops the published games (or combos) before it
    * fetches, and a response carries only the keys it was asked for. The
    * season-granular team_game_log request cannot be narrowed that way, so
    * its landed rows still need the delta anti-join. */
  def landsUnseenOnly(table: String): Boolean = table != "team_game_log"

  /** Requests for one table over the in-scope games (or combos); in a
    * `--delta` run only over those not yet published. */
  def requestsFor(table: String, args: PipelineArgs.Args,
      transport: Fetcher.Transport)(
      implicit spark: SparkSession): Dataset[Endpoints.Request] = {
    import spark.implicits._
    def games = unseen(gameIds(transport, args).toDF("GAME_ID"), table, args).as[String]
    table match {
      case "play_by_play" => games.map(Endpoints.playByPlay(_))
      case "rotations" => games.map(Endpoints.gameRotation(_))
      case "team_game_log" =>
        // season-granular endpoint: one request covers the whole scope
        // (game-id mode still fetches the season and lets Publish.scope cut)
        val (season, seasonType) = seasonScope(args)
        Seq(Endpoints.teamsGameLog(seasonType = seasonType, season = season)).toDS()
      case "shot_details" =>
        val (season, seasonType) = seasonScope(args)
        // heal-before-read: a crashed rotations publish may have stranded
        // partitions in the .old sibling — the combo enumeration must see
        // them (Warehouse.recover's own invariant)
        Warehouse.recover(spark, s"${args.output}/rotations")
        val rot = Warehouse.readTable(spark, s"${args.output}/rotations")
        val combos = rot.filter(col("SEASON") === season && col("SEASON_TYPE") === seasonType)
          .select(col("PLAYER_ID"), col("TEAM_ID"), col("SEASON"), col("SEASON_TYPE")).distinct()
        unseen(combos, table, args).select(col("PLAYER_ID"), col("TEAM_ID"))
          .as[(Long, Long)]
          .map { case (p, t) =>
            Endpoints.shotChartDetail(p, t, season = season, seasonType = seasonType)
          }
      case other => throw new IllegalArgumentException(s"no fetch front for table $other")
    }
  }

  private def seasonScope(args: PipelineArgs.Args): (String, String) =
    args.gameId match {
      case Some(g) =>
        import graft.functions.GameIds
        val st = GameIds.seasonTypeOfId(g)
        // a null season type (All-Star '3', play-in '5', ...) would turn
        // the combo filter into `col === null` — never true — and surface
        // as a baffling empty-result-set error far downstream
        require(st != null,
          s"game id $g has an unsupported season-type code ('${g.charAt(2)}'); " +
            "pass --season/--season-type explicitly")
        (GameIds.seasonOfId(g), st)
      case None => (args.season.get, args.seasonType.get)
    }

  /** Fetch + decode + land `<input>/<table>_raw` (plus a
    * `<table>_fetch_errors` quarantine — T4: a dead game id costs one error
    * row, not the run, reference rotations.py:136-137). Returns the landed
    * raw frame. */
  def landRaw(table: String, args: PipelineArgs.Args,
      transport: Fetcher.Transport)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // persist: the landing has several consumers (the header probe, the
    // quarantine write, the raw write) — without staging the
    // fetch results, each action would RE-ISSUE every HTTP request
    val fetched = FetchAll.fetchRaw(requestsFor(table, args, transport), transport)
      .persist()
    try {
    // land the quarantine FIRST: decoding probes the result-set headers
    // eagerly, and a run whose every fetch failed dies there — the
    // per-request error rows must already be on disk when it does, or the
    // T4 contract ("a dead game id costs one error row") loses the errors
    // exactly when they matter most
    landErrors(fetched, s"${args.input}/${table}_fetch_errors")
    val parsed = RestDecoder.parse(fetched.flatMap(_.body))
    val (sets, shape) = table match {
      case "play_by_play" => (Seq(PlayByPlaySet), playByPlayRaw)
      case "rotations" => (RotationSets, rotationsRaw)
      case "team_game_log" => (Seq(LeagueGameLogSet), teamGameLogRaw)
      case "shot_details" => (Seq(ShotChartSet), shotDetailsRaw)
    }
    // one probe answers every set's headers; a delta run with nothing new
    // fans out zero requests — land the empty table instead of dying on it
    val decoded = RestDecoder.headers(parsed, fetched.toDF()) match {
      case None => emptyOf(shape)
      case Some(headers) =>
        sets.map(s => RestDecoder.cast(RestDecoder.resultSet(parsed, s, headers, Nil), shape))
          .reduce(_.unionByName(_))
    }
    val raw =
      if (table != "shot_details") decoded
      else {
        val (season, seasonType) = seasonScope(args)
        decoded.withColumn("SEASON", lit(season)).withColumn("SEASON_TYPE", lit(seasonType))
      }
    Warehouse.replaceDir(raw, s"${args.input}/${table}_raw")
    Warehouse.readTable(spark, s"${args.input}/${table}_raw")
    } finally {
      fetched.unpersist()
      ()
    }
  }

  /** Result-set name + landed shape of the period-sliced box score
    * (reference players_on_court_at_start_of_period.py:42-58). */
  val BoxPlayerSet = "PlayerStats"
  val BoxTable = "box_score_per_period"
  val boxRaw: StructType = StructType(Seq(
    StructField("GAME_ID", StringType, nullable = false),
    StructField("PERIOD", IntegerType, nullable = false),
    StructField("PLAYER_ID", LongType, nullable = false),
    StructField("TEAM_ID", LongType, nullable = false),
    StructField("MIN", StringType)))

  /** Land `box_score_per_period` for the given (GAME_ID, PERIOD) pairs:
    * one period-sliced traditional box fetch per pair, PERIOD stamped from
    * the request params via the TAGGED decode — the response rows carry
    * the game but not the slice that produced them. The starters ETL's
    * fetch half (reference players_on_court_at_start_of_period.py:42-58,
    * fetched per game inside the loop; here one distributed fan-out). */
  def landBoxScores(gamePeriods: DataFrame, args: PipelineArgs.Args,
      transport: Fetcher.Transport)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val requests = gamePeriods
      .select(col("GAME_ID"), col("PERIOD")).distinct()
      .as[(String, Int)]
      .map { case (g, p) => Endpoints.boxScoreForPeriod(g, p) }
    val fetched = FetchAll.fetchRaw(requests, transport).persist()
    try {
      landErrors(fetched, s"${args.input}/${BoxTable}_fetch_errors")
      val tagged = fetched
        .flatMap(f => f.body.map(b => (f.params.toMap, b)))
        .toDF("params", "body")
      // a delta run with nothing new fans out zero requests — land the
      // empty table instead of dying on the header probe
      val parsed = RestDecoder.parseTagged(tagged)
      val raw = RestDecoder.headers(parsed, tagged) match {
        case None => emptyOf(boxRaw)
        case Some(headers) =>
          RestDecoder.resultSet(parsed, BoxPlayerSet, headers, keep = Seq("params"))
            .select(
              col("GAME_ID").cast("string").as("GAME_ID"),
              element_at(col("params"), "startPeriod").cast("int").as("PERIOD"),
              col("PLAYER_ID").cast("long").as("PLAYER_ID"),
              col("TEAM_ID").cast("long").as("TEAM_ID"),
              col("MIN").cast("string").as("MIN"))
      }
      // MERGE with whatever is already landed: this run's slices replace
      // their (game, period) pairs, every other pair is kept — a delta run
      // fetching 5 new games (or an outage where every fetch failed and
      // `raw` is empty) must not destroy the 1000 games a previous run
      // landed, because transport-less StartersMain reruns read this table
      // as their primary path
      val dir = s"${args.input}/$BoxTable"
      Warehouse.recover(spark, dir)
      val merged = Warehouse.readTableIfPresent(spark, dir) match {
        case Some(existing) =>
          val keys = raw.select(col("GAME_ID"), col("PERIOD")).distinct()
          existing.join(keys, Seq("GAME_ID", "PERIOD"), "left_anti").unionByName(raw)
        case None => raw
      }
      Warehouse.replaceDir(merged, dir)
      Warehouse.readTable(spark, dir)
    } finally {
      fetched.unpersist()
      ()
    }
  }

  private def emptyOf(shape: StructType)(implicit spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shape)

  private def landErrors(fetched: org.apache.spark.sql.Dataset[FetchAll.Fetched],
      dir: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val errors = FetchAll.failures(fetched)
      .map(f => (f.path, f.params.map { case (k, v) => s"$k=$v" }.mkString("&"),
        f.error.getOrElse("")))
      .toDF("path", "params", "error")
    Warehouse.replaceDir(errors, dir)
  }
}
