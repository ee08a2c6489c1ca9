package graft.nba

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The ingest entry point end-to-end per table: enrichment, idempotent
  * rerun, delta semantics (reference etl/{play_by_play,rotations,
  * team_game_log,shot_details}.py). */
class IngestMainSpec extends SparkSpec {
  import spark.implicits._

  import IngestMainSpec.FakeStatsApi

  private val G = "0022400001"

  private def args(input: String, output: String, table: String, delta: Boolean = false) =
    PipelineArgs.Args(season = Some("2024-25"), seasonType = Some("Regular Season"),
      delta = delta, input = input, output = output, table = Some(table))

  test("play_by_play: stamps, dedups, publishes idempotently; delta appends nothing known") {
    val root = Files.createTempDirectory("graft_ing").toString
    // one duplicated event row (the reference full-row-dedups, :33)
    Seq((G, 1L, 1, "make"), (G, 1L, 1, "make"), (G, 2L, 8, "sub"))
      .toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "DESC")
      .write.parquet(s"$root/in/play_by_play_raw")
    val a = args(s"$root/in", s"$root/out", "play_by_play")
    IngestMain.runWith(spark, a)
    val out = spark.read.parquet(s"$root/out/play_by_play")
    assert(out.count() == 2)
    assert(out.select("id").as[String].collect().toSet == Set(s"$G-1", s"$G-2"))
    assert(out.select("SEASON").distinct().as[String].head() == "2024-25")
    IngestMain.runWith(spark, a) // full rerun replaces
    assert(spark.read.parquet(s"$root/out/play_by_play").count() == 2)
    IngestMain.runWith(spark, a.copy(delta = true)) // delta: game already present
    assert(spark.read.parquet(s"$root/out/play_by_play").count() == 2)
  }

  test("rotations: aggregates raw stint rows into sorted STINTS per player") {
    val root = Files.createTempDirectory("graft_ing").toString
    Seq(
      (G, 100L, "Hornets", 7L, "A", "B", 8510.0, 9000.0),
      (G, 100L, "Hornets", 7L, "A", "B", 0.0, 5720.0),
      (G, 100L, "Hornets", 8L, "C", "D", 0.0, 28800.0))
      .toDF("GAME_ID", "TEAM_ID", "TEAM_NAME", "PERSON_ID",
        "PLAYER_FIRST", "PLAYER_LAST", "IN_TIME_REAL", "OUT_TIME_REAL")
      .write.parquet(s"$root/in/rotations_raw")
    IngestMain.runWith(spark, args(s"$root/in", s"$root/out", "rotations"))
    val out = spark.read.parquet(s"$root/out/rotations")
    assert(out.count() == 2)
    val p7 = out.filter(col("PLAYER_ID") === 7L)
      .select(col("STINTS").cast("array<struct<IN_TIME_REAL:double,OUT_TIME_REAL:double>>"))
      .as[Seq[(Double, Double)]].head()
    assert(p7 == Seq((0.0, 5720.0), (8510.0, 9000.0)), "stints must sort ascending")
  }

  test("team_game_log: id on (GAME_ID, TEAM_ID), season derived from the game id") {
    val root = Files.createTempDirectory("graft_ing").toString
    Seq((G, 100L, "CHA vs CLE"), (G, 200L, "CLE @ CHA"))
      .toDF("GAME_ID", "TEAM_ID", "MATCHUP")
      .write.parquet(s"$root/in/team_game_log_raw")
    IngestMain.runWith(spark, args(s"$root/in", s"$root/out", "team_game_log"))
    val out = spark.read.parquet(s"$root/out/team_game_log")
    assert(out.select("id").as[String].collect().toSet == Set(s"$G-100", s"$G-200"))
    assert(out.select("SEASON_TYPE").distinct().as[String].head() == "Regular Season")
  }

  test("raw-less ingest: the fetch front enumerates games, fans out, lands raw, publishes") {
    val root = Files.createTempDirectory("graft_ing").toString
    val a = args(s"$root/in", s"$root/out", "rotations")
    // no rotations_raw on disk — the transport IS the source of truth
    IngestMain.runWith(spark, a, Some(FakeStatsApi))
    val out = spark.read.parquet(s"$root/out/rotations")
    assert(out.select("GAME_ID").distinct().as[String].collect().toSet ==
      Set("0022400001", "0022400002"))
    // both teams' players, stints aggregated (two raw rows for player 201)
    val p201 = out.filter(col("PLAYER_ID") === 201L)
      .select(col("STINTS").cast("array<struct<IN_TIME_REAL:double,OUT_TIME_REAL:double>>"))
      .as[Seq[(Double, Double)]].collect()
    assert(p201.forall(_ == Seq((0.0, 5720.0), (8510.0, 9000.0))))
    // the raw table was landed under --input, typed per the declared schema
    val raw = spark.read.parquet(s"$root/in/rotations_raw")
    assert(raw.schema("PERSON_ID").dataType.typeName == "long")
    assert(raw.count() == 8) // (2 + 1 + 1) stint rows x 2 games
    assert(spark.read.parquet(s"$root/in/rotations_fetch_errors").count() == 0)
  }

  test("a run whose every fetch dies still lands the quarantine before failing") {
    val root = Files.createTempDirectory("graft_ing").toString
    val a = PipelineArgs.Args(gameId = Some(G), input = s"$root/in",
      output = s"$root/out", table = Some("rotations"))
    intercept[Exception] {
      IngestMain.runWith(spark, a, Some(IngestMainSpec.DeadApi))
    }
    // the per-request errors must already be on disk when the decode dies
    val errs = spark.read.parquet(s"$root/in/rotations_fetch_errors")
    assert(errs.count() == 1)
    assert(errs.select("error").as[String].head().contains("attempts"))
  }

  test("shot_details fetch front: combos come from the published rotations table") {
    val root = Files.createTempDirectory("graft_ing").toString
    val rot = args(s"$root/in", s"$root/out", "rotations")
    IngestMain.runWith(spark, rot, Some(FakeStatsApi)) // publish rotations first
    val a = args(s"$root/in", s"$root/out", "shot_details")
    IngestMain.runWith(spark, a, Some(FakeStatsApi))
    val out = spark.read.parquet(s"$root/out/shot_details")
    // one shot row per fetched (player, team) combo in the fake
    assert(out.select("PLAYER_ID").as[Long].collect().toSet == Set(101L, 201L, 202L))
    assert(out.select("SEASON").distinct().as[String].head() == "2024-25")
    assert(out.select("id").as[String].collect()
      .forall(_.matches("\\d+-00224000\\d\\d-\\d+")))
  }

  test("shot_details: combo-keyed delta fetch unit, event-keyed ids") {
    val root = Files.createTempDirectory("graft_ing").toString
    def rawRows(rows: Seq[(Long, Long, String, Long)]) = rows
      .map { case (p, t, g, ev) => (p, t, g, ev, "2024-25", "Regular Season") }
      .toDF("PLAYER_ID", "TEAM_ID", "GAME_ID", "GAME_EVENT_ID", "SEASON", "SEASON_TYPE")
    rawRows(Seq((7L, 100L, G, 10L), (7L, 100L, G, 11L)))
      .write.parquet(s"$root/in/shot_details_raw")
    val a = args(s"$root/in", s"$root/out", "shot_details")
    IngestMain.runWith(spark, a)
    val out1 = spark.read.parquet(s"$root/out/shot_details")
    assert(out1.select("id").as[String].collect().toSet == Set(s"7-$G-10", s"7-$G-11"))
    // land one more combo; delta processes only the unseen (player, team) combo
    rawRows(Seq((7L, 100L, G, 10L), (7L, 100L, G, 11L), (8L, 100L, G, 12L)))
      .write.mode("overwrite").parquet(s"$root/in/shot_details_raw")
    IngestMain.runWith(spark, a.copy(delta = true))
    val out2 = spark.read.parquet(s"$root/out/shot_details")
    assert(out2.select("id").as[String].collect().toSet ==
      Set(s"7-$G-10", s"7-$G-11", s"8-$G-12"))
  }

  test("a delta run fetches only games not yet published; a delta with nothing new fetches none") {
    import IngestMainSpec.CountingApi
    val root = Files.createTempDirectory("graft_ing").toString
    val tables = Seq("play_by_play", "rotations")
    val (g1, g2, g3) = ("0022400011", "0022400012", "0022400013")
    def run(delta: Boolean): Map[String, Int] = {
      CountingApi.requests.clear()
      tables.foreach(t => IngestMain.runWith(spark, args(s"$root/in", s"$root/out", t, delta),
        Some(CountingApi)))
      CountingApi.requests.asScala.map { case (k, v) => k -> v.get }.toMap
    }
    def published(t: String) = spark.read.parquet(s"$root/out/$t")
    CountingApi.shown = Seq(g1, g2)
    run(delta = false)
    CountingApi.shown = Seq(g1, g2, g3)
    val first = run(delta = true)
    assert(first.getOrElse("playbyplayv2", 0) == 1)
    assert(first.getOrElse("gamerotation", 0) == 1)
    tables.foreach(t => assert(published(t).select("GAME_ID").distinct()
      .as[String].collect().toSet == Set(g1, g2, g3)))
    val counts = tables.map(t => published(t).count())
    val second = run(delta = true)
    assert(second.getOrElse("playbyplayv2", 0) == 0)
    assert(second.getOrElse("gamerotation", 0) == 0)
    assert(tables.map(t => published(t).count()) == counts)
    assert(spark.read.parquet(s"$root/in/play_by_play_raw").isEmpty)
  }

  test("a fetched delta appends without reading the published table again") {
    import IngestMainSpec.CountingApi
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
    val root = Files.createTempDirectory("graft_ing").toString
    val a = args(s"$root/in", s"$root/out", "play_by_play")
    val target = new org.apache.hadoop.fs.Path(s"$root/out/play_by_play").toUri.getPath
    CountingApi.shown = Seq("0022400021", "0022400022")
    IngestMain.runWith(spark, a, Some(CountingApi))
    // the paths each write into the target scanned
    val scans = new java.util.concurrent.LinkedBlockingQueue[Seq[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.collectFirst {
          case w: InsertIntoHadoopFsRelationCommand if w.outputPath.toUri.getPath == target =>
            w.query.collect { case l: LogicalRelation => l.relation }
              .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath) }
              .flatten
        }.foreach(scans.put)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      CountingApi.shown = Seq("0022400021", "0022400022", "0022400023")
      IngestMain.runWith(spark, a.copy(delta = true), Some(CountingApi))
      val scanned = scans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(scanned != null, "no write into the target was observed")
      assert(!scanned.exists(_.startsWith(target)),
        s"the delta append re-read the published table: $scanned")
    } finally spark.listenerManager.unregister(listener)
    val published = spark.read.parquet(s"$root/out/play_by_play")
    assert(published.select("GAME_ID").distinct().as[String].collect().toSet ==
      Set("0022400021", "0022400022", "0022400023"))
    assert(published.count() == 6)
    // the season-granular game log lands every game again: its delta
    // still drops the published ones
    val log = args(s"$root/in", s"$root/out", "team_game_log")
    IngestMain.runWith(spark, log, Some(FakeStatsApi))
    IngestMain.runWith(spark, log.copy(delta = true), Some(FakeStatsApi))
    assert(spark.read.parquet(s"$root/out/team_game_log").count() == 4)
  }
}

object IngestMainSpec {

  /** A stats API whose game log shows `shown` and which counts the requests
    * it serves per endpoint (one JVM in local mode, so the fan-out tasks
    * count into the same map). */
  object CountingApi extends graft.sources.Fetcher.Transport {
    @volatile var shown: Seq[String] = Nil
    val requests = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    private def rs(name: String, headers: Seq[String], rows: Seq[Seq[String]]): String = {
      val h = headers.map("\"" + _ + "\"").mkString("[", ",", "]")
      val r = rows.map(_.map("\"" + _ + "\"").mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"resultSets":[{"name":"$name","headers":$h,"rowSet":$r}]}"""
    }
    def get(r: graft.sources.Endpoints.Request): String = {
      requests.computeIfAbsent(r.path, _ => new java.util.concurrent.atomic.AtomicInteger())
        .incrementAndGet()
      r.path match {
        case "leaguegamelog" =>
          rs("LeagueGameLog", Seq("GAME_ID", "TEAM_ID", "MATCHUP"),
            shown.flatMap(g => Seq(Seq(g, "100", "AWY @ HOM"), Seq(g, "200", "HOM vs. AWY"))))
        case "playbyplayv2" =>
          val g = r.param("gameId").get
          val hdr = Fetch.playByPlayRaw.fieldNames.toSeq
          def event(n: Int) = hdr.map {
            case "GAME_ID" => g
            case "EVENTNUM" => n.toString
            case "PCTIMESTRING" => "12:00"
            case h if h.endsWith("DESCRIPTION") => "d"
            case _ => "1"
          }
          rs("PlayByPlay", hdr, Seq(event(1), event(2)))
        case "gamerotation" =>
          val g = r.param("GameID").get
          FakeStatsApi.get(r).replace("0022400001", g).replace("0022400002", g)
        case other => throw new RuntimeException(s"unexpected endpoint $other")
      }
    }
  }

  /** A deterministic stats API: two games, away team 100 (player 201 with
    * two stints, player 202), home team 200 (player 101). Lives in the
    * companion so fan-out closures serialize it without dragging the
    * (non-serializable) suite instance along. */
  object FakeStatsApi extends graft.sources.Fetcher.Transport {
    private def rs(name: String, headers: Seq[String], rows: Seq[Seq[String]]): String = {
      val h = headers.map("\"" + _ + "\"").mkString("[", ",", "]")
      val r = rows.map(_.map("\"" + _ + "\"").mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"name":"$name","headers":$h,"rowSet":$r}"""
    }
    private val games = Seq("0022400001", "0022400002")
    def get(r: graft.sources.Endpoints.Request): String = r.path match {
      case "leaguegamelog" =>
        val rows = games.flatMap(g => Seq(
          Seq(g, "100", "AWY", "2024-11-01", "AWY @ HOM", "W", "101.0"),
          Seq(g, "200", "HOM", "2024-11-01", "HOM vs. AWY", "L", "99.0")))
        s"""{"resultSets":[${rs("LeagueGameLog",
          Seq("GAME_ID", "TEAM_ID", "TEAM_ABBREVIATION", "GAME_DATE", "MATCHUP", "WL", "PTS"), rows)}]}"""
      case "gamerotation" =>
        val g = r.param("GameID").get
        val hdr = Seq("GAME_ID", "TEAM_ID", "TEAM_CITY", "TEAM_NAME", "PERSON_ID",
          "PLAYER_FIRST", "PLAYER_LAST", "IN_TIME_REAL", "OUT_TIME_REAL",
          "PLAYER_PTS", "PT_DIFF", "USG_PCT")
        def row(team: String, pid: String, in: String, out: String) =
          Seq(g, team, "City", "Team" + team, pid, "F" + pid, "L" + pid, in, out, "10.0", "2.0", "0.2")
        val away = rs("AwayTeam", hdr, Seq(
          row("100", "201", "0.0", "5720.0"), row("100", "201", "8510.0", "9000.0"),
          row("100", "202", "0.0", "28800.0")))
        val home = rs("HomeTeam", hdr, Seq(row("200", "101", "0.0", "28800.0")))
        s"""{"resultSets":[$away,$home]}"""
      case "shotchartdetail" =>
        val pid = r.param("playerId").get
        val tid = r.param("teamId").get
        s"""{"resultSets":[${rs("Shot_Chart_Detail",
          Seq("GAME_ID", "GAME_EVENT_ID", "PLAYER_ID", "TEAM_ID", "SHOT_MADE_FLAG", "SHOT_TYPE"),
          Seq(Seq("0022400001", pid + "0", pid, tid, "1", "2PT Field Goal")))}]}"""
      case other => throw new RuntimeException(s"unexpected endpoint $other")
    }
  }

  /** Every request fails terminally — the all-dead-fetch scenario. */
  object DeadApi extends graft.sources.Fetcher.Transport {
    def get(r: graft.sources.Endpoints.Request): String =
      throw new RuntimeException("connection refused")
  }
}
