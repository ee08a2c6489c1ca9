package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.nba.{Fetch, IngestMain, PipelineArgs, PipelineMain, Publish, StartersMain}
import graft.sources.Warehouse
import League.Game

/** The reference's own job over a seeded league.
  *
  * Set-up only generates the league and opens its fake stats API. The timed
  * pass is one season night, the whole chain (fetch, ingest, starters with
  * box-score fetch, lineups) for a scope the warehouse does not hold yet, in
  * a JVM that has not run it before, as a nightly batch job runs; then
  * `size.nights` delta nights, in each of which new games appear in the game
  * log and every step runs again with `--delta`. */
final class NbaWorkload(spark: SparkSession, seed: Long, work: String, size: NbaWorkload.Size,
    trace: Trace) extends Workload {
  import NbaWorkload._

  type State = NbaWorkload.State

  private val key = s"nba-$seed"
  private val firstNight = size.games - size.delta * size.nights

  def setup(): State = {
    Run.clearCaches(spark)
    League.close(key)
    val dir = Run.freshDir(s"$work/nba")
    val bad = Set(1 + new Random(seed).nextInt(firstNight))
    val games = League.scopeGames(Season, size.games, size.events, seed, bad, OffBoundaryShare)
    val (api, st) = League.open(key, seed, FailShare)
    st.publish(Season, games.take(firstNight))
    State(dir, api, st, games)
  }

  /** The reference chain for one scope: ingest with fetch, starters with
    * box-score fetch, lineups. In the timed pass each public call is one
    * operation of `run`; in set-up a failed call fails the run. */
  private def chain(s: State, scope: League.Scope, delta: Boolean, run: Option[Run]): Unit = {
    def op(name: String)(body: => Any): Unit = run match {
      case Some(r) => r.op(name)(body); ()
      case None => body; ()
    }
    val in = s"${s.dir}/in"; val wh = s"${s.dir}/warehouse"; val out = s"${s.dir}/final"
    def args(input: String, output: String, table: Option[String] = None) =
      PipelineArgs.Args(season = Some(scope.season), seasonType = Some(scope.seasonType),
        delta = delta, input = input, output = output, table = table)
    Seq("rotations", "play_by_play", "team_game_log").foreach { t =>
      val a = args(in, wh, Some(t))
      op(s"Fetch.landRaw($t)")(trace.span("fetch")(Fetch.landRaw(t, a, s.api)(spark)))
      op(s"IngestMain.runWith($t)")(trace.span("ingest")(IngestMain.runWith(spark, a)))
    }
    val sa = args(wh, wh)
    op("Fetch.landBoxScores")(trace.span("fetch") {
      // the (game, period) pairs StartersMain derives starters for
      val outDir = s"$wh/${StartersMain.TableName}"
      Warehouse.recover(spark, outDir)
      val pbp = Publish.deltaOnly(Publish.scope(spark.read.parquet(s"$wh/play_by_play"), sa),
        delta, outDir, Seq("GAME_ID"))(spark)
      Fetch.landBoxScores(pbp.select(col("GAME_ID"), col("PERIOD")), sa, s.api)(spark)
    })
    op("StartersMain.runWith")(trace.span("starters")(StartersMain.runWith(spark, sa)))
    op("PipelineMain.runWith")(trace.span("lineups")(PipelineMain.runWith(spark, args(wh, out))))
  }

  /** The season night is the pass's `publish` step, each delta night an
    * `update` step; `update_s` is the median over the delta nights. */
  def pass(s: State, run: Run): Unit = {
    def night(name: String, step: String)(body: => Unit): Double = {
      val before = if (trace.enabled) Run.files(s.dir) else Map.empty[String, (Long, Long)]
      val (a0, f0) = (s.st.attempts.get, s.st.failures.get)
      val (_, secs) = run.step(name)(body)
      if (trace.enabled) {
        val per = if (step == "update") size.nights else 1
        val (n, bytes) = Run.written(before, Run.files(s.dir))
        run.add(s"$step.files_written", n.toDouble / per, "count")
        run.add(s"$step.bytes_written", bytes.toDouble / per, "bytes")
        val attempts = s.st.attempts.get - a0
        val requests = attempts - (s.st.failures.get - f0)
        run.add(s"$name.fetch_requests", requests.toDouble / per, "count")
        if (name == "nba.season")
          run.add(s"$name.fetch_attempts_per_request", attempts.toDouble / requests, "ratio")
      }
      secs
    }
    val out = s"${s.dir}/final"

    run.sample("publish_s", night("nba.season", "publish")(chain(s, Season, delta = false, Some(run))))
    if (trace.enabled) {
      run.add("nba.season.rows_published",
        spark.read.parquet(s"$out/play_by_play_with_players").count(), "rows")
      run.add("nba.season.games_quarantined",
        spark.read.parquet(s"$out/lineup_errors").count(), "count")
    }
    // each following night the game log shows new games; a delta run adds them
    val nights = (1 to size.nights).map { k =>
      s.st.publish(Season, s.games.take(firstNight + k * size.delta))
      val secs = night("nba.delta", "update")(chain(s, Season, delta = true, Some(run)))
      run.sample("nba.delta_s", secs)
      secs
    }
    run.sample("update_s", Run.median(nights))

    checkPublished(run, "after the delta nights", s"${s.dir}/warehouse", out, s.games)
  }

  override def finish(run: Run): Unit = if (run.trace.enabled) {
    Main.addSpanCounters(run, "publish", run.trace.counters("nba.season"))
    Main.addSpanCounters(run, "update", run.trace.counters("nba.delta"), per = size.nights)
    Seq("ingest", "starters", "lineups").foreach { p =>
      run.add(s"nba.season.${p}_s", run.trace.wall(s"nba.season/$p"), "s")
    }
    run.add("nba.season.fetch_s", run.trace.wall("nba.season/fetch"), "s")
    run.add("nba.delta.fetch_s", run.trace.wall("nba.delta/fetch") / size.nights, "s")
  }

  /** Compare the published tables with the league's ground truth. */
  private def checkPublished(run: Run, night: String, wh: String, out: String,
      games: Seq[Game]): Unit = {
    val lineups = spark.read.parquet(s"$out/play_by_play_with_players")
      .select(Seq("id", "GAME_ID", "EVENTNUM", "TEAM1_ID", "TEAM2_ID", "EVENTMSGTYPE").map(col) ++
        (1 to 5).map(i => col(s"TEAM1_PLAYER$i")) ++ (1 to 5).map(i => col(s"TEAM2_PLAYER$i")): _*)
      .collect().map { r =>
        LineupRow(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getInt(5), (6 until 11).map(r.getLong), (11 until 16).map(r.getLong))
      }.toSeq
    val starters = spark.read.parquet(s"$wh/${StartersMain.TableName}")
      .select("GAME_ID", "PERIOD", "TEAM_ID", "PLAYER_ID").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val errors = spark.read.parquet(s"$out/lineup_errors").select("GAME_ID").collect()
      .map(_.getString(0)).toSeq
    run.checkAll(NbaWorkload.check(lineups, starters, errors, games).map(p => s"$night: $p"))
  }
}

object NbaWorkload {
  final case class State(dir: String, api: League.Api, st: League.State, games: Vector[Game])
  /** `games` in the scope, of which the last `delta * nights` appear
    * `delta` a night in the delta nights. */
  final case class Size(games: Int, events: Int, delta: Int, nights: Int)

  val Season = League.Scope("00224", "2024-25", "Regular Season")
  val OffBoundaryShare = 0.25
  val FailShare = 0.02

  final case class LineupRow(id: String, game: String, event: Long, team1: Long, team2: Long,
      msgType: Int, players1: Seq[Long], players2: Seq[Long])

  /** Every published event carries the true lineups, every good game is
    * published whole, every period's starters are the true ones, and the
    * quarantine holds exactly the bad games, one row each. */
  def check(lineups: Seq[LineupRow], starters: Seq[(String, Int, Long, Long)],
      errors: Seq[String], games: Seq[Game]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val truth = games.filterNot(_.bad).flatMap(g => g.events.map(e => (g.id, e.num) -> (g, e))).toMap
    val seen = lineups.map(r => (r.game, r.event))
    if (seen.distinct.size != seen.size || lineups.map(_.id).distinct.size != lineups.size)
      problems += "published event ids are not unique"
    val missing = truth.keySet -- seen
    val extra = seen.toSet -- truth.keySet
    if (missing.nonEmpty) problems += s"${missing.size} events of good games not published, e.g. ${missing.head}"
    if (extra.nonEmpty) problems += s"${extra.size} published events not expected, e.g. ${extra.head}"
    val wrong = lineups.filter { r =>
      truth.get((r.game, r.event)).exists { case (g, e) =>
        r.team1 != g.away || r.team2 != g.home || r.msgType != e.msgType ||
          r.players1 != e.lineup1 || r.players2 != e.lineup2
      }
    }
    if (wrong.nonEmpty) {
      val r = wrong.head
      problems += s"${wrong.size} events with wrong lineups or types, e.g. ${r.game}-${r.event}: " +
        s"${r.players1.mkString(",")} / ${r.players2.mkString(",")}"
    }
    val trueStarters = games.flatMap(g => g.starters.toSeq.flatMap { case ((p, t), ps) =>
      ps.map(pl => (g.id, p, t, pl)) }).toSet
    if (starters.toSet != trueStarters || starters.size != trueStarters.size)
      problems += s"starters differ from the truth: ${(starters.toSet -- trueStarters).size} wrong, " +
        s"${(trueStarters -- starters.toSet).size} missing"
    val bad = games.filter(_.bad).map(_.id).sorted
    if (errors.sorted != bad)
      problems += s"quarantine holds ${errors.sorted.mkString(",")}, expected ${bad.mkString(",")}"
    problems.result()
  }
}
