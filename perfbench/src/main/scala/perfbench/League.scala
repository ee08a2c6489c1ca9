package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random

import graft.sources.{Endpoints, Fetcher}

/** A seeded synthetic league and the ground truth of every game.
  *
  * Each game is simulated event by event: both teams' five players on the
  * floor are known at every moment, so the lineups of every event and the
  * starters of every period are known before the program sees the data.
  * The stats API serves what a real one would: play-by-play, rotations
  * (stints in tenths of a second), per-period box scores and the team game
  * log. A seeded share of period boundaries carries rotation times that
  * miss the boundary by half a second, as real rotation feeds do; the
  * lineup tracker then has to fall back to the period-starters table, so
  * the starters the program derives decide those lineups. */
object League {

  final case class Scope(prefix: String, season: String, seasonType: String)

  /** One play-by-play event with both lineups after it (ground truth). */
  final case class Event(num: Long, msgType: Int, action: Int, period: Int,
      clock: String, p1: Option[Long], t1: Option[Long],
      p2: Option[Long], t2: Option[Long], lineup1: Seq[Long], lineup2: Seq[Long])

  final case class Stint(team: Long, player: Long, in: Double, out: Double)

  final case class Game(id: String, date: String, away: Long, home: Long,
      events: Vector[Event], stints: Vector[Stint],
      // (period, team) -> players who started it
      starters: Map[(Int, Long), Seq[Long]],
      // period -> (team, player) who played in it
      played: Map[Int, Seq[(Long, Long)]],
      awayPts: Int, homePts: Int, bad: Boolean)

  val Teams: Vector[Long] = Vector.tabulate(30)(i => 1610612737L + i)
  def roster(team: Long): Vector[Long] =
    Vector.tabulate(13)(k => 200000L + (team - 1610612737L) * 100 + k)
  def abbrev(team: Long): String = f"T${team - 1610612737L}%02d"

  /** Ids that never play: the outgoing and incoming player of the corrupt
    * substitution that marks a bad game. */
  val GhostOut = 999999L
  val GhostIn = 999998L

  private def clock(secLeft: Int): String = f"${secLeft / 60}%d:${secLeft % 60}%02d"

  /** Simulate one game from its own seed. `events` is the target number of
    * non-bookkeeping events. */
  def game(id: String, date: String, away: Long, home: Long, events: Int,
      seed: Long, bad: Boolean, offBoundaryShare: Double): Game = {
    val rnd = new Random(seed)
    val rosters = Map(away -> roster(away), home -> roster(home))
    val on = mutable.Map(away -> mutable.ArrayBuffer.empty[Long],
      home -> mutable.ArrayBuffer.empty[Long])
    val since = mutable.Map.empty[Long, Double] // player -> stint start (tenths)
    val stints = mutable.ArrayBuffer.empty[Stint]
    val starters = mutable.Map.empty[(Int, Long), Seq[Long]]
    val played = mutable.Map.empty[Int, mutable.LinkedHashSet[(Long, Long)]]
    val out = mutable.ArrayBuffer.empty[Event]
    val teamOf = rosters.toSeq.flatMap { case (t, ps) => ps.map(_ -> t) }.toMap
    var num = 0L
    var pts = Map(away -> 0, home -> 0)
    def lineups = (on(away).sorted.toSeq, on(home).sorted.toSeq)
    def emit(tpe: Int, action: Int, period: Int, secLeft: Int,
        p1: Option[Long], p2: Option[Long]): Unit = {
      num += 1
      val (l1, l2) = lineups
      out += Event(num, tpe, action, period, clock(secLeft),
        p1, p1.map(teamOf.getOrElse(_, away)), p2, p2.map(teamOf.getOrElse(_, away)), l1, l2)
    }
    def emitGhost(period: Int, left: Int): Unit = {
      num += 1
      val (l1, l2) = lineups
      out += Event(num, 8, 0, period, clock(left), Some(GhostOut), Some(away),
        Some(GhostIn), Some(away), l1, l2)
    }
    val perPeriod = math.max(4, events / 4)
    (1 to 4).foreach { period =>
      val t0 = (period - 1) * 7200.0
      // period starters: five of the roster, keeping about half of the
      // previous period's floor
      val offBoundary = period > 1 && rnd.nextDouble() < offBoundaryShare
      Seq(away, home).foreach { t =>
        val keep = rnd.shuffle(on(t).toSeq).take(rnd.nextInt(4))
        val fresh = rnd.shuffle(rosters(t).filterNot(keep.contains)).take(5 - keep.size)
        val next = (keep ++ fresh).sorted
        // stints of players leaving at the boundary end there; a feed with
        // an off-boundary time reports the exit half a second early
        on(t).filterNot(next.contains).foreach { p =>
          stints += Stint(t, p, since(p), if (offBoundary) t0 - 5 else t0)
          since.remove(p)
        }
        next.filterNot(on(t).contains).foreach(p => since(p) = t0)
        on(t).clear(); on(t) ++= next
        starters((period, t)) = next
      }
      played(period) = mutable.LinkedHashSet.from(
        Seq(away, home).flatMap(t => on(t).map(p => (t, p))))
      emit(12, 0, period, 720, None, None)
      if (period == 1) {
        num += 1
        val (l1, l2) = lineups
        val ja = on(away)(rnd.nextInt(5)); val jh = on(home)(rnd.nextInt(5))
        out += Event(num, 10, 0, 1, "12:00", Some(ja), Some(away), Some(jh), Some(home), l1, l2)
      }
      // seconds left at each event: distinct, decreasing
      val times = rnd.shuffle((1 to 715).toVector).take(perPeriod).sorted(Ordering[Int].reverse)
      val badAt = if (bad && period == 2) perPeriod / 2 else -1
      times.zipWithIndex.foreach { case (left, i) =>
        if (i == badAt)
          // a corrupt substitution: the outgoing player is not on the floor
          emitGhost(period, left)
        if (rnd.nextDouble() < 0.12) {
          val t = if (rnd.nextBoolean()) away else home
          val outP = on(t)(rnd.nextInt(5))
          val bench = rosters(t).filterNot(on(t).contains)
          val inP = bench(rnd.nextInt(bench.size))
          val now = t0 + (720 - left) * 10.0
          stints += Stint(t, outP, since(outP), now); since.remove(outP)
          since(inP) = now
          on(t)(on(t).indexOf(outP)) = inP
          played(period) += ((t, inP))
          emit(8, 0, period, left, Some(outP), Some(inP))
        } else {
          val t = if (rnd.nextBoolean()) away else home
          val p = on(t)(rnd.nextInt(5))
          val tpe = Seq(1, 2, 4, 5, 6)(rnd.nextInt(5))
          if (tpe == 1) pts = pts.updated(t, pts(t) + 2)
          emit(tpe, rnd.nextInt(3), period, left, Some(p), None)
        }
      }
      emit(13, 0, period, 0, None, None)
    }
    since.foreach { case (p, s) => stints += Stint(teamOf(p), p, s, 28800.0) }
    Game(id, date, away, home, out.toVector, stints.toVector, starters.toMap,
      played.map { case (k, v) => k -> v.toSeq }.toMap, pts(away), pts(home), bad)
  }

  /** A scope's games: `n` games, ids `<prefix>00001..`, the planted bad
    * games at seeded positions. `version` re-simulates a game with other
    * events (the replace night's changed inputs). */
  def scopeGames(scope: Scope, n: Int, events: Int, seed: Long, bad: Set[Int],
      offBoundaryShare: Double): Vector[Game] = {
    val rnd = new Random(seed ^ scope.prefix.hashCode)
    (1 to n).toVector.map { i =>
      val a = rnd.nextInt(30); val h = (a + 1 + rnd.nextInt(29)) % 30
      val gseed = seed * 1000003L + scope.prefix.hashCode * 7919L + i * 31L
      game(f"${scope.prefix}$i%05d", f"2024-${1 + i / 28 % 12}%02d-${1 + i % 28}%02d",
        Teams(a), Teams(h), events, gseed, bad.contains(i), offBoundaryShare)
    }
  }

  // ---- the fake stats API -------------------------------------------------

  /** What the API serves right now: per scope, the games visible in the
    * game log, and every game by id. Kept in a JVM-wide registry so the
    * transport (serialized into each Spark task) stays a small handle; in
    * local mode every task runs in this JVM. */
  final class State(val failSeed: Long, val failShare: Double) {
    @volatile var visible: Map[String, Vector[Game]] = Map.empty // season key -> games
    @volatile var byId: Map[String, Game] = Map.empty
    val attempts = new AtomicLong()
    val failures = new AtomicLong()
    val failedOnce: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    def publish(scope: Scope, games: Vector[Game]): Unit = synchronized {
      visible = visible.updated(s"${scope.season}|${scope.seasonType}", games)
      byId = byId ++ games.map(g => g.id -> g)
    }
  }

  private val registry = new ConcurrentHashMap[String, State]()

  final case class Api(key: String) extends Fetcher.Transport {
    def get(r: Endpoints.Request): String = {
      val st = registry.get(key)
      val id = (r.path +: r.params.map { case (k, v) => s"$k=$v" }).mkString("&")
      st.attempts.incrementAndGet()
      // a seeded share of requests fails once, then succeeds on the retry
      if (((id.hashCode.toLong ^ st.failSeed) * 0x9E3779B97F4A7C15L >>> 40) % 10000 <
          (st.failShare * 10000).toLong && st.failedOnce.add(id)) {
        st.failures.incrementAndGet()
        throw new java.io.IOException(s"503 Service Unavailable: $id")
      }
      serve(st, r)
    }
  }

  def open(key: String, failSeed: Long, failShare: Double): (Api, State) = {
    val st = new State(failSeed, failShare)
    registry.put(key, st)
    (Api(key), st)
  }

  def close(key: String): Unit = { registry.remove(key); () }

  private def rs(name: String, headers: Seq[String], rows: Iterator[Seq[Any]]): String = {
    val sb = new StringBuilder
    sb ++= s"""{"name":"$name","headers":"""
    sb ++= headers.map("\"" + _ + "\"").mkString("[", ",", "]")
    sb ++= ""","rowSet":["""
    var first = true
    rows.foreach { row =>
      if (!first) sb += ','
      first = false
      sb += '['
      var f = true
      row.foreach { v =>
        if (!f) sb += ','
        f = false
        v match {
          case null | None => sb ++= "null"
          case Some(x) => sb += '"'; sb ++= x.toString; sb += '"'
          case x => sb += '"'; sb ++= x.toString; sb += '"'
        }
      }
      sb += ']'
    }
    sb ++= "]}"
    sb.toString
  }

  private def body(sets: String*): String = sets.mkString("""{"resultSets":[""", ",", "]}")

  private def gameOf(st: State, r: Endpoints.Request, key: String): Game = {
    val id = r.param(key).getOrElse(sys.error(s"no $key in $r"))
    st.byId.getOrElse(id, throw new java.io.IOException(s"404 unknown game $id"))
  }

  private def serve(st: State, r: Endpoints.Request): String = r.path match {
    case "leaguegamelog" =>
      val games = st.visible.getOrElse(
        s"${r.param("Season").get}|${r.param("SeasonType").get}", Vector.empty)
      body(rs("LeagueGameLog",
        Seq("GAME_ID", "TEAM_ID", "TEAM_ABBREVIATION", "GAME_DATE", "MATCHUP", "WL", "PTS"),
        games.iterator.flatMap { g =>
          val awayWon = g.awayPts > g.homePts
          Seq(
            Seq(g.id, g.away, abbrev(g.away), g.date, s"${abbrev(g.away)} @ ${abbrev(g.home)}",
              if (awayWon) "W" else "L", s"${g.awayPts}.0"),
            Seq(g.id, g.home, abbrev(g.home), g.date, s"${abbrev(g.home)} vs. ${abbrev(g.away)}",
              if (awayWon) "L" else "W", s"${g.homePts}.0"))
        }))
    case "gamerotation" =>
      val g = gameOf(st, r, "GameID")
      val hdr = Seq("GAME_ID", "TEAM_ID", "TEAM_CITY", "TEAM_NAME", "PERSON_ID",
        "PLAYER_FIRST", "PLAYER_LAST", "IN_TIME_REAL", "OUT_TIME_REAL",
        "PLAYER_PTS", "PT_DIFF", "USG_PCT")
      def side(name: String, team: Long) = rs(name, hdr, g.stints.iterator
        .filter(_.team == team)
        .map(s => Seq(g.id, team, "City", abbrev(team), s.player, s"F${s.player}",
          s"L${s.player}", s.in, s.out, "0.0", "0.0", "0.2")))
      body(side("AwayTeam", g.away), side("HomeTeam", g.home))
    case "playbyplayv2" =>
      val g = gameOf(st, r, "gameId")
      val hdr = Seq("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE",
        "PERIOD", "PCTIMESTRING", "HOMEDESCRIPTION", "NEUTRALDESCRIPTION",
        "VISITORDESCRIPTION", "PLAYER1_ID", "PLAYER1_TEAM_ID",
        "PLAYER2_ID", "PLAYER2_TEAM_ID", "PLAYER3_ID", "PLAYER3_TEAM_ID")
      body(rs("PlayByPlay", hdr, g.events.iterator.map { e =>
        Seq(g.id, e.num, e.msgType, e.action, e.period, e.clock, null, s"event ${e.num}",
          null, e.p1, e.t1, e.p2, e.t2, null, null)
      }))
    case "boxscoretraditionalv2" =>
      val g = gameOf(st, r, "gameId")
      val period = r.param("startPeriod").get.toInt
      body(rs("PlayerStats", Seq("GAME_ID", "TEAM_ID", "PLAYER_ID", "MIN"),
        g.played.getOrElse(period, Nil).iterator.map { case (t, p) => Seq(g.id, t, p, "6:00") }))
    case other => throw new IllegalArgumentException(s"unexpected endpoint $other")
  }
}
