package graft.nba

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GameClock
import graft.ops.Checkpoints
import graft.schema.{PbpEvent, PbpWithPlayers, Stint}

/** Per-game side input of the lineup tracker, shuffled together with the
  * events: rotation rows (kind 0), period-starter rows (kind 1) and
  * team-game-log rows (kind 2) unioned into one dataset so a single
  * `cogroup` delivers everything a game needs — the reference instead
  * issues correlated per-game SQL from inside worker threads
  * (reference: etl/play_by_play_with_players.py:11-24,26-38,41-47), which
  * is exactly the pattern that cannot scale.
  */
case class GameSide(
    GAME_ID: String,
    kind: Int,
    TEAM_ID: Long,
    PLAYER_ID: Long,
    PERIOD: Int,
    STINTS: Seq[Stint],
    MATCHUP: String)

/** Per-game failure record for the quarantine channel (SURVEY.md §2.10 T4:
  * the reference logs-and-continues; a pipeline at scale lands failures in
  * a table instead of a log line). */
case class GameError(GAME_ID: String, error: String)

/** The flagship stateful operator (SURVEY.md §2.9): reconstruct both 5-man
  * lineups for every play-by-play event.
  *
  * Faithful port of the reference state machine
  * (reference: etl/play_by_play_with_players.py:113-165):
  *   - events sorted (PERIOD, SECONDS_FROM_START, EVENTNUM) (:117-118);
  *   - team1/team2 from the first opening jump ball, else from the game
  *     log's MATCHUP 'vs'/'@' parse (:49-79);
  *   - initial lineups = players with a stint starting at 0 (:81-86);
  *   - EVENTMSGTYPE 8: PLAYER1 out, PLAYER2 in, in place, re-sorted; raise
  *     if the outgoing player isn't on court (:88-98); events whose
  *     PLAYER1_TEAM_ID is neither team are ignored (:136-140);
  *   - EVENTMSGTYPE 12: remove players with a stint OUT == t*10, add those
  *     with IN == t*10; if that doesn't yield exactly 5, fall back to the
  *     period-starters table (:100-111,141-152);
  *   - emit the post-update lineups for every event, sorted ascending;
  *   - per-game failures are logged and skipped, like the reference's
  *     try/except-per-game (:219-225), unless failFast.
  *
  * Execution: games are independent, so the scan is a `cogroup` on GAME_ID —
  * one exchange per side, O(game) memory per group, executors replace the
  * reference's thread pool. This is the one deliberately imperative region
  * of the engine (SURVEY.md §4).
  */
object Lineups {

  def sideInputs(
      rotations: DataFrame,
      starters: Option[DataFrame],
      teamGameLog: Option[DataFrame])(implicit spark: SparkSession): Dataset[GameSide] = {
    import spark.implicits._
    val rot = rotations.select(col("GAME_ID"), lit(0).as("kind"), col("TEAM_ID"),
      col("PLAYER_ID"), lit(-1).as("PERIOD"), col("STINTS"),
      lit(null).cast("string").as("MATCHUP")).as[GameSide]
    val st = starters.map(_.select(col("GAME_ID"), lit(1).as("kind"), col("TEAM_ID"),
      col("PLAYER_ID"), col("PERIOD"),
      lit(null).cast(graft.schema.Schemas.stints).as("STINTS"),
      lit(null).cast("string").as("MATCHUP")).as[GameSide])
    val tgl = teamGameLog.map(_.select(col("GAME_ID"), lit(2).as("kind"), col("TEAM_ID"),
      lit(0L).as("PLAYER_ID"), lit(-1).as("PERIOD"),
      lit(null).cast(graft.schema.Schemas.stints).as("STINTS"),
      col("MATCHUP")).as[GameSide])
    (Seq(rot) ++ st ++ tgl).reduce(_ union _)
  }

  /** pbp needs the playByPlay schema columns; SECONDS_FROM_START is derived
    * here if absent. */
  /** Columns PbpEvent cannot decode as null (non-nullable primitives): a
    * null here fails the encoder at `groupByKey`'s MAP-SIDE key extraction
    * — before any per-game Try can catch it — so undecodable games must be
    * split off relationally, not imperatively. */
  private val RequiredEventCols =
    Seq("EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD", "SECONDS_FROM_START")

  /** Shared input prep for both cogroup variants — ONE definition of the
    * PbpEvent column list and the side-input union, so the pipeline and
    * quarantine paths cannot read different event shapes. Returns the
    * typed CLEAN events (games with a required-null row excluded), the
    * undecodable game ids, and the side inputs. */
  private def prepare(
      pbp: DataFrame,
      rotations: DataFrame,
      starters: Option[DataFrame],
      teamGameLog: Option[DataFrame],
      sanitize: Boolean)(
      implicit spark: SparkSession):
      (Dataset[PbpEvent], Dataset[String], Dataset[GameSide]) = {
    import spark.implicits._
    val withSfs =
      if (pbp.columns.contains("SECONDS_FROM_START")) pbp
      else pbp.withColumn("SECONDS_FROM_START",
        GameClock.secondsFromStart(col("PERIOD"), col("PCTIMESTRING")))
    // a null GAME_ID is itself undecodable (the row cannot be attributed
    // to a game, and a null key would slip through the null-unsafe
    // anti-join below) — fold it into the bad set under a sentinel id
    val badGames = withSfs
      .filter(col("GAME_ID").isNull ||
        RequiredEventCols.map(col(_).isNull).reduce(_ || _))
      .select(coalesce(col("GAME_ID"), lit("<null GAME_ID>")).as("GAME_ID"))
      .distinct().as[String]
    val base =
      if (sanitize)
        // quarantine path: undecodable games are split off so the encoder
        // never sees them
        withSfs.filter(col("GAME_ID").isNotNull)
          .join(badGames.toDF("GAME_ID"), Seq("GAME_ID"), "left_anti")
      else
        // fail-fast path: left unsanitized ON PURPOSE so the encoder's
        // non-null violation aborts the job at action time (lazy — no job
        // runs at plan construction)
        withSfs
    val ev = base
      .select(col("GAME_ID"), col("EVENTNUM"), col("EVENTMSGTYPE"),
        col("EVENTMSGACTIONTYPE"), col("PERIOD"), col("PCTIMESTRING"),
        col("SECONDS_FROM_START"), col("PLAYER1_ID"), col("PLAYER1_TEAM_ID"),
        col("PLAYER2_ID"), col("PLAYER2_TEAM_ID")).as[PbpEvent]
    (ev, badGames, sideInputs(rotations, starters, teamGameLog))
  }

  /** Consume one cogroup group entirely under Try so any in-group failure
    * is that game's failure, not the task's. A game with no events this
    * run (delta mode filtered it) succeeds empty. */
  private def runGame(
      gid: String,
      evIt: Iterator[PbpEvent],
      sideIt: Iterator[GameSide]): Try[Vector[PbpWithPlayers]] =
    Try {
      val events = evIt.toArray
      if (events.isEmpty) Vector.empty
      else processGame(gid, events, sideIt.toArray)
    }

  def withPlayers(
      pbp: DataFrame,
      rotations: DataFrame,
      starters: Option[DataFrame] = None,
      teamGameLog: Option[DataFrame] = None,
      failFast: Boolean = false)(implicit spark: SparkSession): Dataset[PbpWithPlayers] = {
    import spark.implicits._
    // with failFast off, undecodable games are simply absent from the
    // output (log-and-continue semantics; withPlayersAndErrors lands them
    // in the quarantine channel instead); with failFast on the events stay
    // unsanitized so the encoder's violation aborts at action time
    val (ev, _, side) =
      prepare(pbp, rotations, starters, teamGameLog, sanitize = !failFast)
    ev.groupByKey(_.GAME_ID).cogroup(side.groupByKey(_.GAME_ID)) { (gid, evIt, sideIt) =>
      runGame(gid, evIt, sideIt) match {
        case Success(rows) => rows.iterator
        case Failure(e) if !failFast =>
          // reference logs and continues (:223-225)
          System.err.println(s"[lineups] failed for game $gid: ${e.getMessage}")
          Iterator.empty
        case Failure(e) => throw e
      }
    }
  }

  /** T4 quarantine variant: one pass, rows and per-game errors as separate
    * datasets (the pass is staged once; both sides filter it). The third
    * element releases the staged blocks — call it once both datasets have
    * been consumed, or the blocks stay pinned for the session. */
  def withPlayersAndErrors(
      pbp: DataFrame,
      rotations: DataFrame,
      starters: Option[DataFrame] = None,
      teamGameLog: Option[DataFrame] = None)(
      implicit spark: SparkSession):
      (Dataset[PbpWithPlayers], Dataset[GameError], () => Unit) = {
    val t = tracked(pbp, rotations, starters, teamGameLog)
    (t.rows, t.errors, t.release)
  }

  /** What one quarantine pass computed: the rows, the per-game errors
    * (tracker failures and undecodable games), the ids of every game the
    * pass saw events of, and the release of the one staged outcome set
    * all three read. */
  final case class Tracked(
      rows: Dataset[PbpWithPlayers],
      errors: Dataset[GameError],
      processed: Dataset[String],
      release: () => Unit)

  /** [[withPlayersAndErrors]] plus the processed game ids, all three
    * read from the one staged outcome set: a caller that heals its
    * quarantine by those ids (PipelineMain) derives nothing from the
    * play-by-play again. An undecodable game is processed under its id
    * (a null GAME_ID under the sentinel its error row carries).
    *
    * The pass runs here, staged by an eager `localCheckpoint` rather than
    * a persist: in delta mode `pbp` reads the output table (the anti-join
    * of published games), and the write of the rows re-caches every
    * cached plan over that path — a persisted outcome set would be
    * recomputed after the write, against the new output. */
  def tracked(
      pbp: DataFrame,
      rotations: DataFrame,
      starters: Option[DataFrame] = None,
      teamGameLog: Option[DataFrame] = None)(
      implicit spark: SparkSession): Tracked = {
    import spark.implicits._
    val (ev, badGames, side) =
      prepare(pbp, rotations, starters, teamGameLog, sanitize = true)
    // per output row: a lineup row, an error, or a processed-game marker
    val games = ev.groupByKey(_.GAME_ID)
      .cogroup(side.groupByKey(_.GAME_ID)) { (gid, evIt, sideIt) =>
        val marker =
          if (evIt.hasNext) Iterator((Option.empty[PbpWithPlayers],
            Option.empty[GameError], Option(gid)))
          else Iterator.empty
        marker ++ (runGame(gid, evIt, sideIt) match {
          case Success(rows) =>
            rows.iterator.map(r => (Option(r), Option.empty[GameError], Option.empty[String]))
          case Failure(e) =>
            Iterator((Option.empty[PbpWithPlayers],
              Some(GameError(gid, String.valueOf(e.getMessage))), Option.empty[String]))
        })
      }
    val undecodable = badGames.map(g => (Option.empty[PbpWithPlayers],
      Option(GameError(g,
        s"undecodable play-by-play: null in one of ${RequiredEventCols.mkString("/")}")),
      Option(g)))
    val outcomes = games.union(undecodable).localCheckpoint(true)
    Tracked(outcomes.flatMap(_._1), outcomes.flatMap(_._2), outcomes.flatMap(_._3),
      () => Checkpoints.rddsOf(outcomes.toDF()).foreach(_.unpersist(false)))
  }

  /** One game, in memory (a game is ~500 events + ~20 roster rows). */
  private[graft] def processGame(
      gid: String,
      eventsIn: Array[PbpEvent],
      side: Array[GameSide]): Vector[PbpWithPlayers] = {
    val events = eventsIn.sortBy(e => (e.PERIOD, e.SECONDS_FROM_START, e.EVENTNUM))
    val rotations = side.filter(_.kind == 0)
    val starters: Map[(Int, Long), List[Long]] = side.filter(_.kind == 1)
      .groupBy(g => (g.PERIOD, g.TEAM_ID))
      .map { case (k, rows) => k -> rows.map(_.PLAYER_ID).sorted.toList }
    val matchups = side.filter(_.kind == 2)

    // J5 team resolution (reference :49-79)
    val (team1, team2) = events
      .find(e => e.EVENTMSGTYPE == 10 && e.EVENTMSGACTIONTYPE == 0)
      .flatMap(e => e.PLAYER1_TEAM_ID.zip(e.PLAYER2_TEAM_ID))
      .getOrElse {
        require(matchups.length == 2,
          s"could not determine teams for game $gid from team_game_log")
        val home = matchups.find(m => m.MATCHUP != null && m.MATCHUP.contains("vs"))
        val away = matchups.find(m => m.MATCHUP != null && m.MATCHUP.contains("@"))
        require(home.nonEmpty && away.nonEmpty,
          s"could not parse MATCHUP for game $gid")
        (home.get.TEAM_ID, away.get.TEAM_ID)
      }

    def teamRot(tid: Long) = rotations.filter(_.TEAM_ID == tid)
    val rot1 = teamRot(team1)
    val rot2 = teamRot(team2)

    // initial lineups: stint starting at 0 (reference :81-86)
    def initial(rot: Array[GameSide]): mutable.ArrayBuffer[Long] = {
      val b = mutable.ArrayBuffer.from(
        rot.filter(_.STINTS.exists(_.IN_TIME_REAL == 0.0)).map(_.PLAYER_ID))
      b.sortInPlace()
    }
    var cur1 = initial(rot1)
    var cur2 = initial(rot2)

    def sub(players: mutable.ArrayBuffer[Long], outId: Long, inId: Long, eventnum: Long): Unit = {
      val idx = players.indexOf(outId)
      if (idx < 0)
        throw new IllegalStateException(
          s"ROW: $eventnum Player $outId not found in current team players: $players")
      players(idx) = inId
      players.sortInPlace()
      ()
    }

    def stintChange(players: mutable.ArrayBuffer[Long], rot: Array[GameSide], t: Double)
        : mutable.ArrayBuffer[Long] = {
      val next = players.clone()
      rot.filter(_.STINTS.exists(_.OUT_TIME_REAL == t)).map(_.PLAYER_ID)
        .foreach(p => { val i = next.indexOf(p); if (i >= 0) next.remove(i) })
      rot.filter(_.STINTS.exists(_.IN_TIME_REAL == t)).map(_.PLAYER_ID)
        .foreach(p => if (!next.contains(p)) next += p)
      next.sortInPlace()
    }

    val seenEventnums = mutable.HashSet.empty[Long]
    events.iterator.map { e =>
      // A5 duplicate-id invariant (reference utils/utils.py:1-10, :163)
      if (!seenEventnums.add(e.EVENTNUM))
        throw new IllegalStateException(s"duplicate id $gid-${e.EVENTNUM}")

      if (e.EVENTMSGTYPE == 8) {
        e.PLAYER1_TEAM_ID match {
          case Some(t) if t == team1 =>
            sub(cur1, e.PLAYER1_ID.getOrElse(-1L), e.PLAYER2_ID.getOrElse(-1L), e.EVENTNUM)
          case Some(t) if t == team2 =>
            sub(cur2, e.PLAYER1_ID.getOrElse(-1L), e.PLAYER2_ID.getOrElse(-1L), e.EVENTNUM)
          case _ => // neither team: ignored, like the reference (:136-140)
        }
      }
      if (e.EVENTMSGTYPE == 12) {
        val t = e.SECONDS_FROM_START.toDouble * 10
        def resolve(cur: mutable.ArrayBuffer[Long], rot: Array[GameSide], tid: Long) = {
          val next = stintChange(cur, rot, t)
          if (next.length == 5) next
          else starters.get((e.PERIOD, tid)) match {
            case Some(ps) => mutable.ArrayBuffer.from(ps)
            case None => throw new IllegalStateException(
              s"game $gid period ${e.PERIOD}: stint change gave ${next.length} players " +
                s"for team $tid and no starters fallback")
          }
        }
        cur1 = resolve(cur1, rot1, team1)
        cur2 = resolve(cur2, rot2, team2)
      }

      require(cur1.length == 5 && cur2.length == 5,
        s"game $gid event ${e.EVENTNUM}: lineup sizes ${cur1.length}/${cur2.length}")
      PbpWithPlayers(
        id = s"$gid-${e.EVENTNUM}",
        GAME_ID = gid, EVENTNUM = e.EVENTNUM, EVENTMSGTYPE = e.EVENTMSGTYPE,
        PERIOD = e.PERIOD, SECONDS_FROM_START = e.SECONDS_FROM_START,
        TEAM1_ID = team1, TEAM2_ID = team2,
        TEAM1_PLAYER1 = cur1(0), TEAM1_PLAYER2 = cur1(1), TEAM1_PLAYER3 = cur1(2),
        TEAM1_PLAYER4 = cur1(3), TEAM1_PLAYER5 = cur1(4),
        TEAM2_PLAYER1 = cur2(0), TEAM2_PLAYER2 = cur2(1), TEAM2_PLAYER3 = cur2(2),
        TEAM2_PLAYER4 = cur2(3), TEAM2_PLAYER5 = cur2(4))
    }.toVector
  }

  /** J6 relational cross-check (SURVEY.md §2.3 J6): every event joined to
    * the stints covering it — an interval join usable to validate the
    * stateful output (a lineup player's covering stint must exist).
    *
    * The covering-range condition lives IN the join, not in a post-join
    * filter: a filter after a left join would drop exactly the rows where
    * no stint covers the event — the violation this check exists to
    * surface — leaving the check vacuously green. With the condition in
    * the join, an uncovered (event, player) survives as one null-stint
    * row and reports n_covering_stints = 0. */
  def intervalCheck(pbpWithPlayers: DataFrame, rotations: DataFrame): DataFrame = {
    val ex = Stints.explodeStints(rotations)
      .select(col("GAME_ID").as("r_gid"), col("PLAYER_ID").as("r_pid"),
        col("IN_TIME_REAL"), col("OUT_TIME_REAL"))
    pbpWithPlayers
      .select(col("GAME_ID"), col("EVENTNUM"),
        (col("SECONDS_FROM_START") * 10.0).as("t"),
        explode(array((1 to 5).flatMap(i =>
          Seq(col(s"TEAM1_PLAYER$i"), col(s"TEAM2_PLAYER$i"))): _*)).as("PLAYER_ID"))
      .join(ex,
        col("GAME_ID") === col("r_gid") && col("PLAYER_ID") === col("r_pid") &&
          col("t") >= col("IN_TIME_REAL") && col("t") <= col("OUT_TIME_REAL"),
        "left")
      .groupBy(col("GAME_ID"), col("EVENTNUM"), col("PLAYER_ID"))
      .agg(count(col("IN_TIME_REAL")).as("n_covering_stints"))
  }
}
