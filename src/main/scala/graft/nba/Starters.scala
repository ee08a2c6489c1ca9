package graft.nba

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.{GameClock, GameIds}

/** Period-starter derivation — both of the reference's paths
  * (reference: etl/players_on_court_at_start_of_period.py):
  *
  *   - PRIMARY (:42-58, :73-88): candidates are the players with non-null
  *     MIN in the period-sliced traditional box score (fetched with the F2
  *     RangeType-2 bounds — Endpoints.boxScoreForPeriod builds that
  *     request); a candidate started the period iff their first
  *     substitution event in the period is a sub-OUT, or they have no
  *     substitution events at all. TEAM_ID comes from the box score (:137).
  *   - PBP FALLBACK (:90-122): same first-sub-decides rule, but candidates
  *     are every (player, team) slot appearing in the period's play-by-play.
  *   - COMBINER (:125-161): per (game, period), use the primary result iff
  *     it yields exactly 10 starters, else the fallback; periods where
  *     neither yields 10 are surfaced by `violations` (the reference
  *     raises and fails the game).
  *
  * Execution: a game is a few hundred events and a few dozen box rows, so
  * every form is one `groupByKey(GAME_ID)` (a `cogroup` with the box rows
  * when there are any) and the rules run per game in Scala, like
  * `Lineups`' tracker — one exchange per side, and the strict check
  * needs no extra pass. `SECONDS_FROM_START` of the sub events is
  * computed by `GameClock.secondsFromStart` before the typed step, so
  * there is one definition of the clock and a null clock sorts first.
  * Keys match like the equi-joins of a relational plan would: a
  * null GAME_ID or PERIOD matches no sub event and no box row. The
  * relational derivation lives on in test sources (`StartersReference`)
  * as the reference this kernel is checked against.
  */
object Starters {

  /** A play-by-play row as the kernel reads it. */
  case class Event(
      GAME_ID: String,
      PERIOD: Option[Int],
      EVENTNUM: Option[Long],
      EVENTMSGTYPE: Option[Int],
      SECONDS_FROM_START: Option[Int],
      PLAYER1_ID: Option[Long], PLAYER1_TEAM_ID: Option[Long],
      PLAYER2_ID: Option[Long], PLAYER2_TEAM_ID: Option[Long],
      PLAYER3_ID: Option[Long], PLAYER3_TEAM_ID: Option[Long])

  /** A (game, period, player, team) row: a box-score candidate on the way
    * in (MIN already known non-null), a starter on the way out. */
  case class Slot(GAME_ID: String, PERIOD: Option[Int],
      PLAYER_ID: Option[Long], TEAM_ID: Option[Long])

  private sealed trait Paths
  private case object FallbackOnly extends Paths
  private case object PrimaryOnly extends Paths
  private final case class Combined(strict: Boolean) extends Paths

  /** PBP fallback path (reference :90-122): candidates are the distinct
    * (id, team) pbp slots, team 0 / null dropped (:94-107). pbp must carry
    * GAME_ID, PERIOD, EVENTNUM, EVENTMSGTYPE, PCTIMESTRING,
    * PLAYER{1,2,3}_ID, PLAYER{1,2,3}_TEAM_ID. */
  def derive(pbp: DataFrame): DataFrame = run(pbp, None, FallbackOnly)

  /** PRIMARY box-score path (reference :42-58, :73-88): candidates are the
    * non-null-MIN rows of the period-sliced traditional box score, in the
    * periods the play-by-play contains (a dirty fetch can carry a slice
    * for a period that never happened; the reference iterates pbp periods
    * only, :127-130). `boxPerPeriod` is PlayerStats keyed per period —
    * GAME_ID, PERIOD, PLAYER_ID, TEAM_ID, MIN — i.e. one
    * Endpoints.boxScoreForPeriod fetch per (game, period), landed as a
    * table. */
  def deriveFromBox(pbp: DataFrame, boxPerPeriod: DataFrame): DataFrame =
    run(pbp, Some(boxPerPeriod), PrimaryOnly)

  /** Combined derivation (reference process_game :125-161): per (game,
    * period), the primary result iff it yields exactly 10 starters, else
    * the pbp fallback.
    *
    * With `strict = true` the derivation enforces the reference's
    * 10-per-period invariant (:135,146-161 raises and fails the game):
    * every (game, period) in the play-by-play must end with exactly 10
    * starters, including periods that produced none, or the job fails at
    * action time naming the first such period of the game. With
    * `strict = false` (default) violating periods appear with their wrong
    * cardinality — run `violations` to surface them. */
  def derive(pbp: DataFrame, boxPerPeriod: DataFrame, strict: Boolean = false): DataFrame =
    run(pbp, Some(boxPerPeriod), Combined(strict))

  private def run(pbp: DataFrame, box: Option[DataFrame], paths: Paths): DataFrame = {
    val spark = pbp.sparkSession
    import spark.implicits._
    val events = pbp.select(
      col("GAME_ID").cast("string").as("GAME_ID"),
      col("PERIOD").cast("int").as("PERIOD"),
      col("EVENTNUM").cast("long").as("EVENTNUM"),
      col("EVENTMSGTYPE").cast("int").as("EVENTMSGTYPE"),
      // the clock of sub events only, as the relational form reads it: an
      // unparsable clock on any other event must not fail the cast
      when(col("EVENTMSGTYPE") === 8,
        GameClock.secondsFromStart(col("PERIOD"), col("PCTIMESTRING"))).as("SECONDS_FROM_START"),
      col("PLAYER1_ID").cast("long").as("PLAYER1_ID"),
      col("PLAYER1_TEAM_ID").cast("long").as("PLAYER1_TEAM_ID"),
      col("PLAYER2_ID").cast("long").as("PLAYER2_ID"),
      col("PLAYER2_TEAM_ID").cast("long").as("PLAYER2_TEAM_ID"),
      col("PLAYER3_ID").cast("long").as("PLAYER3_ID"),
      col("PLAYER3_TEAM_ID").cast("long").as("PLAYER3_TEAM_ID"))
      .as[Event].groupByKey(_.GAME_ID)
    val starters: Dataset[Slot] = box match {
      case Some(b) =>
        val candidates = b.filter(col("MIN").isNotNull).select(
          col("GAME_ID").cast("string").as("GAME_ID"),
          col("PERIOD").cast("int").as("PERIOD"),
          col("PLAYER_ID").cast("long").as("PLAYER_ID"),
          col("TEAM_ID").cast("long").as("TEAM_ID"))
          .as[Slot].groupByKey(_.GAME_ID)
        events.cogroup(candidates)((gid, ev, bx) => ofGame(gid, ev.toArray, bx, paths))
      case None =>
        events.flatMapGroups((gid, ev) => ofGame(gid, ev.toArray, Iterator.empty, paths))
    }
    // the output shape of the reference writer (:190-195)
    starters.select(
      GameIds.syntheticId(col("GAME_ID"), col("PERIOD"), col("PLAYER_ID")).as("id"),
      col("GAME_ID"), col("PERIOD"), col("PLAYER_ID"), col("TEAM_ID"),
      GameIds.extractSeason(col("GAME_ID")).as("SEASON"),
      GameIds.extractSeasonType(col("GAME_ID")).as("SEASON_TYPE"))
  }

  /** (SECONDS_FROM_START, EVENTNUM, is-out) of a sub event: earliest first,
    * nulls first, and at the same event the OUT wins (reference :117-120
    * checks PLAYER1_ID first). */
  private val subOrder: Ordering[(Option[Int], Option[Long], Boolean)] =
    Ordering.Tuple3(Ordering.Option(Ordering.Int), Ordering.Option(Ordering.Long),
      Ordering.Boolean.reverse)

  /** The starters of one game under `paths`. */
  private def ofGame(gid: String, events: Array[Event], box: Iterator[Slot],
      paths: Paths): Iterator[Slot] = {
    // first substitution per (period, player); a null game id or period
    // matches nothing, so those players count as never subbed
    val firstSub = mutable.HashMap.empty[(Int, Long), (Option[Int], Option[Long], Boolean)]
    if (gid != null)
      for {
        e <- events if e.EVENTMSGTYPE.contains(8)
        period <- e.PERIOD
        (player, isOut) <- Seq(e.PLAYER1_ID -> true, e.PLAYER2_ID -> false)
        id <- player
      } {
        val sub = (e.SECONDS_FROM_START, e.EVENTNUM, isOut)
        if (firstSub.get((period, id)).forall(subOrder.lt(sub, _))) firstSub((period, id)) = sub
      }
    def started(s: Slot): Boolean =
      (for (p <- s.PERIOD; id <- s.PLAYER_ID; sub <- firstSub.get((p, id))) yield sub._3)
        .getOrElse(true)

    val periods = events.map(_.PERIOD).distinct.sorted
    def fallback: Seq[Slot] = events.toSeq.flatMap { e =>
      Seq(e.PLAYER1_ID -> e.PLAYER1_TEAM_ID, e.PLAYER2_ID -> e.PLAYER2_TEAM_ID,
        e.PLAYER3_ID -> e.PLAYER3_TEAM_ID).collect {
        case (p @ Some(_), t @ Some(team)) if team != 0 => Slot(gid, e.PERIOD, p, t)
      }
    }.distinct.filter(started)
    def primary: Seq[Slot] =
      if (gid == null) Nil
      else box.filter(b => b.PERIOD.isDefined && periods.contains(b.PERIOD))
        .toSeq.distinct.filter(started)

    paths match {
      case FallbackOnly => fallback.iterator
      case PrimaryOnly => primary.iterator
      case Combined(strict) =>
        val fromBox = primary.groupBy(_.PERIOD)
        val fromPbp = fallback.groupBy(_.PERIOD)
        periods.iterator.flatMap { period =>
          val chosen = fromBox.get(period).filter(_.size == 10)
            .getOrElse(fromPbp.getOrElse(period, Nil))
          if (!strict) chosen
          else {
            val named = chosen.filter(_.PLAYER_ID.isDefined)
            if (named.size != 10)
              throw new IllegalStateException(
                s"starters invariant violated: game $gid period ${period.getOrElse("null")} " +
                  s"has ${named.size} starters, expected 10")
            named
          }
        }
    }
  }

  /** The reference's 10-starters-per-period invariant (reference :135,146-161)
    * as a checking query: rows are the violating (GAME_ID, PERIOD)s. */
  def violations(starters: DataFrame): DataFrame =
    starters
      .groupBy(col("GAME_ID"), col("PERIOD"))
      .agg(count(lit(1)).as("n_starters"))
      .filter(col("n_starters") =!= 10)

  /** `violations` including periods that vanished entirely (0 starters from
    * both paths produce no output rows, which plain `violations` cannot
    * see): every (game, period) present in the play-by-play must have
    * exactly 10 starters. */
  def violations(starters: DataFrame, pbp: DataFrame): DataFrame =
    pbp.select(col("GAME_ID"), col("PERIOD")).distinct()
      .join(
        starters.groupBy(col("GAME_ID"), col("PERIOD"))
          .agg(count(lit(1)).as("n_starters")),
        Seq("GAME_ID", "PERIOD"), "left")
      .withColumn("n_starters", coalesce(col("n_starters"), lit(0L)))
      .filter(col("n_starters") =!= 10)
}
