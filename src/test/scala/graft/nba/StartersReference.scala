package graft.nba

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GameClock, GameIds}

/** The relational period-starter derivation, kept in test sources as the
  * reference that `Starters`' per-game kernel is checked against
  * (StartersPropSpec). Same rules (reference:
  * etl/players_on_court_at_start_of_period.py):
  *
  *   - PRIMARY (:42-58, :73-88): candidates are the players with non-null
  *     MIN in the period-sliced traditional box score; a candidate started
  *     the period iff their first substitution event in the period is a
  *     sub-OUT, or they have no substitution events at all.
  *   - PBP FALLBACK (:90-122): same first-sub-decides rule, but candidates
  *     are every (player, team) slot appearing in the period's play-by-play.
  *   - COMBINER (:125-161): per (game, period), the primary result iff it
  *     yields exactly 10 starters, else the fallback.
  *
  * Formulation: one window `row_number() == 1` over the unpivoted sub
  * events, the candidates joined to it, and the per-period path choice a
  * semi/anti join on the (game, period) keys the primary satisfied; the
  * strict form checks the invariant with `assert_true` over a full outer
  * join against the pbp period keys.
  */
object StartersReference {

  private val GroupKeys = Seq("GAME_ID", "PERIOD", "PLAYER_ID")

  /** First substitution event per (game, period, player), unpivoted to one
    * row per involved player; at the same event the OUT row wins (reference
    * :117-120 checks PLAYER1_ID first), hence the is_out DESC tiebreak.
    * Columns: GAME_ID, PERIOD, PLAYER_ID, is_out. */
  private def firstSubPerPlayer(pbp: DataFrame): DataFrame = {
    val subs = pbp
      .filter(col("EVENTMSGTYPE") === 8)
      .withColumn("SECONDS_FROM_START",
        GameClock.secondsFromStart(col("PERIOD"), col("PCTIMESTRING")))
    val subLong = Seq((1, 1), (2, 0))
      .map { case (k, isOut) =>
        subs.select(col("GAME_ID"), col("PERIOD"),
          col(s"PLAYER${k}_ID").as("PLAYER_ID"),
          col("SECONDS_FROM_START"), col("EVENTNUM"), lit(isOut).as("is_out"))
      }
      .reduce(_ unionByName _)
      .filter(col("PLAYER_ID").isNotNull)
    val w = Window
      .partitionBy(GroupKeys.map(col): _*)
      .orderBy(col("SECONDS_FROM_START").asc, col("EVENTNUM").asc, col("is_out").desc)
    subLong
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("GAME_ID"), col("PERIOD"), col("PLAYER_ID"), col("is_out"))
  }

  /** first-sub-decides over a candidate set, stamped with the output
    * schema (id, SEASON, SEASON_TYPE like the reference writer :190-195).
    * `firstSubs` is a precomputed firstSubPerPlayer(pbp) — the combined
    * derivation builds it once and threads the same subplan into both
    * paths, so the sub-events window shuffle is planned once per path from
    * one shared tree (and collapsed to a single exchange when ReuseExchange
    * matches the canonicalized plans, which identical trees do). */
  private def decide(candidates: DataFrame, firstSubs: DataFrame): DataFrame =
    candidates
      .join(firstSubs, GroupKeys, "left")
      .filter(col("is_out").isNull || col("is_out") === 1)
      .select(
        GameIds.syntheticId(col("GAME_ID"), col("PERIOD"), col("PLAYER_ID")).as("id"),
        col("GAME_ID"), col("PERIOD"), col("PLAYER_ID"), col("TEAM_ID"),
        GameIds.extractSeason(col("GAME_ID")).as("SEASON"),
        GameIds.extractSeasonType(col("GAME_ID")).as("SEASON_TYPE"))

  /** PBP fallback path (reference :90-122): candidates are the union of
    * the three (id, team) pbp slots, team 0 / null dropped (:94-107).
    * pbp must carry GAME_ID, PERIOD, EVENTNUM, EVENTMSGTYPE, PCTIMESTRING,
    * PLAYER{1,2,3}_ID, PLAYER{1,2,3}_TEAM_ID. */
  def derive(pbp: DataFrame): DataFrame =
    decide(pbpCandidates(pbp), firstSubPerPlayer(pbp))

  private def pbpCandidates(pbp: DataFrame): DataFrame =
    Seq(1, 2, 3)
      .map { k =>
        pbp.select(col("GAME_ID"), col("PERIOD"),
          col(s"PLAYER${k}_ID").as("PLAYER_ID"),
          col(s"PLAYER${k}_TEAM_ID").as("TEAM_ID"))
      }
      .reduce(_ unionByName _)
      .filter(col("TEAM_ID").isNotNull && col("TEAM_ID") =!= 0 && col("PLAYER_ID").isNotNull)
      .distinct()

  /** PRIMARY box-score path (reference :42-58, :73-88): candidates are the
    * non-null-MIN rows of the period-sliced traditional box score.
    * `boxPerPeriod` is PlayerStats keyed per period — GAME_ID, PERIOD,
    * PLAYER_ID, TEAM_ID, MIN — i.e. one Endpoints.boxScoreForPeriod fetch
    * per (game, period), landed as a table. */
  def deriveFromBox(pbp: DataFrame, boxPerPeriod: DataFrame): DataFrame =
    decide(boxCandidates(boxPerPeriod, pbp), firstSubPerPlayer(pbp))

  private def boxCandidates(boxPerPeriod: DataFrame, pbp: DataFrame): DataFrame =
    boxPerPeriod
      .filter(col("MIN").isNotNull)
      .select(col("GAME_ID"), col("PERIOD"), col("PLAYER_ID"), col("TEAM_ID"))
      .distinct()
      // only periods the play-by-play actually contains: a dirty box fetch
      // can carry a slice for a period that never happened, and without
      // this semi-join its rows would emit starters for a phantom period
      // (the reference iterates pbp periods only, :127-130)
      .join(pbp.select(col("GAME_ID"), col("PERIOD")).distinct(),
        Seq("GAME_ID", "PERIOD"), "left_semi")

  /** Combined derivation (reference process_game :125-161): per (game,
    * period), the primary result iff it yields exactly 10 starters, else
    * the pbp fallback. Both paths are one-pass relational plans evaluated
    * lazily (sharing one firstSubPerPlayer subplan); the choice is a
    * semi/anti join on the (game, period) keys the primary satisfied.
    *
    * With `strict = true` the derivation enforces the reference's
    * 10-per-period invariant in-plan (:135,146-161 raises and fails the
    * game): every (game, period) in the play-by-play must end with exactly
    * 10 starters, including periods that vanish entirely — checked with
    * `assert_true` kept alive in a filter so column pruning cannot drop
    * it, and failing at action time executor-side, no extra pass over pbp.
    * With `strict = false` (default) violating periods appear with their
    * wrong cardinality — run `violations` to surface them. */
  def derive(pbp: DataFrame, boxPerPeriod: DataFrame, strict: Boolean = false): DataFrame = {
    val firstSubs = firstSubPerPlayer(pbp)
    val primary = decide(boxCandidates(boxPerPeriod, pbp), firstSubs)
    val primaryOk = primary
      .groupBy(col("GAME_ID"), col("PERIOD"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === 10)
      .select(col("GAME_ID"), col("PERIOD"))
    val combined = primary.join(primaryOk, Seq("GAME_ID", "PERIOD"), "left_semi")
      .unionByName(
        decide(pbpCandidates(pbp), firstSubs)
          .join(primaryOk, Seq("GAME_ID", "PERIOD"), "left_anti"))
    if (!strict) combined
    else {
      // full-outer vs the pbp period keys so a period that produced 0
      // starters still surfaces (as a phantom row with null PLAYER_ID)
      val periods = pbp.select(col("GAME_ID"), col("PERIOD")).distinct()
      val w = Window.partitionBy(col("GAME_ID"), col("PERIOD"))
      combined
        .join(periods, Seq("GAME_ID", "PERIOD"), "full_outer")
        .withColumn("__n", count(col("PLAYER_ID")).over(w))
        .filter(assert_true(col("__n") === 10,
          concat(lit("starters invariant violated: game "), col("GAME_ID"),
            lit(" period "), col("PERIOD"), lit(" has "), col("__n"),
            lit(" starters, expected 10"))).isNull)
        .filter(col("PLAYER_ID").isNotNull)
        .drop("__n")
    }
  }
}
