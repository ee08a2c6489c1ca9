package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Game-clock arithmetic as pure `Column` expressions — no UDFs, so all of
  * this stays inside whole-stage codegen (SURVEY.md §2.7 F1/F2).
  *
  * NBA clock model: periods 1-4 are 12 minutes (720 s), overtime periods are
  * 5 minutes (300 s); `PCTIMESTRING` is the remaining 'MM:SS' on the period
  * clock (reference: utils/utils.py:19-27, duplicated at
  * etl/players_on_court_at_start_of_period.py:14-20).
  */
object GameClock {

  // the one definition of the period clock model, shared with the scalar
  // consumers (Endpoints.boxScoreForPeriod builds fetch bounds from it)
  private[graft] val RegulationPeriodSec = 720
  private[graft] val OvertimePeriodSec = 300
  private[graft] val RegulationTotalSec = 4 * RegulationPeriodSec // 2880

  /** Seconds elapsed in the period so far given the remaining 'MM:SS';
    * null for any clock that is not two integer fields around one ':'
    * ("", "bad", "7", "1:2:3"). A plain cast or index would throw under
    * ANSI mode and fail the whole job over one malformed row; null lets
    * a caller route the row instead (the lineup tracker quarantines a
    * game with a null SECONDS_FROM_START). */
  private def elapsedInPeriod(period: Column, clock: Column): Column = {
    val parts = split(clock, ":")
    val remaining = when(size(parts) === 2,
      get(parts, lit(0)).try_cast("int") * 60 + get(parts, lit(1)).try_cast("int"))
    when(period <= 4, lit(RegulationPeriodSec) - remaining)
      .otherwise(lit(OvertimePeriodSec) - remaining)
  }

  /** F1: ('MM:SS' remaining, period) -> integer seconds from game start
    * (reference: utils/utils.py:19-27); null for a malformed clock.
    */
  def secondsFromStart(period: Column, clock: Column): Column = {
    val periodStart =
      when(period <= 4, (period - 1) * RegulationPeriodSec)
        .otherwise(lit(RegulationTotalSec) + (period - 5) * OvertimePeriodSec)
    (periodStart + elapsedInPeriod(period, clock)).cast("int")
  }

  /** F2: period -> start of period, in tenths of a second (the unit the
    * rotation API uses — reference: etl/players_on_court_at_start_of_period.py:22-32).
    */
  def periodStartTenths(period: Column): Column =
    when(period <= 4, (period - 1) * RegulationPeriodSec * 10)
      .otherwise(lit(RegulationTotalSec * 10) + (period - 5) * OvertimePeriodSec * 10)
      .cast("double")

  /** F2: period -> end of period (exclusive), tenths of a second. */
  def periodEndTenths(period: Column): Column =
    when(period <= 4, period * RegulationPeriodSec * 10)
      .otherwise(lit(RegulationTotalSec * 10) + (period - 4) * OvertimePeriodSec * 10)
      .cast("double")
}
