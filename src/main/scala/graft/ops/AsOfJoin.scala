package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of joins: for each left row, attach the payload of the adjacent
  * right row on the same key — [[backward]] the latest right row with
  * `right.ts <= left.ts` (the point-in-interval lookup the reference does
  * when resolving which stint covers an event — reference:
  * etl/play_by_play_with_players.py:100-111, SURVEY.md §2.3 J6),
  * [[forward]] the earliest right row with `right.ts >= left.ts` (the
  * "next reading after" lookup), and [[nearest]] whichever of the two is
  * closer in time (ties to backward).
  *
  * Implementation is the union + running `last/first(_, ignoreNulls)`
  * window rewrite, NOT an inequality join: a theta join on `ts >= ts`
  * explodes to O(|left| x |right|) per key before filtering, while this
  * plan is one shuffle on the key and ordered scans per key — the only
  * formulation that survives 100 TB. Equal-timestamp tie rules: backward
  * sorts right rows BEFORE left rows (tag 0 < 1) so "at-or-before" holds
  * and the greatest `rightTie` wins among equal-ts right rows; forward
  * sorts right rows AFTER left rows so "at-or-after" holds and the
  * SMALLEST `rightTie` wins (the natural mirror).
  *
  * The payload travels as ONE struct column (null only on the interleaved
  * left rows), so a single `last/first(ignoreNulls)` always returns the
  * whole adjacent right ROW — per-column lasts would skip a
  * legitimately-null payload field and stitch the output from different
  * right rows.
  */
object AsOfJoin {

  def backward(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightTie: String,
      payloadCols: Seq[String]): DataFrame = {
    val (unioned, leftCols) =
      unionize(left, right, keyCols, leftTs, rightTs, rightTie, payloadCols)
    unioned
      .withColumn("__asof", backExpr(keyCols))
      .filter(col("__tag") === 1)
      .select(
        leftCols.map(col) ++
          payloadCols.map(c => col("__asof").getField(c).as(s"asof_$c")): _*)
  }

  def forward(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightTie: String,
      payloadCols: Seq[String]): DataFrame = {
    val (unioned, leftCols) =
      unionize(left, right, keyCols, leftTs, rightTs, rightTie, payloadCols)
    unioned
      .withColumn("__asof", fwdExpr(keyCols))
      .filter(col("__tag") === 1)
      .select(
        leftCols.map(col) ++
          payloadCols.map(c => col("__asof").getField(c).as(s"asof_$c")): _*)
  }

  /** The closer of the backward and forward matches by absolute time
    * distance; equidistant (including exact-ts hits on both sides) and
    * one-sided cases resolve to backward. Both windows ride ONE key
    * exchange — only the per-key sort differs. Comparison is on the raw
    * ts ordering type via the matched ts captured inside each struct. */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightTie: String,
      payloadCols: Seq[String]): DataFrame = {
    val (unioned, leftCols) =
      unionize(left, right, keyCols, leftTs, rightTs, rightTie, payloadCols)
    val lts = col("__ts").cast("double")
    val bts = col("__back").getField("__mts").cast("double")
    val fts = col("__fwd").getField("__mts").cast("double")
    val pick = when(col("__back").isNull, col("__fwd"))
      .when(col("__fwd").isNull, col("__back"))
      .when(lts - bts <= fts - lts, col("__back"))
      .otherwise(col("__fwd"))
    unioned
      .withColumn("__back", backExpr(keyCols))
      .withColumn("__fwd", fwdExpr(keyCols))
      .filter(col("__tag") === 1)
      .withColumn("__pick", pick)
      .select(
        leftCols.map(col) ++
          payloadCols.map(c => col("__pick").getField(c).as(s"asof_$c")): _*)
  }

  /** Backward match: running last over (ts, right-first, tie) ascending. */
  private def backExpr(keyCols: Seq[String]): Column =
    last(col("__p"), ignoreNulls = true).over(Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Forward match: the mirror of [[backExpr]] under the REVERSED total
    * order — running last over (ts, right-last, tie) all-descending with
    * a preceding frame. Equal-ts right rows sort after the left row in
    * ascending terms (1 - __tag flips the tag), so "at-or-after" includes
    * them, and the running last picks the nearest at-or-after right row.
    *
    * Phrased as a PRECEDING frame deliberately: it is sequence-reversal-
    * identical to `first(...).over(rowsBetween(currentRow,
    * unboundedFollowing))`, but Spark evaluates [unboundedPreceding,
    * currentRow] frames incrementally (add-only) while a
    * [currentRow, unboundedFollowing] frame is RE-AGGREGATED from the
    * moving lower bound at every row — O(rows²) on a hot key (measured:
    * SCALING.md skew note). */
  private def fwdExpr(keyCols: Seq[String]): Column =
    last(col("__p"), ignoreNulls = true).over(Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts").desc, (lit(1) - col("__tag")).desc, col("__tie").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** The shared tagged union: left rows (__tag 1) interleaved with right
    * rows (__tag 0) carrying the payload struct — which also captures the
    * right row's own ts as `__mts` for [[nearest]]'s distance compare. */
  private def unionize(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightTie: String,
      payloadCols: Seq[String]): (DataFrame, Seq[String]) = {
    val leftCols = left.columns.toSeq
    require(payloadCols.forall(right.columns.contains), "payload must exist on right")
    require(!payloadCols.contains("__mts"), "__mts is reserved")

    val payloadType = StructType(
      payloadCols.map(c => right.schema(c)) :+
        org.apache.spark.sql.types.StructField("__mts", right.schema(rightTs).dataType))
    def nullOf(dt: org.apache.spark.sql.types.DataType): Column = lit(null).cast(dt)

    val taggedLeft = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__tag", lit(1))
      .withColumn("__tie", nullOf(right.schema(rightTie).dataType))
      .withColumn("__p", nullOf(payloadType))

    val taggedRight = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__tag", lit(0))
      .withColumn("__tie", col(rightTie))
      .withColumn("__p", struct(
        payloadCols.map(c => col(c).as(c)) :+ col(rightTs).as("__mts"): _*))
      .select(
        keyCols.map(col) ++ Seq(col("__ts"), col("__tag"), col("__tie"), col("__p")) ++
          leftCols.filterNot(keyCols.contains).map(c => nullOf(left.schema(c).dataType).as(c)): _*)

    val unioned = taggedLeft
      .select(
        keyCols.map(col) ++ Seq(col("__ts"), col("__tag"), col("__tie"), col("__p")) ++
          leftCols.filterNot(keyCols.contains).map(col): _*)
      .unionByName(taggedRight)
    (unioned, leftCols)
  }
}
