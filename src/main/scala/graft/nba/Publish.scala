package graft.nba

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** The one idempotent publish protocol every entry point shares
  * (the DataFrame rendering of the reference's `INSERT ... ON CONFLICT
  * (id) DO UPDATE`, database/db_client.py:69-92):
  *
  *   - delta mode: the rows are by construction absent from the target,
  *     so they plain-append (one write, no read of the target);
  *   - full mode: the run recomputes whole units (a game, or a
  *     shot-chart fetch combo, cut to one game when the run is scoped to
  *     one), so every existing row of a unit present in
  *     the new rows is replaced by that unit's new rows — a row the
  *     recompute no longer produces (a player gone from a re-fetched
  *     rotation) is deleted, not kept. Incoming rows are deduped by `id`
  *     (Upsert.replace, incoming wins). Exactly the partitions holding
  *     those units are swapped via write-audit-publish
  *     (Warehouse.overwritePartitions); the rest of the warehouse is
  *     never read or touched.
  */
object Publish {

  /** Shared read-side scoping for every entry point: `--game-id` XOR the
    * season filter (reference arg contract, utils/arg_parser.py) — season
    * from the stamped SEASON/SEASON_TYPE columns when present
    * (`seasonFromColumns`, shot_details), else derived from the game id
    * (F3/F4). One definition so the three mains cannot drift. */
  def scope(raw: DataFrame, args: PipelineArgs.Args,
      seasonFromColumns: Boolean = false): DataFrame = {
    import graft.functions.GameIds
    args.gameId match {
      case Some(g) => raw.filter(col("GAME_ID") === g)
      case None if seasonFromColumns => raw.filter(
        col("SEASON") === args.season.get &&
        col("SEASON_TYPE") === args.seasonType.get)
      case None => raw.filter(
        GameIds.extractSeason(col("GAME_ID")) === args.season.get &&
        GameIds.extractSeasonType(col("GAME_ID")) === args.seasonType.get)
    }
  }

  /** Delta restriction: drop rows whose `keys` are already in the target
    * (no-op when delta is off or the target does not exist yet). Callers
    * must run Warehouse.recover on `outDir` beforehand so the read sees
    * partitions a crashed swap left stranded. */
  def deltaOnly(scoped: DataFrame, delta: Boolean, outDir: String,
      keys: Seq[String])(implicit spark: SparkSession): DataFrame =
    if (!delta) scoped
    else Warehouse.readTableIfPresent(spark, outDir) match {
      case Some(existing) =>
        Upsert.deltaNew(existing.select(keys.map(col): _*), scoped, keys)
      case None => scoped
    }

  /** Publish `newRows` into `outDir`. `unit` names the columns of the unit
    * a run recomputes — a game for every table but shot_details, whose
    * unit is the fetch combo, narrowed to the game under `--game-id`: in
    * full mode the existing rows of every unit present in `newRows` are
    * dropped before the merge, so a unit must lie wholly inside the run's
    * scope. */
  def idempotent(newRows: DataFrame, outDir: String, delta: Boolean,
      unit: Seq[String] = Seq("GAME_ID"))(implicit spark: SparkSession): Unit = {
    // heal interrupted swaps before ANY read of the target: a partition
    // stranded in its .old sibling is invisible to the merge read below,
    // and publishing a merge that missed it would drop its rows for good
    Warehouse.recover(spark, outDir)
    if (delta)
      newRows.write.mode("append")
        .partitionBy(Warehouse.PartitionCols: _*).parquet(outDir)
    else {
      val merged = Warehouse.readTableIfPresent(spark, outDir) match {
        case Some(ex) =>
          // merge only the partitions this run recomputes; the semi-join on
          // the partition columns prunes the rest of the warehouse, and the
          // anti-join on the unit keys retires every recomputed unit's rows
          val parts = newRows.select(Warehouse.PartitionCols.map(col): _*).distinct()
          val units = newRows.select(unit.map(col): _*).distinct()
          val kept = ex.join(broadcast(parts), Warehouse.PartitionCols, "left_semi")
            .join(units, unit, "left_anti")
          Upsert.replace(kept, newRows, "id")
        case None => newRows
      }
      Warehouse.overwritePartitions(merged, outDir)
    }
  }
}
