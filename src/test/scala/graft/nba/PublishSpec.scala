package graft.nba

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.sources.Warehouse

/** The shared publish protocol, including the crash window a review
  * found: a partition stranded in its dot-hidden .old sibling is
  * invisible to parquet readers, so the recovery must run BEFORE the
  * merge reads the target — otherwise a republish of that partition
  * silently drops the stranded rows and then overwrites them for good. */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: (String, String)*) = ids.map { case (id, g) =>
    (id, g, "2024-25", "Regular Season")
  }.toDF("id", "GAME_ID", "SEASON", "SEASON_TYPE")

  test("merge after a crashed partition swap keeps the stranded partition's rows") {
    val dir = s"${Files.createTempDirectory("graft_pub")}/t"
    // games A and B live in the same partition
    Publish.idempotent(rows(("A-1", "A"), ("B-1", "B")), dir, delta = false)
    // simulate a crash between retire and publish: the partition exists
    // only as the hidden .old sibling
    val part = Paths.get(dir, "SEASON=2024-25", "SEASON_TYPE=Regular Season")
    Files.move(part, part.getParent.resolve(".SEASON_TYPE=Regular Season.old"))
    val visible = scala.util.Try(spark.read.parquet(dir).count()).getOrElse(0L)
    assert(visible == 0, "stranded partition must be invisible")
    // republish a recompute of game A only: the merge must first heal the
    // stranded partition and keep game B
    Publish.idempotent(rows(("A-1", "A"), ("A-2", "A")), dir, delta = false)
    val got = spark.read.parquet(dir).select("id").as[String].collect().toSet
    assert(got == Set("A-1", "A-2", "B-1"), s"game B's rows must survive: $got")
  }

  test("delta append after a crashed swap does not re-add healed games") {
    val dir = s"${Files.createTempDirectory("graft_pub")}/t"
    Publish.idempotent(rows(("A-1", "A")), dir, delta = false)
    val part = Paths.get(dir, "SEASON=2024-25", "SEASON_TYPE=Regular Season")
    Files.move(part, part.getParent.resolve(".SEASON_TYPE=Regular Season.old"))
    // deltaOnly must see the healed target, so game A is filtered out
    Warehouse.recover(spark, dir)
    val in = Publish.deltaOnly(rows(("A-1", "A"), ("C-1", "C")),
      delta = true, dir, Seq("GAME_ID"))
    Publish.idempotent(in, dir, delta = true)
    val got = spark.read.parquet(dir).select("id").as[String].collect().toSet
    assert(got == Set("A-1", "C-1"), s"healed game A must not duplicate: $got")
  }

  /** Publishes games A and B into one partition, then overwrites every
    * data file of it with bytes that are not parquet (dropping the
    * checksum sidecars, so the read fails on the footer). Returns the
    * table dir and a snapshot of the partition's files. */
  private def corruptedTable(): (String, () => Map[String, Seq[Byte]]) = {
    val dir = s"${Files.createTempDirectory("graft_pub")}/t"
    Publish.idempotent(rows(("A-1", "A"), ("B-1", "B")), dir, delta = false)
    val part = Paths.get(dir, "SEASON=2024-25", "SEASON_TYPE=Regular Season")
    def files() = {
      val s = Files.list(part)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally s.close()
    }
    files().filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.delete)
    files().filter(_.getFileName.toString.startsWith("part-"))
      .foreach(f => Files.write(f, "not a parquet file".getBytes("UTF-8")))
    (dir, () => files().map(f =>
      f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap)
  }

  test("a full publish over an unreadable partition fails and leaves its files alone") {
    val (dir, snapshot) = corruptedTable()
    val before = snapshot()
    intercept[Exception] {
      Publish.idempotent(rows(("A-1", "A"), ("A-2", "A")), dir, delta = false)
    }
    assert(snapshot() == before, "game B's data file must not be rewritten")
  }

  test("a delta publish over an unreadable partition fails instead of re-appending") {
    val (dir, snapshot) = corruptedTable()
    val before = snapshot()
    intercept[Exception] {
      val in = Publish.deltaOnly(rows(("A-1", "A"), ("C-1", "C")),
        delta = true, dir, Seq("GAME_ID"))
      Publish.idempotent(in, dir, delta = true)
    }
    assert(snapshot() == before, "nothing may be appended beside an unreadable table")
  }

  test("scope: game-id XOR season, stamped or derived season columns") {
    val df = Seq(("0022400001", 1L, "2024-25", "Regular Season"),
      ("0042300101", 2L, "2023-24", "Playoffs"))
      .toDF("GAME_ID", "v", "SEASON", "SEASON_TYPE")
    val a = PipelineArgs.Args(season = Some("2024-25"),
      seasonType = Some("Regular Season"), input = "i", output = "o")
    assert(Publish.scope(df, a).select("v").as[Long].collect().toSeq == Seq(1L))
    assert(Publish.scope(df, a, seasonFromColumns = true)
      .select("v").as[Long].collect().toSeq == Seq(1L))
    val byGame = a.copy(season = None, seasonType = None, gameId = Some("0042300101"))
    assert(Publish.scope(df, byGame).select("v").as[Long].collect().toSeq == Seq(2L))
  }
}
