package graft.nba

import graft.SparkSpec

/** Upsert emulation semantics (database/db_client.py:69-92). */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val existing = Seq(("a", 1), ("b", 2)).toDF("id", "v")
  private val incoming = Seq(("b", 20), ("c", 30), ("c", 30)).toDF("id", "v")

  test("replace: incoming wins on conflict, new keys appended, dupes collapsed") {
    val got = Upsert.replace(existing, incoming, "id")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("a", 1), ("b", 20), ("c", 30)))
  }

  test("replace elects a deterministic per-key winner regardless of partitioning") {
    // three conflicting rows for key "k": the min under the (v, w) struct
    // order must win no matter how the input is partitioned or ordered
    val conflicted = Seq(("k", 5, "z"), ("k", 2, "b"), ("k", 2, "a"), ("x", 9, "q"))
    def winner(df: org.apache.spark.sql.DataFrame) =
      Upsert.replace(Seq.empty[(String, Int, String)].toDF("id", "v", "w"), df, "id")
        .as[(String, Int, String)].collect().toSet
    val one = winner(conflicted.toDF("id", "v", "w").repartition(1))
    val seven = winner(conflicted.reverse.toDF("id", "v", "w").repartition(7))
    assert(one == Set(("k", 2, "a"), ("x", 9, "q")))
    assert(one == seven, "winner must not depend on partitioning or input order")
  }

  test("replace handles non-orderable (map) columns with a deterministic winner") {
    // min(struct) fails analysis on MapType; the JSON-ordered window path
    // must kick in and still elect a partitioning-independent winner
    val conflicted = Seq(
      ("k", Map("b" -> 2)), ("k", Map("a" -> 1)), ("x", Map("q" -> 9)))
    def winner(rows: Seq[(String, Map[String, Int])], parts: Int) =
      Upsert.replace(
        Seq.empty[(String, Map[String, Int])].toDF("id", "m"),
        rows.toDF("id", "m").repartition(parts), "id")
        .as[(String, Map[String, Int])].collect().toMap
    val one = winner(conflicted, 1)
    val seven = winner(conflicted.reverse, 7)
    assert(one == Map("k" -> Map("a" -> 1), "x" -> Map("q" -> 9)))
    assert(one == seven, "winner must not depend on partitioning or input order")
  }

  test("ignore: existing wins on conflict") {
    val got = Upsert.ignore(existing, incoming, "id")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("a", 1), ("b", 2), ("c", 30)))
  }

  test("deltaNew: only unseen keys survive (delta-ingest anti-join, etl/play_by_play.py:50-62)") {
    val got = Upsert.deltaNew(existing, incoming, Seq("id"))
      .as[(String, Int)].collect().toSet
    assert(got == Set(("c", 30), ("c", 30)))
  }

  test("duplicateKeys surfaces multiplicities > 1") {
    val got = Upsert.duplicateKeys(incoming, "id")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("c", 2L)))
  }
}
