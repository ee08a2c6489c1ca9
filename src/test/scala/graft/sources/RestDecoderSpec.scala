package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The resultSets envelope decoder (api/smart.py:566-583) on a
  * gamerotation-shaped fixture (FIXTURES.md §REST envelope). */
class RestDecoderSpec extends SparkSpec {
  import spark.implicits._

  private val envelope =
    """{"resultSets":[
         {"name":"AwayTeam","headers":["GAME_ID","TEAM_ID","PERSON_ID","IN_TIME_REAL","OUT_TIME_REAL"],
          "rowSet":[["0022400236","1610612739","201",  "0.0","14400.0"],
                    ["0022400236","1610612739","202","3600.0","28800.0"]]},
         {"name":"HomeTeam","headers":["GAME_ID","TEAM_ID","PERSON_ID","IN_TIME_REAL","OUT_TIME_REAL"],
          "rowSet":[["0022400236","1610612766","101","0.0","28800.0"]]},
         {"name":"Empty","headers":["X"],"rowSet":[]}]}""".replaceAll("\n\\s*", "")

  test("parse explodes one row per rowSet entry per set; empty sets vanish (api/smart.py:570)") {
    val parsed = RestDecoder.parse(Seq(envelope).toDS())
    val counts = parsed.groupBy(col("name")).count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("AwayTeam" -> 2L, "HomeTeam" -> 1L))
  }

  test("resultSet maps headers to columns; cast applies a declared schema") {
    val parsed = RestDecoder.parse(Seq(envelope).toDS())
    val away = RestDecoder.resultSet(parsed, "AwayTeam")
    assert(away.columns.toSeq == Seq("GAME_ID", "TEAM_ID", "PERSON_ID", "IN_TIME_REAL", "OUT_TIME_REAL"))
    val schema = StructType(Seq(
      StructField("GAME_ID", StringType),
      StructField("TEAM_ID", LongType),
      StructField("PERSON_ID", LongType),
      StructField("IN_TIME_REAL", DoubleType),
      StructField("OUT_TIME_REAL", DoubleType)))
    val typed = RestDecoder.cast(away, schema)
    assert(typed.schema == schema)
    val rows = typed.as[(String, Long, Long, Double, Double)].collect().toSet
    assert(rows == Set(
      ("0022400236", 1610612739L, 201L, 0.0, 14400.0),
      ("0022400236", 1610612739L, 202L, 3600.0, 28800.0)))
    // GAME_ID survived as a zero-padded string — the likeliest correctness
    // bug in this pipeline is a silent int cast (SURVEY.md §7)
    assert(rows.forall(_._1 == "0022400236"))
  }

  test("cast fails loudly when the decoded frame lacks a declared column (API drift)") {
    val parsed = RestDecoder.parse(Seq(envelope).toDS())
    val away = RestDecoder.resultSet(parsed, "AwayTeam")
    val drifted = StructType(Seq(
      StructField("GAME_ID", StringType),
      StructField("RENAMED_COLUMN", LongType)))
    val e = intercept[IllegalArgumentException](RestDecoder.cast(away, drifted))
    assert(e.getMessage.contains("RENAMED_COLUMN"))
  }

  test("missing result set raises like the reference's KeyError path") {
    val parsed = RestDecoder.parse(Seq(envelope).toDS())
    intercept[IllegalArgumentException] {
      RestDecoder.resultSet(parsed, "DoesNotExist")
    }
  }

  test("headers probes every set at once and tells no documents from a missing set") {
    val docs = Seq(envelope).toDS()
    val hs = RestDecoder.headers(RestDecoder.parse(docs), docs.toDF()).get
    assert(hs.keySet == Set("AwayTeam", "HomeTeam"), "an empty rowSet has no headers to probe")
    assert(RestDecoder.resultSet(RestDecoder.parse(docs), "HomeTeam", hs, Nil)
      .select("PERSON_ID").as[String].collect().toSeq == Seq("101"))
    val none = Seq.empty[String].toDS()
    assert(RestDecoder.headers(RestDecoder.parse(none), none.toDF()).isEmpty)
    val other = Seq("""{"resultSets":[]}""").toDS()
    assert(RestDecoder.headers(RestDecoder.parse(other), other.toDF()).contains(Map.empty))
    val e = intercept[IllegalArgumentException] {
      RestDecoder.resultSet(RestDecoder.parse(other), "AwayTeam", Map.empty, Nil)
    }
    assert(e.getMessage.contains("result set 'AwayTeam' absent or empty"))
  }
}
