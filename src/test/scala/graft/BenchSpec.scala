package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The shape of Bench's output lines (the `total`, `queries_part` and
  * `total_summary` keys other tools read) and its measurement protocol on
  * a few stand-in queries. */
class BenchSpec extends SparkSpec {
  import Bench.Result

  // json4s keeps an object's fields in the order they were written
  private def parse(line: String): JValue = JsonMethods.parse(line, useBigDecimalForDouble = false)
  private def entries(v: JValue): Seq[(String, JValue)] = v match {
    case JObject(fs) => fs
    case other => fail(s"not an object: $other")
  }
  private def keys(v: JValue): Seq[String] = entries(v).map(_._1)
  private def text(v: JValue): String = v match {
    case JString(s) => s
    case other => fail(s"not a string: $other")
  }
  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case other => fail(s"not a number: $other")
  }
  private def texts(v: JValue): Seq[String] = v match {
    case JArray(vs) => vs.map(text)
    case other => fail(s"not an array: $other")
  }

  private val fixed = Seq(
    Result("q01_a", 0.5, Some(0.6), flaky = false, staged = false),
    Result("q02_b", 2.0, Some(1.5), flaky = false, staged = true),
    Result("q03_c", -1.0, None, flaky = false, staged = false),
    Result("q04_d", 0.25, None, flaky = true, staged = false),
    Result("q05_e", 1.0, Some(1.0), flaky = false, staged = false))

  private def lines(rs: Seq[Result] = fixed) = Bench.render(rs, "/data/sf0.1").map(parse)

  test("render pins the keys of the total, queries_part and total_summary lines") {
    val out = lines()
    assert(out.map(o => text(o \ "metric")) == Seq("total", "queries_part", "total_summary"))
    assert(keys(out.head) ==
      Seq("metric", "value", "unit", "queries", "failed", "flaky", "staged", "retimed", "sf"))
    assert(keys(out(1)) == Seq("metric", "part", "n_parts", "queries", "sf"))
    assert(keys(out.last) ==
      Seq("metric", "value", "unit", "n", "failed", "flaky", "retimed", "slowest", "sf"))
    assert(out.forall(o => text(o \ "sf") == "/data/sf0.1"))
  }

  test("the reported time is min(best, retime); retimed lists the queries the retime won") {
    val total = lines().head
    val qs = entries(total \ "queries").map { case (k, v) => k -> num(v) }.toMap
    assert(qs == Map("q01_a" -> 0.5, "q02_b" -> 1.5, "q03_c" -> -1.0, "q04_d" -> 0.25,
      "q05_e" -> 1.0))
    val retimed = entries(total \ "retimed")
    assert(retimed.map(_._1) == Seq("q02_b"))
    assert(keys(retimed.head._2) == Seq("observed", "retimed"))
    assert(num(retimed.head._2 \ "observed") == 2.0)
    assert(num(retimed.head._2 \ "retimed") == 1.5)
    assert(texts(total \ "staged") == Seq("q02_b"))
    assert(texts(total \ "flaky") == Seq("q04_d"))
    val summary = lines().last
    assert(num(summary \ "retimed") == 1)
    assert(num(summary \ "flaky") == 1)
    assert(num(summary \ "n") == 5)
    assert(text((summary \ "slowest")(0)(0)) == "q02_b")
  }

  test("a failed query prints -1, is counted in failed and left out of the total") {
    val out = lines()
    assert(num(out.head \ "queries" \ "q03_c") == -1.0)
    assert(texts(out.head \ "failed") == Seq("q03_c"))
    assert(num(out.last \ "failed") == 1)
    assert(math.abs(num(out.head \ "value") - (0.5 + 1.5 + 0.25 + 1.0)) < 1e-9)
    assert(num(out.last \ "value") == num(out.head \ "value"))
    assert(!(out.last \ "slowest").children.exists(e => text(e(0)) == "q03_c"))
  }

  test("queries_part chunks rejoin to the full map") {
    val many = (1 to 65).map(i => Result(f"q$i%03d", i / 10.0, None, flaky = false, staged = false))
    val out = lines(many)
    val parts = out.filter(o => text(o \ "metric") == "queries_part")
    assert(parts.map(p => num(p \ "part")) == Seq(0.0, 1.0, 2.0))
    assert(parts.forall(p => num(p \ "n_parts") == 3))
    val joined = parts.flatMap(p => entries(p \ "queries"))
    assert(joined.map(_._1) == entries(out.head \ "queries").map(_._1))
    assert(joined.map(e => num(e._2)) == entries(out.head \ "queries").map(e => num(e._2)))
  }

  test("measure: every query that ran is retimed, staging is observed, a failure is counted") {
    val plain: Bench.Query = (s, _) => s.range(50).toDF()
    val staged: Bench.Query = (s, _) => {
      val df = s.range(50).toDF().persist()
      df.count()
      df
    }
    val broken: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val rs = Bench.measure(spark, "unused",
      Seq("a_plain" -> plain, "b_staged" -> staged, "c_broken" -> broken))
    assert(rs.map(_.name) == Seq("a_plain", "b_staged", "c_broken"))
    assert(rs.take(2).forall(r => r.best >= 0 && r.retime.isDefined && !r.flaky))
    assert(rs.filter(_.staged).map(_.name) == Seq("b_staged"))
    val c = rs(2)
    assert(c.failed && c.retime.isEmpty && c.value == -1.0)
    // the staged frame was released at the end of the run
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
