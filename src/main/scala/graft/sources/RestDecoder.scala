package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decoder for the stats-API response envelope
  * `{"resultSets":[{"name","headers","rowSet"}]}` — the JSON -> DataFrame
  * half of the reference's REST source (reference: api/smart.py:566-583;
  * SURVEY.md §2.1 S1). The HTTP half is a driver-side/`mapPartitions`
  * fetch that this zero-egress environment stubs; everything after the
  * bytes arrive is here and testable.
  *
  * Cells are decoded as strings (the API mixes numbers and strings per
  * column, like the reference's pandas inference) and cast by the caller
  * against the declared schemas in [[graft.schema.Schemas]]. Non-empty
  * rowSets only, one DataFrame per set name (reference skips empty sets,
  * api/smart.py:570). A set's columns come from its headers, which take
  * one driver-side probe: per set in [[resultSet]], or for all sets of a
  * landing at once in [[headers]].
  */
object RestDecoder {

  private val envelopeSchema = StructType(Seq(
    StructField("resultSets", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("headers", ArrayType(StringType)),
      StructField("rowSet", ArrayType(ArrayType(StringType)))))))))

  /** Parse raw envelope JSONs into (set name, headers, one row per rowSet
    * entry). Fully distributed: each JSON document parses independently. */
  def parse(jsons: Dataset[String])(implicit spark: SparkSession): DataFrame =
    spark.read.schema(envelopeSchema).json(jsons)
      .select(explode(col("resultSets")).as("rs"))
      .select(col("rs.name").as("name"), col("rs.headers").as("headers"),
        explode(col("rs.rowSet")).as("row"))

  /** Parse while RETAINING request identity: input rows are
    * (params map<string,string>, body), output one (params, name, headers,
    * row) per rowSet entry — for endpoints whose rows do not carry the
    * request's coordinates (the period-sliced box score: PERIOD exists
    * only in the request, which the reference stamps per fetch at
    * etl/players_on_court_at_start_of_period.py:42-58). */
  def parseTagged(bodies: DataFrame): DataFrame =
    bodies.select(col("params"), from_json(col("body"), envelopeSchema).as("env"))
      .select(col("params"), explode(col("env.resultSets")).as("rs"))
      .select(col("params"), col("rs.name").as("name"),
        col("rs.headers").as("headers"), explode(col("rs.rowSet")).as("row"))

  /** Materialize one named result set as a DataFrame with header-named
    * string columns. Headers must be consistent across documents (they are:
    * the API schema per endpoint is fixed); the first row's headers define
    * the layout, like the reference taking `resultSets[i]['headers']`.
    * `keep` carries extra columns of the parsed frame through (e.g. the
    * `params` tag of [[parseTagged]]).
    */
  def resultSet(parsed: DataFrame, name: String, keep: Seq[String] = Nil): DataFrame = {
    val first = parsed.filter(col("name") === name).select(col("headers")).limit(1)
      .collect().headOption.flatMap(r => Option(r.getSeq[String](0)))
    resultSet(parsed, name, first.map(name -> _).toMap, keep)
  }

  /** [[resultSet]] with the headers already probed by [[headers]], so a
    * caller decoding several sets of one response probes once. */
  def resultSet(parsed: DataFrame, name: String, headers: Map[String, Seq[String]],
      keep: Seq[String]): DataFrame = {
    val hs = headers.getOrElse(name, Nil)
    require(hs.nonEmpty, s"result set '$name' absent or empty")
    parsed.filter(col("name") === name).select(keep.map(col) ++ hs.zipWithIndex.map {
      case (h, i) => col("row").getItem(i).as(h)
    }: _*)
  }

  /** The headers of every non-empty result set in `parsed`, by set name,
    * from one job that collects the distinct (name, headers) pairs — or
    * None when `source`, the documents `parsed` came from, has no row at
    * all (a fan-out with nothing to fetch, as opposed to responses without
    * the set). */
  def headers(parsed: DataFrame, source: DataFrame): Option[Map[String, Seq[String]]] = {
    import parsed.sparkSession.implicits._
    val noSet = source.select(lit(null).cast(StringType).as("name"),
      lit(null).cast(ArrayType(StringType)).as("headers"))
    val pairs = parsed.select(col("name"), col("headers")).unionByName(noSet)
      .as[(Option[String], Option[Seq[String]])]
      .mapPartitions(_.distinct).collect().distinct
    if (pairs.isEmpty) None
    else Some(pairs.collect { case (Some(n), Some(hs)) => n -> hs }.toMap)
  }

  /** Cast the string-typed columns of a decoded result set to a declared
    * schema (columns matched by name; extra decoded columns dropped).
    * Every declared column must be present — a missing one means the API
    * renamed/dropped a header, and failing HERE names the source instead
    * of surfacing as an unresolved-column error deep in the ETL. */
  def cast(decoded: DataFrame, schema: StructType): DataFrame = {
    val missing = schema.fieldNames.filterNot(decoded.columns.contains)
    require(missing.isEmpty,
      s"decoded result set lacks declared column(s): ${missing.mkString(", ")}")
    decoded.select(schema.fields.toSeq.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }: _*)
  }
}
