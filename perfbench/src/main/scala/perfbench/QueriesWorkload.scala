package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.{DedupOps, EventOps, Relational, TextOps, VectorOps}

/** A fixed sample of `SparkEntry.queries`, one per family, over seeded
  * tables. Every query starts cache-cleared, is built once (the query
  * function returns its DataFrame) and executed once (its result is written
  * as parquet); run.py then checks the results against DuckDB running each
  * query's `SparkEntry.oracleSql`. */
final class QueriesWorkload(spark: SparkSession, tables: String, results: String)
    extends Workload {
  import QueriesWorkload._

  type State = Unit
  val outputs = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def setup(): Unit = { Run.clearCaches(spark); Run.freshDir(results); () }

  def pass(s: Unit, run: Run): Unit = {
    val tr = run.trace
    var suite = 0.0
    Sample.foreach { case (family, name) =>
      Run.clearCaches(spark)
      val dir = s"$results/$name"
      val done = run.op(name)(run.step(s"queries.$family") {
        val (df, build) = Run.time(tr.span("build")(SparkEntry.queries(name)(spark, tables)))
        val (_, exec) = Run.time(tr.span("exec")(df.write.mode("overwrite").parquet(dir)))
        if (tr.enabled) {
          run.add(s"queries.$family.build_s", build, "s")
          run.add(s"queries.$family.exec_s", exec, "s")
        }
      }._2)
      done.foreach { secs =>
        run.sample(s"queries.${family}_s", secs)
        suite += secs
        outputs(name) = dir
      }
    }
    run.sample("queries.suite_s", suite)
  }

  override def finish(run: Run): Unit = if (run.trace.enabled)
    Families.foreach(f => Main.addSpanCounters(run, s"queries.$f", run.trace.counters(s"queries.$f")))
}

object QueriesWorkload {
  val Families: Seq[String] = Seq("relational", "event", "text", "dedup", "vector")

  /** The family of every query: the module that defines it. */
  val FamilyOf: Map[String, String] = Seq(Relational.queries, EventOps.queries, TextOps.queries,
    DedupOps.queries, VectorOps.queries).zip(Families)
    .flatMap { case (qs, f) => qs.keys.map(_ -> f) }.toMap

  /** One query per family; in dedup and vector it is an iterative operator
    * (components in q39, k-means in q46) whose loop runs while the query is
    * built. */
  val Names: Seq[String] = Seq(
    "q04_join_agg", "q16_sessionize", "q45_tfidf_terms", "q39_dedupe_corpus", "q46_kmeans")

  val Sample: Seq[(String, String)] = Names.map(n => FamilyOf(n) -> n)
}
