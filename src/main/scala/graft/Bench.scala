package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tools.Jsons.{str => js}

/** Times the `SparkEntry.queries` suite against `SPARK_GRAFT_SF_DIR`.
  *
  * Protocol:
  *   - warm every query once at the sf0.001 sibling of the timed dir (the
  *     same generated classes at ~1% of the data), then the first seven
  *     queries once at the timed scale, so JIT warm-in lands on no
  *     measurement;
  *   - time each query twice, each run cache-cleared and materialized
  *     through the noop sink, and keep the faster;
  *   - after the whole suite, time every query once more and report
  *     `min(a, b, retime)`, so a transient stall during the suite cannot
  *     stand as the query's time.
  *
  * A query counts as staged when the session still holds a persistent RDD
  * or a cached plan right after one of its timed runs. Paired A/B runs
  * with medians and quartiles are `perfbench/run.py` and
  * `perfbench/compare.py`; this main prints one run. */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** One query's measurements: `best` is the faster of the two suite runs,
    * -1 when the first run failed (no timing); `retime` is the run after
    * the suite. `flaky` marks a later run that failed after a success. */
  final case class Result(name: String, best: Double, retime: Option[Double],
      flaky: Boolean, staged: Boolean) {
    def failed: Boolean = best < 0
    def retimeWon: Boolean = !failed && retime.exists(_ < best)
    def value: Double = if (retimeWon) retime.get else best
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val warm = warmDir(sfDir)
    queries.foreach { case (name, fn) =>
      try runNoop(spark, fn, warm)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed (ignored): ${e.getMessage}")
      }
    }
    queries.take(7).foreach { case (name, fn) =>
      try timedRun(spark, fn, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-in $name failed (ignored): ${e.getMessage}")
      }
    }
    codeCacheReport("post-warmup")
    val results = measure(spark, sfDir, queries)
    codeCacheReport("post-run")
    render(results, sfDir).foreach(println)
    spark.stop()
  }

  /** The sf0.001 sibling of `sfDir`, or `sfDir` itself (with a warning) when
    * there is none. */
  private[graft] def warmDir(sfDir: String): String = {
    val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (sibling.isDirectory) sibling.getPath
    else {
      System.err.println(s"[bench] WARN: no sf0.001 sibling of $sfDir; warming on the timed dir itself")
      sfDir
    }
  }

  private[graft] def runNoop(spark: SparkSession, fn: Query, dir: String): Unit =
    fn(spark, dir).write.format("noop").mode("overwrite").save()

  /** Drop the SQL cache and every persistent RDD (localCheckpoints live
    * outside the SQL cache), blocking, so nothing is removed inside a timed
    * window and no query rides another's blocks. */
  private[graft] def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** One cache-cleared run through the noop sink, in seconds. */
  private[graft] def timedRun(spark: SparkSession, fn: Query, dir: String): Double = {
    clearCaches(spark)
    val t0 = System.nanoTime()
    runNoop(spark, fn, dir)
    (System.nanoTime() - t0) / 1e9
  }

  private def holdsBlocks(spark: SparkSession): Boolean =
    spark.sparkContext.getPersistentRDDs.nonEmpty ||
      !spark.sharedState.cacheManager.isEmpty

  /** Best-of-2 per query in order, then one retime of every query that ran.
    * A failed first run marks the query failed; a failed later run marks
    * it flaky and keeps the timings it has. */
  def measure(spark: SparkSession, dir: String, queries: Seq[(String, Query)]): Seq[Result] = {
    var staged = Set.empty[String]
    def run(name: String, fn: Query): Double = {
      val t = timedRun(spark, fn, dir)
      if (holdsBlocks(spark)) staged += name
      t
    }
    def attempt(name: String, what: String)(body: => Double): Option[Double] =
      try Some(body)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name $what failed: ${e.getMessage}")
        None
      }
    val suite = queries.map { case (name, fn) =>
      attempt(name, "first run")(run(name, fn)) match {
        case None => Result(name, -1.0, None, flaky = false, staged = false)
        case Some(a) =>
          val b = attempt(name, "second run")(run(name, fn))
          Result(name, b.fold(a)(math.min(a, _)), None, flaky = b.isEmpty, staged = false)
      }
    }
    val retimed = suite.zip(queries).map { case (r, (_, fn)) =>
      if (r.failed) r
      else attempt(r.name, "retime")(run(r.name, fn)) match {
        case Some(t) => r.copy(retime = Some(t))
        case None => r.copy(flaky = true)
      }
    }
    clearCaches(spark)
    retimed.map(r => r.copy(staged = staged(r.name)))
  }

  /** The output lines: `total` (the whole per-query map), `queries_part`
    * (the same map in chunks of 30, each line parseable on its own, so a
    * truncated capture keeps it) and `total_summary` last. A failed query
    * prints -1 and is left out of the total. */
  def render(results: Seq[Result], sfDir: String): Seq[String] = {
    val sf = js(sfDir)
    def names(p: Result => Boolean) = results.filter(p).map(r => js(r.name)).mkString("[", ",", "]")
    def queryMap(rs: Seq[Result]) = rs.map(r => js(r.name) + ":" + r.value).mkString("{", ",", "}")
    val total = results.filterNot(_.failed).map(_.value).sum
    val won = results.filter(_.retimeWon)
    val retimedJson = won.map(r => js(r.name) + s""":{"observed":${r.best},"retimed":${r.retime.get}}""")
      .mkString("{", ",", "}")
    val main = s"""{"metric":"total","value":$total,"unit":"sec","queries":${queryMap(results)},""" +
      s""""failed":${names(_.failed)},"flaky":${names(_.flaky)},"staged":${names(_.staged)},""" +
      s""""retimed":$retimedJson,"sf":$sf}"""
    val chunks = results.grouped(30).toSeq
    val parts = chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"queries_part","part":$i,"n_parts":${chunks.size},"queries":${queryMap(c)},"sf":$sf}"""
    }
    val slowest = results.filterNot(_.failed).sortBy(-_.value).take(10)
      .map(r => s"[${js(r.name)},${r.value}]").mkString("[", ",", "]")
    val summary = s"""{"metric":"total_summary","value":$total,"unit":"sec","n":${results.size},""" +
      s""""failed":${results.count(_.failed)},"flaky":${results.count(_.flaky)},""" +
      s""""retimed":${won.size},"slowest":$slowest,"sf":$sf}"""
    (main +: parts) :+ summary
  }

  /** JIT code-cache high-water marks on stderr: a full cache stops HotSpot
    * compiling, and later queries then run partly interpreted. */
  private def codeCacheReport(label: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .foreach { p =>
        val u = p.getUsage
        System.err.println(
          f"[bench] $label ${p.getName}: used=${u.getUsed / 1e6}%.0fMB max=${u.getMax / 1e6}%.0fMB")
      }
  }
}
