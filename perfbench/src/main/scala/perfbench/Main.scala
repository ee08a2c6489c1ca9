package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * usage: perfbench.Main --workload nba|corpus-queries --seed N --seconds S
  *   --trace 0|1 --work <dir> --out <result.json> [--spans <file>]
  *
  * The run sets up, runs one timed pass, and sets up and runs more whole
  * passes while `--seconds` have not gone by. End-to-end
  * metrics are the medians over passes; with
  * `--trace 1`, per-layer metrics are the per-pass means of the span
  * counters.
  *
  * Every workload reports the same metrics, each for its own surface:
  * `pass_s` is the time of all steps of a pass, `publish_s` the step that
  * publishes a fresh data set and `update_s` one incremental update of it;
  * the `pass.`, `publish.` and `update.` per-layer metrics are charged to
  * the same steps. Metrics of a single surface are written too; run.py
  * keeps them out of the result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(s"perfbench-$workload")
    val tSession = System.nanoTime()
    val trace = new Trace(spark, traced)
    val run = new Run(spark, trace)
    val w: Workload = workload match {
      case "nba" => new NbaWorkload(spark, seed, work,
        NbaWorkload.Size(games = 11, events = 100, delta = 3, nights = 1), trace)
      case "corpus-queries" => new Combined(Seq(
        new CorpusWorkload(spark, seed, work, CorpusWorkload.Size(
          fresh = 300, exactGroups = 15, nearPairs = 15, contaminated = 10,
          batches = 3, batchFresh = 40, erase = 10)),
        new QueriesWorkload(spark, opts("tables"), opts("results"))))
      case other => sys.error(s"unknown workload $other")
    }
    // set-up is everything before the first pass, the session start included
    var st = w.setup()
    val start = System.nanoTime()
    val setupS = (start - t0) / 1e9
    var passes = 0
    do {
      if (passes > 0) st = w.setup()
      val before = if (traced) Run.files(work) else Map.empty[String, (Long, Long)]
      run.stepSeconds = 0.0
      w.pass(st, run)
      run.sample("pass_s", run.stepSeconds)
      if (traced) {
        val (n, bytes) = Run.written(before, Run.files(work))
        run.add("pass.files_written", n, "count")
        run.add("pass.bytes_written", bytes, "bytes")
      }
      passes += 1
    } while ((System.nanoTime() - start) / 1e9 < seconds)
    val tPasses = System.nanoTime()
    trace.drain()
    w.finish(run)
    if (traced) addSpanCounters(run, "pass", trace.sum(run.stepSpans))
    run.add("staging.blocks_left", run.blocksLeft, "count")

    val e2e = run.samples.map { case (k, v) => k -> Run.median(v.toSeq) }.toSeq
    val metrics =
      if (!traced) (("setup_s" -> setupS) +: e2e).map { case (k, v) => k -> (v, "s") }
      else run.layer.toSeq.map { case (k, (v, u, perPass)) => k -> (if (perPass) v / passes else v, u) }
    val json = new StringBuilder
    json ++= s"""{"correct":${run.problems.isEmpty},"attempted":${run.attempted},"failed":${run.failed},"""
    json ++= s""""passes":$passes,"metrics":{"""
    json ++= metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    json ++= """},"samples":{"""
    json ++= run.samples.map { case (k, v) => s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }.mkString(",")
    queries(w).foreach { q =>
        // what run.py hands to DuckDB: each result dir with its oracle SQL
        json ++= """},"outputs":{"""
        json ++= q.outputs.map { case (n, d) =>
          s"""${Json.str(n)}:{"dir":${Json.str(d)},"sql":${Json.str(graft.SparkEntry.oracleSql(n))}}"""
        }.mkString(",")
    }
    json ++= """},"problems":["""
    json ++= run.problems.take(50).map(Json.str).mkString(",")
    json ++= "]}\n"
    Files.writeString(Paths.get(opts("out")), json.toString)
    opts.get("spans").filter(_ => traced).foreach(p => Files.writeString(Paths.get(p), trace.spansJsonl))
    trace.close()
    spark.stop()
    def secs(a: Long, b: Long) = f"${(b - a) / 1e9}%.1f"
    System.err.println(s"perfbench: seconds in session start ${secs(t0, tSession)}, set-up " +
      s"${secs(tSession, start)}, passes ${secs(start, tPasses)}, " +
      s"results and stop ${secs(tPasses, System.nanoTime())}")
  }

  private def queries(w: Workload): Option[QueriesWorkload] = w match {
    case q: QueriesWorkload => Some(q)
    case c: Combined => c.parts.collectFirst { case q: QueriesWorkload => q }
    case _ => None
  }

  /** Spark counters `c` as per-layer metrics named `name.*`, divided by
    * `per` when their span ran `per` times in a pass. */
  def addSpanCounters(run: Run, name: String, c: Trace.SpanCounters, per: Int = 1): Unit = {
    run.add(s"$name.spark.jobs", c.jobs.toDouble / per, "count")
    run.add(s"$name.spark.one_task_stages", c.oneTaskStages.toDouble / per, "count")
    run.add(s"$name.spark.driver_idle_s", c.driverIdleS / per, "s")
    run.add(s"$name.spark.executor_cpu_s", c.executorCpuS / per, "s")
    run.add(s"$name.spark.shuffle_bytes", c.shuffleBytes.toDouble / per, "bytes")
    run.add(s"$name.spark.spill_bytes", c.spillBytes.toDouble / per, "bytes")
    run.add(s"$name.staging.peak_bytes", c.peakBytes, "bytes", perPass = false)
  }
}
