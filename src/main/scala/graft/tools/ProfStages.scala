package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import graft.{Bench, Sessions, SparkEntry}

/** Per-stage wall/CPU attribution for one named query: warms the plan at
  * sf0.001 (Bench's discipline), runs the query once cache-cleared at the
  * timed dir, and prints every job and stage with its duration, task count
  * and summed task time — the "which exchange is the time" readout the
  * optimization guide gets from the UI (disabled here). Usage:
  * `runMain graft.tools.ProfStages <sfDir> <query> [repeat]` */
object ProfStages {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfStages <sfDir> <query> [repeat]")
    val sfDir = args(0)
    val name = args(1)
    val repeat = if (args.length > 2) args(2).toInt else 1
    require(SparkEntry.queries.contains(name), s"unknown query: $name")
    val spark = Sessions.local("graft-profstages")
    val query = SparkEntry.queries(name)
    Bench.runNoop(spark, query, Bench.warmDir(sfDir))
    // warm at scale once too, so JIT is hot and listener sees steady state
    Bench.timedRun(spark, query, sfDir)

    case class St(job: Int, stage: Int, nTasks: Int, wallMs: Long,
      taskMs: Long, shufWriteB: Long, shufReadB: Long, nm: String)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long, String)]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = (e.time, -1L,
          Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse(""))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach { case (t0, _, d) =>
          jobs(e.jobId) = (t0, e.time, d)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        val m = si.taskMetrics
        stages += St(stageToJob.getOrElse(si.stageId, -1), si.stageId,
          si.numTasks, wall, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          si.name.takeWhile(_ != '\n').take(90))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to repeat).foreach { _ =>
      val t = Bench.timedRun(spark, query, sfDir)
      println(f"[profstages] $name total ${t}%.3f s")
    }
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    println(f"[profstages] ${"job"}%4s ${"stage"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"taskMs"}%7s ${"shW_KB"}%7s ${"shR_KB"}%7s  name")
    stages.sortBy(s => (s.job, s.stage)).foreach { s =>
      println(f"[profstages] ${s.job}%4d ${s.stage}%5d ${s.nTasks}%5d ${s.wallMs}%7d ${s.taskMs}%7d ${s.shufWriteB / 1024}%7d ${s.shufReadB / 1024}%7d  ${s.nm}")
    }
    val gaps = jobs.toSeq.sortBy(_._1)
    var prevEnd = -1L
    gaps.foreach { case (jid, (t0, t1, d)) =>
      val gap = if (prevEnd >= 0) t0 - prevEnd else 0L
      println(f"[profstages] job $jid%4d wall ${t1 - t0}%6d ms gapBefore $gap%6d ms  $d")
      prevEnd = t1
    }
    spark.stop()
  }
}
