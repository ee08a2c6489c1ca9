package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import graft.{Bench, Sessions, SparkEntry}

/** Per-stage wall/CPU attribution for one named query: warms the plan at
  * sf0.001 (Bench's discipline), runs the query once cache-cleared at the
  * timed dir, and prints every job and stage with its duration, task count
  * and summed task time — the "which exchange is the time" readout the
  * optimization guide gets from the UI (disabled here). Usage:
  * `runMain graft.tools.ProfStages <sfDir> <query> [repeat]` */
object ProfStages {

  final case class Stage(job: Int, stage: Int, nTasks: Int, wallMs: Long,
      taskMs: Long, shufWriteB: Long, shufReadB: Long, nm: String)

  /** A job as the listener saw it: submit and end times, its description
    * and the value of the recorder's tag property when it was submitted. */
  final case class Job(t0: Long, t1: Long, description: String, tag: String)

  /** Records every job and stage of the session it is added to. Jobs carry
    * the value of the local property [[tagKey]] at submission (Spark copies
    * local properties into the threads that run a query's broadcasts and
    * subqueries), so a caller counts the jobs of one step by setting the
    * property around it. */
  final class Recorder extends SparkListener {
    val tagKey = "graft.prof.tag"
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.time, -1L, prop("spark.job.description"), prop(tagKey))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(t1 = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wall = (for {a <- si.completionTime; b <- si.submissionTime}
        yield a - b).getOrElse(-1L)
      val m = si.taskMetrics
      stages += Stage(stageToJob.getOrElse(si.stageId, -1), si.stageId,
        si.numTasks, wall, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        si.name.takeWhile(_ != '\n').take(90))
    }

    /** Number of recorded jobs submitted under `tag`. */
    def jobsTagged(tag: String): Int = synchronized(jobs.values.count(_.tag == tag))

    /** Block until every job submitted before this call has been
      * delivered: the listener bus delivers in order, so once a marker
      * job submitted now is seen, everything before it has been. */
    def drain(sc: SparkContext): Unit = {
      val marker = s"drain-${System.nanoTime()}"
      val saved = sc.getLocalProperty(tagKey)
      sc.setLocalProperty(tagKey, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tagKey, saved)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobsTagged(marker) == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      require(jobsTagged(marker) > 0, "the listener bus never delivered the marker job")
    }
  }

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

    val rec = new Recorder()
    spark.sparkContext.addSparkListener(rec)
    (1 to repeat).foreach { _ =>
      val t = Bench.timedRun(spark, query, sfDir)
      println(f"[profstages] $name total ${t}%.3f s")
    }
    rec.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    println(f"[profstages] ${"job"}%4s ${"stage"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"taskMs"}%7s ${"shW_KB"}%7s ${"shR_KB"}%7s  name")
    rec.stages.sortBy(s => (s.job, s.stage)).foreach { s =>
      println(f"[profstages] ${s.job}%4d ${s.stage}%5d ${s.nTasks}%5d ${s.wallMs}%7d ${s.taskMs}%7d ${s.shufWriteB / 1024}%7d ${s.shufReadB / 1024}%7d  ${s.nm}")
    }
    var prevEnd = -1L
    rec.jobs.toSeq.sortBy(_._1).filterNot(_._2.tag.startsWith("drain-")).foreach {
      case (jid, j) =>
        val gap = if (prevEnd >= 0) j.t0 - prevEnd else 0L
        println(f"[profstages] job $jid%4d wall ${j.t1 - j.t0}%6d ms gapBefore $gap%6d ms  ${j.description}")
        prevEnd = j.t1
    }
    spark.stop()
  }
}
