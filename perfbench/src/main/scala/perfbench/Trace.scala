package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the program's public calls, and the Spark-side counters the
  * traced run attributes to them.
  *
  * A span is opened on the driver thread. Its path (`a/b/c`) is set as a
  * local property, so every job submitted inside it carries the path, and
  * the listener charges the job's stages and tasks to the span and to each
  * of its ancestors. With tracing off, `span` only runs its body, so the
  * untraced run pays nothing but a closure call. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val stack = mutable.ArrayBuffer.empty[String]
  private val t0Nanos = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[SpanRecord]
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def countersOf(path: String): Counters =
    counters.computeIfAbsent(path, _ => new Counters)

  private def prefixes(path: String): Seq[String] = {
    val parts = path.split('/')
    (1 to parts.length).map(i => parts.take(i).mkString("/"))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val path = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      path.foreach { p =>
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, p))
        prefixes(p).foreach { q =>
          val c = countersOf(q)
          c.synchronized { c.jobs += 1; c.jobIntervals += ((e.time, Long.MaxValue)) }
        }
        jobPaths.put(e.jobId, (p, e.time))
      }
    }
    private val jobPaths = new ConcurrentHashMap[Int, (String, Long)]()
    private def endJob(e: SparkListenerJobEnd): Unit =
      Option(jobPaths.remove(e.jobId)).foreach { case (p, start) =>
        prefixes(p).foreach { q =>
          val c = countersOf(q)
          c.synchronized {
            val i = c.jobIntervals.indexOf((start, Long.MaxValue))
            if (i >= 0) c.jobIntervals(i) = (start, e.time)
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { p =>
        if (e.stageInfo.numTasks == 1) prefixes(p).foreach { q =>
          val c = countersOf(q); c.synchronized { c.oneTaskStages += 1 }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { p =>
        val m = e.taskMetrics
        if (m != null) prefixes(p).foreach { q =>
          val c = countersOf(q)
          c.synchronized {
            c.cpuNanos += m.executorCpuTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      endJob(e)
      notePeak()
    }
  }

  /** Bytes of RDD blocks held now (persisted and checkpointed), charged as
    * a peak to every open span. Sampled at span edges and job ends. */
  private def notePeak(): Unit = {
    val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    openPaths.foreach { q =>
      val c = countersOf(q)
      c.synchronized { c.peakBytes = math.max(c.peakBytes, held) }
    }
  }

  // spans open right now (listener thread reads it for the staging peak)
  @volatile private var openPaths: Seq[String] = Seq.empty

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside the span `name` (nested under the open span). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    stack += name
    val path = stack.mkString("/")
    val parent = if (stack.length > 1) stack.init.mkString("/") else ""
    sc.setLocalProperty(SpanProp, path)
    openPaths = prefixes(path)
    notePeak()
    val start = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try body
    finally {
      notePeak()
      val end = System.nanoTime()
      spans += SpanRecord(path, parent, (start - t0Nanos) / 1e9, (end - t0Nanos) / 1e9)
      val c = countersOf(path)
      c.synchronized {
        c.wallNanos += end - start
        c.windows += ((startMs, startMs + (end - start) / 1000000L))
      }
      stack.remove(stack.length - 1)
      val p = stack.mkString("/")
      sc.setLocalProperty(SpanProp, if (p.isEmpty) null else p)
      openPaths = if (p.isEmpty) Seq.empty else prefixes(p)
    }
  }

  /** Wait for the listener bus to deliver everything posted so far. */
  def drain(): Unit = if (enabled) {
    // the bus is asynchronous; a short quiet period is enough in local mode
    // because every job has ended by the time the driver thread returns
    val deadline = System.currentTimeMillis() + 2000
    var last = -1L
    while (System.currentTimeMillis() < deadline && {
      val n = counters.values.asScala.map(c => c.synchronized(c.jobs + c.oneTaskStages)).sum
      val changed = n != last; last = n; changed
    }) Thread.sleep(100)
  }

  /** Spark counters of the span `path` (summed over its descendants). */
  def counters(path: String): SpanCounters = {
    val c = countersOf(path)
    c.synchronized {
      // driver idle time: span wall time during which no job of the span ran
      val busyMs = c.windows.toSeq.map { case (s, e) =>
        union(c.jobIntervals.toSeq.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
          .filter { case (a, b) => b > a })
      }.sum
      SpanCounters(
        jobs = c.jobs,
        oneTaskStages = c.oneTaskStages,
        driverIdleS = math.max(0.0, c.wallNanos / 1e9 - busyMs / 1e3),
        executorCpuS = c.cpuNanos / 1e9,
        shuffleBytes = c.shuffleBytes,
        spillBytes = c.spillBytes,
        peakBytes = c.peakBytes)
    }
  }

  /** Counters of several disjoint spans together: sums, and the largest
    * staging peak. */
  def sum(paths: Iterable[String]): SpanCounters =
    paths.map(counters).foldLeft(SpanCounters(0, 0, 0.0, 0.0, 0, 0, 0)) { (a, c) =>
      SpanCounters(a.jobs + c.jobs, a.oneTaskStages + c.oneTaskStages, a.driverIdleS + c.driverIdleS,
        a.executorCpuS + c.executorCpuS, a.shuffleBytes + c.shuffleBytes, a.spillBytes + c.spillBytes,
        math.max(a.peakBytes, c.peakBytes))
    }

  /** Wall time spent inside spans named `path`, summed. */
  def wall(path: String): Double = { val c = countersOf(path); c.synchronized(c.wallNanos / 1e9) }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Spans as JSON lines: name, parent, start and end in seconds. */
  def spansJsonl: String = spans.map { s =>
    s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
      f""""start":${s.start}%.6f,"end":${s.end}%.6f}"""
  }.mkString("", "\n", "\n")
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class SpanRecord(name: String, parent: String, start: Double, end: Double)

  final case class SpanCounters(jobs: Long, oneTaskStages: Long, driverIdleS: Double,
      executorCpuS: Double, shuffleBytes: Long, spillBytes: Long, peakBytes: Long)

  private final class Counters {
    var jobs = 0L
    var oneTaskStages = 0L
    var cpuNanos = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var peakBytes = 0L
    var wallNanos = 0L
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Total length of the union of [a, b) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
