package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run records: end-to-end samples (one per pass), per-layer
  * values, operations attempted and failed, and every failed check. */
final class Run(val spark: SparkSession, val trace: Trace) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String, Boolean)]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var blocksLeft = 0L

  /** Wall time of the current pass's steps, and the span of every step. */
  var stepSeconds = 0.0
  val stepSpans = mutable.LinkedHashSet.empty[String]

  def sample(name: String, seconds: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  /** One step of a pass: a top-level span around public calls of the
    * program. Its time counts toward `pass_s`; the benchmark's own checks
    * run between steps and do not. */
  def step[T](span: String)(body: => T): (T, Double) = {
    val r = Run.time(trace.span(span)(body))
    stepSeconds += r._2
    stepSpans += span
    r
  }

  /** Add `v` to the per-layer metric `name`. Values are summed over passes
    * and divided by the pass count when the run ends, unless `perPass` is
    * false (a peak, which is kept as the largest value seen). */
  def add(name: String, v: Double, unit: String, perPass: Boolean = true): Unit = {
    val old = layer.get(name).map(_._1)
    layer(name) = (if (perPass) old.getOrElse(0.0) + v else math.max(old.getOrElse(v), v), unit, perPass)
  }

  /** One public call of the program: counted, and a throw is a failed
    * operation. Afterwards, the persistent RDDs and cached plans the call
    * left behind are counted. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val r =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    val held = Run.heldBlocks(spark)
    blocksLeft += held
    if (trace.enabled && held > 0) System.err.println(s"perfbench: $name left $held cached blocks")
    r
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  def checkAll(found: Seq[String]): Unit = problems ++= found
}

object Run {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Persistent RDDs plus cached query plans still held by the session. */
  def heldBlocks(spark: SparkSession): Long = {
    val rdds = spark.sparkContext.getPersistentRDDs.size.toLong
    val cm = spark.sharedState.cacheManager
    val plans =
      try {
        val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Iterable[_] => s.size.toLong
          case _ => if (cm.isEmpty) 0L else 1L
        }
      } catch { case NonFatal(_) => if (cm.isEmpty) 0L else 1L }
    rdds + plans
  }

  /** Empty the SQL cache and unpersist every RDD: each pass starts clean. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }

  def freshDir(path: String): String = {
    val f = new File(path)
    deleteTree(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Every regular file under `dir`: path -> (mtime, size). */
  def files(dir: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.isFile)
      .map(f => f.getPath -> ((f.lastModified, f.length))).toMap
  }

  /** Files written between two snapshots: count and bytes of new or changed files. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val w = after.filter { case (p, v) => !before.get(p).contains(v) }
    (w.size.toLong, w.values.map(_._2).sum)
  }
}

/** One workload. `setup` prepares the state a timed pass starts from; its
  * time before the first pass is `setup_s`. */
trait Workload {
  type State
  def setup(): State
  def pass(state: State, run: Run): Unit
  /** Per-layer metrics that are not span counters, once the run ends. */
  def finish(run: Run): Unit = ()
}

/** Several workloads run one after another in one session: their set-ups,
  * then their passes, in order. */
final class Combined(val parts: Seq[Workload]) extends Workload {
  type State = Seq[Any]
  def setup(): Seq[Any] = parts.map(_.setup())
  def pass(s: Seq[Any], run: Run): Unit =
    parts.zip(s).foreach { case (w, st) => w.pass(st.asInstanceOf[w.State], run) }
  override def finish(run: Run): Unit = parts.foreach(_.finish(run))
}
