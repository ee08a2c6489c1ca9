package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate: one JVM, one session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit lazy val implicitSpark: SparkSession = spark

  /** Flatten an exception's cause chain to its messages — Spark wraps user
    * failures several layers deep, and which layer carries the interesting
    * text varies by execution path. */
  protected def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)

  /** Run `body` with auto-broadcast disabled. Test fixtures are all far
    * below the session's 64 MB threshold, so EVERY equi-join broadcasts
    * and a broadcast-PRESENCE plan assertion is vacuous — it cannot catch
    * a dropped explicit `broadcast()` hint, which is the regression such
    * pins exist for. With the threshold at -1, only the hint broadcasts. */
  protected def noAutoBroadcast[A](body: => A): A = {
    val t = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(t)
    try { spark.conf.set(t, "-1"); body } finally spark.conf.set(t, saved)
  }

  /** Plans in the session's SQL cache (the CacheManager keeps no public
    * count). */
  protected def cachedPlans(): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Iterable[_]].size
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
