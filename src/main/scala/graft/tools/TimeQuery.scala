package graft.tools

import graft.{Bench, Sessions, SparkEntry}

/** Single-query timing harness: `runMain graft.tools.TimeQuery <sfDir>
  * <query>...` warms each named query at the sf0.001 sibling, then reports
  * best-of-2 timings under Bench's cache-cleared protocol, without paying
  * for the full suite.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <query>...")
    val sfDir = args.head
    val names = args.tail.toSeq
    names.filterNot(SparkEntry.queries.contains) match {
      case Nil => ()
      case bad => sys.error(s"unknown queries: $bad")
    }
    val spark = Sessions.local("graft-timequery")
    val warm = Bench.warmDir(sfDir)
    // a warmup failure must not kill the measurement run (Bench's rule)
    names.foreach(n => try Bench.runNoop(spark, SparkEntry.queries(n), warm) catch { case e: Throwable =>
      System.err.println(s"[timequery] warmup $n failed (ignored): ${e.getMessage}")
    })
    names.foreach { name =>
      val ts = (1 to 2).map(_ => Bench.timedRun(spark, SparkEntry.queries(name), sfDir))
      println(f"[timequery] $name%-28s best=${ts.min}%.3f s  runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
