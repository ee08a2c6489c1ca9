package graft.corpus

import java.nio.file.Files
import graft.SparkSpec

/** PurgeMain: the one-command erasure composition — curation estate +
  * gate stores + extra warehouse tables purged in a single call, with
  * per-store evidence and end-to-end idempotence. */
class PurgeMainSpec extends SparkSpec {
  import spark.implicits._

  test("one call purges curation root, stream batch dirs, and an extra table; rerun is a no-op") {
    val root = Files.createTempDirectory("purge_main").toString
    val (tmpIn, out, streamOut, extra) =
      (s"$root/in", s"$root/curated", s"$root/stream", s"$root/extra")
    // a tiny curation run publishing doc 1 (the target) and doc 2
    Seq(
      (1L, "s", (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (2L, "s", (1 to 30).map(i => s"beta$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out)
    // a stream-published batch dir holding the doc's text verbatim
    Seq((1L, "stream copy of the document text"), (7L, "innocent"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$streamOut/batch=0")
    // an extra warehouse copy the pipelines do not know about
    Seq((1L, "extra copy"), (9L, "innocent"))
      .toDF("doc_id", "payload")
      .write.parquet(extra)

    val report = PurgeMain.runWith(spark, Seq(1L),
      curation = Some(out), streamOutput = Some(streamOut),
      table = Some(extra))
    // per-store evidence, group-prefixed
    assert(report("curation/corpus")._2 == 1L, report.toString)
    assert(report("gate/batch=0")._2 == 1L, report.toString)
    assert(report(s"table/$extra")._2 == 1L, report.toString)
    // the doc is gone everywhere, innocents survive
    assert(spark.read.parquet(s"$out/corpus").select("doc_id")
      .as[Long].collect().toSet == Set(2L))
    assert(spark.read.parquet(streamOut).select("doc_id")
      .as[Long].collect().toSet == Set(7L))
    assert(spark.read.parquet(extra).select("doc_id")
      .as[Long].collect().toSet == Set(9L))
    // rerun: every store reports (0, 0)
    val rerun = PurgeMain.runWith(spark, Seq(1L),
      curation = Some(out), streamOutput = Some(streamOut),
      table = Some(extra))
    assert(rerun.values.forall(_ == ((0, 0L))), rerun.toString)
  }

  test("an erasure that names no store is a config bug, and empty ids are rejected") {
    intercept[IllegalArgumentException] {
      PurgeMain.runWith(spark, Seq(1L))
    }
    intercept[IllegalArgumentException] {
      PurgeMain.runWith(spark, Seq.empty, curation = Some("/tmp/nowhere"))
    }
  }
}
