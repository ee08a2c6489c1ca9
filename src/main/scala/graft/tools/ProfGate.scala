package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.corpus.{CorpusStreamMain, GateState}
import graft.ops.Checkpoints
import graft.queries.DedupOps

/** Measures the streaming gate's cost curve as absorbed state grows — the
  * evidence behind GATE_SCALING.md's numbers. Not part of the library
  * surface.
  *
  * Drives [[GateState]] exactly as `CorpusStreamMain.start`'s foreachBatch
  * does (curate -> publish -> absorb) over `--batches` synthetic crawl
  * batches of `--batch-size` docs each, drawn from the sf dir's documents
  * table with every token tagged per batch — so each batch's shingles are
  * globally unique and (almost) every doc is ACCEPTED, which is the
  * worst case for the gate: absorbed state grows by a full batch per
  * batch. Prints one line per batch (wall time, Spark jobs — counted by
  * [[ProfStages.Recorder]] — and absorbed rows), then times the two
  * restart paths against the accumulated history:
  *
  *   - resume WITHOUT the at-rest tables: re-reads + re-shingles every
  *     published batch dir — O(all accepted history);
  *   - compactState + resume WITH the tables: folds the history into the
  *     (b,v)- and doc_id-bucketed tables once, after which restart reads
  *     the tables and re-folds nothing — O(un-compacted tail) = O(0).
  *
  * Usage: sbt 'runMain graft.tools.ProfGate [batches] [batchSize]'
  * (env SPARK_GRAFT_SF_DIR selects the corpus; defaults 40 x 250 at
  * sf0.1 — absorbed state spans 0 to 2x the 5k-doc corpus, a 40x growth
  * range relative to one batch).
  */
object ProfGate {
  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[prof] $label%-44s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(40)
    val batchSize = args.drop(1).headOption.map(_.toInt).getOrElse(250)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = java.nio.file.Files.createTempDirectory("prof_gate").toString
    val spark = Sessions.local("prof-gate")

    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val corpusCount = corpus.count()
    // one batch's worth of source docs, reused with a per-batch token tag:
    // regexp_replace appends "·<k>" to every token, so no shingle of batch
    // k ever matches the corpus or another batch (accept-everything load)
    val seed = corpus.orderBy("doc_id").limit(batchSize).persist()
    seed.count()
    def batchOf(k: Int) = seed.select(
      (col("doc_id") + lit(100000L * (k + 1))).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", s"$$1·$k").as("text"))

    time("gate startup (build from corpus)")(())
    val state = GateState.build(corpus)
    println(s"[prof-gate] corpus=$corpusCount docs, $batches batches x $batchSize docs")
    println("[prof-gate] batch\twall_s\tjobs\tabsorbed_shingle_rows\tabsorbed_index_rows")
    val sc = spark.sparkContext
    val rec = new ProfStages.Recorder()
    sc.addSparkListener(rec)
    (0 until batches).foreach { k =>
      val docs = batchOf(k)
      val ids = docs.select("doc_id")
      sc.setLocalProperty(rec.tagKey, s"batch-$k")
      val t0 = System.nanoTime()
      val curated = CorpusStreamMain.curateBatch(docs, state.corpusSh,
        corpusIndex = Some(state.probeIdx(ids, k.toLong)))
      CorpusStreamMain.publishBatch(curated, out, k.toLong)
      state.absorb(k.toLong, spark.read.parquet(s"$out/batch=$k")
        .select("doc_id", "text"))
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(rec.tagKey, null)
      // the batch is published and folded in: release curateBatch's staging
      Checkpoints.rddsOf(curated).foreach(_.unpersist(false))
      rec.drain(sc)
      val s = state.absorbedStats()
      println(f"[prof-gate] $k\t$wall%.2f\t${rec.jobsTagged(s"batch-$k")}\t${s.shingleRows}\t${s.indexRows}")
    }
    sc.removeSparkListener(rec)
    state.close()

    // restart path A: no tables — resume re-reads and re-shingles every
    // published batch dir (the pre-compaction cost an operator pays after
    // months of uptime)
    val stA = time(s"resume WITHOUT tables ($batches batches of history)")(
      GateState.resume(spark, corpus, out))
    println(s"[prof-gate] resume-no-tables absorbed: ${stA.absorbedStats()}")
    stA.close()

    // restart path B: compact the history into at-rest tables once, then
    // resume from them — the post-compaction restart
    val corpusSh = DedupOps.shingledOf(corpus)
    DedupOps.writeCorpusBandIndex(corpusSh, "prof_gate_idx")
    DedupOps.writeCorpusShingles(corpusSh, "prof_gate_sh")
    time(s"compactState ($batches-batch tail)")(
      GateState.compactState(spark, out, "prof_gate_idx", "prof_gate_sh"))
    val stB = time("resume WITH tables + manifest (tail = 0)")(
      GateState.resume(spark, corpus, out,
        baseIndex = Some(spark.table("prof_gate_idx")),
        baseShingles = Some(spark.table("prof_gate_sh"))))
    println(s"[prof-gate] resume-with-tables absorbed: ${stB.absorbedStats()}")
    stB.close()

    spark.sql("DROP TABLE IF EXISTS prof_gate_idx")
    spark.sql("DROP TABLE IF EXISTS prof_gate_sh")
    spark.stop()
  }
}
