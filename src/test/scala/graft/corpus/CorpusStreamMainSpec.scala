package graft.corpus

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.VectorSim
import graft.queries.DedupOps

/** The streaming corpus front door end-to-end: micro-batches through
  * mix -> near-dup gate (vs corpus AND vs everything already accepted)
  * -> intra-batch dedup -> split -> idempotent per-batch publish, equal
  * to the batch curation of the same rows, with replay-safe output. */
class CorpusStreamMainSpec extends SparkSpec {
  import spark.implicits._

  private val corpusRows = Seq(
    (1000L, "src0", "alpha beta gamma delta epsilon zeta eta theta"),
    (1001L, "src0", "one two three four five six seven eight"))

  private def corpusDf = corpusRows.toDF("doc_id", "source", "text")

  test("two micro-batches: gate drops corpus dups, split stamped, output == batch curation") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("stream_gate").toString
    val ckpt = Files.createTempDirectory("stream_gate_ckpt").toString
    val state = GateState.build(corpusDf)
    val incoming = Seq(
      // batch 1: one dup of corpus 1000, one clean doc
      (1L, "src0", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "src0", "completely fresh words nothing like the corpus here"),
      // batch 2: one dup of corpus 1001, one clean doc
      (3L, "src1", "one two three four five six seven eight"),
      (4L, "src1", "another clean document with its own novel content"))
    val in = MemoryStream[(Long, String, String)]
    val q = CorpusStreamMain.start(
      in.toDF().toDF("doc_id", "source", "text"), state, out, ckpt)
    try {
      in.addData(incoming.take(2): _*)
      q.processAllAvailable()
      in.addData(incoming.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()

    // per-batch directories exist (the idempotence unit is the batch dir)
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(batchDirs.length == 2, batchDirs.mkString(","))

    // the union of published batches == batch curation of all rows: dups
    // of the corpus dropped exactly once, clean docs kept with their split
    val got = spark.read.parquet(s"$out/batch=*")
      .select("doc_id", "source", "split")
      .as[(Long, String, String)].collect().toSet
    val batchOracle = CorpusStreamMain.curateBatch(
        incoming.toDF("doc_id", "source", "text"), DedupOps.shingledOf(corpusDf))
      .select("doc_id", "source", "split")
      .as[(Long, String, String)].collect().toSet
    assert(got == batchOracle, "stream and batch curation must agree")
    assert(got.map(_._1) == Set(2L, 4L), s"dups 1 and 3 must be gated out: $got")
    assert(got.forall(r => Set("train", "val", "test")(r._3)))
  }

  test("same-batch and cross-batch near-dups among NEW docs are caught") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("stream_gate_newdup").toString
    val ckpt = Files.createTempDirectory("stream_gate_newdup_ckpt").toString
    val state = GateState.build(corpusDf)
    val in = MemoryStream[(Long, String, String)]
    val q = CorpusStreamMain.start(
      in.toDF().toDF("doc_id", "source", "text"), state, out, ckpt)
    try {
      // batch 1: docs 100 and 101 are near-dups of EACH OTHER (neither is
      // in the corpus — the corpus index cannot catch them), 102 is clean
      in.addData(
        (100L, "src0", "the quick brown fox jumps over the lazy dog today"),
        (101L, "src0", "the quick brown fox jumps over the lazy dog today"),
        (102L, "src0", "an entirely different document about something else"))
      q.processAllAvailable()
      // batch 2: doc 200 near-duplicates doc 100 — accepted in an EARLIER
      // batch, never part of the static corpus; 201 is clean
      in.addData(
        (200L, "src1", "the quick brown fox jumps over the lazy dog today"),
        (201L, "src1", "yet another novel body of words unlike all others"))
      q.processAllAvailable()
    } finally q.stop()
    val b1 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().toSet
    assert(b1 == Set(100L, 102L),
      s"same-batch near-dups must admit exactly one (the min id): $b1")
    val b2 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").as[Long].collect().toSet
    assert(b2 == Set(201L),
      s"a dup of a doc accepted in an earlier batch must drop: $b2")
  }

  test("--normalize parity: a whitespace variant of a curated page drops only WITH the flag") {
    implicit val sqlCtx = spark.sqlContext
    // the corpus is published CLEAN (what CorpusMain --normalize yields);
    // the incoming variant is the same page tab-indented, CRLF-terminated,
    // spaces doubled — unnormalized its shingles differ wholesale, so an
    // un-normalized gate over a normalized corpus is a duplicate leak
    val variant = "\t alpha  beta  gamma  delta  epsilon  zeta  eta  theta \r\n"
    for (flag <- Seq(false, true)) {
      val out = Files.createTempDirectory(s"stream_norm_$flag").toString
      val ckpt = Files.createTempDirectory(s"stream_norm_ckpt_$flag").toString
      val state = GateState.build(corpusDf)
      val in = MemoryStream[(Long, String, String)]
      val q = CorpusStreamMain.start(
        in.toDF().toDF("doc_id", "source", "text"), state, out, ckpt,
        normalize = flag)
      try {
        in.addData(
          (50L, "src0", variant),
          (51L, "src0", "a genuinely novel body of words unlike all others"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$out/batch=0")
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      if (flag) {
        assert(got.keySet == Set(51L),
          s"normalized gate must catch the whitespace variant: ${got.keySet}")
        assert(!got(51L).contains("  "), "published text must be the clean form")
      } else
        assert(got.keySet == Set(50L, 51L),
          "unnormalized, the variant's shingles miss the index (the leak the flag closes)")
    }
  }

  test("file-source restart resumes from checkpoint AND re-arms the gate with published docs") {
    val root = Files.createTempDirectory("stream_gate_restart").toString
    val (inDir, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/$name")
    def restartAndDrain(): Unit = {
      // each restart rebuilds the state from the corpus + every batch dir
      // published so far — exactly what the main does (GateState.resume)
      val state = GateState.resume(spark, corpusDf, out)
      val q = CorpusStreamMain.start(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true")
          .parquet(inDir), state, out, ckpt)
      try { q.processAllAvailable() } finally q.stop()
    }
    drop("crawl0", Seq((10L, "src0", "first crawl delivers this clean document")))
    restartAndDrain()
    drop("crawl1", Seq(
      // near-dup of doc 10 — published by the PREVIOUS incarnation: the
      // rebuilt state must know it, or restarts silently forget the gate
      (11L, "src0", "first crawl delivers this clean document"),
      (12L, "src0", "second crawl delivers another clean one")))
    restartAndDrain()
    // the restarted query processed ONLY the new file (the checkpoint
    // remembers crawl0) and still gated 11 against the published 10
    val got = spark.read.parquet(s"$out/batch=*")
      .select("doc_id").as[Long].collect().toSeq
    assert(got.sorted == Seq(10L, 12L), s"expected 10 and 12 exactly once, got $got")
  }

  test("a replayed batch curates identically and never double-folds (exactly-once)") {
    val out = Files.createTempDirectory("stream_gate_replay").toString
    val state = GateState.build(corpusDf)
    val batch = Seq(
      (50L, "src0", "a perfectly clean novel document body right here"),
      (51L, "src0", "a perfectly clean novel document body right here"))
      .toDF("doc_id", "source", "text")
    val ids = batch.select("doc_id")
    def curate() = CorpusStreamMain.curateBatch(batch, state.corpusSh,
      corpusIndex = Some(state.probeIdx(ids, 0L)))
    val first = curate()
    CorpusStreamMain.publishBatch(first, out, 0L)
    state.absorb(0L, spark.read.parquet(s"$out/batch=0").select("doc_id", "text"))
    // crash-before-checkpoint replay: the SAME batch runs again against a
    // state that already absorbed its survivors. The probe exclusion must
    // keep doc 50 from flagging itself, and the batch-id guard must keep
    // the accumulator from folding twice.
    val replay = curate()
    CorpusStreamMain.publishBatch(replay, out, 0L)
    state.absorb(0L, spark.read.parquet(s"$out/batch=0").select("doc_id", "text"))
    val got = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(50L), s"replay must republish the identical batch: $got")
    // and the state still gates a later batch against 50
    val later = Seq((60L, "src1", "a perfectly clean novel document body right here"))
      .toDF("doc_id", "source", "text")
    val laterIds = later.select("doc_id")
    val kept = CorpusStreamMain.curateBatch(later, state.corpusSh,
        corpusIndex = Some(state.probeIdx(laterIds, 1L)))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.isEmpty, s"doc 60 dups the absorbed doc 50, must drop: $kept")
  }

  test("publishBatch replay replaces its own batch dir (exactly-once under retry)") {
    val out = Files.createTempDirectory("stream_gate_publish").toString
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val rows = Seq((7L, "src0", "a perfectly clean novel document body"))
      .toDF("doc_id", "source", "text")
    val curated = CorpusStreamMain.curateBatch(rows, corpusSh)
    CorpusStreamMain.publishBatch(curated, out, 0L)
    // sink replay after a crash-before-checkpoint re-delivers the batch
    CorpusStreamMain.publishBatch(curated, out, 0L)
    val got = spark.read.parquet(s"$out/batch=0")
    assert(got.count() == 1, "replay must replace, not append")
    assert(got.select("doc_id").first().getLong(0) == 7L)
  }

  test("curation is batching-transparent: any chop of the crawl yields the same union") {
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val rows = (0L until 12L).map { i =>
      val text = if (i % 4 == 0) corpusRows(0)._3 // a corpus dup
        else s"novel content body number $i with several distinct words"
      (i, s"src${i % 2}", text)
    }
    def curate(batch: Seq[(Long, String, String)]) =
      CorpusStreamMain.curateBatch(
          batch.toDF("doc_id", "source", "text"), corpusSh,
          mixRates = Seq("src1" -> "7f"))
        .select("doc_id", "split").as[(Long, String)].collect().toSet
    val whole = curate(rows)
    // three chops: halves, alternating rows, one row per batch — every
    // per-document stage (mix, gate, split) must ignore batch boundaries
    // (intra-batch near-dups would NOT be chop-invariant without the
    // cross-batch feedback the full stream adds; these rows' only
    // near-dups are corpus dups, caught identically under any chop)
    val chops = Seq(
      Seq(rows.take(6), rows.drop(6)),
      Seq(rows.zipWithIndex.filter(_._2 % 2 == 0).map(_._1),
        rows.zipWithIndex.filter(_._2 % 2 == 1).map(_._1)),
      rows.map(Seq(_)))
    for (chop <- chops)
      assert(chop.map(curate).reduce(_ ++ _) == whole,
        s"curation changed under a ${chop.length}-batch chop")
  }

  test("a benchmark set decontaminates each batch before the gate") {
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val benchText = "held out evaluation prompt nobody may train on ever"
    val benchSet = DedupOps.benchShingleSet(DedupOps.shingledOf(
      Seq((9000L, benchText)).toDF("doc_id", "text")))
    val rows = Seq(
      (20L, "src0", benchText),                                   // verbatim bench copy
      (21L, "src0", "an unrelated clean document body right here"),
      (22L, "src0", corpusRows(0)._3))                            // corpus dup
      .toDF("doc_id", "source", "text")
    val kept = CorpusStreamMain.curateBatch(rows, corpusSh,
        benchSet = Some(benchSet))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(21L),
      s"bench copy (20) and corpus dup (22) must both drop, got $kept")
    // without the bench set, only the corpus dup drops
    val noBench = CorpusStreamMain.curateBatch(rows, corpusSh)
      .select("doc_id").as[Long].collect().toSet
    assert(noBench == Set(20L, 21L))
    // guard parity with the batch twin: a threshold without its stage
    // fails loudly programmatically, not only at the CLI
    intercept[IllegalArgumentException] {
      CorpusStreamMain.curateBatch(rows, corpusSh, minHits = 5L)
    }
    intercept[IllegalArgumentException] {
      CorpusStreamMain.curateBatch(rows, corpusSh,
        benchSet = Some(benchSet), minHits = 0L)
    }
  }

  test("a prebuilt persisted corpus band index curates identically to the default") {
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val rows = Seq(
      (40L, "src0", corpusRows(1)._3),                            // corpus dup
      (41L, "src0", "completely novel content for this document"))
      .toDF("doc_id", "source", "text")
    val idx = DedupOps.corpusBandIndex(corpusSh).persist()
    try {
      val withIdx = CorpusStreamMain.curateBatch(rows, corpusSh,
          corpusIndex = Some(idx))
        .select("doc_id", "split").as[(Long, String)].collect().toSet
      val default = CorpusStreamMain.curateBatch(rows, corpusSh)
        .select("doc_id", "split").as[(Long, String)].collect().toSet
      assert(withIdx == default, "prebuilt index must not change the gate")
      assert(withIdx.map(_._1) == Set(41L))
    } finally { idx.unpersist(); () }
  }

  test("the per-batch plan broadcasts the bench set and plans no cartesian") {
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val benchSet = DedupOps.benchShingleSet(DedupOps.shingledOf(
      Seq((9000L, "held out evaluation prompt text here")).toDF("doc_id", "text")))
    val rows = Seq((30L, "src0", "a document body to curate and publish"))
      .toDF("doc_id", "source", "text")
    // noAutoBroadcast: a BroadcastHashJoin can then only come from the
    // explicit broadcast(benchSet) hint this test exists to pin
    val plan = noAutoBroadcast {
      CorpusStreamMain.curateBatch(rows, corpusSh, benchSet = Some(benchSet))
        .queryExecution.executedPlan.toString
    }
    // this plan runs once per micro-batch forever: the bench overlap must
    // stay a broadcast join (the corpus-side rows never shuffle for it)
    // and nothing may degrade to a cartesian product
    assert(plan.contains("BroadcastHashJoin"), "bench join must broadcast")
    assert(!plan.contains("CartesianProduct"), "cartesian in the gate plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "degenerate join in the gate plan")
  }

  test("mix rates apply per batch before the gate (unlisted sources kept)") {
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val rows = (0L until 64L)
      .map(i => (i, if (i % 2 == 0) "srcA" else "srcB", s"unique row body number $i with more words"))
      .toDF("doc_id", "source", "text")
    val curated = CorpusStreamMain.curateBatch(rows, corpusSh,
      mixRates = Seq("srcA" -> "33"))
    val bySrc = curated.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc.getOrElse("srcB", 0L) == 32L, "unlisted source sampled")
    assert(bySrc.getOrElse("srcA", 0L) < 32L, "listed source not sampled")
  }

  test("the at-rest bucketed band index probes with NO index-side exchange and curates identically") {
    val corpusSh = DedupOps.shingledOf(corpusDf)
    DedupOps.writeCorpusBandIndex(corpusSh, "gate_band_idx", numBuckets = 8)
    try {
      val atRest = spark.table("gate_band_idx")
      val rows = Seq(
        (45L, "src0", corpusRows(0)._3),                          // corpus dup
        (46L, "src0", "entirely novel content in this document body"))
        .toDF("doc_id", "source", "text")
      // under the default config a tiny batch simply BROADCASTS against
      // the index (zero exchanges — also correct); the bucketed layout is
      // for the batch too large to broadcast, so pin THAT plan: with
      // auto-broadcast off, the probe sort-merge-joins and only the
      // incoming side may shuffle on (b, v) — a second (b, v) exchange
      // would mean the index reshuffles per batch, defeating the layout.
      // Other exchanges (verification join on corpus_id) are fine.
      val plan = noAutoBroadcast {
        DedupOps.nearDupAgainstIndex(DedupOps.shingledOf(rows), atRest, corpusSh)
          .queryExecution.executedPlan.toString
      }
      assert(plan.contains("gate_band_idx"), "the at-rest index must be scanned")
      val bandExchanges = "Exchange hashpartitioning\\(b#\\d+L?, v#\\d+".r
        .findAllIn(plan).length
      assert(bandExchanges == 1,
        s"exactly the incoming side shuffles on (b, v), got $bandExchanges:\n$plan")
      // and the gate behaves identically to the in-memory index
      val viaTable = CorpusStreamMain.curateBatch(rows, corpusSh,
          corpusIndex = Some(atRest))
        .select("doc_id").as[Long].collect().toSet
      val viaDefault = CorpusStreamMain.curateBatch(rows, corpusSh)
        .select("doc_id").as[Long].collect().toSet
      assert(viaTable == viaDefault && viaTable == Set(46L), viaTable.toString)
      // the FULLY at-rest text side: band index AND shingles from catalog
      // tables (GateState baseIndex + baseShingles) — no in-session
      // shingling fold, no corpus-sized checkpoint, same gating
      DedupOps.writeCorpusShingles(corpusSh, "gate_sh_at_rest", numBuckets = 8)
      try {
        val st = GateState.build(corpusDf, baseIndex = Some(atRest),
          baseShingles = Some(spark.table("gate_sh_at_rest")))
        val ids = rows.select("doc_id")
        val kept = CorpusStreamMain.curateBatch(rows, st.corpusSh,
            corpusIndex = Some(st.probeIdx(ids, 0L)))
          .select("doc_id").as[Long].collect().toSet
        assert(kept == Set(46L), s"fully at-rest text side must gate: $kept")
      } finally spark.sql("DROP TABLE IF EXISTS gate_sh_at_rest")
    } finally spark.sql("DROP TABLE IF EXISTS gate_band_idx")
  }

  // ---- vector-space gate (--embeddings) --------------------------------

  /** (vec_id, e, nrm) rows — same prep the main applies to the table. */
  private def vecsOf(rows: Seq[(Long, Seq[Double])]): DataFrame =
    rows.toDF("vec_id", "e")
      .select(col("vec_id"), col("e"), VectorSim.norm(col("e")).as("nrm"))

  test("vector gate: a text-novel but embedding-duplicate doc is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("stream_gate_vec").toString
    val ckpt = Files.createTempDirectory("stream_gate_vec_ckpt").toString
    // corpus doc 1000's vector; incoming 70 is colinear with it (cos = 1,
    // identical hyperplane signature — LSH recall is certain), 71 is
    // orthogonal, 72/73 are colinear with EACH OTHER only (intra-batch
    // vector dups), and 74 (batch 2) is colinear with the ACCEPTED 71
    val vecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0),
      70L -> Seq(2.0, 0.0, 0.0, 0.0),
      71L -> Seq(0.0, 1.0, 0.0, 0.0),
      72L -> Seq(0.0, 0.0, 3.0, 0.0),
      73L -> Seq(0.0, 0.0, 5.0, 0.0),
      74L -> Seq(0.0, 4.0, 0.0, 0.0)))
    val state = GateState.build(corpusDf, vectors = Some((vecs, 0.9)))
    val in = MemoryStream[(Long, String, String)]
    val q = CorpusStreamMain.start(
      in.toDF().toDF("doc_id", "source", "text"), state, out, ckpt)
    try {
      in.addData(
        (70L, "src0", "totally novel words that shingle-match nothing at all"),
        (71L, "src0", "some other completely unrelated document body here"),
        (72L, "src0", "a third document body with its own unique wording"),
        (73L, "src0", "a fourth document body phrased entirely differently"))
      q.processAllAvailable()
      in.addData(
        (74L, "src1", "a fifth document body sharing no phrasing with any"))
      q.processAllAvailable()
    } finally q.stop()
    val b1 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().toSet
    assert(b1 == Set(71L, 72L),
      s"70 dups corpus 1000 in vector space; 73 dups 72 intra-batch: $b1")
    val b2 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").as[Long].collect().toSet
    assert(b2 == Set.empty[Long],
      s"74 dups the vector of 71, accepted in an earlier batch: $b2")
  }

  test("semantic gate: an embedding paraphrase of a BENCH item drops at the door") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("stream_gate_sem").toString
    val ckpt = Files.createTempDirectory("stream_gate_sem_ckpt").toString
    // incoming 80 is a PARAPHRASE of a benchmark item: text shares no
    // shingle with anything, but its vector is colinear with the bench's
    // (cos 1, identical signature); 81 is innocent on both sides; 82 is
    // a TEXT near-dup of 80 that is semantically clean — the ordering
    // case: the semantic drop must run BEFORE intra-batch dedup, or 80
    // first wins the collapse against 82 and then drops itself, losing
    // both where the batch twin publishes 82
    val para = (1 to 30).map(i => s"pzz$i").mkString(" ")
    val vecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0),
      80L -> Seq(0.0, 2.0, 0.0, 0.0),
      81L -> Seq(0.0, 0.0, 1.0, 0.0),
      // diagonal: cos 0.5 to every axis vector — semantically clean AND
      // no vector-dup of the corpus or the batch
      82L -> Seq(1.0, 1.0, 1.0, 1.0)))
    val bench = vecsOf(Seq(900001L -> Seq(0.0, 5.0, 0.0, 0.0)))
    val rows = Seq(
      (80L, "src0", para),
      (81L, "src0", "an innocent document body unrelated to anything else"),
      (82L, "src0", s"$para qq"))
    def published(sem: Option[DataFrame]): Set[Long] = {
      val o = Files.createTempDirectory("stream_gate_sem_run").toString
      val c = Files.createTempDirectory("stream_gate_sem_ck").toString
      val in = MemoryStream[(Long, String, String)]
      val q = CorpusStreamMain.start(
        in.toDF().toDF("doc_id", "source", "text"),
        GateState.build(corpusDf, vectors = Some((vecs, 0.9))), o, c,
        semanticBench = sem, semanticThreshold = 0.9)
      try { in.addData(rows: _*); q.processAllAvailable() } finally q.stop()
      spark.read.parquet(s"$o/batch=0").select("doc_id").as[Long].collect().toSet
    }
    assert(published(Some(bench)) == Set(81L, 82L),
      "the paraphrase must drop; the innocent AND its text twin must publish")
    assert(published(None) == Set(80L, 81L),
      "without the semantic bench the paraphrase sails through and wins the collapse")
    // a semantic bench without a vector side has nothing to probe with
    intercept[IllegalArgumentException] {
      CorpusStreamMain.start(
        spark.readStream.schema(rows.toDF("doc_id", "source", "text").schema)
          .parquet(out),
        GateState.build(corpusDf), out, ckpt, semanticBench = Some(bench))
    }
    // an out-of-range threshold (cosine lives in [-1, 1]) would silently
    // disable the ALWAYS-ON semantic gate — no cosine ever clears 3 —
    // so start() rejects it loudly, mirroring CorpusMain.runWith
    for (bad <- Seq(3.0, 30.0, -1.0, 1.0001))
      intercept[IllegalArgumentException] {
        CorpusStreamMain.start(
          spark.readStream.schema(rows.toDF("doc_id", "source", "text").schema)
            .parquet(out),
          GateState.build(corpusDf, vectors = Some((vecs, 0.9))), out, ckpt,
          semanticBench = Some(bench), semanticThreshold = bad)
      }
  }

  test("restart re-arms the VECTOR side: a vector-dup of a pre-restart accept drops") {
    val root = Files.createTempDirectory("stream_gate_vec_restart").toString
    val (inDir, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    val vecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0),
      10L -> Seq(0.0, 1.0, 0.0, 0.0),   // accepted by incarnation 1
      11L -> Seq(0.0, 2.0, 0.0, 0.0)))  // colinear with 10 — text-novel
    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/$name")
    def restartAndDrain(): Unit = {
      // resume must rebuild the ABSORBED vector index from the published
      // batch dirs, not only the text side — or restarts silently forget
      // every embedding the previous incarnation accepted
      val state = GateState.resume(spark, corpusDf, out,
        vectors = Some((vecs, 0.9)))
      val q = CorpusStreamMain.start(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true")
          .parquet(inDir), state, out, ckpt)
      try { q.processAllAvailable() } finally q.stop()
    }
    drop("crawl0", Seq((10L, "src0", "first crawl delivers this clean document")))
    restartAndDrain()
    drop("crawl1", Seq(
      (11L, "src0", "wholly unrelated phrasing sharing not one shingle here")))
    restartAndDrain()
    val got = spark.read.parquet(s"$out/batch=*")
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(10L),
      s"11 is text-novel but vector-dups the pre-restart accept 10: $got")
  }

  test("vector gate: docs without a vector pass; plan stays equi-join only") {
    val vecs = vecsOf(Seq(1000L -> Seq(1.0, 0.0, 0.0, 0.0)))
    val state = GateState.build(corpusDf, vectors = Some((vecs, 0.9)))
    val rows = Seq((80L, "src0", "a clean novel doc with no embedding row"))
      .toDF("doc_id", "source", "text")
    val ids = rows.select("doc_id")
    val (kept, plan) = noAutoBroadcast {
      val gated = state.vectorGate(
        CorpusStreamMain.curateBatch(rows, state.corpusSh,
          corpusIndex = Some(state.probeIdx(ids, 0L))), ids, 0L)
      (gated.select("doc_id").as[Long].collect().toSet,
        gated.queryExecution.executedPlan.toString)
    }
    assert(kept == Set(80L), "an embedding-less doc has nothing to compare")
    assert(!plan.contains("CartesianProduct"), "cartesian in the vector gate")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "degenerate join in the vector gate")
  }

  test("the at-rest bucketed vector band index gates identically with NO index-side exchange") {
    import graft.queries.VectorOps
    // the curated corpus's vectors, written as the (b, v)-bucketed table
    // CorpusMain --publish-vector-index produces
    val corpusVecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0)))
    VectorOps.writeVectorBandIndex(corpusVecs, "gate_vec_band_idx", numBuckets = 8)
    try {
      val atRest = spark.table("gate_vec_band_idx")
      // 75 is colinear with corpus 1000 (vector dup, certain LSH recall);
      // 76 is orthogonal to everything
      val vecs = vecsOf(Seq(
        1000L -> Seq(1.0, 0.0, 0.0, 0.0),
        1001L -> Seq(0.0, 0.0, 0.0, 1.0),
        75L -> Seq(3.0, 0.0, 0.0, 0.0),
        76L -> Seq(0.0, 0.0, 7.0, 0.0)))
      val rows = Seq(
        (75L, "src0", "totally novel words that shingle-match nothing at all"),
        (76L, "src0", "some other completely unrelated document body here"))
        .toDF("doc_id", "source", "text")
      val ids = rows.select("doc_id")
      def keptWith(state: GateState) = state.vectorGate(
          CorpusStreamMain.curateBatch(rows, state.corpusSh,
            corpusIndex = Some(state.probeIdx(ids, 0L))), ids, 0L)
        .select("doc_id").as[Long].collect().toSet
      val viaTable = GateState.build(corpusDf, vectors = Some((vecs, 0.9)),
        baseVecIndex = Some(atRest))
      val viaDefault = GateState.build(corpusDf, vectors = Some((vecs, 0.9)))
      assert(keptWith(viaTable) == Set(76L),
        "75 dups corpus 1000 in vector space through the at-rest index")
      assert(keptWith(viaDefault) == Set(76L),
        "at-rest and in-memory index must gate identically")
      // same plan discipline as the text index: with auto-broadcast off
      // the band probe sort-merge-joins and only the incoming side may
      // shuffle on (b, v) — a second (b, v) exchange would mean the index
      // reshuffles per batch, defeating the bucketed layout
      val plan = noAutoBroadcast {
        VectorOps.lshNearDupAgainstIndex(
            vecs.filter(col("vec_id") >= 75L), atRest, vecs, 0.9)
          .queryExecution.executedPlan.toString
      }
      assert(plan.contains("gate_vec_band_idx"), "the at-rest index must be scanned")
      val bandExchanges = "Exchange hashpartitioning\\(b#\\d+, v#\\d+".r
        .findAllIn(plan).length
      assert(bandExchanges == 1,
        s"exactly the incoming side shuffles on (b, v), got $bandExchanges:\n$plan")
      // a prebuilt vector index with no vector side is a config bug and
      // fails loudly (the API twin of the main's orphan-flag rule)
      intercept[IllegalArgumentException] {
        GateState.build(corpusDf, baseVecIndex = Some(atRest))
      }
      // and the vectors themselves at rest: the vec_id-bucketed table
      // (CorpusMain --publish-vectors), read as-is, NOT persisted — the
      // 100 TB shape where executor memory never holds the vectors table
      graft.sources.Warehouse.writeBucketed(vecs, "gate_vecs_at_rest",
        "vec_id", numBuckets = 8)
      try {
        val viaAtRestVecs = GateState.build(corpusDf,
          vectors = Some((spark.table("gate_vecs_at_rest"), 0.9)),
          baseVecIndex = Some(atRest), persistVectors = false)
        assert(keptWith(viaAtRestVecs) == Set(76L),
          "the fully at-rest vector side must gate identically")
      } finally spark.sql("DROP TABLE IF EXISTS gate_vecs_at_rest")
    } finally spark.sql("DROP TABLE IF EXISTS gate_vec_band_idx")
  }

  // ---- incremental gate-state compaction (--compact-state) -------------

  test("compaction: restart folds only the un-compacted tail, still gates, never double-folds") {
    val root = Files.createTempDirectory("stream_gate_compact").toString
    val (inDir, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/$name")
    def drain(): Unit = {
      val state = GateState.resume(spark, corpusDf, out)
      val q = CorpusStreamMain.start(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true")
          .parquet(inDir), state, out, ckpt)
      try { q.processAllAvailable() } finally q.stop()
    }
    drop("crawl0", Seq((10L, "src0", "first crawl delivers this clean document")))
    drain()
    drop("crawl1", Seq((12L, "src0", "second crawl delivers another clean one")))
    drain()
    // the corpus's at-rest text side, as CorpusMain --publish-index /
    // --publish-shingles writes it — compaction appends the batches to it
    val corpusSh = DedupOps.shingledOf(corpusDf)
    DedupOps.writeCorpusBandIndex(corpusSh, "cmp_idx", numBuckets = 8)
    DedupOps.writeCorpusShingles(corpusSh, "cmp_sh", numBuckets = 8)
    try {
      assert(GateState.compactState(spark, out, "cmp_idx", "cmp_sh",
        numBuckets = 8) == 2)
      val idxRows = spark.table("cmp_idx").count()
      val shRows = spark.table("cmp_sh").count()
      // restart with the tables: NOTHING re-folds (the absorbed side
      // stays empty — the direct observation that no batch was re-read
      // or re-shingled), yet every published id stays known for replay
      val st = GateState.resume(spark, corpusDf, out,
        baseIndex = Some(spark.table("cmp_idx")),
        baseShingles = Some(spark.table("cmp_sh")))
      val stats = st.absorbedStats()
      assert(stats.shingleRows == 0 && stats.indexRows == 0,
        s"compacted batches must not be re-shingled at restart: $stats")
      assert(stats.batches == 2, s"published ids must stay known: $stats")
      // the gate still drops a near-dup of a compacted-batch doc — the
      // TABLE rows now carry what the absorbed accumulator used to
      val later = Seq((99L, "srcX", "first crawl delivers this clean document"))
        .toDF("doc_id", "source", "text")
      val kept = CorpusStreamMain.curateBatch(later, st.corpusSh,
          corpusIndex = Some(st.probeIdx(later.select("doc_id"), 2L)))
        .select("doc_id").as[Long].collect().toSet
      assert(kept.isEmpty, s"99 dups the compacted doc 10, must drop: $kept")
      // replay identity against COMPACTED rows: a replayed batch id
      // excludes its own docs from the base tables and republishes itself
      val replay0 = Seq((10L, "src0", "first crawl delivers this clean document"))
        .toDF("doc_id", "source", "text")
      val keptReplay = CorpusStreamMain.curateBatch(replay0, st.corpusSh,
          corpusIndex = Some(st.probeIdx(replay0.select("doc_id"), 0L)))
        .select("doc_id").as[Long].collect().toSet
      assert(keptReplay == Set(10L),
        s"a replayed compacted batch must republish itself: $keptReplay")
      // a manifest-listed batch never re-folds: rerun is a no-op
      assert(GateState.compactState(spark, out, "cmp_idx", "cmp_sh",
        numBuckets = 8) == 0)
      assert(spark.table("cmp_idx").count() == idxRows)
      assert(spark.table("cmp_sh").count() == shRows)
      // crash between the appends and the manifest publish: the manifest
      // is gone but the rows are in — the rerun re-reads the tail yet the
      // per-table anti-join guard appends nothing twice
      graft.sources.Warehouse.retireDir(spark, s"$out/_gate_compacted")
      assert(GateState.compactState(spark, out, "cmp_idx", "cmp_sh",
        numBuckets = 8) == 2)
      assert(spark.table("cmp_idx").count() == idxRows,
        "a crashed compaction's rerun must not duplicate index rows")
      assert(spark.table("cmp_sh").count() == shRows,
        "a crashed compaction's rerun must not duplicate shingle rows")
      assert(GateState.compactedBatchIds(spark, out) == Set(0L, 1L),
        "the manifest must be restored")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cmp_idx")
      spark.sql("DROP TABLE IF EXISTS cmp_sh")
    }
  }

  test("compaction folds the vector side too: a vector-dup of a compacted accept drops") {
    val root = Files.createTempDirectory("stream_gate_compact_vec").toString
    val (inDir, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    val vecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0),
      10L -> Seq(0.0, 1.0, 0.0, 0.0),   // accepted, then compacted
      11L -> Seq(0.0, 2.0, 0.0, 0.0)))  // colinear with 10 — text-novel
    Seq((10L, "src0", "first crawl delivers this clean document"))
      .toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/crawl0")
    val state0 = GateState.resume(spark, corpusDf, out, vectors = Some((vecs, 0.9)))
    val q = CorpusStreamMain.start(
      spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .parquet(inDir), state0, out, ckpt)
    try { q.processAllAvailable() } finally q.stop()
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val corpusVecs = vecs.join(
      corpusDf.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    DedupOps.writeCorpusBandIndex(corpusSh, "cmpv_idx", numBuckets = 8)
    DedupOps.writeCorpusShingles(corpusSh, "cmpv_sh", numBuckets = 8)
    graft.queries.VectorOps.writeVectorBandIndex(corpusVecs, "cmpv_vidx",
      numBuckets = 8)
    try {
      assert(GateState.compactState(spark, out, "cmpv_idx", "cmpv_sh",
        Some("cmpv_vidx"), Some(vecs), numBuckets = 8) == 1)
      val st = GateState.resume(spark, corpusDf, out,
        vectors = Some((vecs, 0.9)),
        baseIndex = Some(spark.table("cmpv_idx")),
        baseShingles = Some(spark.table("cmpv_sh")),
        baseVecIndex = Some(spark.table("cmpv_vidx")))
      val stats = st.absorbedStats()
      assert(stats.vectorIndexRows.contains(0L) && stats.shingleRows == 0,
        s"the vector side must restart from the table alone: $stats")
      val rows = Seq(
        (11L, "src1", "wholly unrelated phrasing sharing not one shingle here"))
        .toDF("doc_id", "source", "text")
      val ids = rows.select("doc_id")
      val kept = st.vectorGate(
          CorpusStreamMain.curateBatch(rows, st.corpusSh,
            corpusIndex = Some(st.probeIdx(ids, 1L))), ids, 1L)
        .select("doc_id").as[Long].collect().toSet
      assert(kept.isEmpty,
        s"11 vector-dups the compacted accept 10 through the table: $kept")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cmpv_idx")
      spark.sql("DROP TABLE IF EXISTS cmpv_sh")
      spark.sql("DROP TABLE IF EXISTS cmpv_vidx")
    }
  }

  test("erasure composes: purgeDocs scrubs tables + batch dirs, then a near-dup re-submission is ACCEPTED") {
    val root = Files.createTempDirectory("stream_gate_purge").toString
    val (inDir, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    val vecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0),
      10L -> Seq(0.0, 1.0, 0.0, 0.0),   // accepted, compacted, then ERASED
      98L -> Seq(0.0, 0.0, 1.0, 0.0),   // re-submission: text near-dup of 10
      99L -> Seq(0.0, 2.0, 0.0, 0.0)))  // re-submission: vector-dup of 10
    Seq((10L, "src0", "first crawl delivers this clean document"))
      .toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/crawl0")
    val state0 = GateState.resume(spark, corpusDf, out, vectors = Some((vecs, 0.9)))
    val q = CorpusStreamMain.start(
      spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .parquet(inDir), state0, out, ckpt)
    try { q.processAllAvailable() } finally q.stop()
    val corpusSh = DedupOps.shingledOf(corpusDf)
    DedupOps.writeCorpusBandIndex(corpusSh, "prg_idx", numBuckets = 8)
    DedupOps.writeCorpusShingles(corpusSh, "prg_sh", numBuckets = 8)
    graft.queries.VectorOps.writeVectorBandIndex(
      vecs.join(corpusDf.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi"),
      "prg_vidx", numBuckets = 8)
    graft.sources.Warehouse.writeBucketed(vecs, "prg_vecs", "vec_id", 8)
    try {
      assert(GateState.compactState(spark, out, "prg_idx", "prg_sh",
        Some("prg_vidx"), Some(vecs), numBuckets = 8) == 1)
      // doc 10 now lives ONLY in derived form: tables + its batch dir
      def gateKeeps(rows: Seq[(Long, String, String)]): Set[Long] = {
        val st = GateState.resume(spark, corpusDf, out,
          vectors = Some((spark.table("prg_vecs"), 0.9)),
          baseIndex = Some(spark.table("prg_idx")),
          baseShingles = Some(spark.table("prg_sh")),
          baseVecIndex = Some(spark.table("prg_vidx")))
        val b = rows.toDF("doc_id", "source", "text")
        val ids = b.select("doc_id")
        try st.vectorGate(
            CorpusStreamMain.curateBatch(b, st.corpusSh,
              corpusIndex = Some(st.probeIdx(ids, 5L))), ids, 5L)
          .select("doc_id").as[Long].collect().toSet
        finally st.close()
      }
      val resub = Seq(
        (98L, "src1", "first crawl delivers this clean document"),
        (99L, "src1", "wholly unrelated phrasing sharing not one shingle here"))
      // control: pre-purge, the gate remembers 10 on BOTH sides
      assert(gateKeeps(resub).isEmpty,
        "pre-purge both re-submissions must drop (text dup + vector dup of 10)")
      // the erasure: corpus-side deleteWhere has no corpus row to kill
      // here (10 arrived via the stream) — the derived state IS the test
      val report = GateState.purgeDocs(spark, Seq(10L),
        indexTable = Some("prg_idx"), shinglesTable = Some("prg_sh"),
        vectorIndexTable = Some("prg_vidx"), vectorsTable = Some("prg_vecs"),
        output = Some(out))
      assert(report("prg_sh")._2 > 0 && report("prg_idx")._2 > 0
        && report("prg_vidx")._2 > 0 && report("prg_vecs")._2 == 1
        && report("batch=0")._2 == 1,
        s"every store must shed the doc's rows: $report")
      // (a) no store still holds doc 10
      assert(spark.table("prg_sh").filter(col("doc_id") === 10L).count() == 0)
      assert(spark.table("prg_idx").filter(col("corpus_id") === 10L).count() == 0)
      assert(spark.table("prg_vidx").filter(col("corpus_id") === 10L).count() == 0)
      assert(spark.table("prg_vecs").filter(col("vec_id") === 10L).count() == 0)
      assert(!new java.io.File(s"$out/batch=0").listFiles()
        .exists(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")),
        "the published batch dir must shed the doc's text file")
      // untouched docs survive the rewrite
      assert(spark.table("prg_sh").filter(col("doc_id") === 1000L).count() > 0,
        "purge must not take innocent rows with it")
      // (b) the gate no longer remembers 10: both re-submissions accept
      assert(gateKeeps(resub) == Set(98L, 99L),
        "post-purge the near-identical re-submissions must be ACCEPTED")
      // (c) rerun is a no-op
      val rerun = GateState.purgeDocs(spark, Seq(10L),
        indexTable = Some("prg_idx"), shinglesTable = Some("prg_sh"),
        vectorIndexTable = Some("prg_vidx"), vectorsTable = Some("prg_vecs"),
        output = Some(out))
      assert(rerun.values.forall(_ == ((0, 0L))), s"rerun must rewrite nothing: $rerun")
    } finally {
      spark.sql("DROP TABLE IF EXISTS prg_idx")
      spark.sql("DROP TABLE IF EXISTS prg_sh")
      spark.sql("DROP TABLE IF EXISTS prg_vidx")
      spark.sql("DROP TABLE IF EXISTS prg_vecs")
    }
  }

  test("compaction with a vector-less tail doc is loud: strict mode fails, default reports and proceeds") {
    val out = Files.createTempDirectory("stream_gate_compact_cov").toString
    // batch 0 publishes a doc with NO row in the vectors source — the
    // silent-narrowing case: it would compact with no vector-index row
    // and be unguarded on the vector side after the manifest lands
    val published = Seq(
      (500L, "uncovered accepted document with no embedding row at all"))
      .toDF("doc_id", "text")
    published.coalesce(1).write.parquet(s"$out/batch=0")
    val vecs = vecsOf(Seq(
      1000L -> Seq(1.0, 0.0, 0.0, 0.0),
      1001L -> Seq(0.0, 0.0, 0.0, 1.0)))
    val corpusSh = DedupOps.shingledOf(corpusDf)
    DedupOps.writeCorpusBandIndex(corpusSh, "cmpc_idx", numBuckets = 8)
    DedupOps.writeCorpusShingles(corpusSh, "cmpc_sh", numBuckets = 8)
    graft.queries.VectorOps.writeVectorBandIndex(
      vecs.join(corpusDf.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi"),
      "cmpc_vidx", numBuckets = 8)
    try {
      // strict: fail BEFORE the manifest publishes, naming the gap
      val e = intercept[IllegalStateException] {
        GateState.compactState(spark, out, "cmpc_idx", "cmpc_sh",
          Some("cmpc_vidx"), Some(vecs), numBuckets = 8,
          requireVectorCoverage = true)
      }
      assert(e.getMessage.contains("no row in the vectors source")
        && e.getMessage.contains("500"), e.getMessage)
      assert(GateState.compactedBatchIds(spark, out).isEmpty,
        "a strict failure must not mark the batch compacted")
      // default: reports (log) and proceeds — and a rerun after the
      // strict abort must not double-append (the per-table guards)
      assert(GateState.compactState(spark, out, "cmpc_idx", "cmpc_sh",
        Some("cmpc_vidx"), Some(vecs), numBuckets = 8) == 1)
      assert(GateState.compactedBatchIds(spark, out) == Set(0L))
      assert(spark.table("cmpc_sh").filter(col("doc_id") === 500L).count() > 0,
        "the text side still compacts (one fold, despite the aborted strict run)")
      assert(spark.table("cmpc_vidx").filter(col("corpus_id") === 500L).count() == 0,
        "an uncovered doc has no vector-index rows to append — the reported gap")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cmpc_idx")
      spark.sql("DROP TABLE IF EXISTS cmpc_sh")
      spark.sql("DROP TABLE IF EXISTS cmpc_vidx")
    }
  }

  test("absorbedStats reports per-batch absorbed growth (gate observability)") {
    val out = Files.createTempDirectory("stream_gate_stats").toString
    val state = GateState.build(corpusDf)
    val s0 = state.absorbedStats()
    assert(s0.batches == 0 && s0.shingleRows == 0 && s0.indexRows == 0)
    assert(s0.vectorIndexRows.isEmpty, "no vector side configured")
    def acceptBatch(id: Long, doc: (Long, String, String)): Unit = {
      val b = Seq(doc).toDF("doc_id", "source", "text")
      CorpusStreamMain.publishBatch(
        CorpusStreamMain.curateBatch(b, state.corpusSh), out, id)
      state.absorb(id, spark.read.parquet(s"$out/batch=$id")
        .select("doc_id", "text"))
    }
    acceptBatch(0L, (300L, "src0", "a clean novel document body number one right here"))
    val s1 = state.absorbedStats()
    assert(s1.batches == 1 && s1.shingleRows > 0 && s1.indexRows > 0,
      s"first absorb must show up: $s1")
    assert(s1.storedBytes > 0, s"checkpointed blocks must report a footprint: $s1")
    acceptBatch(1L, (301L, "src0", "a second clean novel document body phrased differently"))
    val s2 = state.absorbedStats()
    assert(s2.batches == 2 && s2.shingleRows > s1.shingleRows
      && s2.indexRows > s1.indexRows,
      s"growth per batch is what the operator watches: $s1 -> $s2")
  }

  test("a re-delivered doc_id in a later batch drops: first arrival wins, no duplicate publish") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("stream_gate_redeliver").toString
    val ckpt = Files.createTempDirectory("stream_gate_redeliver_ckpt").toString
    val state = GateState.build(corpusDf)
    val in = MemoryStream[(Long, String, String)]
    val q = CorpusStreamMain.start(
      in.toDF().toDF("doc_id", "source", "text"), state, out, ckpt)
    try {
      in.addData((500L, "src0", "a novel body of words delivered exactly here first"))
      q.processAllAvailable()
      // the crawler re-delivers the same doc_id with the same text in a
      // NEW batch: this is not a replay (fresh batch id), so no exclusion
      // applies — the doc is gated against its own earlier publish and
      // drops; published dirs are immutable, so first arrival wins
      in.addData((500L, "src0", "a novel body of words delivered exactly here first"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$out/batch=*")
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(500L),
      s"the re-delivered 500 must publish exactly once: $got")
    assert(spark.read.parquet(s"$out/batch=1").count() == 0,
      "the second delivery's batch publishes empty")
  }

  // ---- jsonl streaming ingest (--format jsonl) -------------------------

  test("jsonl stream: malformed lines quarantine per batch, clean docs curate") {
    val root = Files.createTempDirectory("stream_gate_jsonl").toString
    val (inDir, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/crawl0.jsonl"),
      java.util.List.of(
        """{"doc_id": 90, "source": "src0", "text": "a clean crawl delivered document body"}""",
        """{"doc_id": 91, "source": "src0", "text": "alpha beta gamma delta epsilon zeta eta theta"}""",
        """this is not json at all""",
        """{"doc_id": 92, "source": "src0"}"""))
    val state = GateState.build(corpusDf)
    val lines = spark.readStream
      .option("recursiveFileLookup", "true").text(inDir)
      .select(col("value").as("_line"))
      .withColumn("_file", input_file_name())
    val q = CorpusStreamMain.start(lines, state, out, ckpt,
      decode = Some(CorpusStreamMain.jsonlDecode(out, schema)))
    try q.processAllAvailable() finally q.stop()
    // 90 curated; 91 is a corpus dup (gated); the not-json line AND the
    // null-text line land in the batch's quarantine, never the corpus
    val got = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(90L), s"expected only the clean novel doc: $got")
    val quarantined = spark.read.parquet(s"$out/quarantine/batch=0")
      .select("line").as[String].collect().toSet
    assert(quarantined == Set("""this is not json at all""",
      """{"doc_id": 92, "source": "src0"}"""), quarantined.toString)

    // erasure reaches the per-batch quarantine: doc 92's line is valid
    // JSON with a live doc_id (quarantined only for the null text), so a
    // purge must delete it; the unparseable line has no id to address
    // and survives. Rerun is a no-op.
    val report = GateState.purgeDocs(spark, Seq(92L), output = Some(out))
    assert(report("quarantine")._2 == 1L, report.toString)
    val left = spark.read.parquet(s"$out/quarantine")
      .select("line").as[String].collect().toSeq
    assert(left == Seq("""this is not json at all"""), left.toString)
    val rerun = GateState.purgeDocs(spark, Seq(92L), output = Some(out))
    assert(rerun("quarantine") == ((0, 0L)), rerun.toString)
  }

  test("an all-rejected micro-batch publishes a READABLE empty batch dir (absorb cannot crash)") {
    // at volume this is a routine batch, not an edge: a micro-batch made
    // entirely of re-crawls curates to ZERO rows, and start()'s next
    // statement reads the published dir back for the absorbed side. The
    // publish must leave a schema-bearing (readable) dir — the purge
    // counterpart (a dir emptied by FILE DELETION) is the r19
    // emptied-batch rule in resume/compactState; this pins the WRITE
    // side, where Spark's empty-frame parquet commit carries the schema.
    val out = Files.createTempDirectory("stream_emptyb").toString
    val empty = Seq((1L, "src0", "body")).toDF("doc_id", "source", "text")
      .filter(col("doc_id") < 0)
    CorpusStreamMain.publishBatch(empty, out, 0L)
    val absorbed = spark.read.parquet(s"$out/batch=0")
      .select("doc_id", "text")
    assert(absorbed.count() == 0)
    // and a REPLAY of the same empty batch swaps cleanly too
    CorpusStreamMain.publishBatch(empty, out, 0L)
    assert(spark.read.parquet(s"$out/batch=0").count() == 0)
  }

  test("quarantine publish is self-coherent under a reader cached over the estate root") {
    val out = Files.createTempDirectory("stream_qcache").toString
    val schema = Seq((0L, "s", "t")).toDF("doc_id", "source", "text").schema
    val decode = CorpusStreamMain.jsonlDecode(out, schema)
    // batch 0 quarantines one line, then the session caches the NATURAL
    // audit read — the quarantine estate root, all batch= partitions
    decode(Seq(("""broken line 0""", "f0"))
      .toDF("_line", "_file"), 0L)
    val audit = spark.read.parquet(s"$out/quarantine").cache()
    assert(audit.count() == 1)
    try {
      // batch 1 quarantines another line via jsonlDecode ALONE — no
      // publishBatch follows, so nothing else refreshes the output
      // root: the estate must be coherent on the strength of its own
      // publisher. Pre-fix, the root-cached audit substituted its
      // InMemoryRelation into this fresh read and hid batch 1's line.
      decode(Seq(("""broken line 1""", "f1"))
        .toDF("_line", "_file"), 1L)
      val lines = spark.read.parquet(s"$out/quarantine")
        .select("line").as[String].collect().toSet
      assert(lines == Set("broken line 0", "broken line 1"),
        s"a quarantine batch published after the audit was cached must " +
          s"be visible to a fresh estate read; got $lines")
    } finally audit.unpersist()
  }

  // ---- per-batch cost: staging, cache hygiene, job count ----------------

  /** One gate micro-batch `k`: a fresh doc, two in-batch twins and a copy
    * of a corpus doc — every drop path of curateBatch has work to do. */
  private def twinBatch(k: Long): DataFrame = Seq(
      (100L * k + 1, "src0", s"fresh batch $k words that no other document shares at all"),
      (100L * k + 2, "src1", s"twin body $k arrives twice in the very same micro batch"),
      (100L * k + 3, "src0", s"twin body $k arrives twice in the very same micro batch"),
      (100L * k + 4, "src1", corpusRows(1)._3))
    .toDF("doc_id", "source", "text")

  /** curate -> publish -> absorb of batch `k`, as `start`'s foreachBatch
    * runs it; returns the published doc ids. */
  private def gateBatch(state: GateState, out: String, k: Long): Set[Long] = {
    val b = twinBatch(k)
    val curated = CorpusStreamMain.curateBatch(b, state.corpusSh,
      corpusIndex = Some(state.probeIdx(b.select("doc_id"), k)))
    CorpusStreamMain.publishBatch(curated, out, k)
    val published = spark.read.parquet(s"$out/batch=$k").select("doc_id", "text")
    state.absorb(k, published)
    published.select("doc_id").as[Long].collect().toSet
  }

  /** Plans in the session's SQL cache (the CacheManager keeps no public
    * count). */
  private def cachedPlans(): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Iterable[_]].size
  }

  test("gate batches leave the session's SQL cache as they found it") {
    // an always-on gate never calls clearCache: a cache entry left per
    // micro-batch (the intra-batch pair pass's band table) piles up for
    // the stream's lifetime
    val out = Files.createTempDirectory("stream_gate_cache").toString
    val state = GateState.build(corpusDf)
    try {
      val before = cachedPlans()
      for (k <- 0L until 3L)
        assert(gateBatch(state, out, k) == Set(100 * k + 1, 100 * k + 2),
          s"batch $k: the fresh doc and one twin publish")
      assert(cachedPlans() == before, "a gate batch left cached plans behind")
    } finally state.close()
  }

  test("one gate batch runs a bounded number of Spark jobs") {
    // the fixed cost of a micro-batch is its job count: the corpus probe
    // runs once (the survivors are staged for the pair pass and the
    // publish) and absorb's stats ride its checkpoint jobs
    val out = Files.createTempDirectory("stream_gate_jobs").toString
    val state = GateState.build(corpusDf)
    val sc = spark.sparkContext
    val rec = new graft.tools.ProfStages.Recorder()
    sc.addSparkListener(rec)
    try {
      gateBatch(state, out, 0L) // warm: first-batch one-offs do not count
      sc.setLocalProperty(rec.tagKey, "gate-batch")
      val kept = try gateBatch(state, out, 1L)
        finally sc.setLocalProperty(rec.tagKey, null)
      assert(kept == Set(101L, 102L))
      rec.drain(sc)
      val jobs = rec.jobsTagged("gate-batch")
      assert(jobs <= GateBatchJobs, s"one gate batch ran $jobs Spark jobs")
      assert(state.absorbedStats().batches == 2)
    } finally {
      sc.removeSparkListener(rec)
      state.close()
    }
  }

  test("the staging job broadcasts the bench set and plans no cartesian") {
    // curateBatch returns a frame over its staged survivors, so the bench
    // join lives in the staging (localCheckpoint) job's plan
    val corpusSh = DedupOps.shingledOf(corpusDf)
    val benchSet = DedupOps.benchShingleSet(DedupOps.shingledOf(
      Seq((9000L, "held out evaluation prompt text here")).toDF("doc_id", "text")))
    val rows = Seq((30L, "src0", "a document body to curate and publish"))
      .toDF("doc_id", "source", "text")
    val plans = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.put(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      noAutoBroadcast {
        CorpusStreamMain.curateBatch(rows, corpusSh, benchSet = Some(benchSet))
      }
      // the staging checkpoint is curateBatch's first; the components
      // rounds follow it on the same in-order bus
      val staging = plans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(staging != null, "no localCheckpoint was reported")
      assert(staging.contains("BroadcastHashJoin"), s"bench join must broadcast:\n$staging")
      assert(!staging.contains("CartesianProduct"), "cartesian in the gate plan")
      assert(!staging.contains("BroadcastNestedLoopJoin"), "degenerate join in the gate plan")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Spark jobs one warm gate batch of [[twinBatch]] may run (curate,
    * publish and absorb, the read-back of the published dir included):
    * 26 on a 4-core box, where the gate that re-ran the probe for the
    * pair pass and the publish and counted absorb's rows ran 39. */
  private val GateBatchJobs = 32
}
