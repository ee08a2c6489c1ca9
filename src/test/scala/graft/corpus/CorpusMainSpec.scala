package graft.corpus

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.DedupOps

/** CorpusMain end-to-end on real testdata: the published layout, the
  * consistency between the corpus and its audit trail, and rerun
  * idempotence through the warehouse swap protocol. */
class CorpusMainSpec extends SparkSpec {

  private val input = "/root/testdata/sf0.001"

  test("publishes a split-partitioned corpus + pair audit; rerun is idempotent") {
    val out = Files.createTempDirectory("corpus_main").toString
    CorpusMain.runWith(spark, input, out)

    val corpus = spark.read.parquet(s"$out/corpus")
    val pairs = spark.read.parquet(s"$out/near_dup_pairs")
    val docs = spark.read.parquet(s"$input/documents.parquet")

    // the corpus is exactly dedupeCorpus's survivor set
    val expectedIds = DedupOps.dedupeCorpus(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == expectedIds)
    assert(pairs.count() > 0, "sf0.001 has near-dups — audit must be non-empty")

    // physical layout: hive-style split partitions, train present
    val splits = new java.io.File(s"$out/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("split=")).toSet
    assert(splits.contains("split=train"), splits.toString)

    // offsets restart inside every (split, source) stream
    corpus.select("split", "source", "doc_id", "n_tokens", "offset")
      .collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .foreach { case (key, rows) =>
        val sorted = rows.sortBy(_.getLong(2))
        assert(sorted.head.getLong(4) == 0L, s"stream $key must start at 0")
        sorted.zip(sorted.tail).foreach { case (a, b) =>
          assert(b.getLong(4) == a.getLong(4) + a.getInt(3), s"gap in $key")
        }
      }

    // rerun: per-partition swap replaces, never appends (count captured
    // BEFORE the rerun — the swap retires the files the first read listed)
    val firstCount = corpus.count()
    CorpusMain.runWith(spark, input, out)
    val again = spark.read.parquet(s"$out/corpus")
    assert(again.count() == firstCount, "rerun must not duplicate rows")
    assert(again.select("doc_id").collect().map(_.getLong(0)).toSet == gotIds)
  }

  test("mix + decontaminate stages: audited drops, corpus excludes both") {
    val out = Files.createTempDirectory("corpus_main_full").toString
    val docs = spark.read.parquet(s"$input/documents.parquet")

    // bench = verbatim copies of three input docs under foreign ids, so
    // contamination is certain for exactly those three (plus any doc
    // sharing a shingle with them)
    val bench = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    bench.write.mode("overwrite").parquet(s"$out/bench")

    val rates = Seq("src0" -> "7f", "src1" -> "33")
    CorpusMain.runWith(spark, input, out,
      bench = Some(s"$out/bench"), mixRates = Some(rates))

    val corpusIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = spark.read.parquet(s"$out/contaminated")
    val dropIds = contaminated.select("doc_id").collect().map(_.getLong(0)).toSet

    // the three copied docs are in the mix or not, but every one of them
    // that survived mixing must be flagged (it shares ALL its shingles);
    // runWith keeps unlisted sources in full, so recompute with 'ff'
    val mixedIds = graft.queries.TextOps.mixCorpus(docs, rates, "ff")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Seq(0L, 1L, 2L).filter(mixedIds).foreach(id =>
      assert(dropIds.contains(id), s"verbatim bench copy $id not flagged"))
    assert(contaminated.select("n_hits").collect().forall(_.getLong(0) >= 1))

    // the published corpus honors both stages
    assert(corpusIds.intersect(dropIds).isEmpty, "contaminated doc published")
    assert(corpusIds.subsetOf(mixedIds), "doc outside the mixture published")
  }

  test("--min-hits thresholds the drop but not the audit") {
    val out = Files.createTempDirectory("corpus_main_thresh").toString
    val docs = spark.read.parquet(s"$input/documents.parquet")
    val bench = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    bench.write.mode("overwrite").parquet(s"$out/bench")
    // a threshold above any verbatim copy's own shingle count: nothing drops
    val huge = 1000000L
    CorpusMain.runWith(spark, input, out, bench = Some(s"$out/bench"),
      minHits = huge)
    val contaminated = spark.read.parquet(s"$out/contaminated")
    assert(contaminated.count() > 0, "audit must still record every overlap")
    assert(contaminated.filter(col("n_hits") >= huge).count() == 0)
    val corpusIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // with nothing above threshold, the corpus equals the bench-less run's
    val plain = Files.createTempDirectory("corpus_main_plain").toString
    CorpusMain.runWith(spark, input, plain)
    val plainIds = spark.read.parquet(s"$plain/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == plainIds)
    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, minHits = 0L)
    }
    // a threshold with no benchmark to apply it to is a config bug
    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, minHits = 5L)
    }
  }

  test("--embeddings drops vector near-dups that survived text dedup, with audit") {
    val out = Files.createTempDirectory("corpus_main_embed").toString
    // text-only run first: learn the text-dedup survivor set
    CorpusMain.runWith(spark, input, out)
    val survivors = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.length >= 2)
    val (a, b) = (survivors(0), survivors(1))

    // embeddings for the first ten survivors only (docs without a vector
    // are untouched by the pass — partial coverage is the production
    // case): distinct one-hot 64-dim vectors (pairwise cosine 0), except
    // a and b share one vector (cosine 1) — a vector-dup pair text dedup
    // could not catch
    val rows = survivors.take(10).zipWithIndex.map { case (id, i) =>
      val slot = if (id == b) 0 else i
      (id, Array.tabulate(64)(d => if (d == slot) 1.0f else 0.0f))
    }.toSeq
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$out/emb")

    CorpusMain.runWith(spark, input, out, embeddings = Some(s"$out/emb"))
    val gotIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.contains(a), "canonical (min id) side must survive")
    assert(!gotIds.contains(b), s"vector dup $b of $a must be dropped")
    assert(gotIds + b == survivors.toSet, "only the vector dup drops")

    // the vector audit records the pair that justified the drop
    val audit = spark.read.parquet(s"$out/embed_dup_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(audit == Set((a, b)), audit.toString)

    // an embeddings-less rerun retires the now-unjustified vector audit
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/embed_dup_pairs").exists())
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == survivors.toSet)
  }

  test("--format jsonl: crawl dump consumed end-to-end, malformed lines quarantined") {
    val root = Files.createTempDirectory("corpus_main_jsonl").toString
    val (in, out) = (s"$root/in", s"$root/out")
    new java.io.File(s"$in/documents.jsonl").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/documents.jsonl/dump.jsonl"),
      java.util.List.of(
        """{"doc_id": 1, "source": "src0", "text": "one clean document body with several words"}""",
        """this line is not json""",
        """{"doc_id": 2, "source": "src1", "text": "a second clean document body quite distinct"}"""))
    CorpusMain.runWith(spark, in, out, format = "jsonl")
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val q = spark.read.parquet(s"$out/quarantine").collect()
    assert(q.length == 1 && q.head.getString(0).contains("not json"))
    // a parquet rerun retires the stale quarantine evidence
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/quarantine").exists())
  }

  test("--export-jsonl mirrors the published corpus; export-less rerun retires it") {
    val out = Files.createTempDirectory("corpus_main_export").toString
    CorpusMain.runWith(spark, input, out, exportJsonl = true)
    val parquetIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the mirror is derived from the PUBLISHED parquet: same docs, same
    // splits, readable as plain JSON lines partitioned by split
    val jsonl = spark.read.schema(
        spark.read.parquet(s"$out/corpus").schema)
      .json(s"$out/corpus_jsonl")
    assert(jsonl.select("doc_id").collect().map(_.getLong(0)).toSet == parquetIds)
    assert(new java.io.File(s"$out/corpus_jsonl").listFiles()
      .exists(_.getName.startsWith("split=")), "mirror must keep split partitions")
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/corpus_jsonl").exists(),
      "export-less rerun must retire the stale mirror")
  }

  test("a FAILED rerun leaves the previous run's audits intact (evidence-first)") {
    val root = Files.createTempDirectory("corpus_main_evidence").toString
    val (in, out) = (s"$root/in", s"$root/out")
    new java.io.File(s"$in/documents.jsonl").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/documents.jsonl/dump.jsonl"),
      java.util.List.of(
        """{"doc_id": 1, "source": "src0", "text": "one clean document body with several words"}""",
        """broken line"""))
    CorpusMain.runWith(spark, in, out, format = "jsonl")
    assert(spark.read.parquet(s"$out/quarantine").count() == 1)
    // rerun in parquet mode against a NONEXISTENT input: the run fails
    // before publishing — the corpus on disk is still run 1's, so run
    // 1's quarantine evidence must survive (stale-audit retirement only
    // happens after a successful publish)
    intercept[Throwable] {
      CorpusMain.runWith(spark, s"$root/nonexistent", out)
    }
    assert(spark.read.parquet(s"$out/quarantine").count() == 1,
      "failed rerun must not destroy the evidence for the live corpus")
    // a SUCCESSFUL parquet rerun does retire it
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/quarantine").exists())
  }

  test("a jsonl rerun failing mid-pipeline leaves the previous quarantine live") {
    val root = Files.createTempDirectory("corpus_main_jsonl_stage").toString
    val (in, out) = (s"$root/in", s"$root/out")
    new java.io.File(s"$in/documents.jsonl").mkdirs()
    def dump(lines: String*): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/documents.jsonl/dump.jsonl"),
      java.util.Arrays.asList(lines: _*))
    dump(
      """{"doc_id": 1, "source": "src0", "text": "one clean document body with several words"}""",
      """first broken line""")
    CorpusMain.runWith(spark, in, out, format = "jsonl")
    val corpusIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(s"$out/quarantine").count() == 1)
    // run 2 over an ALL-BROKEN dump dies mid-pipeline (zero clean docs ->
    // the empty-corpus guard fires) AFTER the quarantine evidence is
    // computed: the new quarantine must stay STAGED, never published,
    // because the corpus it describes never landed — the live corpus is
    // still run 1's, so its audits must be too
    dump("""second broken line""", """third broken line""")
    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, in, out, format = "jsonl")
    }
    assert(spark.read.parquet(s"$out/quarantine").count() == 1,
      "failed jsonl rerun must not swap its quarantine over the live one")
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == corpusIds,
      "failed rerun must not touch the corpus")
    // run 3 succeeds: its quarantine (2 lines) swaps live with the corpus.
    // doc 2 hashes to the SAME split partition as doc 1 (both train), so
    // the per-partition overwrite replaces run 1's data outright
    dump(
      """{"doc_id": 2, "source": "src0", "text": "a replacement clean document body here"}""",
      """second broken line""", """third broken line""")
    CorpusMain.runWith(spark, in, out, format = "jsonl")
    assert(spark.read.parquet(s"$out/quarantine").count() == 2)
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("--publish-index writes the at-rest gate index the streaming twin loads") {
    val out = Files.createTempDirectory("corpus_main_index").toString
    CorpusMain.runWith(spark, input, out, publishIndex = Some("corpus_gate_idx"),
      publishShingles = Some("corpus_gate_sh"))
    try {
      val corpus = spark.read.parquet(s"$out/corpus")
      val idx = spark.table("corpus_gate_idx")
      // 4 band rows per indexed doc, ids exactly the published corpus's
      // (docs under 3 tokens shingle to nothing and are unindexable)
      val indexable = DedupOps.shingledOf(corpus).count()
      assert(idx.count() == 4 * indexable, s"${idx.count()} vs 4*$indexable")
      // and the table actually gates: a verbatim copy of a published doc
      // is flagged when probed through the at-rest index
      val text = corpus.filter(size(split(col("text"), " ")) >= 3)
        .select("text").first().getString(0)
      import spark.implicits._
      val incoming = Seq((999999L, text)).toDF("doc_id", "text")
      val flagged = DedupOps.nearDupAgainstIndex(
          DedupOps.shingledOf(incoming), idx, DedupOps.shingledOf(corpus))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(flagged == Set(999999L), s"the at-rest index must catch the copy: $flagged")
      // --publish-shingles: the verify side at rest, content-identical to
      // shingling the published corpus in session
      def shSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Any](1).toSet)).toSet
      assert(shSet(spark.table("corpus_gate_sh")) ==
        shSet(DedupOps.shingledOf(corpus)),
        "at-rest shingles must equal the in-session shingle pass")
      // and the fully at-rest text side still gates: both tables, no
      // in-session fold at all
      val flaggedAtRest = DedupOps.nearDupAgainstIndex(
          DedupOps.shingledOf(incoming), idx, spark.table("corpus_gate_sh"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(flaggedAtRest == Set(999999L), flaggedAtRest.toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS corpus_gate_idx")
      spark.sql("DROP TABLE IF EXISTS corpus_gate_sh")
    }
  }

  test("--quota caps every source at its k best-quality survivors, audited and reversible") {
    val out = Files.createTempDirectory("corpus_main_quota").toString
    // un-capped run first: the quota ranks DEDUP SURVIVORS, so the
    // expected cut is domainQuota over exactly this corpus
    CorpusMain.runWith(spark, input, out)
    val uncappedIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = graft.queries.TextOps.domainQuota(
        spark.read.parquet(s"$out/corpus").select("doc_id", "source", "text"), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    CorpusMain.runWith(spark, input, out, quota = Some(5))
    val corpus = spark.read.parquet(s"$out/corpus")
    val gotIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == expected, "corpus must keep exactly the quota winners")
    assert(gotIds.size < uncappedIds.size, "quota 5 over 25-doc sources must cut")
    val bySrc = corpus.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(bySrc.forall(_._2 <= 5L), bySrc.mkString(","))

    // the audit IS the corpus membership, with in-quota ranks
    val audit = spark.read.parquet(s"$out/domain_quota")
    assert(audit.select("doc_id").collect().map(_.getLong(0)).toSet == gotIds)
    assert(audit.filter(col("rk") > 5).count() == 0)

    // a quota-less rerun retires the stale audit and restores the full set
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/domain_quota").exists(),
      "stale quota audit must retire when the stage is off")
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == uncappedIds)

    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, quota = Some(0))
    }
  }

  test("--token-budget samples each source to its token budget, audited and reversible") {
    val out = Files.createTempDirectory("corpus_main_budget").toString
    // un-budgeted run first: the budget samples DEDUP SURVIVORS, so the
    // expected sample is mixToTokenBudget over exactly this corpus
    CorpusMain.runWith(spark, input, out)
    val unbudgetedIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = graft.queries.TextOps.mixToTokenBudget(
        spark.read.parquet(s"$out/corpus").select("doc_id", "source", "text"), 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    CorpusMain.runWith(spark, input, out, tokenBudget = Some(300L))
    val corpus = spark.read.parquet(s"$out/corpus")
    val gotIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == expected, "corpus must keep exactly the budget sample")
    assert(gotIds.size < unbudgetedIds.size, "a 300-token budget over ~1400-token sources must cut")

    // the audit IS the corpus membership, carrying the sample evidence
    val audit = spark.read.parquet(s"$out/token_budget")
    assert(audit.select("doc_id").collect().map(_.getLong(0)).toSet == gotIds)
    assert(audit.columns.toSet ==
      Set("doc_id", "source", "n_tokens", "tb_bucket", "tb_cut"))

    // a budget-less rerun retires the stale audit and restores the full set
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/token_budget").exists(),
      "stale budget audit must retire when the stage is off")
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == unbudgetedIds)

    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, tokenBudget = Some(0L))
    }
  }

  test("--publish-vector-index writes the at-rest vector index the streaming twin loads") {
    import spark.implicits._
    import graft.ops.VectorSim
    import graft.queries.VectorOps
    val out = Files.createTempDirectory("corpus_main_vec_index").toString
    // text-only run first: learn the survivor set, then give the first
    // eight survivors distinct one-hot vectors (no vector dups — this
    // test is about the published index, not the drop)
    CorpusMain.runWith(spark, input, out)
    val survivors = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val withVecs = survivors.take(8).toSet
    survivors.take(8).zipWithIndex.map { case (id, i) =>
      (id, Array.tabulate(64)(d => if (d == i) 1.0f else 0.0f))
    }.toSeq.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$out/emb")
    CorpusMain.runWith(spark, input, out, embeddings = Some(s"$out/emb"),
      publishVectorIndex = Some("corpus_vec_gate_idx"),
      publishVectors = Some("corpus_vecs_at_rest"))
    try {
      val idx = spark.table("corpus_vec_gate_idx")
      // the table IS vectorBandIndex over (published ∩ vectors), materialized
      val prepped = spark.read.parquet(s"$out/emb")
        .select(col("vec_id"), VectorSim.toDouble(col("embedding")).as("e"))
        .withColumn("nrm", VectorSim.norm(col("e")))
        .join(spark.read.parquet(s"$out/corpus")
          .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val expected = VectorOps.vectorBandIndex(prepped)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val got = idx.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got == expected && got.map(_._1) == withVecs,
        s"index ids ${got.map(_._1)} vs published-with-vectors $withVecs")
      // and the table actually gates: a vector colinear with an indexed
      // one is flagged when probed through the at-rest index
      val incoming = Seq(
        (999999L, Array.tabulate(64)(d => if (d == 0) 2.0f else 0.0f)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), VectorSim.toDouble(col("embedding")).as("e"))
        .withColumn("nrm", VectorSim.norm(col("e")))
      val flagged = VectorOps.lshNearDupAgainstIndex(incoming, idx, prepped, 0.9)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(flagged == Set(999999L), s"the at-rest index must catch the copy: $flagged")
      // --publish-vectors: the prepped (vec_id, e, nrm) rows themselves,
      // bucketed by vec_id — what the stream's --vectors-table loads
      // instead of prepping + persisting the raw embeddings
      val atRestVecs = spark.table("corpus_vecs_at_rest")
      assert(atRestVecs.columns.toSeq == Seq("vec_id", "e", "nrm"))
      val gotVecs = atRestVecs.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSet
      val expVecs = prepped.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSet
      assert(gotVecs == expVecs, "at-rest vectors must equal the prepped survivors")
      // API twin of the CLI orphan rule: an index without vectors is loud
      intercept[IllegalArgumentException] {
        CorpusMain.runWith(spark, input, out,
          publishVectorIndex = Some("corpus_vec_gate_idx"))
      }
      intercept[IllegalArgumentException] {
        CorpusMain.runWith(spark, input, out,
          publishVectors = Some("corpus_vecs_at_rest"))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS corpus_vec_gate_idx")
      spark.sql("DROP TABLE IF EXISTS corpus_vecs_at_rest")
    }
  }

  test("every optional stage at once: audits, tables, mirror and caps all compose") {
    import spark.implicits._
    val out = Files.createTempDirectory("corpus_main_allflags").toString
    val docs = spark.read.parquet(s"$input/documents.parquet")
    // bench = verbatim copies of docs 0-2 (certain contamination);
    // embeddings = distinct one-hots for ids 0-9 (no vector dups — the
    // vector pass must drop nothing; it still has to RUN)
    docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$out/bench")
    (0L until 10L).map(i =>
        (i, Array.tabulate(64)(d => if (d == i) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$out/emb")
    try {
      CorpusMain.runWith(spark, input, out,
        capacity = Some(512),
        bench = Some(s"$out/bench"),
        mixRates = Some(Seq("src0" -> "7f")),
        embeddings = Some(s"$out/emb"),
        quota = Some(5),
        tokenBudget = Some(10000L), // over any post-quota total: samples nothing, still audits
        chunk = Some(16),
        stats = true,
        exportJsonl = true,
        publishIndex = Some("all_flags_idx"),
        publishVectorIndex = Some("all_flags_vec_idx"),
        publishVectors = Some("all_flags_vecs"),
        normalize = true,
        cutSpans = Some(8),
        qualityFloor = Some(0.1))
      val corpus = spark.read.parquet(s"$out/corpus")
      val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty)
      // every stage left its mark: contamination dropped the bench copies,
      // the quota capped every source, every audit is on disk
      val contaminated = spark.read.parquet(s"$out/contaminated")
        .filter(col("n_hits") >= 1).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(contaminated.intersect(ids).isEmpty, "contaminated docs published")
      assert(corpus.groupBy("source").count()
        .collect().forall(_.getLong(1) <= 5L), "quota breached")
      for (audit <- Seq("near_dup_pairs", "domain_quota", "embed_dup_pairs",
          "token_budget", "normalize_stats", "span_cut", "quality_floor"))
        assert(new java.io.File(s"$out/$audit").exists(), s"$audit missing")
      // the quota and budget audits and the corpus agree exactly (the
      // over-total budget keeps every quota survivor, with null cuts)
      assert(spark.read.parquet(s"$out/domain_quota")
        .select("doc_id").collect().map(_.getLong(0)).toSet == ids)
      assert(spark.read.parquet(s"$out/token_budget")
        .select("doc_id").collect().map(_.getLong(0)).toSet == ids)
      // the jsonl mirror mirrors the published corpus
      assert(spark.read.json(s"$out/corpus_jsonl")
        .select("doc_id").collect().map(_.getLong(0)).toSet == ids)
      // all three tables derive from the PUBLISHED (post-quota) corpus
      assert(spark.table("all_flags_idx").select("corpus_id").distinct()
        .collect().map(_.getLong(0)).toSet.subsetOf(ids))
      val vecIds = spark.table("all_flags_vecs")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(vecIds == ids.filter(_ < 10L), "vectors table != published ∩ embedded")
      assert(spark.table("all_flags_vec_idx").select("corpus_id").distinct()
        .collect().map(_.getLong(0)).toSet.subsetOf(vecIds))
      // packing restarted inside each (split, source) under the cap
      assert(corpus.filter(col("offset") === 0L).count() > 0)
      // the examples and reports derive from the published corpus
      assert(spark.read.parquet(s"$out/examples")
        .select("doc_id").collect().map(_.getLong(0)).toSet == ids)
      assert(spark.read.parquet(s"$out/corpus_stats").count() == 1L)
      assert(spark.read.parquet(s"$out/composition")
        .agg(org.apache.spark.sql.functions.sum("n_docs"))
        .collect()(0).getLong(0) == ids.size.toLong)
      // a minimal rerun retires every optional ARTIFACT (catalog tables
      // are a separate lifecycle — saveAsTable overwrite on next publish)
      CorpusMain.runWith(spark, input, out)
      for (stale <- Seq("contaminated", "domain_quota", "embed_dup_pairs",
          "token_budget", "corpus_jsonl", "examples", "corpus_stats",
          "composition", "normalize_stats", "span_cut", "quality_floor"))
        assert(!new java.io.File(s"$out/$stale").exists(), s"$stale must retire")
    } finally
      for (t <- Seq("all_flags_idx", "all_flags_vec_idx", "all_flags_vecs"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("--chunk publishes q60's examples from the published corpus; --stats the reports; both retire") {
    import graft.queries.TextOps
    val out = Files.createTempDirectory("corpus_main_chunk").toString
    CorpusMain.runWith(spark, input, out,
      chunk = Some(8), chunkStride = Some(6), stats = true)
    val corpus = spark.read.parquet(s"$out/corpus")
    val ex = spark.read.parquet(s"$out/examples")
    // the examples are exactly q60's windows over the published corpus
    val expected = TextOps.chunkWindows(
        corpus.select(col("doc_id"), col("text")), chunk = 8, stride = 6)
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val got = ex.select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == expected)
    // chunk_text only — the full text lives in corpus/, once
    assert(!ex.columns.contains("text"))
    // corpus metadata and the split partition layout ride along
    assert(ex.columns.contains("source") && ex.columns.contains("split"))
    assert(new java.io.File(s"$out/examples").listFiles()
      .exists(_.getName.startsWith("split=")))
    // the reports describe the published corpus
    val st = spark.read.parquet(s"$out/corpus_stats").collect()
    assert(st.length == 1)
    assert(st(0).getAs[Long]("n_docs") == corpus.count())
    val comp = spark.read.parquet(s"$out/composition")
    assert(comp.columns.toSeq == Seq("lang", "source", "n_docs", "n_tokens"))
    assert(comp.agg(sum("n_docs")).collect()(0).getLong(0) == corpus.count())
    // stride defaults to the chunk size: disjoint windows
    CorpusMain.runWith(spark, input, out, chunk = Some(8))
    assert(spark.read.parquet(s"$out/examples")
      .select("start").collect().forall(_.getLong(0) % 8 == 0))
    // ...and the stats-less rerun retired the reports
    assert(!new java.io.File(s"$out/corpus_stats").exists())
    assert(!new java.io.File(s"$out/composition").exists())
    // a chunk-less rerun retires the examples
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/examples").exists())
    // an orphan stride is a config bug, rejected before any work
    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, chunkStride = Some(4))
    }
  }

  test("--review-sample publishes q71's uniform per-source rows; retires without it") {
    import graft.queries.TextOps
    val out = Files.createTempDirectory("corpus_main_review").toString
    CorpusMain.runWith(spark, input, out, reviewSample = Some(3))
    val corpus = spark.read.parquet(s"$out/corpus")
    val rs = spark.read.parquet(s"$out/review_sample")
    // exactly q71's selection over the published corpus, full rows + rank
    val expected = TextOps.stratifiedSample(corpus, k = 3)
      .select("doc_id", "sample_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = rs.select("doc_id", "sample_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == expected && got.nonEmpty)
    // at most k rows per source, and the full text rides along for review
    val perSource = rs.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 3))
    assert(rs.columns.contains("text"))
    // a rerun reproduces the same sample (pure doc_id function) ...
    CorpusMain.runWith(spark, input, out, reviewSample = Some(3))
    val again = spark.read.parquet(s"$out/review_sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got.map(_._1))
    // ... and a sample-less rerun retires the artifact
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/review_sample").exists())
    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, reviewSample = Some(0))
    }
  }

  test("a pipeline whose stages eat every document fails loudly, not silently") {
    val out = Files.createTempDirectory("corpus_main_empty").toString
    // bench = the input itself: every doc is fully contaminated
    spark.read.parquet(s"$input/documents.parquet")
      .write.mode("overwrite").parquet(s"$out/bench")
    val e = intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, bench = Some(s"$out/bench"))
    }
    assert(e.getMessage.contains("zero documents"), e.getMessage)
    // the audits still published (evidence-first); only the corpus is absent
    assert(spark.read.parquet(s"$out/contaminated").count() > 0)
    assert(!new java.io.File(s"$out/corpus").exists())
  }

  test("--keep-best keeps the component's best-QUALITY doc, audits the canonical map") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_keepbest_in").toString
    val out = Files.createTempDirectory("corpus_keepbest_out").toString
    // docs 1 and 2 share 46 of 50 3-gram shingles (Jaccard 0.92): a
    // near-dup family where the HIGHER id has the higher quality (doc 1's
    // stopword tail costs it 0.02) — the min-id rule and the keep-best
    // rule must disagree on the survivor
    val base = (1 to 48).map(i => f"tok$i%02d").mkString(" ")
    val docsDf = Seq(
      (1L, "s", base + " the a"),
      (2L, "s", base + " zqx zrx"),
      (3L, "s", (1 to 40).map(i => f"one$i%02d").mkString(" ")))
      .toDF("doc_id", "source", "text")
    docsDf.write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out, keepBest = true)
    // precondition: the fixture really band-collides into a pair
    val pairs = spark.read.parquet(s"$out/near_dup_pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"fixture must band-collide: $pairs")
    val kept = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"keep-best must keep higher-quality 2: $kept")
    // the audit maps every doc to its survivor — dropped 1 names 2
    val cmap = spark.read.parquet(s"$out/canonical_map")
      .select("doc_id", "canonical_id", "is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(cmap == Set((1L, 2L, false), (2L, 2L, true), (3L, 3L, true)))
    // the min-id rule would have kept 1 — the flag changed the outcome
    assert(DedupOps.dedupeCorpus(docsDf,
      spark.read.parquet(s"$out/near_dup_pairs"))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // a rerun WITHOUT the flag reverts the survivor and retires the audit
    CorpusMain.runWith(spark, tmpIn, out)
    assert(!new java.io.File(s"$out/canonical_map").exists())
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("--normalize cleans in place BEFORE dedup, audits per-source dirt, retires") {
    import spark.implicits._
    val out = Files.createTempDirectory("corpus_main_norm").toString
    val tmpIn = Files.createTempDirectory("corpus_norm_in").toString
    val docs = spark.read.parquet(s"$input/documents.parquet")
    // a whitespace MIRROR of a real doc under a foreign id: tab-indented,
    // CRLF-terminated, every space doubled. Unnormalized, its shingles
    // differ wholesale (split on ' ' even yields empty tokens), so dedup
    // would keep both copies; normalized, the two are byte-identical.
    val victim = docs.orderBy(col("doc_id")).limit(1)
    val mirror = victim.withColumn("doc_id", lit(900001L))
      .withColumn("text",
        concat(lit("\t "), regexp_replace(col("text"), " ", "  "), lit(" \r\n")))
      .withColumn("n_chars", length(col("text")))
    docs.unionByName(mirror)
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    val victimId = victim.select("doc_id").as[Long].head()

    CorpusMain.runWith(spark, tmpIn, out, normalize = true)
    val corpus = spark.read.parquet(s"$out/corpus")
    // no residual whitespace variants or runs anywhere in the corpus
    assert(corpus.filter(col("text").rlike("[\\t\\r\\n\\x0B\\x0C]|  ")).count() == 0)
    // the derived n_chars describes the text it sits next to
    assert(corpus.filter(length(col("text")) =!= col("n_chars")).count() == 0)
    // the mirror pair collapsed to ONE survivor — normalization ran
    // before shingling, so the whitespace variant could not defeat dedup
    val kept = corpus.filter(col("doc_id").isin(victimId, 900001L)).count()
    assert(kept == 1L, s"exactly one of the mirror pair must survive, got $kept")
    // per-source dirt report matches an independent recompute
    val st = spark.read.parquet(s"$out/normalize_stats")
      .select("source", "n_docs", "n_changed", "chars_removed")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val mirrorSrc = victim.select("source").as[String].head()
    val inDocs = spark.read.parquet(s"$tmpIn/documents.parquet")
    val perSrc = inDocs.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(st.keySet == perSrc.keySet)
    st.foreach { case (src, (_, n, chg, removed)) =>
      assert(n == perSrc(src), s"$src doc count")
      if (src == mirrorSrc) {
        assert(chg >= 1L, s"$src must report the dirtied mirror changed")
        assert(removed > 0L, s"$src must report removed characters")
      }
    }
    // the testdata itself is single-space clean: only the mirror changed
    assert(st.values.map(_._3).sum == 1L)

    // a rerun WITHOUT the flag keeps both variants and retires the report
    CorpusMain.runWith(spark, tmpIn, out)
    assert(!new java.io.File(s"$out/normalize_stats").exists())
    assert(spark.read.parquet(s"$out/corpus")
      .filter(col("doc_id").isin(victimId, 900001L)).count() == 2L,
      "unnormalized whitespace variants must evade shingle dedup (the point)")
  }

  test("--quality-floor sheds each source's own worst, audited and reversible") {
    import spark.implicits._
    val out = Files.createTempDirectory("corpus_floor").toString
    CorpusMain.runWith(spark, input, out, qualityFloor = Some(0.2))
    val dropped = spark.read.parquet(s"$out/quality_floor")
    val corpus = spark.read.parquet(s"$out/corpus")
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    val droppedIds = dropped.select("doc_id").as[Long].collect().toSet
    assert(droppedIds.nonEmpty && droppedIds.intersect(corpusIds).isEmpty,
      "every audited drop must be absent from the corpus")
    // the floor is source-relative: within each source the dropped docs'
    // qualities sit at or below every published doc's quality
    val worstKept = corpus.join(
        spark.read.parquet(s"$input/documents.parquet").select("doc_id"),
        "doc_id")
    val minKeptBySrc = graft.queries.TextOps.calibratedQuality(worstKept)
      .groupBy(col("source")).agg(min(col("quality")).as("minq"))
      .as[(String, Double)].collect().toMap
    dropped.select("source", "quality").as[(String, Double)].collect()
      .foreach { case (src, q) =>
        assert(q <= minKeptBySrc(src),
          s"$src dropped a doc ($q) better than a kept one (${minKeptBySrc(src)})")
      }
    // flagless rerun restores and retires
    CorpusMain.runWith(spark, input, out)
    assert(!new java.io.File(s"$out/quality_floor").exists())
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
      .intersect(droppedIds) == droppedIds,
      "the floor's drops must return without the flag")
  }

  test("--quota-heap publishes the identical corpus and audit as the window quota") {
    import spark.implicits._
    val outW = Files.createTempDirectory("corpus_quota_w").toString
    val outH = Files.createTempDirectory("corpus_quota_h").toString
    CorpusMain.runWith(spark, input, outW, quota = Some(5))
    CorpusMain.runWith(spark, input, outH, quota = Some(5), quotaHeap = true)
    def corpusIds(o: String) = spark.read.parquet(s"$o/corpus")
      .select("doc_id").as[Long].collect().toSet
    def audit(o: String) = spark.read.parquet(s"$o/domain_quota")
      .select("doc_id", "source", "quality", "rk")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(corpusIds(outH) == corpusIds(outW))
    assert(audit(outH) == audit(outW),
      "the heap path must leave byte-equal evidence, not just the same corpus")
    // the flag without a quota is a configuration bug
    val e = intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, outH, quotaHeap = true)
    }
    assert(e.getMessage.contains("quota-heap"))
  }

  test("--floor-threshold publishes the identical corpus and drop set as the window floor") {
    import spark.implicits._
    val outW = Files.createTempDirectory("corpus_floor_w").toString
    val outT = Files.createTempDirectory("corpus_floor_t").toString
    CorpusMain.runWith(spark, input, outW, qualityFloor = Some(0.2))
    CorpusMain.runWith(spark, input, outT, qualityFloor = Some(0.2),
      floorThreshold = true)
    def corpusIds(o: String) = spark.read.parquet(s"$o/corpus")
      .select("doc_id").as[Long].collect().toSet
    // the histogram audit carries no rn_worst (the global per-source rank
    // IS the sort being avoided) — compare the columns both forms publish
    def audit(o: String) = spark.read.parquet(s"$o/quality_floor")
      .select("doc_id", "source", "quality", "n_src")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(corpusIds(outT) == corpusIds(outW))
    assert(audit(outT) == audit(outW),
      "the histogram path must shed exactly the window path's drops")
    // the flag without a floor is a configuration bug
    val e = intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, outT, floorThreshold = true)
    }
    assert(e.getMessage.contains("floor-threshold"))
  }

  test("--url-dedup drops re-crawls by canonical URL before shingling, audited and reversible") {
    import spark.implicits._
    val out = Files.createTempDirectory("corpus_main_url").toString
    val tmpIn = Files.createTempDirectory("corpus_url_in").toString
    // docs 1 and 2: SAME canonical URL (utm/case variants), DIFFERENT
    // text — shingle dedup would never pair them, so a drop proves the
    // URL key did it. doc 3: own URL. doc 4: unparseable URL — kept.
    Seq(
      (1L, "s", (1 to 20).map(i => s"alpha$i").mkString(" "),
        "http://A.com/p?id=1&utm_s=x"),
      (2L, "s", (1 to 20).map(i => s"beta$i").mkString(" "),
        "HTTP://a.COM/p?utm_m=y&id=1"),
      (3L, "s", (1 to 20).map(i => s"gamma$i").mkString(" "),
        "http://a.com/q?id=2"),
      (4L, "s", (1 to 20).map(i => s"delta$i").mkString(" "), "not a url"))
      .toDF("doc_id", "source", "text", "url")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")

    CorpusMain.runWith(spark, tmpIn, out, urlDedup = true)
    val kept = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), s"re-crawl must drop by URL key: $kept")
    val audit = spark.read.parquet(s"$out/url_dedup")
      .as[(Long, String, Long)].collect()
    assert(audit.toSeq == Seq((2L, "http://a.com/p?id=1", 1L)),
      s"the audit names the dropped fetch, its canonical, its survivor: ${audit.toSeq}")

    // a flagless rerun restores the re-crawl and retires the audit
    CorpusMain.runWith(spark, tmpIn, out)
    assert(!new java.io.File(s"$out/url_dedup").exists())
    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))

    // asking for URL dedup without a url column is a configuration bug
    val e = intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, input, out, urlDedup = true)
    }
    assert(e.getMessage.contains("url column"))
  }

  test("--cut-spans removes shared passages from dedup SURVIVORS, audited and reversible") {
    import spark.implicits._
    val out = Files.createTempDirectory("corpus_main_spans").toString
    val tmpIn = Files.createTempDirectory("corpus_spans_in").toString
    // two docs sharing a verbatim 10-token passage inside otherwise
    // disjoint 30-token bodies: Jaccard far below the near-dup threshold,
    // so BOTH survive doc-level dedup — exactly the case span-cutting is
    // for. Doc 3 is the shared passage alone: fully covered, must drop.
    val passage = (1 to 10).map(i => s"shared$i").mkString(" ")
    val docsDf = Seq(
      (1L, "s", (1 to 30).map(i => s"alpha$i").mkString(" ") + " " + passage),
      (2L, "s", passage + " " + (1 to 30).map(i => s"beta$i").mkString(" ")),
      (3L, "s", passage),
      (4L, "s", (1 to 20).map(i => s"gamma$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    docsDf.write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")

    CorpusMain.runWith(spark, tmpIn, out, cutSpans = Some(8))
    val corpus = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // all four survive dedup (precondition), but 3 is fully covered
    assert(corpus.keySet == Set(1L, 2L, 4L),
      s"fully-duplicated doc must drop: ${corpus.keySet}")
    assert(!corpus(1L).contains("shared") && !corpus(2L).contains("shared"),
      "the shared passage must be cut from both carriers")
    assert(corpus(1L).contains("alpha30") && corpus(2L).contains("beta1"),
      "novel text must survive the cut")
    assert(corpus(4L) == docsDf.filter(col("doc_id") === 4).select("text").as[String].head(),
      "an unaffected doc must pass through byte-identical")
    // the audit carries stats AND the patch text for affected docs only
    val audit = spark.read.parquet(s"$out/span_cut")
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
    assert(audit.keySet == Set(1L, 2L, 3L))
    assert(audit(3L) == 1.0, s"the passage-only doc is fully covered: $audit")
    // a rerun WITHOUT the flag restores the passages and retires the audit
    CorpusMain.runWith(spark, tmpIn, out)
    assert(!new java.io.File(s"$out/span_cut").exists())
    val again = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(again.keySet == Set(1L, 2L, 3L, 4L))
    assert(again(1L).contains("shared1"))
  }

  test("erasure composes: purgeCurated leaves no trace of the doc in ANY published dir") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_purge_in").toString
    val out = Files.createTempDirectory("corpus_purge_out").toString
    // the target doc 1 (X) is wired into EVERY side output: a near-dup
    // partner (2) it beats on quality (canonical_map names it), a shared
    // 10-token passage with 3 (span_cut carries its cut text), a vector
    // twin (5) it out-qualities (embed maps name it), a re-crawl (6) of
    // its URL (url_dedup names it as survivor), and a verbatim bench
    // copy (contaminated names it, min-hits high so it still publishes);
    // 4/7/8 are innocent bystanders, 9 is the floor's designated victim
    // token lengths are tuned so X's quality tops both its components:
    // X's mean token length sits inside qualityExpr's [3, 6] bonus band
    // (stopword-free -> quality 1.0), W pays a stopword tail, Z pays
    // BOTH a stopword tail and 7-char tokens (mean > 6, no bonus)
    val base = (1 to 48).map(i => f"xtok$i%02d").mkString(" ")
    val passage = (1 to 10).map(i => s"shd$i").mkString(" ")
    def body(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docsDf = Seq(
      (1L, "s", s"$base $passage zqx zrx", "http://a.example/x"),
      (2L, "s", s"$base $passage the a", "http://a.example/w"),
      (3L, "s", s"$passage ${body("vee", 30)}", "http://a.example/v"),
      (4L, "s", body("uuu", 20), "http://a.example/u"),
      (5L, "s", s"${body("zetword", 30)} the a of and", "http://a.example/z"),
      (6L, "s", "recrawl of the same page body here", "http://a.example/x"),
      (7L, "s", body("ppp", 20), "http://a.example/p"),
      (8L, "s", body("qqq", 20), "http://a.example/q"),
      (9L, "s", "the the the a a a of of and and", "http://a.example/t"))
      .toDF("doc_id", "source", "text", "url")
      .withColumn("lang", lit("en")) // composition aggregates (lang, source)
    docsDf.write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    // bench: X verbatim under a foreign id (certain contamination hit)
    docsDf.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$tmpIn/bench")
    // vectors: X and Z share slot 0 (cosine 1); 3/4 get distinct slots
    Seq((1L, 0), (5L, 0), (3L, 1), (4L, 2)).map { case (id, slot) =>
      (id, Array.tabulate(64)(d => if (d == slot) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmpIn/emb")
    CorpusMain.runWith(spark, tmpIn, out,
      bench = Some(s"$tmpIn/bench"), minHits = 1000000L,
      embeddings = Some(s"$tmpIn/emb"), keepBest = true,
      cutSpans = Some(8), urlDedup = true, qualityFloor = Some(0.2),
      quota = Some(100), tokenBudget = Some(1000000L),
      chunk = Some(8), reviewSample = Some(100), exportJsonl = true,
      stats = true)
    // preconditions: X published, and every side output names it
    val pre = spark.read.parquet(s"$out/corpus").select("doc_id")
      .as[Long].collect().toSet
    assert(pre.contains(1L), s"fixture must publish X: $pre")
    assert(pre == Set(1L, 3L, 4L, 7L, 8L), pre.toString)
    for (d <- Seq("examples", "review_sample", "span_cut", "canonical_map",
        "embed_canonical_map", "near_dup_pairs", "embed_dup_pairs",
        "contaminated", "domain_quota", "token_budget"))
      assert(spark.read.parquet(s"$out/$d")
        .filter(col(spark.read.parquet(s"$out/$d").columns
          .find(Set("doc_id", "doc_a").contains).get) === 1L).count() > 0,
        s"precondition: $d must name X")
    assert(spark.read.parquet(s"$out/url_dedup")
      .filter(col("survivor_id") === 1L).count() > 0)
    assert(spark.read.parquet(s"$out/quality_floor")
      .select("doc_id").as[Long].collect().toSet == Set(9L))

    val report = CorpusMain.purgeCurated(spark, out, Seq(1L))
    assert(report("corpus")._2 > 0 && report("examples")._2 > 0 &&
      report("review_sample")._2 > 0 && report("span_cut")._2 > 0 &&
      report("canonical_map")._2 > 0 && report("embed_canonical_map")._2 > 0 &&
      report("near_dup_pairs")._2 > 0 && report("embed_dup_pairs")._2 > 0 &&
      report("contaminated")._2 > 0 && report("domain_quota")._2 > 0 &&
      report("token_budget")._2 > 0 && report("url_dedup")._2 > 0 &&
      report("corpus_jsonl")._2 > 0, report.toString)

    // the done definition: NO published dir still carries X's id (as a
    // document reference) or ANY fragment of its text
    val idCols = Set("doc_id", "canonical_id", "doc_a", "doc_b", "survivor_id")
    val frags = Seq("zqx", "xtok07")
    def traces(dir: java.io.File): Long = {
      // a dir the purge emptied COMPLETELY holds zero data files — the
      // engine's documented erasure end-state (deleteWhere drops
      // all-rows-matched files rather than publish empty husks), and the
      // strongest possible "no trace". Before r21 this case was masked
      // by 0-row husk part files the ORIGINAL writes left from empty
      // planner partitions; adaptive planning writes no husks, so the
      // raw read would die on schema inference instead of reporting 0.
      def hasData(f: java.io.File): Boolean = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.exists(k =>
          (k.isFile && !k.getName.startsWith(".") && !k.getName.startsWith("_")) ||
            (k.isDirectory && hasData(k)))
      }
      if (!hasData(dir)) return 0L
      val df = if (dir.getName == "corpus_jsonl")
        spark.read.json(dir.toString) else spark.read.parquet(dir.toString)
      val preds =
        df.schema.fields.filter(f => idCols.contains(f.name))
          .map(f => col(f.name) === 1L) ++
        df.schema.fields.filter(_.dataType ==
            org.apache.spark.sql.types.StringType)
          .flatMap(f => frags.map(fr => col(f.name).contains(fr)))
      if (preds.isEmpty) 0L else df.filter(preds.reduce(_ || _)).count()
    }
    val dirs = new java.io.File(out).listFiles().filter(f =>
      f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(dirs.map(_.getName).toSet.contains("corpus_jsonl"))
    dirs.foreach(d => assert(traces(d) == 0L,
      s"${d.getName} still carries a trace of the purged doc"))

    // innocent rows survive: the other published docs and their evidence
    assert(spark.read.parquet(s"$out/corpus").select("doc_id")
      .as[Long].collect().toSet == Set(3L, 4L, 7L, 8L))
    assert(spark.read.parquet(s"$out/review_sample")
      .filter(col("doc_id") === 3L).count() > 0)
    assert(spark.read.parquet(s"$out/contaminated")
      .filter(col("doc_id") === 2L).count() > 0,
      "the near-dup partner's own contamination row must survive")
    assert(spark.read.parquet(s"$out/quality_floor")
      .filter(col("doc_id") === 9L).count() > 0)
    // the mirror and the stats re-derived from the purged corpus
    assert(spark.read.json(s"$out/corpus_jsonl").select("doc_id")
      .as[Long].collect().toSet == Set(3L, 4L, 7L, 8L))
    assert(spark.read.parquet(s"$out/composition")
      .agg(sum(col("n_docs"))).as[Long].head() == 4L)

    // rerun is a no-op on every store
    val rerun = CorpusMain.purgeCurated(spark, out, Seq(1L))
    assert(rerun.values.forall(_ == ((0, 0L))), s"rerun must rewrite nothing: $rerun")
  }

  test("--semantic-bench drops embedding-space eval leakage the shingle pass misses, audited and reversible") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_sem_in").toString
    val out = Files.createTempDirectory("corpus_sem_out").toString
    // doc 1 is a PARAPHRASE of a benchmark item: not one shared token
    // (shingle decontamination is blind to it) but an identical
    // embedding direction (cosine 1); docs 2/3 are innocent
    Seq(
      (1L, "s", (1 to 20).map(i => s"para$i").mkString(" ")),
      (2L, "s", (1 to 20).map(i => s"inno$i").mkString(" ")),
      (3L, "s", (1 to 20).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    def oneHot(slot: Int, scale: Float) =
      Array.tabulate(64)(d => if (d == slot) scale else 0.0f)
    Seq((1L, oneHot(0, 1.0f)), (2L, oneHot(1, 1.0f)), (3L, oneHot(2, 1.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmpIn/emb")
    // the bench vector is doc 1's direction SCALED (cosine exactly 1)
    Seq((900001L, oneHot(0, 3.0f))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmpIn/sem_bench")

    CorpusMain.runWith(spark, tmpIn, out,
      embeddings = Some(s"$tmpIn/emb"),
      semanticBench = Some(s"$tmpIn/sem_bench"), semanticThreshold = 0.9)
    assert(spark.read.parquet(s"$out/corpus").select("doc_id")
      .as[Long].collect().toSet == Set(2L, 3L),
      "the paraphrase must drop, innocents publish")
    // the audit keeps every banded CANDIDATE (near-misses included, at
    // n_hits = 0); the drop set is exactly the rows at or above the
    // threshold
    val audit = spark.read.parquet(s"$out/semantic_contaminated")
    assert(audit.filter(col("n_hits") >= 1)
      .select("doc_id", "n_hits", "max_cos")
      .as[(Long, Long, Double)].collect().toSeq == Seq((1L, 1L, 1.0)),
      "exactly the paraphrase is a hit")
    assert(audit.filter(col("max_cos") >= 0.9).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L),
      "the read-back drop rule must reproduce the dropped set")

    // the stage is opt-in: a semantic-bench without embeddings is a
    // config bug, and a rerun WITHOUT the flag retires the audit and
    // republishes the paraphrase
    intercept[IllegalArgumentException] {
      CorpusMain.runWith(spark, tmpIn, out,
        semanticBench = Some(s"$tmpIn/sem_bench"))
    }
    CorpusMain.runWith(spark, tmpIn, out, embeddings = Some(s"$tmpIn/emb"))
    assert(!new java.io.File(s"$out/semantic_contaminated").exists())
    assert(spark.read.parquet(s"$out/corpus").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("runWith with --audit-splits leaves the session's SQL cache as it found it") {
    // both minhash passes (the dedup pairs and the split audit) persist a
    // band table; a library caller never clears the cache, so each run
    // would otherwise leave them behind
    val out = Files.createTempDirectory("corpus_main_cache").toString
    val before = cachedPlans()
    CorpusMain.runWith(spark, input, out, auditSplits = Some(0.5))
    assert(cachedPlans() == before, "runWith left cached plans behind")
  }

  test("--audit-splits publishes the cross-split near-dup evidence + report; purge re-derives") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_auditsplit_in").toString
    val out = Files.createTempDirectory("corpus_auditsplit_out").toString
    // pick one train id and one non-train id with the pipeline's own
    // splitter, so the planted pair is cross-split BY CONSTRUCTION
    val splits = (1L to 60L).toDF("doc_id")
      .select(col("doc_id"), graft.queries.TextOps.splitColumn(col("doc_id")).as("s"))
      .as[(Long, String)].collect().toMap
    val idA = (1L to 60L).find(splits(_) == "train").get
    val idB = (1L to 60L).find(splits(_) != "train").get
    val others = (1L to 60L).filter(i => i != idA && i != idB).take(4)
    // A and B share a 28-token block with distinct 4-token tails:
    // 30 shingles each, 26 shared -> jaccard 26/34 ~ 0.76 — BELOW the
    // dedup threshold (0.8: both docs publish, the dedup pass cannot see
    // the leak) but above the audit's 0.5 — exactly the near-miss band
    // the audit exists for
    val shared = (1 to 28).map(i => s"leak$i").mkString(" ")
    val docs =
      Seq((idA, "s", s"$shared a1 a2 a3 a4"), (idB, "s", s"$shared b1 b2 b3 b4")) ++
        others.zipWithIndex.map { case (id, i) =>
          (id, "s", (1 to 24).map(j => s"inno${i}x$j").mkString(" ")) }
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out, auditSplits = Some(0.5))
    // both sides of the planted pair published, in different splits
    val pub = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(pub.contains(idA) && pub.contains(idB) &&
      pub(idA) == "train" && pub(idB) != "train", pub.toString)
    // the evidence: exactly the planted pair, cross-split, at its true
    // jaccard; the report: its one-screen rendering with population
    // shares over the published corpus
    val pairs = spark.read.parquet(s"$out/split_leakage")
      .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
      .as[(Long, Long, String, String, Double)].collect()
    assert(pairs.length == 1, pairs.mkString("|"))
    val (pa, pb, sa, sb, j) = pairs.head
    assert(Set(pa, pb) == Set(idA, idB) && sa != sb, pairs.head.toString)
    assert(math.abs(j - 26.0 / 34.0) < 1e-9, j.toString)
    val report = spark.read.parquet(s"$out/split_leakage_report")
      .select("split_a", "split_b", "n_pairs", "n_docs_a", "n_docs_b",
        "n_total_a", "n_total_b", "share_a", "share_b")
      .as[(String, String, Long, Long, Long, Long, Long, Double, Double)]
      .collect()
    assert(report.length == 1, report.mkString("|"))
    val (ra, rb, np, na, nb, ta, tb, sha, shb) = report.head
    assert((ra, rb) == ((sa, sb)) && np == 1L && na == 1L && nb == 1L)
    val totals = pub.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(ta == totals(ra) && tb == totals(rb), report.head.toString)
    assert(math.abs(sha - 1.0 / totals(ra)) < 1e-12 &&
      math.abs(shb - 1.0 / totals(rb)) < 1e-12, report.head.toString)

    // crash-window heal: a corpus-first delete (a purge that died between
    // the corpus sweep and the report re-derivation looks exactly like
    // this) leaves the report's DENOMINATORS describing the pre-delete
    // corpus; a subsequent purge for an id that hits NOTHING must still
    // detect the drift through the published totals and re-derive
    val victim = others.find(id => pub.get(id).contains(ra)).get
    graft.sources.Warehouse.deleteWhere(spark, s"$out/corpus",
      col("doc_id") === victim)
    val healed = CorpusMain.purgeCurated(spark, out, Seq(999999L))
    assert(healed.values.forall(_ == ((0, 0L))), healed.toString)
    val ta2 = spark.read.parquet(s"$out/split_leakage_report")
      .select("n_total_a").as[Long].head()
    assert(ta2 == totals(ra) - 1,
      s"denominator drift must re-derive the report: $ta2 vs ${totals(ra)}")

    // erasure: purging one side removes the pair AND re-derives the
    // report from the purged evidence (empty — no stale summary left
    // describing pairs that no longer exist)
    val purged = CorpusMain.purgeCurated(spark, out, Seq(idA))
    assert(purged("split_leakage")._2 == 1L, purged.toString)
    assert(spark.read.parquet(s"$out/split_leakage_report").count() == 0L)
    val rerun = CorpusMain.purgeCurated(spark, out, Seq(idA))
    assert(rerun.values.forall(_ == ((0, 0L))), rerun.toString)

    // an audit-less rerun retires both artifacts (stale-evidence rule)
    CorpusMain.runWith(spark, tmpIn, out)
    assert(!new java.io.File(s"$out/split_leakage").exists())
    assert(!new java.io.File(s"$out/split_leakage_report").exists())

    // orphan heal: an audit-less rerun that crashed BETWEEN retiring the
    // evidence and retiring the report leaves a report describing pairs
    // that no longer exist; the next purge — any purge — must retire it
    CorpusMain.runWith(spark, tmpIn, out, auditSplits = Some(0.5))
    graft.sources.Warehouse.retireDir(spark, s"$out/split_leakage")
    assert(new java.io.File(s"$out/split_leakage_report").exists())
    CorpusMain.purgeCurated(spark, out, Seq(999999L))
    assert(!new java.io.File(s"$out/split_leakage_report").exists(),
      "an orphaned report must be retired by the next purge")
  }

  test("--split-cuts re-cuts the published split AND the leakage audit together; bad cuts fail loudly") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_cuts_in").toString
    val out = Files.createTempDirectory("corpus_cuts_out").toString
    val cuts = ("40", "80") // ~25% train / ~25% val / ~50% test
    def splitsOf(tt: String, vv: String): Map[Long, String] =
      (1L to 200L).toDF("doc_id")
        .select(col("doc_id"),
          graft.queries.TextOps.splitColumn(col("doc_id"), tt, vv).as("s"))
        .as[(Long, String)].collect().toMap
    val custom = splitsOf(cuts._1, cuts._2)
    val default = splitsOf(graft.queries.TextOps.DefaultTrainUpper,
      graft.queries.TextOps.DefaultValUpper)
    // the planted near-dup pair is cross-split under the CUSTOM cuts but
    // same-split under the DEFAULTS — if either the publish or the audit
    // side silently fell back to the default cuts, the audit would see a
    // same-split pair and publish no evidence (one cut authority,
    // exercised end to end)
    val (idA, idB) = (for {
      a <- 1L to 200L; b <- 1L to 200L
      if a != b && custom(a) == "train" && custom(b) != "train" &&
        default(a) == default(b)
    } yield (a, b)).head
    val others = (1L to 200L).filter(i => i != idA && i != idB).take(4)
    val shared = (1 to 28).map(i => s"leak$i").mkString(" ")
    val docs =
      Seq((idA, "s", s"$shared a1 a2 a3 a4"), (idB, "s", s"$shared b1 b2 b3 b4")) ++
        others.zipWithIndex.map { case (id, i) =>
          (id, "s", (1 to 24).map(j => s"inno${i}x$j").mkString(" ")) }
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out, auditSplits = Some(0.5),
      splitCuts = cuts)
    // the published split column is the custom splitter's output, row
    // for row — and actually differs from the default cut somewhere
    val pub = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    pub.foreach { case (id, s) =>
      assert(s == custom(id), s"doc $id published as $s, custom cut says ${custom(id)}") }
    assert(pub.exists { case (id, s) => s != default(id) },
      "custom cuts must re-cut at least one published doc away from the defaults")
    assert(pub(idA) == "train" && pub(idB) != "train", pub.toString)
    // the audit found the planted pair AS cross-split — only possible if
    // it recut with the same custom pair
    val pairs = spark.read.parquet(s"$out/split_leakage")
      .select("doc_a", "doc_b", "split_a", "split_b")
      .as[(Long, Long, String, String)].collect()
    assert(pairs.length == 1 && Set(pairs.head._1, pairs.head._2) == Set(idA, idB)
      && pairs.head._3 != pairs.head._4, pairs.mkString("|"))
    // and the report's denominators agree with the PUBLISHED column
    val totals = pub.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val report = spark.read.parquet(s"$out/split_leakage_report")
      .select("split_a", "split_b", "n_pairs", "n_total_a", "n_total_b")
      .as[(String, String, Long, Long, Long)].collect()
    assert(report.length == 1 && report.head._3 == 1L, report.mkString("|"))
    assert(report.head._4 == totals(report.head._1) &&
      report.head._5 == totals(report.head._2), report.head.toString)
    // malformed cuts are a loud config error, before any work: reversed
    // ordering, equal cuts, and non-hex shapes all die in the require
    for (bad <- Seq(("80", "40"), ("40", "40"), ("4", "80"), ("GG", "aa")))
      intercept[IllegalArgumentException] {
        CorpusMain.runWith(spark, tmpIn, out, splitCuts = bad)
      }
  }

  test("purge heals a corpus dir that is ABSENT entirely (not just emptied)") {
    // a crash (or hand cleanup) can remove $out/corpus wholesale while
    // report + evidence + stats + mirror survive; every staleness probe
    // that reads the corpus must take the retire path instead of
    // throwing on the missing dir — the same heal as the emptied-corpus
    // case, which this is one step beyond
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_nocorpus_in").toString
    val out = Files.createTempDirectory("corpus_nocorpus_out").toString
    (1L to 40L).map(i =>
        (i, "s", "en", (1 to 24).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out, auditSplits = Some(0.5),
      stats = true, exportJsonl = true)
    assert(new java.io.File(s"$out/corpus_stats").exists() &&
      new java.io.File(s"$out/corpus_jsonl").exists() &&
      new java.io.File(s"$out/split_leakage_report").exists())
    // remove the corpus DIR, not just its files
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    rmTree(new java.io.File(s"$out/corpus"))
    assert(!new java.io.File(s"$out/corpus").exists())
    val swept = CorpusMain.purgeCurated(spark, out, Seq(999999L))
    // derived artifacts of a corpus that no longer exists are retired
    // (the truthful rendering is their absence), and the mirror's rows
    // are reported as removed
    assert(!new java.io.File(s"$out/split_leakage_report").exists())
    assert(!new java.io.File(s"$out/corpus_stats").exists())
    assert(!new java.io.File(s"$out/composition").exists())
    assert(!new java.io.File(s"$out/corpus_jsonl").exists() ||
      swept.get("corpus_jsonl").exists(_._2 > 0L), swept.toString)
    // and the heal is idempotent: a rerun over the retired estate no-ops
    val rerun = CorpusMain.purgeCurated(spark, out, Seq(999999L))
    assert(rerun.values.forall(_ == ((0, 0L))), rerun.toString)
  }

  test("purgeCurated reaches parsed-but-quarantined lines; unparseable lines survive") {
    val root = Files.createTempDirectory("corpus_purge_quar").toString
    val (in, out) = (s"$root/in", s"$root/out")
    new java.io.File(s"$in/documents.jsonl").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/documents.jsonl/dump.jsonl"),
      java.util.List.of(
        """{"doc_id": 1, "source": "src0", "text": "one clean document body with several words"}""",
        // valid JSON quarantined only for a null required column: the
        // raw line carries a LIVE doc_id and the subject's verbatim
        // text — the erasure subclass the r12 review named
        """{"doc_id": 2, "source": null, "text": "forgetme secret body text of the subject"}""",
        """this line is not json at all""",
        """{"doc_id": 3, "source": "src1", "text": "a second clean document body quite distinct"}"""))
    CorpusMain.runWith(spark, in, out, format = "jsonl")
    // precondition: both broken lines quarantined, doc 2's raw line on
    // disk with its id and full text
    val q0 = spark.read.parquet(s"$out/quarantine")
      .select("line").collect().map(_.getString(0))
    assert(q0.length == 2 && q0.exists(_.contains("forgetme")), q0.mkString("|"))

    val report = CorpusMain.purgeCurated(spark, out, Seq(2L))
    assert(report("quarantine")._1 >= 1 && report("quarantine")._2 == 1L,
      report.toString)
    // doc 2's addressable line is gone — id and text both; the truly
    // unparseable line (no doc_id to address) survives
    val q1 = spark.read.parquet(s"$out/quarantine")
      .select("line").collect().map(_.getString(0))
    assert(q1.length == 1 && q1.head.contains("not json"), q1.mkString("|"))
    assert(!q1.exists(l => l.contains("forgetme") || l.contains("\"doc_id\": 2")))

    // rerun: no-op on every store, quarantine included
    val rerun = CorpusMain.purgeCurated(spark, out, Seq(2L))
    assert(rerun.values.forall(_ == ((0, 0L))), rerun.toString)
  }

  test("purging EVERY published doc retires the corpus-derived artifacts instead of crashing") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_purge_all_in").toString
    val out = Files.createTempDirectory("corpus_purge_all_out").toString
    Seq(
      (1L, "s", (1 to 20).map(i => s"alpha$i").mkString(" ")),
      (2L, "s", (1 to 20).map(i => s"beta$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out, exportJsonl = true, stats = true,
      auditSplits = Some(0.5))
    // erase the WHOLE corpus: the legal degenerate case — deleteWhere
    // leaves the corpus dir with zero data files, so nothing "derived
    // from the published corpus" can be re-derived (no schema to read);
    // the truthful rendering of derived artifacts over an empty corpus
    // is their absence
    val report = CorpusMain.purgeCurated(spark, out, Seq(1L, 2L))
    assert(report("corpus")._2 == 2L, report.toString)
    assert(report("corpus_jsonl")._2 == 2L, report.toString)
    // no visible data file remains under corpus/ (a read would have no
    // schema to infer — exactly why re-derivation must not be attempted)
    def dataFiles(f: java.io.File): Seq[java.io.File] =
      if (!f.exists()) Seq.empty
      else if (f.isDirectory)
        f.listFiles().filterNot(c =>
          c.getName.startsWith(".") || c.getName.startsWith("_"))
          .flatMap(dataFiles).toSeq
      else Seq(f)
    assert(dataFiles(new java.io.File(s"$out/corpus")).isEmpty)
    for (d <- Seq("corpus_jsonl", "corpus_stats", "composition",
        "split_leakage_report"))
      assert(!new java.io.File(s"$out/$d").exists(),
        s"$d must be retired when the corpus it describes is fully erased")
    // rerun: no-op (the mirror/stats/report dirs are gone, the corpus
    // has no rows to match)
    val rerun = CorpusMain.purgeCurated(spark, out, Seq(1L, 2L))
    assert(rerun.values.forall(_ == ((0, 0L))), rerun.toString)
  }

  test("purgeCurated heals a mirror orphaned by a corpus-first delete (crash window)") {
    import spark.implicits._
    val tmpIn = Files.createTempDirectory("corpus_heal_in").toString
    val out = Files.createTempDirectory("corpus_heal_out").toString
    Seq(
      (1L, "s", (1 to 25).map(i => s"alpha$i").mkString(" ")),
      (2L, "s", (1 to 25).map(i => s"beta$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmpIn/documents.parquet")
    CorpusMain.runWith(spark, tmpIn, out, exportJsonl = true)
    // the trap the mirror gating must survive: corpus rows are ALREADY
    // gone (a caller ran deleteWhere first, or a purge crashed between
    // the corpus rewrite and the mirror re-derivation) while the mirror
    // still carries the doc's full text
    graft.sources.Warehouse.deleteWhere(spark, s"$out/corpus",
      col("doc_id") === 1L)
    assert(spark.read.json(s"$out/corpus_jsonl")
      .filter(col("doc_id") === 1L).count() == 1L, "precondition: mirror stale")
    val report = CorpusMain.purgeCurated(spark, out, Seq(1L))
    assert(report("corpus")._2 == 0L, report.toString)
    assert(report("corpus_jsonl")._2 == 1L,
      s"the mirror's own hit count must drive the re-derivation: $report")
    assert(spark.read.json(s"$out/corpus_jsonl").select("doc_id")
      .as[Long].collect().toSet == Set(2L))
    val rerun = CorpusMain.purgeCurated(spark, out, Seq(1L))
    assert(rerun.values.forall(_ == ((0, 0L))), rerun.toString)
  }
}
