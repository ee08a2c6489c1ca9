package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusMain, CorpusStreamMain, GateState, PurgeMain}

/** The corpus surface over a seeded corpus: one `CorpusMain` publish with
  * planted exact dups, near-dups and benchmark-contaminated docs; then
  * stream-gate micro-batches driven the way a long-running gate drives them
  * (curate, publish, absorb); then one `PurgeMain` erasure over the
  * curation root and the gate's published batches. */
final class CorpusWorkload(spark: SparkSession, seed: Long, work: String, size: CorpusWorkload.Size)
    extends Workload {
  import CorpusWorkload._

  type State = CorpusWorkload.State

  def setup(): State = {
    Run.clearCaches(spark)
    val dir = Run.freshDir(s"$work/corpus")
    val c = Corpus.generate(seed, size)
    import spark.implicits._
    c.docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/in/documents.parquet")
    c.bench.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/bench.parquet")
    c.docs.map(d => (d.id, c.vector(d.id), (d.id % 10).toInt)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/in/embeddings.parquet")
    val batches = Batch.generate(seed, c, size)
    batches.foreach { b =>
      b.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/batches/${b.k}")
    }
    State(dir, c, batches)
  }

  /** The corpus publish is the pass's `publish` step; one gate micro-batch
    * is its `update` step. */
  def pass(s: State, run: Run): Unit = {
    val tr = run.trace
    val out = s"${s.dir}/published"
    val gateOut = s"${s.dir}/gate"

    def timed(name: String, metric: String, per: Int = 1)(body: => Unit): Double = {
      val before = if (tr.enabled) Run.files(s.dir) else Map.empty[String, (Long, Long)]
      val (_, secs) = run.step(name)(body)
      if (tr.enabled) {
        val (n, bytes) = Run.written(before, Run.files(s.dir))
        run.add(s"$metric.files_written", n.toDouble / per, "count")
        run.add(s"$metric.bytes_written", bytes.toDouble / per, "bytes")
      }
      secs
    }

    run.sample("publish_s", timed("corpus.publish", "publish") {
      run.op("CorpusMain.runWith")(CorpusMain.runWith(spark,
        input = s"${s.dir}/in", output = out,
        capacity = Some(400),
        bench = Some(s"${s.dir}/bench.parquet"),
        embeddings = Some(s"${s.dir}/in/embeddings.parquet"),
        // large enough that the per-source cap ranks every doc but drops none
        quota = Some(size.fresh * 2),
        normalize = true))
    })
    val published = read(s"$out/corpus").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = read(s"$out/near_dup_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val contaminated = read(s"$out/contaminated").select("doc_id", "n_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    run.checkAll(checkPublish(s.corpus, published.keySet, pairs, contaminated).map("publish: " + _))
    if (tr.enabled) {
      run.add("corpus.publish.docs_published", published.size, "rows")
      run.add("corpus.publish.dup_pairs", pairs.size, "rows")
      run.add("corpus.publish.contaminated", contaminated.count(_._2 >= 1), "rows")
    }

    // the gate, over the published corpus
    val corpusDf = read(s"$out/corpus").select("doc_id", "text")
    val (state, buildS) = run.step("gate.build")(GateState.build(corpusDf))
    if (tr.enabled) run.add("gate.build_s", buildS, "s")
    var accepted = published
    val batchTimes = Seq.newBuilder[Double]
    val phase = Array.fill(3)(Seq.newBuilder[Double])
    try s.batches.foreach { b =>
      val docs = read(s"${s.dir}/batches/${b.k}")
      val ids = docs.select("doc_id")
      val secs = timed("gate.batch", "update", per = s.batches.size) {
        run.op("GateState+CorpusStreamMain batch") {
          val (curated, c) = Run.time(tr.span("curate")(CorpusStreamMain.curateBatch(docs,
            state.corpusSh, corpusIndex = Some(state.probeIdx(ids, b.k.toLong)))))
          val (_, p) = Run.time(tr.span("publish")(CorpusStreamMain.publishBatch(curated, gateOut, b.k.toLong)))
          val (_, a) = Run.time(tr.span("absorb")(state.absorb(b.k.toLong,
            read(s"$gateOut/batch=${b.k}").select("doc_id", "text"))))
          phase(0) += c; phase(1) += p; phase(2) += a
        }
      }
      val got = read(s"$gateOut/batch=${b.k}").select("doc_id").collect().map(_.getLong(0)).toSet
      run.checkAll(checkBatch(b, got).map(p => s"gate batch ${b.k}: $p"))
      run.sample("gate.batch_s", secs)
      if (b.k >= WarmBatches) batchTimes += secs
      if (tr.enabled) {
        run.add("gate.accepted", got.size, "count")
        run.add("gate.rejected", b.docs.size - got.size, "count")
      }
      accepted ++= b.docs.filter(d => got(d.id)).map(d => d.id -> d.text)
    } finally state.close()
    run.sample("update_s", Run.median(batchTimes.result()))
    if (tr.enabled) {
      Seq("curate", "publish_batch", "absorb").zip(phase).foreach { case (n, v) =>
        run.add(s"gate.${n}_s", Run.median(v.result().drop(WarmBatches)), "s")
      }
      run.add("gate.stored_bytes", Run.files(gateOut).values.map(_._2).sum, "bytes")
    }

    // erasure of a seeded id set from the curation root and the gate's batches
    val rnd = new Random(seed + 7)
    val erase = (rnd.shuffle(published.keys.toSeq.sorted).take(size.erase) ++
      rnd.shuffle(accepted.keySet.diff(published.keySet).toSeq.sorted).take(size.erase / 2)).sorted
    run.sample("corpus.purge_s", timed("corpus.purge", "corpus.purge") {
      run.op("PurgeMain.runWith") {
        val report = PurgeMain.runWith(spark, erase, curation = Some(out), streamOutput = Some(gateOut))
        if (tr.enabled) run.add("corpus.purge.rows_erased", report.values.map(_._2).sum, "rows")
      }
    })
    val after = read(s"$out/corpus").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ++
      read(gateOut).select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val everywhere = idsInEveryTable(out, gateOut)
    run.checkAll(checkPurge(erase.toSet, accepted, after, everywhere).map("purge: " + _))
  }

  override def finish(run: Run): Unit = if (run.trace.enabled)
    Seq(("corpus.publish", "publish", 1), ("gate.batch", "update", size.batches),
      ("corpus.purge", "corpus.purge", 1)).foreach { case (span, name, per) =>
      Main.addSpanCounters(run, name, run.trace.counters(span), per)
    }

  private def read(dir: String): DataFrame = spark.read.parquet(dir)

  /** Every id held by a table that carries document ids or text. */
  private def idsInEveryTable(out: String, gateOut: String): Map[String, Set[Long]] =
    Seq(s"$out/corpus" -> "doc_id", s"$out/near_dup_pairs" -> "doc_a",
      s"$out/near_dup_pairs" -> "doc_b", s"$out/domain_quota" -> "doc_id",
      gateOut -> "doc_id").map { case (t, c) =>
      s"$t[$c]" -> read(t).select(col(c)).collect().map(_.getLong(0)).toSet
    }.toMap
}

object CorpusWorkload {
  final case class State(dir: String, corpus: Corpus, batches: Seq[Batch])
  final case class Size(fresh: Int, exactGroups: Int, nearPairs: Int, contaminated: Int,
      batches: Int, batchFresh: Int, erase: Int)

  /** Batches before this one warm the gate up; the p50 is over the rest. */
  val WarmBatches = 1
  val Vocab: Vector[String] = {
    val r = new Random(1)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Vector.tabulate(3000)(i => (1 to 3 + i % 6).map(_ => letters(r.nextInt(26))).mkString + i)
  }
  val Sources: Vector[String] = Vector.tabulate(5)(i => s"src$i")
  val Langs: Vector[String] = Vector("en", "es", "zh", "de", "fr")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Planted structure of a corpus: groups whose members must collapse to
    * one, docs that overlap the benchmark, and everything else. */
  final case class Corpus(docs: Seq[Doc], bench: Seq[Doc], groups: Seq[Seq[Long]],
      contaminated: Set[Long], seed: Long) {
    lazy val byId: Map[Long, Doc] = docs.map(d => d.id -> d).toMap
    def vector(id: Long): Array[Float] = {
      val r = new Random(seed * 31 + id)
      val v = Array.fill(256)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
  }

  def words(r: Random, n: Int): Seq[String] = Seq.fill(n)(Vocab(r.nextInt(Vocab.size)))

  object Corpus {
    def generate(seed: Long, size: Size): Corpus = {
      val r = new Random(seed)
      var next = 1L
      def doc(text: Seq[String]): Doc = {
        val d = Doc(next, text.mkString(" "), Langs(r.nextInt(5)), Sources(r.nextInt(5)))
        next += 1
        d
      }
      val fresh = Seq.fill(size.fresh)(doc(words(r, 40 + r.nextInt(80))))
      // exact dups: three copies of one text (every group has the same
      // shape, so the dedup's component rounds do not vary with the seed)
      val exact = Seq.fill(size.exactGroups) {
        val base = words(r, 40 + r.nextInt(80))
        Seq.fill(3)(doc(base))
      }
      // near-dups: the last word differs, so the 3-gram Jaccard is
      // (n-3)/(n-1) >= 0.98 for the 120+ words used here
      val near = Seq.fill(size.nearPairs) {
        val base = words(r, 120 + r.nextInt(60))
        Seq(doc(base), doc(base.init :+ Vocab(r.nextInt(Vocab.size))))
      }
      val bench = Seq.tabulate(20)(i => Doc(900000L + i, words(r, 25).mkString(" "), "en", "bench"))
      val contaminated = Seq.fill(size.contaminated) {
        val b = bench(r.nextInt(bench.size)).text.split(" ").toSeq
        val at = r.nextInt(b.size - 10)
        doc(words(r, 30) ++ b.slice(at, at + 10) ++ words(r, 30))
      }
      Corpus(r.shuffle(fresh ++ exact.flatten ++ near.flatten ++ contaminated), bench,
        exact.map(_.map(_.id)) ++ near.map(_.map(_.id)), contaminated.map(_.id).toSet, seed)
    }
  }

  /** One gate micro-batch: fresh docs, near-dups and copies of corpus docs,
    * and in-batch twin pairs. */
  final case class Batch(k: Int, docs: Seq[Doc], fresh: Set[Long], twins: Seq[(Long, Long)],
      ofCorpus: Set[Long])

  object Batch {
    def generate(seed: Long, c: Corpus, size: Size): Seq[Batch] = {
      val r = new Random(seed * 17 + 3)
      // near-dups of the corpus come from docs that are surely published
      val safe = c.docs.filterNot(d => c.contaminated(d.id) || c.groups.exists(_.contains(d.id)))
        .filter(_.text.split(" ").length >= 100).map(_.text)
      (0 until size.batches).map { k =>
        var next = 1000000L * (k + 1)
        def doc(text: Seq[String]): Doc = {
          next += 1
          Doc(next, text.mkString(" "), "en", Sources(r.nextInt(5)))
        }
        val fresh = Seq.fill(size.batchFresh)(doc(words(r, 60 + r.nextInt(60))))
        val twins = Seq.fill(size.batchFresh / 10) {
          val base = words(r, 120 + r.nextInt(40))
          (doc(base), doc(base.init :+ Vocab(r.nextInt(Vocab.size))))
        }
        val ofCorpus = Seq.fill(size.batchFresh / 10) {
          val t = safe(r.nextInt(safe.size)).split(" ").toSeq
          if (r.nextBoolean()) doc(t) else doc(t.init :+ Vocab(r.nextInt(Vocab.size)))
        }
        Batch(k, r.shuffle(fresh ++ twins.flatMap(t => Seq(t._1, t._2)) ++ ofCorpus),
          fresh.map(_.id).toSet, twins.map(t => (t._1.id, t._2.id)), ofCorpus.map(_.id).toSet)
      }
    }
  }

  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Each planted group keeps exactly one member, every recorded pair
    * verifies by exact Jaccard, the contaminated audit is exactly the docs
    * that share shingles with the benchmark, and every other doc is kept. */
  def checkPublish(c: Corpus, published: Set[Long], pairs: Seq[(Long, Long)],
      contaminated: Map[Long, Long]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    c.groups.foreach { g =>
      val kept = g.count(published)
      if (kept != 1) problems += s"group ${g.mkString(",")} keeps $kept members"
    }
    val benchSh = c.bench.flatMap(d => shingles(d.text)).toSet
    val trueHits = c.docs.map(d => d.id -> (shingles(d.text) intersect benchSh).size.toLong)
      .filter(_._2 > 0).toMap
    if (contaminated != trueHits)
      problems += s"contaminated audit has ${contaminated.size} docs, expected ${trueHits.size}"
    val leaked = published intersect c.contaminated
    if (leaked.nonEmpty) problems += s"contaminated docs published: ${leaked.take(5).mkString(",")}"
    val grouped = c.groups.flatten.toSet
    val lost = c.docs.map(_.id).filterNot(id => grouped(id) || c.contaminated(id) || published(id))
    if (lost.nonEmpty) problems += s"${lost.size} unique docs not published, e.g. ${lost.head}"
    pairs.foreach { case (a, b) =>
      val j = (for (x <- c.byId.get(a); y <- c.byId.get(b)) yield jaccard(x.text, y.text)).getOrElse(-1.0)
      if (j < 0.8) problems += s"recorded pair ($a, $b) has exact Jaccard $j"
    }
    problems.result()
  }

  /** Fresh docs are accepted, one member of each in-batch twin pair is,
    * and near-dups or copies of the corpus are not. */
  def checkBatch(b: Batch, accepted: Set[Long]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val freshLost = b.fresh.diff(accepted)
    if (freshLost.nonEmpty) problems += s"${freshLost.size} fresh docs rejected"
    val twinsWrong = b.twins.filter { case (x, y) => Seq(x, y).count(accepted) != 1 }
    if (twinsWrong.nonEmpty) problems += s"${twinsWrong.size} in-batch twin pairs not admitted exactly once"
    val dupIn = b.ofCorpus intersect accepted
    if (dupIn.nonEmpty) problems += s"${dupIn.size} near-dups of the corpus accepted"
    problems.result()
  }

  /** Erased ids are gone from every table; every other doc keeps its text. */
  def checkPurge(erase: Set[Long], before: Map[Long, String], after: Map[Long, String],
      everywhere: Map[String, Set[Long]]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    everywhere.foreach { case (t, ids) =>
      val left = ids intersect erase
      if (left.nonEmpty) problems += s"erased ids still in $t: ${left.take(5).mkString(",")}"
    }
    val expected = before -- erase
    if (after != expected)
      problems += s"other docs changed: ${(expected.toSet diff after.toSet).size} lost or altered, " +
        s"${(after.toSet diff expected.toSet).size} unexpected"
    problems.result()
  }
}
