package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Shingles
import graft.expressions.BloomMightContain

/** Near-duplicate detection suite over `documents` — the dedup passes of a
  * large-scale training-data pipeline: exact hash dedup, MinHash+LSH,
  * SimHash banding, and exact n-gram-Jaccard via an inverted index.
  *
  * Scale design (the point of each variant at 100 TB):
  *   - exact: one hash-groupBy, fully map-side combinable;
  *   - MinHash+LSH: per-doc signature (narrow), band explode (4x rows),
  *     equi-join on band value — candidate count, not |docs|^2, drives cost;
  *     verification touches candidates only;
  *   - SimHash: 16-bit signature, 4 bands x 4 bits; by pigeonhole a banded
  *     equi-join is EXACT for hamming <= 3 (3 flipped bits cannot cover all
  *     4 bands), so the approximate plan returns the exact answer;
  *   - n-gram Jaccard: posting-list (inverted index) self-join — exact, and
  *     scalable as long as shingle document-frequency is bounded; for a real
  *     corpus you cap df (drop shingles appearing in > df_max docs) and let
  *     MinHash cover the head, which changes recall only for pairs whose
  *     every shared shingle is a stop-shingle.
  *
  * All hashes are md5 hex strings (engine-portable), so every query has a
  * full DuckDB oracle replicating the same pipeline.
  */
object DedupOps {

  private val NGram = 3
  private val NumHashes = 8
  private val BandRows = 2 // 4 bands x 2 rows
  private val JaccardThreshold = 0.8
  // 32 simhash bits over *shingles* (not tokens): with a 31-word vocabulary
  // every doc contains nearly every token, so token-level signatures are
  // hopelessly correlated (probed: 3.5M pairs at hamming<=3 at sf0.1);
  // shingle sets are near-disjoint for unrelated docs, making bits
  // independent and the pair count driven by true similarity.
  private val SimBits = 32
  private val SimBandBits = 8 // 4 bands x 8 bits: exact for hamming <= 3
  private val HammingMax = 3

  /** doc_id + distinct word-3-gram shingles, for docs with >= 3 tokens,
    * PERSISTED: tokens are materialized as a column before shingling (see
    * Shingles.wordNGrams for why), and the whole shingle table is cached
    * because (a) every consumer references it 2-3x (self-joins, verify
    * joins) and (b) `explode` over a computed array re-evaluates the
    * generator's child expression per OUTPUT row — profiled at 4.1s vs
    * 0.2s cached at sf0.1. At real scale this is "stage the shingle table
    * once" (cache or a temp parquet), which is how a 100 TB dedup pass is
    * structured anyway.
    *
    * Cache lifecycle: Spark's CacheManager keys entries by analyzed plan,
    * so every query over the same `dir` shares ONE cache entry (re-persist
    * of a cached plan is a no-op) — a session running q31 -> q33 holds one
    * shingle table's blocks per distinct dir, and interleaved dedup passes
    * over different dirs each keep theirs. The caller owns release:
    * `spark.catalog.clearCache()` (the bench does, between queries, for
    * per-query cost accounting) or `unpersist()` on any same-plan frame.
    *
    * Partitioning (r21): the staged table is hash-repartitioned by doc_id
    * to the session's parallelism BEFORE the shingling kernel. The bench
    * tables ship as one single-row-group parquet file, so the scan is one
    * task and every CPU-bound kernel downstream (split, n-gram transform,
    * per-posting md5) would otherwise run serially on one core — the
    * "unsplittable input, repartition right after the read" case of the
    * optimization guide (§2.5). doc_id is the key on purpose: the cached
    * layout satisfies the signature groupBy(doc_id) and the verify joins
    * on doc_a/doc_b, so those plan with NO further exchange (§2.4 —
    * establish the partitioning once). The explicit partition count pins
    * the kernel's parallelism to the cluster (AQE would coalesce a
    * byte-sized estimate of this tiny-but-CPU-heavy stage to one
    * partition); it tracks SPARK_GRAFT_CPUS locally and executor count on
    * a real cluster. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOf(Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))).persist()

  /** doc_id + distinct word-n-gram shingles for any documents frame. */
  def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= NGram)
      .select(col("doc_id"), Shingles.wordNGrams(col("w"), NGram).as("sh"))

  /** `docs` with its [[shingledOf]] array as an extra column `sh`, null
    * for a doc under the n-gram length (the rows [[shingledOf]] leaves
    * out). One frame then carries each document beside its shingles, so
    * a stage can keep both without a doc_id self-join. */
  private[graft] def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("sh", split(col("text"), " "))
      .withColumn("sh", when(size(col("sh")) >= NGram,
        Shingles.wordNGrams(col("sh"), NGram)))

  /** The (doc_id, sh) rows of a [[withShingles]] frame — [[shingledOf]]'s
    * rows for the same documents. */
  private[graft] def shinglesIn(docs: DataFrame): DataFrame =
    docs.filter(col("sh").isNotNull).select(col("doc_id"), col("sh"))

  /** Exact n-gram Jaccard via inverted-index (posting-list) self-join.
    *
    * `dfMax` is the scale lever: the self-join costs O(Σ df²) over shingle
    * document frequencies, so one stop-shingle appearing in d docs alone
    * contributes d² candidate rows. With `dfMax = Some(cap)`, postings for
    * shingles whose df exceeds the cap are dropped BEFORE the join via an
    * anti-join against the (small, by definition) stop-shingle set —
    * broadcastable at any corpus size because only the head of the df
    * distribution exceeds a sane cap. Jaccard denominators still use the
    * full per-doc shingle counts, so surviving pairs keep their exact
    * score; recall changes only for pairs whose EVERY shared shingle is a
    * stop-shingle (DedupOpsSpec pins both properties). Default off: the
    * oracle query is the exact variant.
    */
  def ngramJaccard(shingles: DataFrame, dfMax: Option[Int] = None,
      threshold: Double = JaccardThreshold): DataFrame = {
    // The posting key is xxhash64(shingle), not the shingle string: the
    // self-join shuffles every posting twice, and an 8-byte key vs a
    // ~20-byte UTF8 string is ~30% off the join wall-clock (profiled).
    // Intersection counts are exact unless two DIFFERENT shingles that
    // CO-OCCUR in a candidate pair collide in 64 bits — probability
    // ~2^-64 per co-occurring pair, the standard shingle-hashing tradeoff
    // (MinHash makes the same one); df semantics are unchanged.
    val postingAll = shingles
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("g0"))
      .select(col("doc_id"), col("n"), xxhash64(col("g0")).as("g"))
    val posting = dfMax match {
      case Some(cap) =>
        val stop = postingAll.groupBy(col("g"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("g"))
        postingAll.join(broadcast(stop), Seq("g"), "left_anti")
      case None => postingAll
    }
    posting.as("x").join(posting.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + LSH banding over a shingle frame (see shingledOf), then
    * exact-Jaccard verification of the candidates — the q31 operator as a
    * DataFrame-in function.
    *
    * Signatures via posting-explode + groupBy-min rather than nested array
    * HOFs: one md5 per (doc, shingle) posting, then eight 16-bit
    * min-slices as a map-side-combinable aggregate (the HOF form inlines
    * the md5-per-shingle array into each array_min projection — no CSE
    * across lambda bodies; profiled ~30% slower). Bands join on the raw
    * (band, value) pair — NOT a hash of it — so the candidate set matches
    * the oracle's banding by construction, not probabilistically: the band
    * table is 4 rows/doc (tiny next to the posting join upstream), so
    * hashing the key buys nothing measurable while costing parity. */
  def minhashNearDup(shingles: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    minhashNearDupWithBands(shingles, threshold)._1

  /** [[minhashNearDup]] plus the persisted band table its pairs read, for
    * a caller that must release that table itself once the pairs are
    * consumed: an always-on stream gate never calls `clearCache`, so a
    * band table left behind per micro-batch is a cache entry leaked per
    * batch. */
  private[graft] def minhashNearDupWithBands(shingles: DataFrame,
      threshold: Double = JaccardThreshold): (DataFrame, DataFrame) = {
    val post = shingles.select(col("doc_id"), explode(col("sh")).as("g"))
      .withColumn("t", md5(col("g")))
    val sig = post.groupBy(col("doc_id"))
      .agg(min(substring(col("t"), 1, 4)).as("h0"),
        (1 until NumHashes).map(j =>
          min(substring(col("t"), 4 * j + 1, 4)).as(s"h$j")): _*)
    val bandCols = (0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("b"),
        concat((0 until BandRows).map(r => col(s"h${b * BandRows + r}")): _*).as("v"))
    }
    // PERSISTED: the band table is read twice (both sides of the
    // self-join below), and without the persist each side re-runs the
    // whole posting-explode + per-posting-md5 + groupBy-min signature
    // pipeline — profiled as the two dominant ~equal stages of q31 at
    // sf0.1 (exchange reuse does not fire across the aliased sides).
    // Tiny (4 rows/doc, ~40 bytes each); released by the caller's
    // clearCache like the staged shingle table (the shared contract of
    // this module's staged frames).
    val bands = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.v").as("v"))
      .persist()
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val pairs = cand
      .join(shingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingles.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Shingles.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (pairs, bands)
  }

  /** Per-row MinHash band values: (doc_id, sh, varr) where varr[b] is the
    * same band value the posting-form pipeline produces (min 4-hex-char
    * slice of each shingle's md5, two slices concatenated per band) — but
    * computed in ONE stateless pass per row: `transform` hashes each
    * shingle once, a single `aggregate` folds the eight running minima,
    * and the finish lambda assembles the band array in place (so the
    * aggregate is evaluated once — materializing the struct and reading
    * 8 fields from it in a collapsed projection would re-run it 8x).
    * Statelessness is the point: this shape runs on a STREAMING frame,
    * where the posting-explode + groupBy signature would be a stateful
    * aggregation. */
  private[graft] def minhashBandArr(shingles: DataFrame): DataFrame = {
    val hexMax = "f" * 4
    val init = struct((0 until NumHashes).map(j => lit(hexMax).as(s"h$j")): _*)
    val varr = aggregate(
      transform(col("sh"), x => md5(x)),
      init,
      (acc, t) => struct((0 until NumHashes).map(j =>
        least(acc.getField(s"h$j"), substring(t, 4 * j + 1, 4)).as(s"h$j")): _*),
      acc => array((0 until NumHashes / BandRows).map(b =>
        concat((0 until BandRows).map(r =>
          acc.getField(s"h${b * BandRows + r}")): _*)): _*))
    shingles.select(col("doc_id"), col("sh"), varr.as("varr"))
  }

  /** Near-dup GATE: flag documents of `incoming` whose MinHash bands
    * collide with a document of `corpus` and whose exact Jaccard clears
    * `threshold` — the pass an LLM pipeline runs on every new crawl batch
    * against the already-curated corpus.
    *
    * Built to run with `incoming` as a STREAMING frame (the batch
    * semantics are identical): every step on the stream side is stateless
    * — per-row signatures ([[minhashBandArr]]), a generator explode of the
    * 4 bands, two stream-static joins (band index, then corpus shingles
    * for verification) — so the query needs no watermark and holds no
    * state. A pair colliding in several bands would emit duplicates under
    * a plain band join (a streaming frame cannot `distinct` statelessly);
    * instead each pair is emitted only from its FIRST agreeing band
    * (`array_position` over the zipped band arrays), the canonical-bucket
    * trick that makes LSH emission exactly-once by construction.
    *
    * Scale shape: the corpus index is (b, v) -> (doc_id, varr), built once
    * and reusable across batches (persist it, or write it as a bucketed
    * table keyed by (b, v)); per batch the join touches only colliding
    * band groups, and verification touches only canonical candidates. */
  def nearDupAgainst(incoming: DataFrame, corpus: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    nearDupAgainstShingled(shingledOf(incoming), shingledOf(corpus), threshold)

  /** [[nearDupAgainst]] over pre-shingled (doc_id, sh) frames — the entry
    * to use when either side is staged/cached (q48 shares the suite's
    * shingle cache; a production gate persists the corpus side once and
    * reuses it across every incoming batch).
    *
    * The band explode is a LITERAL index array with `element_at` into the
    * materialized band-value column — exploding the computed `varr`
    * directly would re-evaluate the whole signature fold per output row
    * (the generator-child pitfall; measured 0.9s -> 4.7s on the incoming
    * side alone at sf0.1). */
  def nearDupAgainstShingled(incoming: DataFrame, corpus: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    nearDupAgainstIndex(incoming, corpusBandIndex(corpus), corpus, threshold)

  /** The band-number generator both sides of the gate join explode on —
    * one definition, so the two sides cannot band differently. */
  private def bandIdx =
    explode(typedlit((0 until NumHashes / BandRows).toList)).as("b")

  /** The (b, v)-keyed corpus band index the gate probes — built from the
    * shingled corpus ONCE and reused across calls: an always-on gate
    * (a micro-batch stream, a per-crawl cron) persists this and the
    * shingle frame, instead of re-running the 8-hash signature fold over
    * the whole corpus on every batch. At rest this is the bucketed table
    * keyed by (b, v) the q48 notes prescribe. */
  def corpusBandIndex(corpus: DataFrame): DataFrame =
    minhashBandArr(corpus)
      .select(col("doc_id").as("corpus_id"), col("varr").as("cvarr"), bandIdx)
      .select(col("corpus_id"), col("cvarr"), col("b"),
        element_at(col("cvarr"), col("b") + 1).as("v"))

  /** [[corpusBandIndex]] AT REST: the (b, v)-bucketed catalog table the
    * index's scaladoc prescribes. Bucketed and sorted on the probe key,
    * so the gate's band join plans with NO exchange on the index side —
    * the index never reshuffles per batch, only the (tiny) incoming
    * side does — and a restarting gate loads the table instead of
    * re-running the 8-hash fold over the whole corpus. Rebuild (or
    * compact absorbed deltas back in) whenever the curated corpus
    * itself is republished. */
  def writeCorpusBandIndex(corpusShingles: DataFrame, table: String,
      numBuckets: Int = 32): Unit =
    graft.sources.Warehouse.writeBucketedBy(
      corpusBandIndex(corpusShingles), table, Seq("b", "v"), numBuckets)

  /** The shingled corpus AT REST: (doc_id, sh) bucketed by doc_id — the
    * verification side of the text gate as a catalog table, completing
    * what [[writeCorpusBandIndex]] starts. A gate that loads BOTH skips
    * the startup shingling fold over the whole corpus AND never holds a
    * corpus-sized shingle frame in executor memory (the checkpoint the
    * in-session path pays); the per-batch verify join probes the at-rest
    * layout instead. Rebuild with the index whenever the corpus
    * republishes. */
  def writeCorpusShingles(corpusShingles: DataFrame, table: String,
      numBuckets: Int = 32): Unit =
    graft.sources.Warehouse.writeBucketed(
      corpusShingles, table, "doc_id", numBuckets)

  /** [[nearDupAgainstShingled]] against a prebuilt [[corpusBandIndex]];
    * `corpus` is still needed for the exact-Jaccard verification join. */
  def nearDupAgainstIndex(incoming: DataFrame, index: DataFrame,
      corpus: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val inc = minhashBandArr(incoming)
      .select(col("doc_id"), col("sh"), col("varr"), bandIdx)
      .select(col("doc_id"), col("sh"), col("varr"), col("b"),
        element_at(col("varr"), col("b") + 1).as("v"))
    inc.join(index, Seq("b", "v"))
      .filter(array_position(
        zip_with(col("varr"), col("cvarr"), (u, w) => u === w), lit(true))
        === col("b") + 1)
      .select(col("doc_id"), col("corpus_id"), col("sh"))
      .join(corpus.select(col("doc_id").as("corpus_id"),
        col("sh").as("csh")), Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"),
        Shingles.jaccard(col("sh"), col("csh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup over a shingle frame — the q32 operator as a
    * DataFrame-in function: per-shingle pseudo-random bits from md5,
    * majority vote per bit, banded self-join (exact for hamming <=
    * `hammingMax` = bands - 1 by pigeonhole).
    *
    * Bit i votes on whether hex char i of the per-shingle md5 is >= '8'
    * (the top bit of nibble i); the digest is parsed once into four 32-bit
    * words and the votes are shift/mask arithmetic — same bits as the
    * per-character compare the oracle phrases, no 32 UTF8String slices per
    * posting (profiled ~40% off the scoring aggregate). */
  def simhashNearDup(shingles: DataFrame,
      hammingMax: Int = HammingMax): DataFrame = {
    // pigeonhole bound: hammingMax flipped bits can dodge the banded
    // equi-join only while they cover fewer than all bands — beyond
    // bands - 1 the join silently loses recall, so refuse instead
    require(hammingMax <= SimBits / SimBandBits - 1,
      s"banded simhash join is only exact for hammingMax <= " +
        s"${SimBits / SimBandBits - 1} (bands - 1); got $hammingMax — " +
        "widen SimBandBits/SimBits or lower the threshold")
    val gs = shingles
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id") +: (0 until SimBits / 8).map(k =>
        conv(substring(md5(col("g")), 8 * k + 1, 8), 16, 10)
          .cast("long").as(s"v$k")): _*)
    val scoreCols = (0 until SimBits).map { i =>
      val k = i / 8 // word holding hex char i
      val j = i % 8 // char position within the word; nibble top bit = 31 - 4j
      sum(shiftright(col(s"v$k"), 31 - 4 * j).bitwiseAND(1) * 2 - 1).as(s"s$i")
    }
    val scored = gs.groupBy(col("doc_id")).agg(scoreCols.head, scoreCols.tail: _*)
    val sim = scored.select(col("doc_id"),
      (0 until SimBits).map(i => when(col(s"s$i") > 0, 1L << i).otherwise(0L))
        .reduce(_ + _).cast("long").as("sh"))
    val bands = sim.select(col("doc_id"), col("sh"),
      explode(array((0 until SimBits / SimBandBits).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("sh"), SimBandBits * b)
            .bitwiseAND((1 << SimBandBits) - 1).as("v"))): _*))
        .as("band"))
      .select(col("doc_id"), col("sh"), col("band.b").as("b"), col("band.v").as("v"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingMax)
  }

  /** Collapse near-dup PAIRS into components: each doc labeled with the
    * minimum doc_id reachable through the pair graph — what turns any of
    * the pair-producing passes above into an actual corpus dedup. Labels
    * converge by iterative min-propagation, the standard no-GraphX
    * connected-components shape at corpus scale. Only docs that appear in
    * a pair are returned.
    *
    * Cost model: ONE driver action per round — the round's eager
    * `localCheckpoint` materializes the propagation result, and an
    * Observation on that same action yields the convergence signal
    * (labels only ever decrease, so `label < old` counts exactly the docs
    * that moved; zero moved = converged). Rounds = component diameter,
    * counting the final detect round (the first propagation hop is fused
    * into the init). AQE runs a round's stages as about 3.4 jobs, and at
    * near-dup graph sizes their fixed per-stage cost, not the pair count,
    * sets what a round costs.
    *
    * No round budget: every round that does not stop lowers at least one
    * label, and labels are bounded below by the component minimum, so the
    * loop ends within diameter + 1 rounds on any input — it cannot stop
    * early with unmerged labels.
    *
    * One algorithm: large-star/small-star (Kiveris et al., SoCC'14) and a
    * pointer-jumping variant of this loop were measured against it on
    * every graph a query or main builds (sf0.1, `local[4]`, one call on a
    * checkpointed pair set, medians [q1, q3]):
    *
    *   - text near-dups (q38/q39/q74/q81, 256 pairs): 0.28 s [0.26, 0.34]
    *     in 1 round; star 0.72 s [0.61, 0.79] in 2 cycles (this loop won
    *     12/12 pairs); pointer jumping 0.49 s;
    *   - q53 cosine graph (920 pairs, diameter 16): 1.99 s [1.94, 2.46] in
    *     16 rounds; star 1.94 s [1.71, 2.26] in 6 cycles (star faster in
    *     10/12 pairs, by less than the spread); pointer jumping 2.64 s in
    *     12 rounds;
    *   - q109 LSH graph (451 pairs): 1.17 s [1.08, 1.36] in 8 rounds; star
    *     1.22 s [1.09, 1.31] in 4 cycles (star faster in 8/12 pairs);
    *   - a synthetic 64-chain: 5.6 s in 64 rounds; star 1.8 s in 7 cycles.
    *
    * A star cycle runs about 5.6 jobs against 3.4 for a round here, so its
    * fewer rounds only pay on graphs far deeper than any workload builds
    * (the deepest measured is 16). End to end (10 alternating pairs, same
    * setup), q53 runs 0.26 s (10%) slower than it did on star, about the
    * spread of its runs; q109 and q39 run within theirs.
    *
    * Fault-tolerance note: per-round localCheckpoint trades lineage for
    * speed — an executor loss mid-computation fails the job (Spark's
    * documented local-checkpoint caveat) and the caller reruns it; for a
    * multi-hour corpus pass on preemptible nodes, swap in reliable
    * `checkpoint()` with a checkpoint dir — same shape, durable rounds. */
  def components(pairs: DataFrame): DataFrame = componentsWithRounds(pairs)._1

  /** [[components]] plus the number of propagation rounds executed —
    * package-visible so the volume spec can pin rounds = diameter. */
  private[graft] def componentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    // The static edge table is hash-partitioned by src ONCE and cached
    // that way: every round's propagation join and the init groupBy both
    // key on src, so the (big, unchanging) edge side never re-shuffles —
    // only the (smaller) label table moves per round. Each pair is mirrored
    // by an explode over ONE scan of the pair set: a union of two scans
    // runs the upstream pair producer twice inside the first round's job
    // (even over a persisted pair set, whose cache is not yet filled then).
    // No distinct: min-propagation is duplicate-insensitive (min over
    // repeated values), and every pair producer in this library already
    // emits distinct pairs — a caller with heavily duplicated pair rows
    // should dedup upstream, where it's one combinable aggregation, not pay
    // a mirror-side shuffle on every clean input here.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")).persist()
    // seed with the first propagation hop fused into init: label0 =
    // min(self, direct neighbors) — edges is already partitioned by src,
    // so this aggregation is shuffle-free (a clique converges in the init
    // itself, leaving only the detect round)
    var labels = edges
      .groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
    // rounds must release the previous round's checkpoint blocks (see
    // graft.ops.Checkpoints) or a deep component holds every round's full
    // label table in memory simultaneously
    var prevRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var iter = 0
    var changed = 1L
    var ok = false
    try {
      while (changed > 0) {
        // Two shuffles per round, labels-side only: the neighbor branch
        // joins labels to the src-partitioned edge cache (labels shuffles,
        // edges doesn't), the self branch rides for free carrying the old
        // label, and one groupBy folds both into min(label). min over
        // {old, neighbors} == least(old, min(neighbors)), and every
        // doc_id has exactly one self row, so max(old) recovers the old
        // label for the convergence signal.
        val viaNeighbors = edges
          .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
          .select(col("dst").as("doc_id"), col("label"),
            lit(null).cast(labels.schema("label").dataType).as("old"))
        // ONE job per round: localCheckpoint(eager) materializes the round
        // AND truncates lineage (a persist would keep stacking the
        // iterative plan — analysis cost grows per round and a ~30-round
        // chain overflows the tree-string stack), while the Observation
        // rides the same job to deliver the convergence signal — no second
        // join + isEmpty probe, no extra action at all. The observed node
        // sits under a projection only, so on a pair-free input it reports
        // a count of 0 rather than being pruned with an empty subtree.
        val obs = org.apache.spark.sql.Observation()
        val next = labels
          .select(col("doc_id"), col("label"), col("label").as("old"))
          .unionByName(viaNeighbors)
          .groupBy(col("doc_id"))
          .agg(min(col("label")).as("label"), max(col("old")).as("old"))
          .observe(obs, count(when(col("label") < col("old"), true)).as("changed"))
          .select(col("doc_id"), col("label"))
          .localCheckpoint(true)
        changed = obs.get("changed").asInstanceOf[Long]
        // the new checkpoint is self-contained — the previous round's
        // blocks are dead weight and can be dropped NOW (unpersisting a
        // locally-checkpointed RDD discards its data, which is safe
        // exactly because nothing references the previous round anymore)
        prevRdds.foreach(_.unpersist(false))
        prevRdds = graft.ops.Checkpoints.rddsOf(next)
        labels = next
        iter += 1
      }
      ok = true
      (labels, iter)
    } finally {
      // on failure release the last round too; on success the caller owns
      // the returned checkpoint (ContextCleaner reaps it when dropped)
      if (!ok) prevRdds.foreach(_.unpersist(false))
      edges.unpersist()
      ()
    }
  }

  /** Benchmark decontamination (q51): for every corpus document, count how
    * many of its distinct word-n-gram shingles also appear in a benchmark
    * (eval-set) document — the overlap report a training pipeline uses to
    * drop or flag contaminated examples before training. Output rows are
    * the CONTAMINATED docs only (n_hits >= 1); a caller drops them with an
    * anti-join or thresholds on `n_hits`.
    *
    * Shape at scale: eval sets are small by definition (thousands of docs
    * against a multi-billion-doc corpus), so by default the distinct
    * benchmark shingle set is broadcast and the corpus side never shuffles
    * — the whole pass is a map-side semi-join plus a per-doc
    * partial-aggregated count. The hint is a hard promise (Spark refuses
    * broadcasts past its 8 GB limit rather than falling back), so a caller
    * with a benchmark too large to broadcast passes
    * `broadcastBench = false` for a shuffled equi-join, same semantics. */
  def contamination(corpusShingles: DataFrame, benchShingles: DataFrame,
      broadcastBench: Boolean = true): DataFrame =
    contaminationAgainstSet(corpusShingles,
      benchShingleSet(benchShingles), broadcastBench)

  /** The distinct exploded shingle set of a benchmark frame — the value
    * [[contamination]] actually joins on. A caller running the check
    * repeatedly (the streaming gate: once per micro-batch, forever)
    * builds this ONCE and persists it, instead of re-paying the
    * explode + distinct + broadcast-build on every call. */
  def benchShingleSet(benchShingles: DataFrame): DataFrame =
    benchShingles.select(explode(col("sh")).as("g")).distinct()

  /** [[contamination]] against a prebuilt [[benchShingleSet]]. */
  def contaminationAgainstSet(corpusShingles: DataFrame, benchSet: DataFrame,
      broadcastBench: Boolean = true): DataFrame = {
    val post = corpusShingles.select(col("doc_id"), explode(col("sh")).as("g"))
    post.join(if (broadcastBench) broadcast(benchSet) else benchSet, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Benchmark decontamination with a Bloom-prefiltered probe side (q87) —
    * [[contamination]]'s scale path for the regime its `broadcastBench`
    * escape hatch concedes: a benchmark suite whose distinct shingle SET
    * is too large to broadcast exactly (10^8 shingles are gigabytes as an
    * exact in-memory set) but whose Bloom SKETCH is not (~100 MB at 1%
    * fpp). The probe (corpus) side filters on `graft_might_contain` at the
    * SCAN, below its exchange, so the shuffled verify join receives only
    * true hits plus the fpp fraction of the corpus's shingles — instead of
    * every shingle of every document. The exact equi-join then removes the
    * false positives, so the result is IDENTICAL to [[contamination]] at
    * any fpp: blooms have no false negatives, and every surviving row is
    * verified. (The oracle for q87 is therefore the plain exact-overlap
    * SQL — the sketch is invisible in the answer, which is the point.)
    *
    * Cost note: the bench side pays one count (sizing the filter) and one
    * aggregation to the driver (building it) — both over the side that is
    * orders of magnitude smaller than the corpus by definition. Pass
    * `expectedItems` to skip the count when the caller already knows the
    * cardinality (a stored index's row count).
    *
    * Shape at scale: scan-side codegen'd Bloom probe (zero shuffle), one
    * shuffled equi-join over ~hits + fpp·|shingles| rows, one map-side
    * combinable per-doc count. `broadcastBench = true` composes too (the
    * bloom then just cuts hash-probe work), but the broadcast regime is
    * [[contamination]]'s home turf — this operator exists for the shuffle
    * regime.
    *
    * Caching contract: the bench shingle set is `persist()`ed here (it is
    * read three times — sized, sketched, joined) and is NOT unpersisted
    * before return, because the returned DataFrame still references it
    * lazily. The caller owns the release: call
    * `spark.catalog.clearCache()` (what Bench/Verify do between queries)
    * or unpersist via the catalog once the result is consumed — otherwise
    * the cached bench set lives for the session. */
  def contaminationBloom(corpusShingles: DataFrame, benchShingles: DataFrame,
      fpp: Double = 0.01, broadcastBench: Boolean = false,
      expectedItems: Option[Long] = None): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    // persisted: sized, sketched, and joined — three uses; released by the
    // caller's clearCache like every staged table here
    val benchSet = benchShingleSet(benchShingles).persist()
    val n = math.max(expectedItems.getOrElse(benchSet.count()), 1L)
    val bloom = benchSet.select(xxhash64(col("g")).as("h"))
      .stat.bloomFilter("h", n, fpp)
    val bytes = BloomMightContain.serialize(bloom)
    val pre = corpusShingles
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .filter(BloomMightContain.might(xxhash64(col("g")), bytes))
    pre.join(if (broadcastBench) broadcast(benchSet) else benchSet, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** q51's deterministic benchmark membership: doc_id divisible by 97. */
  private val BenchMod = 97

  /** q87's bench membership — a different modulus than q51 so the two
    * decontamination queries score different eval sets. */
  private val BloomBenchMod = 101

  /** The full corpus-dedup operator: given documents and near-dup pairs
    * (from minhashNearDup / simhashNearDup / ngramJaccard), keep one
    * canonical document per component — the min doc_id, like the exact
    * pass's min(doc_id) canonical — and every untouched document. */
  def dedupeCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = components(pairs)
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Canonical-survivor selection by quality (q74) — [[dedupeCorpus]] keeps
    * each component's min-id doc, which is arbitrary; a production corpus
    * keeps the BEST duplicate (the cleanest mirror of a page, the longest
    * crawl of an article). Per near-dup component: survivor = argmax of
    * `quality` (ties to the lower doc_id); every doc maps to its
    * component's survivor (`canonical_id`), docs in no component map to
    * themselves. The quality Column is the caller's — the q74 query passes
    * TextOps.docQuality, the exact scalar the scoring pass (q41) reports,
    * so the pick can never rank by a different quality than the filter
    * pipeline measures.
    *
    * Shape at scale: the component labels come from [[components]]; the
    * argmax is a min(struct) aggregation at COMPONENT granularity
    * (map-side combinable — no window, no per-group buffering); the
    * survivor joins back ride the labels frame, which holds only pair
    * participants — at real-world dup rates a few percent
    * of the corpus — so the full corpus is touched once by the final
    * doc_id equi-join and never re-shuffles for the pick itself. */
  def canonicalByQuality(docs: DataFrame, pairs: DataFrame,
      quality: Column): DataFrame = {
    val labels = components(pairs)
    // quality is computed AFTER the join restricts docs to pair
    // participants (r22): projecting it below the join evaluated the
    // quality expression over EVERY corpus document only to drop all
    // non-participants at the probe (profiled: a serial 104 ms
    // full-corpus scoring stage in q74) — at real-world dup rates the
    // participants are a few percent of the corpus, so scoring after the
    // (broadcastable, pair-bounded) labels join cuts the expression work
    // by that factor at any scale (guide §1.2: don't compute what you
    // throw away). Same quality Column, same rows — hash-exact.
    // min over (negated quality, doc_id): quality desc, ties to low id —
    // the struct-min trick (see q24), exact because double negation is
    val surv = labels.join(docs, "doc_id")
      .select(col("label"), col("doc_id"), quality.as("q"))
      .groupBy(col("label"))
      .agg(min(struct((-col("q")).as("negq"), col("doc_id"))).as("pick"))
      .select(col("label"), col("pick.doc_id").as("canonical_id"))
    docs.select(col("doc_id"))
      .join(labels.join(surv, "label").select(col("doc_id"), col("canonical_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
  }

  /** Duplication statistics (q81): the component-size histogram of the
    * near-dup graph — "how duplicated is my corpus" in one small table
    * (`component_size -> n_components`), the diagnostic an operator reads
    * BEFORE committing to a dedup pass (a fat tail of giant components
    * usually means boilerplate, not true duplicates, and wants q58's
    * boilerplate pass first; a mass of pairs wants plain dedup). Only
    * docs that appear in a pair have components, so sizes start at 2 —
    * singletons are the corpus minus the histogram's mass.
    *
    * Shape at scale: rides [[components]]; both aggregations are
    * map-side-combinable and shrink monotonically (docs -> components ->
    * distinct sizes), so the histogram itself is never more than
    * distinct-size rows. */
  def dupStats(pairs: DataFrame): DataFrame = {
    components(pairs).groupBy(col("label")).agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))
  }

  /** Per-source duplication report (q92) — [[dupStats]]'s sibling at
    * SOURCE granularity, and [[sourceOverlap]]'s at DOC granularity: for
    * every source, how many of its docs sit in a near-dup pair
    * (`dup_rate` = that fraction), and how its pair endpoints split
    * between within-source pairs (a feed re-publishing itself — fix the
    * crawler) and cross-source pairs (two feeds scraping the same sites —
    * fix the mix). A within pair is attributed once to its source; a
    * cross pair once to EACH side.
    *
    * Shape at scale: rides the LSH pair producer (pairs are a few percent
    * of docs at real dup rates); two pair-sized equi-joins attach sources,
    * one distinct over pair participants, and every aggregation is
    * map-side-combinable at source granularity. The corpus itself is
    * touched once for the per-source doc counts. `dup_rate` is one
    * division of exact longs. */
  def dupRateBySource(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    // STAGED (r21): the pair set is referenced by three independent
    // branches below (source attachment, distinct dup-doc count, and —
    // pre-restructure — three contrib legs); unpersisted, each branch
    // re-ran the whole MinHash pair producer, making q92 cost ~3x q31.
    // components()/canonicalByQuality already stage their pair input the
    // same way; released by the caller's clearCache (module contract).
    val p = pairs.persist()
    val withSrc = p
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
    val perSource = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val dupDocs = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(src, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
    // ONE pass over withSrc instead of three union legs (each leg re-ran
    // the two source-attachment joins): a within pair contributes one
    // (source, 1, 0) row, a cross pair one (source, 0, 1) row PER SIDE —
    // the same attribution rule, emitted by a single bounded generate.
    val contrib = withSrc
      .select(explode(when(col("src_a") === col("src_b"),
          array(struct(col("src_a").as("source"), lit(1L).as("w"), lit(0L).as("c"))))
        .otherwise(array(
          struct(col("src_a").as("source"), lit(0L).as("w"), lit(1L).as("c")),
          struct(col("src_b").as("source"), lit(0L).as("w"), lit(1L).as("c"))))).as("x"))
      .select(col("x.source").as("source"), col("x.w").as("w"), col("x.c").as("c"))
      .groupBy(col("source"))
      .agg(sum(col("w")).as("n_within_pairs"), sum(col("c")).as("n_cross_pairs"))
    perSource
      .join(dupDocs, Seq("source"), "left")
      .join(contrib, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("n_within_pairs"), lit(0L)).as("n_within_pairs"),
        coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs"),
        (coalesce(col("n_dup_docs"), lit(0L)).cast("double")
          / col("n_docs").cast("double")).as("dup_rate"))
  }

  /** The cross-split filter behind q113: annotate a near-dup pair list
    * with each side's deterministic split (q49's md5 rule computed IN
    * PLACE on the pair's own id columns — the same Column as the
    * splitter, so the two cannot drift, and zero joins: the split is a
    * pure per-row function of the id) and keep only pairs whose sides
    * land in different splits — each one is held-out data leaking into
    * training at the near-dup threshold. */
  def crossSplitPairs(pairs: DataFrame,
      trainUpper: String = TextOps.DefaultTrainUpper,
      valUpper: String = TextOps.DefaultValUpper): DataFrame =
    pairs
      .withColumn("split_a", TextOps.splitColumn(col("doc_a"), trainUpper, valUpper))
      .withColumn("split_b", TextOps.splitColumn(col("doc_b"), trainUpper, valUpper))
      .filter(col("split_a") =!= col("split_b"))

  /** Cross-split leakage SUMMARY (q115): the q113 pair list rendered as
    * the report an eval-hygiene pass actually reads — per directional
    * (split_a, split_b): the cross-split pair count, how many DISTINCT
    * docs on each side are implicated, and what share of that split's
    * doc population they are (the number that says "0.4% of val leaks
    * into train" instead of handing the reader a pair list). The pair
    * list stays the evidence; this is its one-screen rendering — the
    * same evidence + summary pairing as dup_stats over the components.
    *
    * Shape at scale: one aggregation of the (already pair-bounded)
    * cross-split pair set at split-pair granularity (≤ |splits|² rows;
    * the two distinct-counts expand the pair rows 3x before the
    * aggregation — pair-bounded, never corpus-bounded), one
    * low-cardinality count of the corpus per split, and two broadcast
    * joins of the 3-row totals onto the ≤ 9-row report. Shares are one
    * double division of exact longs (q92's dup_rate rule). */
  def splitLeakageReport(docs: DataFrame, crossPairs: DataFrame,
      trainUpper: String = TextOps.DefaultTrainUpper,
      valUpper: String = TextOps.DefaultValUpper): DataFrame = {
    // denominators come from docs' OWN published split column when one
    // exists — a corpus's labels are the authority its audit must agree
    // with, and a corpus published under custom cuts must not be
    // measured against recomputed default-cut splits (the r13 advisory's
    // desync). Only an unlabeled doc table (q115's raw documents) falls
    // back to computing the split in place, with the cuts threaded so
    // the caller's pair producer and this report share one constant.
    val totals = (if (docs.columns.contains("split")) docs.select(col("split"))
      else docs.select(
        TextOps.splitColumn(col("doc_id"), trainUpper, valUpper).as("split")))
      .groupBy(col("split")).agg(count(lit(1)).as("n_total"))
    crossPairs
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"))
      .join(broadcast(totals.select(
        col("split").as("split_a"), col("n_total").as("_ta"))), "split_a")
      .join(broadcast(totals.select(
        col("split").as("split_b"), col("n_total").as("_tb"))), "split_b")
      // the denominators PUBLISH with the shares: a reader can check the
      // division, and a maintainer (CorpusMain's purge re-derivation)
      // can detect a report whose totals no longer describe the live
      // corpus — shares alone carry no evidence of what they divided by
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"),
        col("_ta").as("n_total_a"), col("_tb").as("n_total_b"),
        (col("n_docs_a").cast("double") / col("_ta").cast("double"))
          .as("share_a"),
        (col("n_docs_b").cast("double") / col("_tb").cast("double"))
          .as("share_b"))
  }

  /** Cross-source overlap matrix (q84): for every unordered pair of
    * sources, how many DISTINCT word-3-gram shingles they share — the
    * provenance-leakage diagnostic read BEFORE mixing crawls: a hot pair
    * means two feeds scrape the same sites (near-dups will cross the
    * source boundary, so per-source quotas and token budgets double-count
    * the shared material), and pairing a benchmark source against the rest
    * is q51's contamination surface rendered as a matrix.
    *
    * Shape at scale: the posting explode feeds ONE aggregation keyed by
    * shingle (collect_set partial-merges map-side, so a shingle's set is
    * deduped before the shuffle), the per-shingle source set is bounded by
    * |sources|, and pair expansion is a per-row generate over that sorted
    * set — the corpus never self-joins. The final (source_a, source_b)
    * count is |sources|²-bounded and map-side combinable. Stop-shingles
    * present in ~every source cost C(|sources|, 2) rows each — fine for
    * feed-granularity sources; for a corpus keyed by millions of DOMAINS,
    * cap hot shingles first (q33's dfMax broadcast anti-join is the same
    * lever: a shingle present in more than `cap` sources identifies
    * nothing about any particular pair). */
  def sourceOverlap(docs: DataFrame, sourceCol: String = "source"): DataFrame = {
    // parallelize the shingling kernel over the unsplittable single-file
    // scan (guide §2.5, the `shingled` rationale); the per-shingle
    // collect_set partial-aggregates map-side on these partitions before
    // the one groupBy(g) exchange
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col(sourceCol), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= NGram)
      .select(col(sourceCol).as("src"),
        explode(Shingles.wordNGrams(col("w"), NGram)).as("g"))
    sh.groupBy(col("g"))
      .agg(array_sort(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      // unordered pairs (a < b) of the sorted set in one generate: element
      // i paired with every later element — no per-row cartesian node
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + 2, size(col("srcs")) - i - 1), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  private val SpanGram = 8 // q82 span resolution (tokens)

  /** Exact duplicated-substring spans (q82) — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) modality: doc-LEVEL dedup keeps two docs that share
    * a long verbatim passage; this finds and cuts the passage itself.
    * A token position is DUPLICATED when any `n`-token gram covering it
    * occurs at least twice in the corpus (across docs or repeated within
    * one); per doc we report the covered-token count and fraction plus
    * `text_clean`, the document with every covered token removed.
    *
    * Resolution bound, stated: the suffix-array method finds duplicated
    * substrings of ANY length ≥ threshold; the n-gram mark finds exactly
    * those of length ≥ n (a shorter shared run never fills a whole gram)
    * — the standard scalable approximation, with `n` the knob.
    *
    * Shape at scale: positional postings are O(tokens); the occurrence
    * count is ONE map-side-combinable aggregation keyed by the gram's
    * 8-byte xxhash64 (q33's trade: a cross-doc 64-bit collision at
    * ~2^-64 per co-occurring pair, for ~30% off the shuffle); marked
    * positions come from an equi-join against the count-filtered dup-gram
    * set — never a self-join; and coverage expansion is a bounded
    * generate (n rows per marked gram) collapsed by a doc-keyed
    * collect_set whose result is bounded by document length. The cleaning
    * rewrite is per-row and LINEAR in document length: uncovered
    * positions come from `array_except(sequence(1, len), cov)` — Spark
    * evaluates array_except with a hash set, O(len + |cov|) — and each
    * kept token is an O(1) `element_at`. (A filter-with-array_contains
    * lambda here would scan `cov` once per token: O(len²) on a heavily
    * duplicated long document — a 100k-token fully-covered doc would pay
    * ~10^10 comparisons in one task.) */
  def spanDedup(docs: DataFrame, n: Int = SpanGram): DataFrame = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    // doc_id repartition before the tokenize/posting kernel: same
    // unsplittable-single-file rationale as `shingled` (guide §2.5), and
    // the same key dividend — the dup-gram set broadcasts back onto the
    // posting, so `covered`'s groupBy(doc_id) and the final toks-covered
    // join ride this one layout with no further exchange (§2.4).
    val toks = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), col("text"),
        split(col("text"), " ").as("w"))
    val posting = toks
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => struct(i.as("pos"),
          xxhash64(array_join(slice(col("w"), i, lit(n)), " ")).as("gh")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gh").as("gh"))
    val dupGrams = posting.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("gh"))
    val covered = posting.join(dupGrams, Seq("gh"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("idx")).as("cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(col("cov")).as("n_covered"),
        (size(col("cov")).cast("double") / size(col("w")).cast("double"))
          .as("dup_frac"),
        array_join(transform(
          array_except(sequence(lit(1), size(col("w"))), col("cov")),
          i => element_at(col("w"), i)), " ").as("text_clean"))
  }

  // q62 defaults — interpolated into the oracle SQL like q49's cuts
  private val DefaultFuzzyPrefix = 24
  private val DefaultFuzzyMaxDist = 2

  /** Edit-distance (fuzzy) near-dup over document prefixes (q62) — the
    * title/URL-style dedup modality the shingle family misses: two docs
    * whose opening `prefixLen` chars differ by at most `maxDist` single-
    * character edits are a candidate pair, the classic record-linkage
    * blocking shape (Levenshtein is character-level, so it catches typo
    * and reformatting variants whose word-level shingles all differ).
    *
    * Blocking: pairs are generated only WITHIN a block (first two prefix
    * chars), pre-pruned by the length bound |len(a) - len(b)| <= maxDist
    * (an edit changes length by at most one), then verified with a
    * THRESHOLDED Levenshtein — Spark's three-arg `levenshtein` abandons a
    * row's DP early once `maxDist` is exceeded, so the per-pair cost is
    * O(prefixLen · maxDist), not O(prefixLen²). An edit inside the first
    * two characters escapes the block — the standard blocking
    * recall/cost trade, mirrored exactly in the oracle SQL.
    *
    * Shape at scale: one equi-join keyed by the block — never an
    * all-pairs cartesian — with per-block cost O(|block|²) after the
    * length prune. The block key choice IS the lever: at corpus scale a
    * 2-char key over skewed real-world prefixes ("http", "the ") makes
    * degenerate blocks, so a production run widens the key ((first-k,
    * length-bucket)) or salts the hot blocks — the same skew treatment
    * as every bucketed join in this module. */
  def fuzzyNearDup(docs: DataFrame, prefixLen: Int = DefaultFuzzyPrefix,
      maxDist: Int = DefaultFuzzyMaxDist): DataFrame = {
    require(prefixLen >= 4, s"prefixLen must be >= 4, got $prefixLen")
    require(maxDist >= 0 && maxDist < prefixLen,
      s"maxDist must be in [0, prefixLen), got $maxDist")
    // repartition by the BLOCK key: both self-join sides derive from this
    // frame, so the join plans with no further exchange and each block's
    // quadratic Levenshtein work runs on its own task instead of one
    // AQE-coalesced serial partition (the explicit count pins it; a block
    // is indivisible for this join, the documented skew caveat below)
    val p = docs.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("p"))
      .withColumn("blk", substring(col("p"), 1, 2))
      .withColumn("l", length(col("p")))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("blk"))
    val a = p.select(col("doc_id").as("doc_a"), col("p").as("pa"),
      col("blk"), col("l").as("la"))
    val b = p.select(col("doc_id").as("doc_b"), col("p").as("pb"),
      col("blk"), col("l").as("lb"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(col("la") - col("lb")) <= maxDist)
      // three-arg levenshtein returns -1 past the threshold: cheap reject
      .withColumn("dist", levenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy (map-side combinable at any scale).
    "q30_dedup_exact" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    },

    // MinHash + LSH banding, then exact-Jaccard verification of candidates.
    "q31_minhash_lsh" -> { (s, dir) =>
      minhashNearDup(shingled(s, dir))
    },

    // SimHash near-dup: per-shingle pseudo-random bits from md5, majority
    // vote per bit, banded self-join (exact for hamming <= 3 by pigeonhole).
    "q32_simhash" -> { (s, dir) =>
      simhashNearDup(shingled(s, dir))
    },

    // CROSS-SPLIT leakage audit (q113): the eval-hygiene pass run after
    // splitting — a train doc near-duplicating a val/test doc leaks the
    // held-out set into training, and a within-split dedup can never see
    // it (FineWeb/Dolma-class pipelines dedup across splits for exactly
    // this). Rides the q31 pair producer (pairs are a few percent of
    // docs at real dup rates); each side's deterministic split is q49's
    // md5 rule computed IN PLACE on the pair's own id columns — the same
    // Column, so the splitter and its auditor cannot drift, and ZERO
    // joins (splitColumn's own no-rejoin rule: the split is a pure
    // per-row function of the id, so joining a corpus-sized projection
    // back would shuffle the corpus for a value the pair already
    // carries). Only cross-split pairs survive; empty output == the
    // splits are leak-free at the near-dup threshold.
    "q113_split_leakage" -> { (s, dir) =>
      crossSplitPairs(minhashNearDup(shingled(s, dir)))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          col("jaccard"))
    },

    // CROSS-SPLIT leakage REPORT (q115): q113's pair list aggregated to
    // the per-(split_a, split_b) summary — pair count, distinct docs
    // implicated on each side, and the share of each split's population
    // that is. The pair list is the evidence; this is the one-screen
    // number an eval-hygiene review reads (and the shape CorpusMain's
    // --audit-splits stage publishes beside it).
    "q115_split_leakage_report" -> { (s, dir) =>
      splitLeakageReport(Tables.documents(s, dir),
        crossSplitPairs(minhashNearDup(shingled(s, dir))))
    },

    // Exact n-gram Jaccard via inverted-index (posting-list) self-join
    // (dfMax off: the oracle replicates the exact variant).
    "q33_ngram_jaccard" -> { (s, dir) =>
      ngramJaccard(shingled(s, dir))
    },

    // Corpus-dedup capstone: the q31 pair set collapsed into connected
    // components (min reachable doc_id per doc) — the oracle recomputes the
    // same pairs and walks reachability with a recursive CTE.
    "q38_components" -> { (s, dir) =>
      components(minhashNearDup(shingled(s, dir)))
    },

    // The full corpus-dedup operator: one canonical survivor per component
    // plus every untouched document (doc_id only — the payload column adds
    // nothing to the survivorship check).
    "q39_dedupe_corpus" -> { (s, dir) =>
      dedupeCorpus(Tables.documents(s, dir), minhashNearDup(shingled(s, dir)))
        .select(col("doc_id"))
    },

    // Duplication diagnostic: component-size histogram of the near-dup
    // graph (see dupStats).
    "q81_dup_stats" -> { (s, dir) =>
      dupStats(minhashNearDup(shingled(s, dir)))
    },

    // Canonical-survivor selection: q39's component collapse, but the
    // survivor is the component's best-QUALITY doc, not its min id.
    "q74_canonical_pick" -> { (s, dir) =>
      canonicalByQuality(Tables.documents(s, dir),
        minhashNearDup(shingled(s, dir)), TextOps.docQuality)
    },

    // Benchmark decontamination: docs with doc_id % 97 == 0 play the eval
    // set; every other doc is scored by how many of its distinct shingles
    // appear anywhere in that set (broadcast semi-join shape).
    "q51_decontaminate" -> { (s, dir) =>
      val sh = shingled(s, dir)
      contamination(
        sh.filter(col("doc_id") % BenchMod =!= 0),
        sh.filter(col("doc_id") % BenchMod === 0))
    },

    // Bloom-prefiltered decontamination on the SHUFFLE (non-broadcast)
    // path: the probe side is cut by a scan-side bloom filter before its
    // exchange, then exact-verified — the oracle is the plain exact
    // overlap, because the sketch cannot change the answer.
    "q87_bloom_decontaminate" -> { (s, dir) =>
      val sh = shingled(s, dir)
      contaminationBloom(
        sh.filter(col("doc_id") % BloomBenchMod =!= 0),
        sh.filter(col("doc_id") % BloomBenchMod === 0))
    },

    // The streaming-shaped near-dup gate run in batch: odd doc_ids are the
    // "incoming batch", even doc_ids the curated corpus; every emitted row
    // is a canonical-band collision verified by exact Jaccard.
    "q48_neardup_gate" -> { (s, dir) =>
      val sh = shingled(s, dir)
      nearDupAgainstShingled(
        sh.filter(col("doc_id") % 2 === 1),
        sh.filter(col("doc_id") % 2 === 0))
    },

    // Cross-source shingle-overlap matrix (see sourceOverlap).
    "q84_source_overlap" -> { (s, dir) =>
      sourceOverlap(Tables.documents(s, dir))
    },

    // Per-source duplication report (see dupRateBySource).
    "q92_dup_rate_by_source" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      dupRateBySource(docs, minhashNearDup(shingled(s, dir)))
    },

    // Exact duplicated-substring spans, cut at 8-token resolution
    // (see spanDedup).
    "q82_span_dedup" -> { (s, dir) =>
      spanDedup(Tables.documents(s, dir))
    },

    // Edit-distance near-dup over doc prefixes (see fuzzyNearDup).
    "q62_fuzzy_neardup" -> { (s, dir) =>
      fuzzyNearDup(Tables.documents(s, dir))
    })

  /** Shared shingle CTE (mirrors `shingled`). */
  private val shingleCte =
    s"""WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE len(string_split(text, ' ')) >= $NGram),
        s AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - ${NGram - 2}),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
          FROM w)"""

  private val minhashSelect =
    (0 until NumHashes)
      .map(j => s"list_min(list_transform(hs, h -> substr(h, ${4 * j + 1}, 4))) AS h$j")
      .mkString(", ")

  private val bandUnion =
    (0 until NumHashes / BandRows)
      .map(b => s"SELECT doc_id, $b AS b, h${2 * b} || h${2 * b + 1} AS v FROM m")
      .mkString(" UNION ALL ")

  /** MinHash candidate chain (assumes `s` from [[shingleCte]] in scope). */
  private val minhashCandCte =
    s"""hs AS (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hs FROM s),
       m AS (SELECT doc_id, sh, $minhashSelect FROM hs),
       bands AS ($bandUnion),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)"""

  /** Exact-Jaccard verification of the candidates — the q31 result shape. */
  private val minhashPairsSelect =
    s"""SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
       FROM cand c
       JOIN s a ON a.doc_id = c.doc_a
       JOIN s b ON b.doc_id = c.doc_b
       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= $JaccardThreshold"""

  /** SQL mirror of [[minhashBandArr]]'s finish lambda: the 4-band value
    * list from a per-doc `hs` (per-shingle md5 list) column. */
  private val gateVarrSql: String = {
    def hsel(j: Int) = s"list_min(list_transform(hs, h -> substr(h, ${4 * j + 1}, 4)))"
    "LIST_VALUE(" + (0 until NumHashes / BandRows)
      .map(b => (0 until BandRows).map(r => hsel(b * BandRows + r)).mkString(" || "))
      .mkString(", ") + ")"
  }

  private def gateBandsSql(src: String, out: String): String =
    s"""$out AS (${(0 until NumHashes / BandRows)
      .map(b => s"SELECT doc_id, sh, varr, $b AS b, varr[${b + 1}] AS v FROM $src")
      .mkString(" UNION ALL ")})"""

  private val gateOracle: String =
    s"""$shingleCte,
       incv AS (SELECT doc_id, sh, $gateVarrSql AS varr FROM (
         SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hs FROM s
         WHERE doc_id % 2 = 1) t),
       corv AS (SELECT doc_id, sh, $gateVarrSql AS varr FROM (
         SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hs FROM s
         WHERE doc_id % 2 = 0) t),
       ${gateBandsSql("incv", "bi")},
       ${gateBandsSql("corv", "bc")},
       cand AS (
         SELECT bi.doc_id, bi.sh, bc.doc_id AS corpus_id
         FROM bi JOIN bc ON bi.b = bc.b AND bi.v = bc.v
         WHERE list_position(list_transform(list_zip(bi.varr, bc.varr),
                 p -> p[1] = p[2]), true) = bi.b + 1),
       scored AS (
         SELECT c.doc_id, c.corpus_id,
           CAST(len(list_intersect(c.sh, k.sh)) AS DOUBLE)
             / CAST(len(list_distinct(c.sh || k.sh)) AS DOUBLE) AS jaccard
         FROM cand c JOIN corv k ON k.doc_id = c.corpus_id)
       SELECT doc_id, corpus_id, jaccard FROM scored
       WHERE jaccard >= $JaccardThreshold"""

  private val simScores =
    (0 until SimBits)
      .map(i => s"sum(CASE WHEN substr(t, ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$i")
      .mkString(", ")

  private val simValue =
    (0 until SimBits)
      .map(i => s"(CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")

  val oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
           count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "q31_minhash_lsh" ->
      s"""$shingleCte,
         $minhashCandCte
         $minhashPairsSelect""",
    // the q31 pair machinery + q49's split rule (the SHARED SQL shape,
    // TextOps.splitCaseSql) applied in place on both pair sides
    "q113_split_leakage" ->
      s"""$shingleCte,
         $minhashCandCte,
         pairs AS ($minhashPairsSelect)
         SELECT doc_a, doc_b,
           ${TextOps.splitCaseSql("doc_a")} AS split_a,
           ${TextOps.splitCaseSql("doc_b")} AS split_b,
           jaccard
         FROM pairs
         WHERE ${TextOps.splitCaseSql("doc_a")}
            <> ${TextOps.splitCaseSql("doc_b")}""",
    // q113's cross-split pairs aggregated per (split_a, split_b) with
    // distinct-doc counts and population shares; shares are one double
    // division of exact longs (q92's rule)
    "q115_split_leakage_report" ->
      s"""$shingleCte,
         $minhashCandCte,
         pairs AS ($minhashPairsSelect),
         x AS (
           SELECT doc_a, doc_b,
             ${TextOps.splitCaseSql("doc_a")} AS split_a,
             ${TextOps.splitCaseSql("doc_b")} AS split_b
           FROM pairs
           WHERE ${TextOps.splitCaseSql("doc_a")}
              <> ${TextOps.splitCaseSql("doc_b")}),
         tot AS (
           SELECT ${TextOps.splitCaseSql("doc_id")} AS split,
             count(*) AS n_total
           FROM documents GROUP BY 1),
         agg AS (
           SELECT split_a, split_b, count(*) AS n_pairs,
             count(DISTINCT doc_a) AS n_docs_a,
             count(DISTINCT doc_b) AS n_docs_b
           FROM x GROUP BY 1, 2)
         SELECT a.split_a, a.split_b, a.n_pairs, a.n_docs_a, a.n_docs_b,
           ta.n_total AS n_total_a, tb.n_total AS n_total_b,
           CAST(a.n_docs_a AS DOUBLE) / CAST(ta.n_total AS DOUBLE) AS share_a,
           CAST(a.n_docs_b AS DOUBLE) / CAST(tb.n_total AS DOUBLE) AS share_b
         FROM agg a
         JOIN tot ta ON a.split_a = ta.split
         JOIN tot tb ON a.split_b = tb.split""",
    // pairs from the q31 machinery; within pairs attributed once, cross
    // pairs once per side; dup_rate is one division of exact longs
    "q92_dup_rate_by_source" ->
      s"""$shingleCte,
         $minhashCandCte,
         pairs AS ($minhashPairsSelect),
         withsrc AS (
           SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
           FROM pairs p
           JOIN documents da ON p.doc_a = da.doc_id
           JOIN documents db ON p.doc_b = db.doc_id),
         per_source AS (
           SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         dup_docs AS (
           SELECT d.source, count(*) AS n_dup_docs FROM (
             SELECT doc_a AS doc_id FROM pairs
             UNION SELECT doc_b AS doc_id FROM pairs) u
           JOIN documents d ON u.doc_id = d.doc_id GROUP BY 1),
         contrib AS (
           SELECT source,
             CAST(sum(w) AS BIGINT) AS n_within_pairs,
             CAST(sum(c) AS BIGINT) AS n_cross_pairs
           FROM (
             SELECT src_a AS source, 1 AS w, 0 AS c FROM withsrc
             WHERE src_a = src_b
             UNION ALL
             SELECT src_a, 0, 1 FROM withsrc WHERE src_a <> src_b
             UNION ALL
             SELECT src_b, 0, 1 FROM withsrc WHERE src_a <> src_b) t
           GROUP BY 1)
         SELECT p.source, p.n_docs,
           COALESCE(d.n_dup_docs, 0) AS n_dup_docs,
           COALESCE(ct.n_within_pairs, 0) AS n_within_pairs,
           COALESCE(ct.n_cross_pairs, 0) AS n_cross_pairs,
           CAST(COALESCE(d.n_dup_docs, 0) AS DOUBLE)
             / CAST(p.n_docs AS DOUBLE) AS dup_rate
         FROM per_source p
         LEFT JOIN dup_docs d ON p.source = d.source
         LEFT JOIN contrib ct ON p.source = ct.source""",
    "q38_components" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         $minhashCandCte,
         pairs AS ($minhashPairsSelect),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT src AS doc_id, src AS label FROM edges
           UNION
           SELECT e.dst AS doc_id, r.label AS label
           FROM reach r JOIN edges e ON e.src = r.doc_id)
         SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id""",
    "q39_dedupe_corpus" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         $minhashCandCte,
         pairs AS ($minhashPairsSelect),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT src AS doc_id, src AS label FROM edges
           UNION
           SELECT e.dst AS doc_id, r.label AS label
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         drop_ids AS (
           SELECT doc_id FROM (
             SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id)
           WHERE doc_id <> label)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_ids)""",
    // The literal positional form: every n-gram with its start position,
    // occurrence counts, covered-index expansion, and an ordered re-join of
    // the surviving tokens (string grams where the Spark side counts by
    // xxhash64 — q33's documented 2^-64 collision trade).
    "q82_span_dedup" ->
      s"""WITH t AS (
           SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         g AS (
           SELECT doc_id, i AS pos,
             array_to_string(w[i:i+${SpanGram - 1}], ' ') AS gram
           FROM t, unnest(range(1, len(w) - ${SpanGram - 2})) AS u(i)),
         c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
         m AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)
               WHERE c.cnt >= 2),
         cov AS (SELECT DISTINCT doc_id, j
                 FROM m, unnest(range(pos, pos + $SpanGram)) AS v(j)),
         cv AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY 1),
         tok AS (SELECT doc_id, j AS idx, w[j] AS tk
                 FROM t, unnest(range(1, len(w) + 1)) AS p(j)),
         keep AS (SELECT tok.doc_id, tok.idx, tok.tk
                  FROM tok ANTI JOIN cov
                    ON tok.doc_id = cov.doc_id AND tok.idx = cov.j),
         clean AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS text_clean
                   FROM keep GROUP BY 1)
         SELECT t.doc_id, len(w) AS n_tokens,
           coalesce(cv.n_covered, 0) AS n_covered,
           CAST(coalesce(cv.n_covered, 0) AS DOUBLE) /
             CAST(len(w) AS DOUBLE) AS dup_frac,
           coalesce(clean.text_clean, '') AS text_clean
         FROM t LEFT JOIN cv ON t.doc_id = cv.doc_id
                LEFT JOIN clean ON t.doc_id = clean.doc_id""",
    // Distinct (source, shingle) pairs self-joined on the shingle — the
    // literal set-intersection form of the matrix the Spark side builds
    // with one collect_set aggregation + pair generate.
    "q84_source_overlap" ->
      s"""WITH t AS (
           SELECT source, string_split(text, ' ') AS w FROM documents
           WHERE len(string_split(text, ' ')) >= $NGram),
         g AS (
           SELECT DISTINCT source,
             unnest(list_distinct(list_transform(range(1, len(w) - ${NGram - 2}),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
           FROM t)
         SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_shingles
         FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         GROUP BY 1, 2""",
    // q38's reach CTE folded to per-label sizes, then a size histogram.
    "q81_dup_stats" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         $minhashCandCte,
         pairs AS ($minhashPairsSelect),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT src AS doc_id, src AS label FROM edges
           UNION
           SELECT e.dst AS doc_id, r.label AS label
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         labels AS (
           SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
         sizes AS (
           SELECT label, count(*) AS component_size FROM labels GROUP BY 1)
         SELECT component_size, count(*) AS n_components
         FROM sizes GROUP BY 1""",
    // q39's component labels + TextOps' shared quality CTE; survivor =
    // row_number 1 on (quality DESC, doc_id ASC) within each label.
    "q74_canonical_pick" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         $minhashCandCte,
         pairs AS ($minhashPairsSelect),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT src AS doc_id, src AS label FROM edges
           UNION
           SELECT e.dst AS doc_id, r.label AS label
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         labels AS (
           SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
         ${TextOps.QualityCteSql},
         ranked AS (
           SELECT l.label, l.doc_id,
             row_number() OVER (PARTITION BY l.label
               ORDER BY q.quality DESC, l.doc_id ASC) AS rn
           FROM labels l JOIN qq q ON q.doc_id = l.doc_id),
         canon AS (SELECT label, doc_id AS canonical_id FROM ranked WHERE rn = 1)
         SELECT d.doc_id,
           COALESCE(c.canonical_id, d.doc_id) AS canonical_id,
           COALESCE(c.canonical_id, d.doc_id) = d.doc_id AS is_canonical
         FROM documents d
         LEFT JOIN labels l ON l.doc_id = d.doc_id
         LEFT JOIN canon c ON c.label = l.label""",
    "q32_simhash" ->
      s"""$shingleCte,
         tok AS (SELECT doc_id, md5(unnest(sh)) AS t FROM s),
         sc AS (SELECT doc_id, $simScores FROM tok GROUP BY doc_id),
         sim AS (SELECT doc_id, $simValue AS sh FROM sc)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= $HammingMax""",
    "q33_ngram_jaccard" ->
      s"""$shingleCte
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST((len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS DOUBLE)
             AS jaccard
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST((len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS DOUBLE)
             >= $JaccardThreshold""",
    "q48_neardup_gate" -> gateOracle,
    "q51_decontaminate" ->
      s"""$shingleCte,
         bench AS (
           SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % $BenchMod = 0),
         post AS (
           SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % $BenchMod <> 0)
         SELECT p.doc_id, count(*) AS n_hits
         FROM post p JOIN bench b ON p.g = b.g
         GROUP BY p.doc_id""",
    // the Bloom prefilter is invisible to the oracle: prefilter + exact
    // verify == the plain exact overlap (no false negatives, positives
    // removed by the join) — only the bench modulus differs from q51
    "q87_bloom_decontaminate" ->
      s"""$shingleCte,
         bench AS (
           SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % $BloomBenchMod = 0),
         post AS (
           SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % $BloomBenchMod <> 0)
         SELECT p.doc_id, count(*) AS n_hits
         FROM post p JOIN bench b ON p.g = b.g
         GROUP BY p.doc_id""",
    // mirrors fuzzyNearDup exactly, including the blocking recall trade
    "q62_fuzzy_neardup" ->
      s"""WITH p AS (
           SELECT doc_id, substr(text, 1, $DefaultFuzzyPrefix) AS p
           FROM documents),
         b AS (
           SELECT doc_id, p, substr(p, 1, 2) AS blk, length(p) AS l FROM p)
         SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.p, c.p) AS BIGINT) AS dist
         FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
         WHERE abs(a.l - c.l) <= $DefaultFuzzyMaxDist
           AND levenshtein(a.p, c.p) <= $DefaultFuzzyMaxDist""")
}
