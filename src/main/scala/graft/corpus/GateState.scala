package graft.corpus

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints
import graft.queries.{DedupOps, VectorOps}
import graft.sources.Warehouse

/** Absorbed-state size after a [[GateState.absorb]] — the number an
  * operator watches to schedule re-curation/compaction BEFORE restart
  * cost bites: per-batch absorb cost and restart cost both grow with
  * these rows until [[GateState.compactState]] folds them into the
  * at-rest tables. `storedBytes` is the accumulator's block-manager
  * footprint (memory + disk) as reported by the storage layer — an
  * estimate, not a count job. */
final case class GateStats(batches: Int, shingleRows: Long, indexRows: Long,
    vectorIndexRows: Option[Long], storedBytes: Long)

/** The evolving curated-side state of the streaming ingest gate: what the
  * gate knows, at each micro-batch, about every document that must not be
  * duplicated again — the static corpus it started from PLUS every
  * document the stream itself has accepted so far. Closing that loop is
  * the point: a gate that only probes the static corpus lets a document
  * near-duplicating one accepted in an EARLIER batch sail through, and a
  * crawl stream is exactly where burst duplicates arrive.
  *
  * Layout — absorbed state is an accumulator SEPARATE from the base:
  *   - base (text shingles + MinHash band index, and optionally the
  *     hyperplane band index of the corpus's vectors) is checkpointed
  *     once at startup and never touched again;
  *   - each accepted batch's rows are unioned into the absorbed
  *     accumulator and re-checkpointed ([[absorb]]), releasing the
  *     previous generation's blocks — so the per-batch materialization
  *     cost is O(docs absorbed so far), never O(corpus), and the plan
  *     stays one union deep regardless of stream lifetime (the
  *     lineage-truncation discipline [[DedupOps.components]] uses).
  *     At rest, the same state is the (b, v)-bucketed index table the
  *     q48 notes prescribe; this class is its in-session form, and
  *     [[GateState.compactState]] is the job that folds it back into the
  *     tables between corpus re-curations so restart cost stops growing
  *     with stream lifetime.
  *
  * Replay identity (what makes exactly-once hold end to end): when the
  * CURRENT batch id is one the gate already published ([[absorb]]ed this
  * session, or listed by [[resume]]), the probe rows for that batch's own
  * doc_ids are excluded ([[probeIdx]], [[vectorGate]]) — base AND
  * absorbed, because after a compaction the batch's own rows live in the
  * base tables. A replayed batch (crash after publish, before the
  * checkpoint commit) therefore curates against exactly the state it saw
  * the first time and republishes the identical batch directory, instead
  * of flagging its own published survivors as duplicates of themselves.
  * A FRESH batch id gets no exclusion at all: a re-delivered doc_id with
  * near-identical text is gated against its earlier self and dropped
  * (first-arrival wins — published dirs are immutable, so there is no
  * replace). A re-delivered doc_id with genuinely different text is a new
  * document under a colliding id and is accepted: crawl doc_ids are
  * required to be unique across the corpus and the stream's lifetime, and
  * an id that is also a CORPUS doc_id would additionally be mistaken for
  * the gate's own publish during a replay — uniqueness is the caller's
  * contract, not something the gate can check cheaply. [[absorb]]
  * additionally keys on the micro-batch id, so a batch folds into the
  * accumulator exactly once no matter how often it replays.
  *
  * Threading: mutated only inside `foreachBatch`, which Structured
  * Streaming runs serially per query — no synchronization needed.
  */
final class GateState private (
    baseSh: DataFrame,
    baseIdx: DataFrame,
    vecSide: Option[(DataFrame, Double, DataFrame)], // (vectors, threshold, base band idx)
    private var absSh: DataFrame,
    private var absIdx: DataFrame,
    private var absVecIdx: Option[DataFrame],
    private var absorbedBatches: Set[Long],
    private var absBlocks: Seq[RDD[_]],
    private var absRows: (Long, Long, Option[Long])) { // (shingle, index, vector index)

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GateState])

  /** Full shingled corpus (base + absorbed) — the exact-Jaccard
    * verification side of the text gate. No exclusion needed: candidates
    * only arise from the (already filtered) probe index. */
  def corpusSh: DataFrame = baseSh.unionByName(absSh)

  /** The text-gate probe index for the batch `batchId` over `batchIds`
    * (its (doc_id) frame — small by construction: the main bounds batch
    * size via maxFilesPerTrigger, hence the broadcast anti-join). A fresh
    * batch probes base + absorbed as-is; a REPLAYED batch (id already
    * published) excludes its own doc_ids from both sides — replay
    * identity, see the class note. */
  def probeIdx(batchIds: DataFrame, batchId: Long): DataFrame = {
    val all = baseIdx.unionByName(absIdx)
    if (!absorbedBatches(batchId)) all
    else all.join(
      broadcast(batchIds.select(col("doc_id").as("corpus_id"))),
      Seq("corpus_id"), "left_anti")
  }

  /** Whether a vector side was configured (`--embeddings`). */
  def hasVectors: Boolean = vecSide.nonEmpty

  /** The configured vectors source (prepped (vec_id, e, nrm) rows) — the
    * lookup the stream-side SEMANTIC decontamination gate probes batch
    * docs' embeddings out of (CorpusStreamMain `--semantic-bench`). */
  private[corpus] def vectorsSource: Option[DataFrame] = vecSide.map(_._1)

  /** The vector-space gate over the batch `batchId`'s text-surviving
    * docs: drop every doc whose embedding near-duplicates (cosine >=
    * threshold) a corpus or previously-accepted vector
    * ([[VectorOps.lshNearDupAgainstIndex]]), then collapse intra-batch
    * vector near-dup clusters to one canonical ([[VectorOps.lshNearDup]]
    * + [[DedupOps.dedupeCorpus]]). Docs with no row in the vectors table
    * pass untouched: an embedding-less doc has nothing to compare.
    * Identity when no vector side is configured. Replay identity mirrors
    * [[probeIdx]]: only a replayed batch excludes its own ids, from base
    * AND absorbed. */
  def vectorGate(curated: DataFrame, batchIds: DataFrame,
      batchId: Long): DataFrame =
    vecSide match {
      case None => curated
      case Some((vecs, threshold, baseVecIdx)) =>
        val incVecs = vecs.join(
          curated.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val all = baseVecIdx.unionByName(absVecIdx.get)
        val idx =
          if (!absorbedBatches(batchId)) all
          else all.join(
            broadcast(batchIds.select(col("doc_id").as("corpus_id"))),
            Seq("corpus_id"), "left_anti")
        val flagged = VectorOps.lshNearDupAgainstIndex(incVecs, idx, vecs, threshold)
          .select(col("vec_id").as("doc_id")).distinct()
        val survived = curated.join(flagged, Seq("doc_id"), "left_anti")
        val survVecs = incVecs.join(
          flagged.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
        val pairs = VectorOps.lshNearDup(survVecs, threshold)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        DedupOps.dedupeCorpus(survived, pairs)
    }

  /** Fold one published batch's accepted docs into the absorbed
    * accumulator so every LATER batch is gated against them. `published`
    * is read back from the batch's published directory ((doc_id, text)
    * suffice) — the on-disk truth, which also severs any lineage back to
    * the stream source, so the state never pins the batch's
    * [[CorpusStreamMain.curateBatch]] staging (its caller releases that
    * once this returns). Idempotent per `batchId`: a replayed batch never
    * double-folds. Staging here: each accumulator is re-checkpointed
    * (`localCheckpoint`) and the previous generation's blocks are
    * released at once; the state owns the new blocks until [[close]].
    * Logs [[absorbedStats]] after each fold — its row counts ride the
    * checkpoint jobs as Observations, so the log line costs no job. */
  def absorb(batchId: Long, published: DataFrame): Unit = {
    if (!absorbedBatches(batchId)) {
      val freshSh = DedupOps.shingledOf(published)
      val (newSh, shRows) =
        GateState.checkpointCounted(absSh.unionByName(freshSh))
      val (newIdx, idxRows) = GateState.checkpointCounted(
        absIdx.unionByName(DedupOps.corpusBandIndex(freshSh)))
      val newVec = vecSide.map { case (vecs, _, _) =>
        GateState.checkpointCounted(absVecIdx.get.unionByName(
          VectorOps.vectorBandIndex(vecs.join(
            published.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"))))
      }
      val newVecIdx = newVec.map(_._1)
      // the new generation is self-contained — the previous one's blocks
      // are dead weight and released NOW, not left to the ContextCleaner
      absBlocks.foreach(_.unpersist(false))
      absSh = newSh
      absIdx = newIdx
      absVecIdx = newVecIdx
      absorbedBatches += batchId
      absBlocks = (Seq(newSh, newIdx) ++ newVecIdx).flatMap(Checkpoints.rddsOf)
      absRows = (shRows, idxRows, newVec.map(_._2))
      val s = absorbedStats()
      log.info(s"gate absorbed batch=$batchId: batches=${s.batches} " +
        s"shingleRows=${s.shingleRows} indexRows=${s.indexRows} " +
        s"vectorIndexRows=${s.vectorIndexRows.getOrElse(-1L)} " +
        s"storedBytes=${s.storedBytes} — compact into the at-rest tables " +
        "(CorpusStreamMain --compact-state) before these grow past what a " +
        "restart should re-fold")
    }
  }

  /** Size of the absorbed accumulator — what [[absorb]] logs per batch
    * and an operator alerts on. Row counts were observed when the
    * accumulators were checkpointed; bytes come from the block manager's
    * storage report. Runs no job. */
  def absorbedStats(): GateStats = {
    val ids = absBlocks.map(_.id).toSet
    val stored = absSh.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
    GateStats(absorbedBatches.size, absRows._1, absRows._2, absRows._3, stored)
  }

  /** Release every block this state holds (base + absorbed + the vectors
    * persist). The state is unusable afterwards. */
  def close(): Unit = {
    (Seq(baseSh, baseIdx) ++ vecSide.map(_._3)).flatMap(Checkpoints.rddsOf)
      .foreach(_.unpersist(false))
    absBlocks.foreach(_.unpersist(false))
    vecSide.foreach { case (vecs, _, _) => vecs.unpersist(); () }
  }
}

object GateState {

  private val log = org.slf4j.LoggerFactory.getLogger(GateState.getClass)

  /** Build the gate state at stream startup.
    *
    * `corpus`: the curated static corpus — (doc_id, text) at minimum.
    * `published`: docs from batch directories already published by a
    * PREVIOUS incarnation of this stream (restart path) — they are
    * part of the curated output and must gate later batches exactly like
    * the corpus does; `absorbedBatchIds` names their batch ids so a
    * replayed batch is recognized. `vectors`: the (vec_id, e, nrm)
    * embeddings table and the cosine near-dup threshold — enables the
    * vector-space gate; incoming AND corpus docs are looked up in it by
    * id (embeddings are computed upstream of the gate, keyed by doc id).
    */
  def build(corpus: DataFrame,
      published: Option[DataFrame] = None,
      absorbedBatchIds: Set[Long] = Set.empty,
      vectors: Option[(DataFrame, Double)] = None,
      baseIndex: Option[DataFrame] = None,
      baseShingles: Option[DataFrame] = None,
      baseVecIndex: Option[DataFrame] = None,
      persistVectors: Boolean = true): GateState = {
    // a prebuilt vector index with no vector side would be silently
    // ignored — the same config bug the mains' orphan-flag rule catches
    require(baseVecIndex.isEmpty || vectors.nonEmpty,
      "baseVecIndex was given without vectors: it would be silently ignored")
    // `baseShingles`: the shingled corpus AT REST (the doc_id-bucketed
    // table [[DedupOps.writeCorpusShingles]] wrote) — skips the startup
    // shingling fold AND the corpus-sized checkpoint; the verify join
    // reads the at-rest layout per batch instead of executor memory.
    // the startup fold is repartitioned by doc_id before the shingling
    // kernel (r22, guide §2.5): a single-row-group corpus file would run
    // the whole fold — a corpus-sized one-off — on ONE core; doc_id
    // keying feeds the per-batch verify join's layout (§2.4). The
    // at-rest path (baseShingles) is untouched: its bucketed layout IS
    // the point.
    val baseSh = baseShingles.getOrElse(
      DedupOps.shingledOf(corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism,
        org.apache.spark.sql.functions.col("doc_id"))).localCheckpoint(true))
    // `baseIndex`: the corpus band index AT REST — the (b, v)-bucketed
    // table [[DedupOps.writeCorpusBandIndex]] wrote. Passing it skips the
    // startup 8-hash fold over the corpus AND keeps the probe join
    // exchange-free on the index side (checkpointing would destroy the
    // bucketed layout, so the at-rest frame is used as-is). The absorbed
    // accumulator still unions in per batch; at rest, absorbed deltas are
    // compacted back into the table by [[compactState]] and at every
    // corpus republish.
    val baseIdx = baseIndex.getOrElse(
      DedupOps.corpusBandIndex(baseSh).localCheckpoint(true))
    val seed = published.getOrElse(corpus.limit(0))
    val (absSh, shRows) = checkpointCounted(DedupOps.shingledOf(seed))
    val (absIdx, idxRows) = checkpointCounted(DedupOps.corpusBandIndex(absSh))
    val vecSide = vectors.map { case (vecsRaw, threshold) =>
      // persisted because every batch scans it twice (incoming lookup +
      // candidate verification). At corpus scale persisting the WHOLE
      // vectors table is the wrong trade — pass `persistVectors = false`
      // with the vec_id-bucketed at-rest table instead
      // (CorpusMain --publish-vectors / stream --vectors-table): both
      // per-batch joins then probe the at-rest layout, the same move
      // corpusBandIndex makes at rest.
      val vecs = if (persistVectors) vecsRaw.persist() else vecsRaw
      // `baseVecIndex`: the vector band index AT REST — the (b, v)-bucketed
      // table [[VectorOps.writeVectorBandIndex]] wrote. Same contract as
      // `baseIndex` on the text side: skips the startup hyperplane fold
      // over the corpus's vectors AND keeps the per-batch band probe
      // exchange-free on the index side (used as-is — checkpointing would
      // destroy the bucketed layout).
      val baseVecIdx = baseVecIndex.getOrElse(
        VectorOps.vectorBandIndex(vecs.join(
            corpus.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"))
          .localCheckpoint(true))
      (vecs, threshold, baseVecIdx)
    }
    val absVec = vecSide.map { case (vecs, _, _) =>
      checkpointCounted(VectorOps.vectorBandIndex(vecs.join(
        seed.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
    }
    val absVecIdx = absVec.map(_._1)
    new GateState(baseSh, baseIdx, vecSide, absSh, absIdx, absVecIdx,
      absorbedBatchIds,
      (Seq(absSh, absIdx) ++ absVecIdx).flatMap(Checkpoints.rddsOf),
      (shRows, idxRows, absVec.map(_._2)))
  }

  /** `df` checkpointed eagerly (`localCheckpoint`), with its row count
    * taken by an Observation that rides the checkpoint job — no count
    * job afterwards. */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val staged = df.observe(obs, count(lit(1)).as("rows")).localCheckpoint(true)
    (staged, obs.get("rows").asInstanceOf[Long])
  }

  /** [[build]] for a (re)starting stream: heal any interrupted swap under
    * `output`, then fold the `batch=<id>` directories a previous
    * incarnation published into the absorbed side — those docs are
    * curated output and must gate later batches exactly like the corpus;
    * their batch ids are recorded so a replayed batch is recognized.
    *
    * Batches the compaction manifest marks as already folded into the
    * at-rest tables ([[compactState]]) are SKIPPED — their rows arrive
    * through `baseIndex`/`baseShingles`/`baseVecIndex`, so restart cost
    * is O(un-compacted tail), not O(all accepted history). The skip only
    * applies when every configured gate side actually loads its table
    * (text: index + shingles; vectors, if configured: the vector index):
    * with any side rebuilt in-session from `corpus`, the compacted docs
    * would exist nowhere on that side and near-dups of them would slip
    * through — so the manifest is ignored and everything re-folds
    * (correct, merely slow). The tables passed must be the ones
    * compaction appended to — the manifest describes them.
    *
    * One definition shared by the main and the specs, so the restart
    * semantics cannot drift between them. */
  def resume(spark: SparkSession, corpus: DataFrame,
      output: String,
      vectors: Option[(DataFrame, Double)] = None,
      baseIndex: Option[DataFrame] = None,
      baseShingles: Option[DataFrame] = None,
      baseVecIndex: Option[DataFrame] = None,
      persistVectors: Boolean = true): GateState = {
    Warehouse.recover(spark, output)
    val dirs = publishedBatchDirs(spark, output)
    val tablesCover = baseIndex.nonEmpty && baseShingles.nonEmpty &&
      (vectors.isEmpty || baseVecIndex.nonEmpty)
    val compacted =
      if (tablesCover) compactedBatchIds(spark, output) else Set.empty[Long]
    val tail = dirs.filterNot { case (id, _) => compacted(id) }
    // a published batch whose docs were ALL purged ([[purgeDocs]] before
    // the next compaction — erasure requests arrive whenever they like)
    // leaves its `batch=<id>` dir EMPTY of data files: valid no-row
    // history, nothing to re-fold — not a schema-inference crash on
    // restart (found by GateVolumeSpec's emptied-batch stage). Its id
    // still counts as published (replay identity must keep recognizing
    // the batch), it just contributes no rows to the absorbed side.
    val fs = new Path(output)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val readable = tail.filter { case (_, p) =>
      Warehouse.dirHasVisibleData(fs, p) }
    val published =
      if (readable.isEmpty) None
      else Some(spark.read.parquet(readable.map(_._2.toString): _*)
        .select("doc_id", "text"))
    build(corpus, published, dirs.map(_._1).toSet, vectors,
      baseIndex, baseShingles, baseVecIndex, persistVectors)
  }

  /** The incremental compaction job between corpus re-curations: append
    * the band/shingle/vector-band rows of every published-but-uncompacted
    * `batch=<id>` directory into the at-rest gate tables, then record the
    * batch ids in the manifest — after which [[resume]] re-arms the gate
    * from the tables alone and re-folds only batches published since.
    * Runs offline (the stream down or between its batches' publishes);
    * cost is O(un-compacted tail) plus one columnar scan of each table
    * for the idempotence check below. Returns the number of batches
    * folded.
    *
    * Crash safety: each table append is guarded by an anti-join of the
    * tail's doc ids against the ids already in that table, so a rerun
    * after a crash between an append and the manifest publish appends
    * nothing twice — per table, because a crash can leave the tables
    * unequally advanced. The manifest itself publishes last, via the
    * crash-safe directory swap. A batch id already in the manifest is
    * not re-read at all, so a replayed/rerun compaction never
    * double-folds.
    *
    * `vectors` must cover the tail batches' doc ids (the same
    * (vec_id, e, nrm) source the gate runs with); the vec_id-bucketed
    * vectors TABLE is not appended to here — it is maintained upstream,
    * since it must already cover a doc before the gate can verify it.
    * That coverage contract is CHECKED, not assumed: a tail doc with no
    * vectors row compacts with no vector-index row, and after the next
    * [[resume]] (which trusts the manifest and skips the batch) it is
    * unguarded on the vector side for good — a silent narrowing of the
    * gate. Uncovered ids are counted and logged as an error with
    * samples; with `requireVectorCoverage = true` the compaction fails
    * instead of proceeding. The default reports rather than fails
    * because an embedding-less doc can be LEGITIMATE — [[vectorGate]]
    * passes such docs untouched, so compacting one adds no exposure the
    * running gate didn't already accept; only the operator can tell a
    * legitimately-unembedded doc from a misconfigured (stale, wrong)
    * vectors source, and the loud count is what lets them.
    * `numBuckets` must match the tables' bucket count (Spark fails
    * loudly on a mismatch). At the next corpus re-curation the tables
    * are rebuilt from the published corpus and the batch dirs retire —
    * retire the manifest with them. */
  def compactState(spark: SparkSession, output: String,
      indexTable: String, shinglesTable: String,
      vectorIndexTable: Option[String] = None,
      vectors: Option[DataFrame] = None,
      numBuckets: Int = 32,
      requireVectorCoverage: Boolean = false): Int = {
    require(vectorIndexTable.isEmpty || vectors.nonEmpty,
      "vectorIndexTable was given without vectors to band-hash")
    Warehouse.recover(spark, output)
    val compacted = compactedBatchIds(spark, output)
    val tail = publishedBatchDirs(spark, output)
      .filterNot { case (id, _) => compacted(id) }
    // an all-purged tail batch's dir holds zero data files ([[resume]]'s
    // emptied-batch rule, same discovery): fold it as the no-row batch it
    // is — its id goes into the manifest (so restarts stop re-reading the
    // empty dir forever) but it cannot be read for schema, let alone rows
    val fs = new Path(output)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val readable = tail.filter { case (_, p) =>
      Warehouse.dirHasVisibleData(fs, p) }
    if (tail.isEmpty) 0
    else if (readable.isEmpty) {
      // nothing to append anywhere — just mark the emptied batches
      import spark.implicits._
      Warehouse.replaceDir(
        (compacted ++ tail.map(_._1)).toSeq.sorted.toDF("batch"),
        manifestDir(output))
      tail.size
    }
    else {
      val docs = spark.read.parquet(readable.map(_._2.toString): _*)
        .select("doc_id", "text")
      val tailIds = docs.select("doc_id").distinct()
      // ids of the tail NOT yet in `table` — the per-table idempotence
      // guard (one scan of the table, shuffle only of the tiny id sets)
      def freshIds(table: String, idCol: String): DataFrame =
        tailIds.join(
          spark.table(table).select(col(idCol).as("doc_id")),
          Seq("doc_id"), "left_anti")
      val shDocs = docs.join(
        freshIds(shinglesTable, "doc_id"), Seq("doc_id"), "left_semi")
      Warehouse.appendBucketedBy(DedupOps.shingledOf(shDocs),
        shinglesTable, Seq("doc_id"), numBuckets)
      val idxDocs = docs.join(
        freshIds(indexTable, "corpus_id"), Seq("doc_id"), "left_semi")
      Warehouse.appendBucketedBy(
        DedupOps.corpusBandIndex(DedupOps.shingledOf(idxDocs)),
        indexTable, Seq("b", "v"), numBuckets)
      vectorIndexTable.foreach { vt =>
        // the coverage check the scaladoc promises: uncovered = tail ids
        // with no vectors row. One tiny-id-set anti-join; the sample cap
        // keeps the driver collect bounded however bad the misconfig is.
        val uncovered = tailIds.join(
          vectors.get.select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        val sample = uncovered.select("doc_id").limit(11)
          .collect().map(_.getLong(0))
        if (sample.nonEmpty) {
          val n = uncovered.count()
          val shown = sample.take(10).mkString(", ") +
            (if (sample.length > 10) ", …" else "")
          val msg = s"gate compaction: $n tail doc(s) have no row in the " +
            s"vectors source (sample: $shown) — they will compact with NO " +
            "vector-index row and, once the manifest marks their batch, " +
            "stay unguarded on the vector side until the next re-curation. " +
            "Legitimate only if these docs never had embeddings; a stale " +
            "or wrong vectors source looks exactly like this."
          if (requireVectorCoverage) throw new IllegalStateException(msg)
          log.error(msg)
        }
        val tailVecs = vectors.get
          .join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          .join(spark.table(vt).select(col("corpus_id").as("vec_id")),
            Seq("vec_id"), "left_anti")
        Warehouse.appendBucketedBy(VectorOps.vectorBandIndex(tailVecs),
          vt, Seq("b", "v"), numBuckets)
      }
      import spark.implicits._
      Warehouse.replaceDir(
        (compacted ++ tail.map(_._1)).toSeq.sorted.toDF("batch"),
        manifestDir(output))
      tail.size
    }
  }

  /** Erasure for the gate's DERIVED state — what makes
    * [[graft.sources.Warehouse.deleteWhere]] on the corpus an actual
    * right-to-be-forgotten delete instead of a cosmetic one. The gate's
    * at-rest tables store each document in derived-but-reconstructible
    * form: the shingles table holds its raw overlapping word n-grams
    * (the text, re-readable), the band-index and vector-index tables its
    * signatures, the vectors table its embedding — and the stream's
    * published `batch=<id>` directories hold the full text verbatim.
    * Deleting the corpus row alone leaves all of that on disk until the
    * next full re-curation. This helper rewrites the doc's rows out of
    * every named store, [[graft.sources.Warehouse.deleteWhere]]-style
    * (file-granularity, crash-safe, rewrites only hit files): on the
    * doc_id-bucketed shingles/vectors tables that is O(1) files per doc;
    * on the (b, v)-bucketed index tables, O(bands) files.
    *
    * Pass every store the deployment actually maintains — a store left
    * unnamed is a store left unscrubbed (the require below only stops
    * the all-empty no-op call). `output` additionally scrubs the
    * published batch directories (one pruned scan per directory; batch
    * dirs are micro-batch sized) AND the per-batch quarantine dirs —
    * a quarantined line that parsed as valid JSON with a null required
    * field carries a live doc_id and the doc's verbatim text, so the
    * purge re-parses each line and deletes the addressable ones (see
    * the quarantine block below). The compaction manifest needs no
    * rewrite: it holds batch ids, not document data, and [[resume]]
    * correctly skips a compacted batch whose purged doc now exists
    * nowhere — which is exactly the post-purge contract: the gate no
    * longer remembers the doc, and a near-identical re-submission is
    * ACCEPTED (CorpusStreamMainSpec pins it).
    *
    * Idempotent: a rerun finds no matching rows and rewrites nothing
    * (every entry reports (0, 0)). Same single-maintenance-writer
    * assumption as deleteWhere/compactState — run it with the stream
    * down or between batch publishes. Returns per-store
    * (filesRewritten, rowsDeleted). The BATCH pipeline's published
    * estate (corpus + text-bearing side outputs + audits) is the other
    * half of a complete erasure:
    * [[graft.corpus.CorpusMain.purgeCurated]]. */
  def purgeDocs(spark: SparkSession, ids: Seq[Long],
      indexTable: Option[String] = None,
      shinglesTable: Option[String] = None,
      vectorIndexTable: Option[String] = None,
      vectorsTable: Option[String] = None,
      output: Option[String] = None,
      maxConcurrentFiles: Int = 8): Map[String, (Int, Long)] = {
    require(ids.nonEmpty, "need at least one doc id to purge")
    require(indexTable.nonEmpty || shinglesTable.nonEmpty ||
      vectorIndexTable.nonEmpty || vectorsTable.nonEmpty || output.nonEmpty,
      "nothing to purge: name at least one gate table or the stream output")
    val idList = ids.distinct
    def purgeTable(t: String, idCol: String): (String, (Int, Long)) = {
      val loc = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
        .location.toString
      val r = Warehouse.deleteWhere(spark, loc,
        col(idCol).isin(idList.map(Long.box): _*), maxConcurrentFiles)
      // the rewrite happened under the catalog's feet — drop its cached
      // file listing so the next read sees the purged files
      spark.catalog.refreshTable(t)
      t -> r
    }
    val tables =
      shinglesTable.map(purgeTable(_, "doc_id")).toSeq ++
        indexTable.map(purgeTable(_, "corpus_id")) ++
        vectorIndexTable.map(purgeTable(_, "corpus_id")) ++
        vectorsTable.map(purgeTable(_, "vec_id"))
    val batches = output.toSeq.flatMap { out =>
      publishedBatchDirs(spark, out).map { case (id, p) =>
        s"batch=$id" -> Warehouse.deleteWhere(spark, p.toString,
          col("doc_id").isin(idList.map(Long.box): _*), maxConcurrentFiles)
      }
    }
    // the stream's per-batch quarantine dirs (`quarantine/batch=<id>`,
    // columns (line, file)) hold raw JSONL lines — including VALID JSON
    // quarantined only for a null in some other required column, which
    // carries a live doc_id and the doc's verbatim text. Address them by
    // re-parsing the line with the ingest's own parse projected to the
    // id field ([[graft.sources.Jsonl.lineIdIn]] — the full ingest
    // schema is corpus-derived at gate startup and not recorded here,
    // but the id projection is its invariant part, and from_json field
    // projection is the same parse). Malformed / id-less lines evaluate
    // FALSE (never null) and survive — the honest limit of id-keyed
    // erasure. One deleteWhere over the quarantine root sweeps every
    // batch= partition at file granularity.
    val quarantine = output.toSeq.flatMap { out =>
      val q = new Path(s"$out/quarantine")
      val fs = q.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(q)) None
      else Some("quarantine" -> Warehouse.deleteWhere(spark, q.toString,
        graft.sources.Jsonl.lineIdIn(col("line"),
          graft.sources.Jsonl.idProjection("doc_id"), "doc_id", idList),
        maxConcurrentFiles))
    }
    // deleteWhere refreshed each batch dir it rewrote, but a reader this
    // session cached over the OUTPUT ROOT — the natural way to read a
    // `batch=N`-partitioned estate — is rooted at the PARENT, which a
    // child-path refresh never matches (recacheByPath matches caches
    // rooted AT or UNDER the refreshed path, not above it): it would keep
    // serving the erased rows for the rest of the session, and substitute
    // them into every fresh root read too — for a GDPR delete, the r17
    // worst-staleness rule one directory level up (found by
    // GateVolumeSpec's cached-root erasure stage). One root refresh
    // covers the root and every batch/quarantine cache beneath it; cache
    // invalidation only, no filesystem I/O.
    output.foreach(out => spark.catalog.refreshByPath(out))
    (tables ++ batches ++ quarantine).toMap
  }

  /** Batch ids already folded into the at-rest tables — the compaction
    * manifest, a tiny one-column parquet published crash-safely under the
    * stream output root (underscore-prefixed: invisible to parquet
    * readers of the batch dirs). */
  def compactedBatchIds(spark: SparkSession, output: String): Set[Long] = {
    val p = new Path(manifestDir(output))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else spark.read.parquet(manifestDir(output))
      .select("batch").collect().map(_.getLong(0)).toSet
  }

  private def manifestDir(output: String): String = s"$output/_gate_compacted"

  /** The `batch=<id>` directories under `output`, via the Hadoop
    * FileSystem of the path — NOT java.io.File, which on any non-local
    * store (HDFS/S3) would list nothing and silently rebuild an empty
    * absorbed gate. */
  private def publishedBatchDirs(spark: SparkSession,
      output: String): Seq[(Long, Path)] = {
    val target = new Path(output)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) Seq.empty
    else fs.listStatus(target).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(st => (st.getPath.getName.stripPrefix("batch=").toLong, st.getPath))
  }
}
