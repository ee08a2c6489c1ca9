package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Checkpoints, VectorSim}
import graft.queries.{DedupOps, TextOps, VectorOps}
import graft.sources.{Jsonl, Warehouse}

/** The corpus-ingest gate as a running stream: every arriving crawl batch
  * is mixed (domain-reweighted), gated against everything already curated
  * — the static corpus AND every doc this stream previously accepted
  * ([[GateState]]) — self-deduped within the batch, optionally gated in
  * embedding space too, stamped with its deterministic split, and
  * appended — the always-on front door whose offline twin is
  * [[CorpusMain]].
  *
  * Shape: `foreachBatch`, the Spark-native way to run an ingest pipeline
  * whose per-document logic is pure batch semantics. Each micro-batch is
  * curated by the SAME oracle-checked operators the batch pipeline uses
  * (q52 mixFilter -> q51 decontamination -> q48 gate -> q31+q38
  * intra-batch dedup -> q49 splitColumn — composition, zero forked
  * logic, so stream and batch curation cannot drift), then published
  * under `batch=<id>/` via the crash-safe directory swap: a replayed
  * micro-batch (failure before the checkpoint commit) REPLACES its own
  * directory instead of appending duplicates, which is what turns the
  * sink's at-least-once replay into exactly-once output.
  *
  * Duplicate coverage — the three ways a near-dup can arrive, and where
  * each is caught:
  *   1. vs the curated corpus: the band-index gate (stream-static probe
  *      against [[GateState]]'s base index);
  *   2. vs a doc accepted in an EARLIER batch: the same probe — accepted
  *      batches are folded into the index per batch ([[GateState.absorb]]);
  *   3. vs a doc in the SAME batch (burst duplicates): the intra-batch
  *      pair pass + components collapse inside [[curateBatch]].
  * Canonical choice is arrival-order across batches (what is published
  * cannot be unpublished) and min-doc_id within a batch — the batch twin,
  * which sees the whole crawl at once, uses min-doc_id throughout.
  *
  * Statelessness of the in-plan gate (no watermark, no state store) is
  * pinned by DedupOpsSpec (the near-dup gate) and TextOpsSpec (mixFilter +
  * hashSplit); this main adds the end-to-end composition + exactly-once
  * publish, pinned by CorpusStreamMainSpec.
  *
  * Deliberately absent: the batch twin's per-domain quota (`--quota`)
  * and token budget (`--token-budget`). A per-BATCH cap is not a global
  * cap — early batches would fill every domain's quota (or token
  * budget) and later, better documents could never displace them
  * (published batches are immutable). Both caps belong to the periodic
  * batch re-curation over the whole corpus, not the ingest gate.
  * Also deliberately absent: URL-keyed dedup (`--url-dedup`). At the
  * gate, a re-crawl with UNCHANGED content is already caught by the
  * text probe, and a re-crawl whose content CHANGED is new material
  * that should pass — dropping it on the URL key would freeze every
  * page at its first crawl. URL-keyed dedup therefore belongs to the
  * batch re-curation, where `--keep-best` can rank the fetches of one
  * canonical URL and keep the best (or newest) rather than the first
  * to arrive.
  */
object CorpusStreamMain {

  private val log =
    org.slf4j.LoggerFactory.getLogger(CorpusStreamMain.getClass)

  /** One micro-batch's curation — pure batch logic, shared verbatim with
    * the spec's batch-equality oracle. `corpusSh` is the shingled curated
    * side (verification join); `corpusIndex` is the prebuilt band index
    * to probe (the default rebuilds it from `corpusSh` — small/batch
    * use); `benchSet` is the optional prebuilt
    * [[DedupOps.benchShingleSet]] — docs overlapping it at or above
    * `minHits` shingles are dropped on arrival (the same q51
    * decontamination the batch pipeline applies offline; eval sets are
    * small, so the stage is the broadcast semi-join contamination's
    * scaladoc prescribes — `broadcastBench = false` is the hard-promise
    * escape hatch for a set past the broadcast limit).
    *
    * After the corpus gate, the batch is deduped against ITSELF: the
    * q31 pair pass over the survivors + the components collapse
    * ([[DedupOps.dedupeCorpus]]), so two near-identical docs arriving
    * together admit exactly one — the corpus index knows neither, so no
    * corpus-side probe can catch them. Batch pairs are few, so the pass
    * adds a handful of small jobs per batch, not a shuffle of anything
    * corpus-sized.
    *
    * Staging: the docs left after decontamination, the semantic drop and
    * the corpus probe are checkpointed once together with their shingles
    * (`localCheckpoint`, as [[GateState]] stages its accumulators). The
    * pair pass and the returned frame both read that staged frame, so the
    * probe runs once per batch; the pair pass's band table is released
    * before this returns. The returned frame reads two batch-sized local
    * checkpoints and nothing else — the staged survivors and the
    * component labels — so [[publishBatch]] writes staged rows minus the
    * (broadcast) drop set. Those blocks belong to the caller: [[start]]
    * releases them (`Checkpoints.rddsOf` of this frame) once the batch is
    * published and absorbed; a caller that simply drops the frame leaves
    * them to Spark's ContextCleaner. */
  def curateBatch(batch: DataFrame, corpusSh: DataFrame,
      mixRates: Seq[(String, String)] = Seq.empty,
      mixDefault: String = "ff",
      benchSet: Option[DataFrame] = None,
      minHits: Long = 1L,
      broadcastBench: Boolean = true,
      corpusIndex: Option[DataFrame] = None,
      normalize: Boolean = false,
      semanticDrop: Option[DataFrame => DataFrame] = None): DataFrame = {
    // same guards as the batch twin (CorpusMain.runWith): a threshold
    // without its stage must fail loudly, programmatically too
    require(minHits >= 1, s"min-hits must be >= 1, got $minHits")
    require(minHits == 1L || benchSet.nonEmpty,
      s"minHits=$minHits was given without a benchSet to threshold")
    val raw0 =
      if (mixRates.isEmpty && mixDefault == "ff") batch
      else TextOps.mixFilter(batch, mixRates, mixDefault)
    // normalization parity with the batch twin: a corpus published under
    // CorpusMain --normalize holds CLEAN text, so an arriving whitespace
    // variant of a curated page only collides with the gate's index if
    // the batch is normalized the same way BEFORE shingling — an
    // un-normalized gate over a normalized corpus is a duplicate leak.
    // (Same Column, so the two sides cannot drift.)
    val mixed = if (!normalize) raw0 else {
      val n = raw0.withColumn("text", TextOps.normalizedCol(col("text")))
      if (n.columns.contains("n_chars")) n.withColumn("n_chars", length(col("text")))
      else n
    }
    // every stage below carries each doc beside its shingles (`sh`, null
    // under the n-gram length): the shingle pass runs once per doc, and
    // the drops are anti-joins on the one frame
    val mixedSh = DedupOps.withShingles(mixed)
    val decontaminated = benchSet match {
      case Some(b) =>
        val hot = DedupOps.contaminationAgainstSet(DedupOps.shinglesIn(mixedSh), b,
            broadcastBench)
          .filter(col("n_hits") >= minHits).select("doc_id")
        mixedSh.join(hot, Seq("doc_id"), "left_anti")
      case None => mixedSh
    }
    // SEMANTIC decontamination directly after the shingle pass — the
    // batch twin's exact placement (CorpusMain: shingle decontam ->
    // semantic decontam -> dedup), and the placement matters for more
    // than symmetry: run any LATER and an eval paraphrase could first
    // WIN an intra-batch near-dup collapse (dropping an innocent text
    // twin that is semantically clean) and then be dropped itself —
    // losing both docs where the batch twin publishes the innocent one.
    val sdocs = semanticDrop.fold(decontaminated)(flaggedOf =>
      decontaminated.join(flaggedOf(decontaminated), Seq("doc_id"), "left_anti"))
    // the gate emits verified (doc, corpus_doc) pairs; a doc matching
    // SEVERAL corpus docs must still drop exactly once, so the anti-join
    // keys on the distinct flagged ids. The corpus band index — the
    // 8-hash signature fold over the ENTIRE corpus — is the dominant
    // repeated cost of an always-on gate, so a caller passes the prebuilt
    // persisted one; the default rebuilds it (small/batch use).
    val flagged = DedupOps
      .nearDupAgainstIndex(DedupOps.shinglesIn(sdocs),
        corpusIndex.getOrElse(DedupOps.corpusBandIndex(corpusSh)), corpusSh)
      .select(col("doc_id")).distinct()
    // the survivors are staged ONCE: the intra-batch pair pass reads
    // them twice (band table + verify side) and the publish once more,
    // and each read would otherwise re-run the scan, decontamination
    // and corpus probe above
    val staged = sdocs.join(flagged, Seq("doc_id"), "left_anti").localCheckpoint(true)
    // intra-batch self-dedup: same pair producer + same collapse
    // (min-doc_id canonical, DedupOps.dedupeCorpus) as the batch twin's
    // corpus-wide pass, restricted to this batch. The pair pass persists
    // its band table; the labels are checkpointed when components
    // returns, so the table is released here — the gate never clears the
    // session's cache, and a table per batch would pile up forever.
    val (pairs, bands) = DedupOps.minhashNearDupWithBands(DedupOps.shinglesIn(staged))
    val drop =
      try DedupOps.components(pairs.select(col("doc_a"), col("doc_b")))
        .filter(col("doc_id") =!= col("label")).select(col("doc_id"))
      finally { bands.unpersist(); () }
    // the drop set holds batch docs only, so it broadcasts
    staged.drop("sh").join(broadcast(drop), Seq("doc_id"), "left_anti")
      .withColumn("split", TextOps.splitColumn(col("doc_id")))
  }

  /** Idempotent per-batch publish: `batch=<id>` is swapped whole, so a
    * replay of the same micro-batch id replaces its own output. The swap
    * refreshes caches over the batch dir; the extra refresh here covers
    * readers cached over the OUTPUT ROOT (the `batch=N`-partitioned
    * estate a consumer naturally reads whole), which a child-path
    * refresh never matches — without it a root-cached reader would hide
    * every batch published after it was cached, AND a replayed batch's
    * REPLACED rows would keep serving stale (GateState.purgeDocs makes
    * the same move for erasure, where the stakes are GDPR-grade). Cache
    * invalidation only — no I/O, no-op when nothing is cached. */
  def publishBatch(curated: DataFrame, output: String, batchId: Long): Unit = {
    Warehouse.replaceDir(curated, s"$output/batch=$batchId")
    curated.sparkSession.catalog.refreshByPath(output)
  }

  /** Wire a (streaming) crawl frame through the gate and start the query.
    * `decode` turns a raw micro-batch into document rows (the jsonl path:
    * channel split + per-batch quarantine publish); identity for an
    * already-document-shaped stream. Per batch: decode -> curate against
    * `state` (text gate + intra-batch dedup + optional vector gate) ->
    * publish -> fold the published docs back into `state` so the NEXT
    * batch is gated against them. */
  def start(incoming: DataFrame, state: GateState, output: String,
      checkpoint: String, mixRates: Seq[(String, String)] = Seq.empty,
      mixDefault: String = "ff", benchSet: Option[DataFrame] = None,
      minHits: Long = 1L, broadcastBench: Boolean = true,
      decode: Option[(DataFrame, Long) => DataFrame] = None,
      normalize: Boolean = false,
      semanticBench: Option[DataFrame] = None,
      semanticThreshold: Double = 0.3): StreamingQuery = {
    // the semantic gate probes the BATCH docs' embeddings — without a
    // vector side there is nothing to probe with (CorpusMain's rule)
    require(semanticBench.isEmpty || state.hasVectors,
      "semanticBench was given without a vector side to probe with")
    // CorpusMain.runWith's range guard, mirrored: a mistyped threshold
    // (3, 30, ...) in the ALWAYS-ON gate would silently disable semantic
    // decontamination — no cosine ever clears it, and eval leakage
    // publishes unchecked for the gate's whole lifetime
    require(semanticThreshold > -1 && semanticThreshold <= 1,
      s"semantic-threshold must sit in (-1, 1], got $semanticThreshold")
    // the benchmark is FIXED for the gate's lifetime (a benchmark never
    // absorbs batches), so its prepped rows AND its band index persist
    // once out here — DataFrames are lazy, so without the persist every
    // micro-batch would re-scan the bench parquet and re-fold the
    // signatures forever (the benchSet persist's rationale, vector side).
    // Unlike vectorGate, this transform carries no per-batch state and
    // no replay asymmetry: pure stateless decontamination, q111 per
    // batch, applied INSIDE curateBatch at the batch twin's exact
    // position (after the shingle pass, before any dedup).
    val semBench = semanticBench.map(_.persist())
    val semIdx = semBench.map(b => VectorOps.vectorBandIndex(b).persist())
    val semanticDrop = semBench.map { bench => (docs: DataFrame) =>
      val incVecs = state.vectorsSource.get.join(
        docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      // a batch doc with NO vectors row — or a ZERO-NORM one (the probe
      // filters nrm > 0, so a zero vector never reaches the band join)
      // — cannot be probed: for DECONTAMINATION a silent skip means eval
      // leakage publishes (a stale embedding pipeline looks exactly like
      // a missing row; a broken all-zeros one exactly like a zero norm),
      // so both gaps are reported loudly per batch — compactState's
      // coverage rule
      val uncovered = docs.select(col("doc_id"))
        .join(state.vectorsSource.get.filter(col("nrm") > 0)
          .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
      val sample = uncovered.limit(11).collect().map(_.getLong(0))
      if (sample.nonEmpty) {
        val shown = sample.take(10).mkString(", ") +
          (if (sample.length > 10) ", …" else "")
        log.error(s"semantic gate: batch doc(s) with no vectors row (or " +
          s"a zero-norm embedding) pass UNPROBED (sample: $shown) — " +
          "benchmark leakage among them publishes unchecked. Legitimate " +
          "only if these docs never had embeddings; a stale or lagging " +
          "vectors source (missing rows) or a broken embedding pipeline " +
          "(all-zero vectors) looks exactly like this.")
      }
      VectorOps.lshNearDupAgainstIndex(incVecs, semIdx.get, bench,
          semanticThreshold)
        .select(col("vec_id").as("doc_id")).distinct()
    }
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val docs = decode.fold(b)(d => d(b, id))
        val ids = docs.select("doc_id")
        val textCurated = curateBatch(docs, state.corpusSh, mixRates, mixDefault,
          benchSet, minHits, broadcastBench,
          corpusIndex = Some(state.probeIdx(ids, id)),
          normalize = normalize, semanticDrop = semanticDrop)
        publishBatch(state.vectorGate(textCurated, ids, id), output, id)
        // absorb from the PUBLISHED directory — the on-disk truth, which
        // also severs lineage back to the stream source
        state.absorb(id, b.sparkSession.read
          .parquet(s"$output/batch=$id").select("doc_id", "text"))
        // the batch is on disk and folded in: curateBatch's staging is
        // dead weight now
        Checkpoints.rddsOf(textCurated).foreach(_.unpersist(false))
      }
      .start()
  }

  /** The jsonl `decode` step for [[start]]: split one micro-batch of raw
    * (`_line`, `_file`) rows into clean document rows and quarantine
    * ([[Jsonl.channels]] — same parse, same rules as the batch read), and
    * publish the batch's broken lines to their own
    * `quarantine/batch=<id>` dir via the same crash-safe swap the corpus
    * uses — so quarantine is exactly-once under replay just like the
    * corpus. The extra refresh makes the quarantine estate
    * SELF-coherent for readers cached over `quarantine/` whole (the
    * natural audit read, and the read erasure parses quarantined lines
    * from) — [[publishBatch]]'s output-root refresh later in the same
    * micro-batch happens to cover it today, but leaving the estate's
    * coherence to another publisher's refresh ORDER is the exact
    * coupling the r19 gate rehearsal's purge bug grew from. Cache
    * invalidation only — no I/O, no-op when nothing is cached. */
  def jsonlDecode(output: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, Long) => DataFrame =
    (b: DataFrame, id: Long) => {
      val (good, bad) = Jsonl.channels(b, schema)
      Warehouse.replaceDir(bad, s"$output/quarantine/batch=$id")
      bad.sparkSession.catalog.refreshByPath(s"$output/quarantine")
      good
    }

  /** Bookkeeping columns the BATCH pipeline appends on publish — never
    * part of a crawl delivery, so they must not leak into the ingest
    * schema when `--corpus` points at CorpusMain's own published output
    * (the intended pairing): locking the stream to the full published
    * schema would materialize them as always-null columns that read as
    * real pack/split metadata downstream. */
  private val PublishBookkeeping = Set("n_tokens", "offset", "bin", "bucket", "split")

  def main(argv: Array[String]): Unit = {
    val usage = "usage: graft.corpus.CorpusStreamMain --input <stream-dir> " +
      "--corpus <parquet> --output <dir> --checkpoint <dir> " +
      "[--mix src0:ff,src1:7f] [--mix-default <hex-pair>] " +
      "[--bench <parquet>] [--min-hits N] [--broadcast-bench true|false] " +
      "[--recursive true|false] [--format parquet|jsonl] " +
      "[--embeddings <parquet> | --vectors-table <table>] [--cos-threshold D] " +
      "[--index-table <table>] [--shingles-table <table>] " +
      "[--vector-index-table <table>] [--max-files-per-trigger N] " +
      "[--normalize true|false] " +
      "[--semantic-bench <parquet>] [--semantic-threshold D]\n" +
      "   or: graft.corpus.CorpusStreamMain --compact-state true " +
      "--output <dir> --index-table <table> --shingles-table <table> " +
      "[--vector-index-table <table> " +
      "--embeddings <parquet> | --vectors-table <table>] " +
      "[--require-vector-coverage true|false]\n" +
      "   or: graft.corpus.CorpusStreamMain --purge-docs id0,id1,... " +
      "--output <dir> [--index-table <table>] [--shingles-table <table>] " +
      "[--vector-index-table <table>] [--vectors-table <table>]"
    val args = Cli.parseArgs(argv,
      allowed = Set("input", "corpus", "output", "checkpoint", "mix",
        "mix-default", "bench", "min-hits", "broadcast-bench", "recursive",
        "format", "embeddings", "cos-threshold", "index-table",
        "shingles-table", "vector-index-table", "vectors-table",
        "max-files-per-trigger", "compact-state", "normalize",
        "require-vector-coverage", "purge-docs",
        "semantic-bench", "semantic-threshold"),
      required = Set("output"),
      usage = usage)
    // --purge-docs is the erasure maintenance run: scrub the named docs
    // out of the at-rest gate tables and the published batch dirs
    // (GateState.purgeDocs) — the composition that makes a corpus
    // deleteWhere an actual erasure. Offline like --compact-state.
    args.get("purge-docs").foreach { rawIds =>
      val streamOnly = Seq("input", "corpus", "checkpoint", "mix",
        "mix-default", "bench", "min-hits", "broadcast-bench", "recursive",
        "format", "embeddings", "cos-threshold", "max-files-per-trigger",
        "normalize", "compact-state", "require-vector-coverage",
        "semantic-bench", "semantic-threshold")
      for (f <- streamOnly if args.contains(f)) {
        System.err.println(s"--$f is meaningless with --purge-docs")
        sys.exit(2)
      }
      val ids = try rawIds.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong)
      catch { case _: NumberFormatException =>
        System.err.println(s"--purge-docs wants comma-separated doc ids, got '$rawIds'")
        sys.exit(2); Seq.empty[Long]
      }
      if (ids.isEmpty) {
        System.err.println("--purge-docs wants at least one doc id")
        sys.exit(2)
      }
      val spark = graft.Sessions.local("graft-gate-purge")
      try {
        val report = GateState.purgeDocs(spark, ids,
          args.get("index-table"), args.get("shingles-table"),
          args.get("vector-index-table"), args.get("vectors-table"),
          output = Some(args("output")))
        report.toSeq.sortBy(_._1).foreach { case (store, (files, rows)) =>
          System.err.println(s"[purge-docs] $store: $rows row(s) across $files file(s)")
        }
      } finally spark.stop()
      return
    }
    val compactMode = Cli.toBoolean(args, "compact-state", usage).getOrElse(false)
    // --compact-state is an offline maintenance run over the published
    // batch dirs and the at-rest tables: every streaming-only flag is
    // meaningless there and rejected (the orphan-flag rule), and the
    // required set changes — the tables ARE the target.
    if (compactMode) {
      val streamOnly = Seq("input", "corpus", "checkpoint", "mix",
        "mix-default", "bench", "min-hits", "broadcast-bench", "recursive",
        "format", "cos-threshold", "max-files-per-trigger", "normalize",
        "semantic-bench", "semantic-threshold")
      for (f <- streamOnly if args.contains(f)) {
        System.err.println(s"--$f is a streaming flag: meaningless with --compact-state")
        sys.exit(2)
      }
      for (f <- Seq("index-table", "shingles-table") if !args.contains(f)) {
        System.err.println(s"--compact-state needs --$f (the table to fold into)")
        sys.exit(2)
      }
      if (args.contains("vector-index-table") &&
          !args.contains("embeddings") && !args.contains("vectors-table")) {
        System.err.println("--vector-index-table needs the vectors " +
          "(--embeddings or --vectors-table) to band-hash the tail batches")
        sys.exit(2)
      }
      if (args.contains("require-vector-coverage") &&
          !args.contains("vector-index-table")) {
        System.err.println("--require-vector-coverage is meaningless " +
          "without --vector-index-table (no vector side to cover)")
        sys.exit(2)
      }
      val spark = graft.Sessions.local("graft-gate-compact")
      try {
        val vectors = args.get("embeddings")
          .map(p => VectorSim.prepped(spark.read.parquet(p)))
          .orElse(args.get("vectors-table").map(spark.table))
        val n = GateState.compactState(spark, args("output"),
          args("index-table"), args("shingles-table"),
          args.get("vector-index-table"), vectors,
          requireVectorCoverage = Cli.toBoolean(args,
            "require-vector-coverage", usage).getOrElse(false))
        System.err.println(s"[compact-state] folded $n batch(es) into the at-rest gate tables")
      } finally spark.stop()
      return
    }
    for (f <- Seq("input", "corpus", "checkpoint") if !args.contains(f)) {
      System.err.println(usage)
      sys.exit(2)
    }
    // same orphan-flag rule as CorpusMain: a flag without its stage
    // would be silently ignored. The vector stage has two sources
    // (raw parquet to prep and persist, or the prepped at-rest table) —
    // exactly one may be given.
    if (args.contains("embeddings") && args.contains("vectors-table")) {
      System.err.println(
        "--embeddings and --vectors-table both name the vector side: pass one")
      sys.exit(2)
    }
    val hasVectorSide = args.contains("embeddings") || args.contains("vectors-table")
    for (orphan <- Seq("cos-threshold", "vector-index-table", "semantic-bench"))
      if (args.contains(orphan) && !hasVectorSide) {
        System.err.println(
          s"--$orphan was given without --embeddings/--vectors-table: it would be silently ignored")
        sys.exit(2)
      }
    for (orphan <- Seq("min-hits" -> "bench", "broadcast-bench" -> "bench",
        "semantic-threshold" -> "semantic-bench"))
      if (args.contains(orphan._1) && !args.contains(orphan._2)) {
        System.err.println(
          s"--${orphan._1} was given without --${orphan._2}: it would be silently ignored")
        sys.exit(2)
      }
    val rates = args.get("mix").map(Cli.parseMix).getOrElse(Seq.empty)
    // typed conversions before the session spins up (usage errors exit 2
    // with the usage line, not a stack trace)
    val minHits = Cli.toLong(args, "min-hits", usage).getOrElse(1L)
    val broadcastBench = Cli.toBoolean(args, "broadcast-bench", usage).getOrElse(true)
    // --recursive (default true): a crawl delivery is usually a
    // DIRECTORY (the only thing a Spark writer can produce), and
    // without recursive lookup every directory-shaped delivery is
    // silently invisible forever. The trade: recursive lookup disables
    // partition-DIRECTORY inference, so a producer who encodes a column
    // in `key=value/` directory names (write.partitionBy) must pass
    // `--recursive false` and deliver at the top level — otherwise that
    // column arrives null. Flat-file and plain-subdirectory deliveries
    // (columns stored IN the files) want the default.
    val recursive = Cli.toBoolean(args, "recursive", usage).getOrElse(true)
    // --max-files-per-trigger (default 256): bounds a micro-batch by
    // source files. Without a bound, batch 0 of a fresh stream over an
    // existing backlog is the ENTIRE backlog — and the gate's replay
    // exclusion broadcasts the batch's doc_id set, which must stay
    // batch-sized, never backlog-sized. Catch-up then takes several
    // bounded batches instead of one unbounded one, which is also what
    // keeps per-batch publish/absorb cost flat.
    val maxFiles = Cli.toLong(args, "max-files-per-trigger", usage).getOrElse(256L)
    val cosThreshold = Cli.toDouble(args, "cos-threshold", usage).getOrElse(0.4)
    val semanticThreshold =
      Cli.toDouble(args, "semantic-threshold", usage).getOrElse(0.3)
    // parity flag: pass it whenever the corpus was published under
    // CorpusMain --normalize (see curateBatch's normalization note)
    val normalize = Cli.toBoolean(args, "normalize", usage).getOrElse(false)
    val format = args.getOrElse("format", "parquet")
    if (format != "parquet" && format != "jsonl") {
      System.err.println(s"bad --format value '$format' (want parquet|jsonl)")
      System.err.println(usage)
      sys.exit(2)
    }
    val output = args("output")
    val spark = graft.Sessions.local("graft-corpus-stream")
    try {
      val corpus = spark.read.parquet(args("corpus"))
      // --embeddings enables the vector-space gate: the same (vec_id ->
      // embedding) table CorpusMain's vector pass reads, prepped the same
      // way; incoming and corpus docs are both looked up in it by id.
      // --vectors-table is the at-scale alternative: the ALREADY-prepped
      // (vec_id, e, nrm) table CorpusMain --publish-vectors bucketed by
      // vec_id — read as-is and NOT persisted (the bucketed layout, not
      // executor memory, is what keeps the per-batch joins cheap).
      val vectors = args.get("embeddings")
        .map(p => (VectorSim.prepped(spark.read.parquet(p)), cosThreshold))
        .orElse(args.get("vectors-table").map(t => (spark.table(t), cosThreshold)))
      val persistVectors = !args.contains("vectors-table")
      // --index-table: the corpus band index AT REST (the (b, v)-bucketed
      // catalog table DedupOps.writeCorpusBandIndex wrote) — skips the
      // startup fold over the corpus and keeps the per-batch probe join
      // exchange-free on the index side
      val baseIndex = args.get("index-table").map(spark.table)
      // --shingles-table: the verify side of the text gate at rest (the
      // doc_id-bucketed table CorpusMain --publish-shingles wrote) —
      // skips the startup shingling fold over the whole corpus AND the
      // corpus-sized checkpoint the in-session path pays
      val baseShingles = args.get("shingles-table").map(spark.table)
      // --vector-index-table: the same move on the vector side — the
      // (b, v)-bucketed table VectorOps.writeVectorBandIndex wrote
      // (CorpusMain --publish-vector-index), skipping the startup
      // hyperplane fold over the corpus's vectors
      val baseVecIndex = args.get("vector-index-table").map(spark.table)
      // heal interrupted swaps, then fold previously published batches
      // into the gate state (restart rebuild — see GateState.resume)
      val state = GateState.resume(spark, corpus, output, vectors, baseIndex,
        baseShingles, baseVecIndex, persistVectors)
      // the DISTINCT exploded shingle set is what contamination joins on:
      // persist that, so each micro-batch reuses the built set instead of
      // re-paying explode + distinct (+ the broadcast build) forever
      val benchSet = args.get("bench").map(b => DedupOps.benchShingleSet(
        DedupOps.shingledOf(spark.read.parquet(b))).persist())
      // ingest schema = the corpus's CONTENT columns (the crawl shape),
      // never the published bookkeeping — for jsonl it is also the locked
      // from_json schema (inference over a stream is impossible anyway)
      val ingestSchema = org.apache.spark.sql.types.StructType(
        corpus.schema.filterNot(f => PublishBookkeeping(f.name)))
      val (incoming, decode) = format match {
        case "jsonl" =>
          // the dump is scanned as TEXT and split per micro-batch inside
          // foreachBatch (jsonlDecode) — lines stream in raw, the channel
          // split happens per batch
          val lines = spark.readStream
            .option("recursiveFileLookup", recursive.toString)
            .option("maxFilesPerTrigger", maxFiles.toString)
            .text(args("input"))
            .select(col("value").as("_line"))
            .withColumn("_file", input_file_name())
          (lines, Some(jsonlDecode(output, ingestSchema)))
        case _ =>
          // the file source delivers each new parquet file dropped into
          // --input as (part of) a micro-batch
          (spark.readStream
            .schema(ingestSchema)
            .option("recursiveFileLookup", recursive.toString)
            .option("maxFilesPerTrigger", maxFiles.toString)
            .parquet(args("input")), None)
      }
      // --semantic-bench: the BENCHMARK's vectors, prepped like the
      // vector side — the fixed probe target of the per-batch semantic
      // decontamination gate (q111 as a stateless stream transform)
      val semanticBench = args.get("semantic-bench")
        .map(p => VectorSim.prepped(spark.read.parquet(p)))
      val q = start(incoming, state, output, args("checkpoint"),
        rates, args.getOrElse("mix-default", "ff"), benchSet, minHits,
        broadcastBench, decode, normalize, semanticBench, semanticThreshold)
      q.awaitTermination()
    } finally spark.stop()
  }
}
