package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.VectorSim
import graft.queries.{DedupOps, TextOps, VectorOps}
import graft.sources.{Jsonl, Warehouse}

/** The LLM-data-pipeline capstone as a runnable entry point, shaped like
  * the six reference-script mains: read a documents table (parquet, or a
  * raw JSONL crawl dump with malformed-line quarantine via
  * `--format jsonl`), optionally mix (domain-reweight) and decontaminate
  * it against a benchmark set, near-dup-dedupe it by text — and by
  * embedding cosine too when `--embeddings` points at a vectors table —
  * split it deterministically, pack each split's token streams, and
  * publish idempotently through the same write-audit-publish warehouse
  * protocol the NBA pipeline uses.
  *
  * Outputs under `--output`:
  *   - `corpus/` — the mixed, decontaminated, deduped corpus with
  *     split/pack bookkeeping columns, partitioned by `split` (so a
  *     trainer reads `split=train` only — partition pruning is the point
  *     of the layout), published via per-partition swap (a rerun
  *     replaces, never duplicates);
  *   - `near_dup_pairs/` — the audit trail: every verified pair that
  *     caused a drop, published via directory swap;
  *   - `contaminated/` (with `--bench`) — every doc overlapping the
  *     benchmark at all, with its shared-shingle count, published BEFORE
  *     the corpus so the evidence survives a mid-run crash; only docs at
  *     or above `--min-hits` (default 1) are actually dropped, so
  *     near-misses stay visible and a lower threshold needs no recompute;
  *   - `semantic_contaminated/` (with `--semantic-bench`, requires
  *     `--embeddings`) — q111's pass as a stage: the paraphrased-leakage
  *     catch the shingle pass cannot make. The audit keeps EVERY banded
  *     candidate — (doc_id, n_cand, n_hits, max_cos), hits counted at
  *     `--semantic-threshold` (default 0.3) — published BEFORE the drop
  *     applies, and only the read-back drop applies the threshold
  *     (max_cos >= t): near-misses stay visible and a lower threshold
  *     later needs no recompute, down to the banding's recall floor;
  *     docs with no vectors row pass unprobed, reported loudly;
  *   - `domain_quota/` (with `--quota N`) — the kept (doc_id, source,
  *     quality, rk) rows of the per-domain cap, the evidence the corpus's
  *     membership is then read back from;
  *   - `token_budget/` (with `--token-budget N`) — the kept (doc_id,
  *     source, n_tokens, tb_bucket, tb_cut) rows of the per-source
  *     token-budget sample, read back the same way;
  *   - `examples/` (with `--chunk N`) — the corpus cut into fixed-length
  *     training examples (q60's windows, stride `--chunk-stride`, default
  *     disjoint), derived from the PUBLISHED corpus so the two can never
  *     diverge, partitioned by `split` like the corpus itself; carries
  *     `chunk_text` instead of `text` (the full text stays in `corpus/`);
  *   - `corpus_stats/` + `composition/` (with `--stats true`) — the
  *     one-row sketch statistics (HLL vocabulary, length quantiles) and
  *     the per-(lang, source) doc/token composition of the published
  *     corpus — the report a mixture designer reads before the next run.
  *     Composition publishes in LONG form ((lang, source) rows), not
  *     q61's wide matrix: a published artifact must not grow a column per
  *     source.
  *   - `url_dedup/` (with `--url-dedup true`, inputs carrying a `url`
  *     column) — every re-crawl DROPPED by URL-keyed dedup (q94's pass,
  *     run before any shingling so content dedup never pays for
  *     re-crawls), with its canonical URL and the surviving fetch;
  *   - `quality_floor/` (with `--quality-floor P`) — the per-source
  *     floor's dropped docs (each source sheds exactly floor(P·n) of its
  *     OWN worst — source-relative, so a weak source is trimmed, never
  *     wiped out by a global threshold) with quality/rank/size evidence;
  *   - `span_cut/` (with `--cut-spans N`) — the duplicated-passage cut
  *     (q82, Lee et al. 2021) applied to dedup survivors: every affected
  *     doc's coverage stats AND its cut text, the published patch the
  *     corpus text is then read back from (fully-covered docs drop);
  *   - `normalize_stats/` (with `--normalize true`) — the per-source dirt
  *     report of the whitespace/control cleanup (q85's pass applied in
  *     place, BEFORE shingling so whitespace variants cannot defeat
  *     dedup): docs seen, docs changed, characters removed;
  *   - `review_sample/` (with `--review-sample N`) — q71's uniform
  *     per-source sample of the PUBLISHED corpus, full rows + rank: the
  *     human-eval set, deterministic across reruns and unmoved by growth
  *     of unrelated sources (its md5 coordinate is independent of
  *     split/mix/budget, so reviewing it biases nothing).
  *
  * Every stage is one of the oracle-checked operators (q52, q85, q94,
  * q51, q111, q31, q39, q82, q55, q57, q49, q50, q60, q71) — this main only
  * composes and publishes them. Stage order is cheapest-reduction-first: mixing is a hash
  * filter (no data examined), normalization is a per-row rewrite ahead of
  * everything that reads text, decontamination touches shingles once,
  * dedup pays the banded self-join only over what survives both, and the
  * quota and token-budget cuts rank/sample only dedup survivors (a
  * pre-dedup cut would under-fill every domain that had duplicates —
  * and, for the budget, sample against token totals the published
  * corpus no longer has).
  */
object CorpusMain {

  private val log = org.slf4j.LoggerFactory.getLogger(CorpusMain.getClass)

  /** THE default split cuts for everything this pipeline derives: the
    * corpus's published `split` column and the leakage audit's per-side
    * split recomputation both route through ONE pair — [[runWith]]'s
    * `splitCuts` parameter, defaulting to this constant — so they cannot
    * drift (the r13 advisory: two call sites each silently relying on
    * TextOps' defaults would desynchronize the moment one grew a flag).
    * `--split-cuts tt:vv` ([[Cli.parseSplitCuts]]) overrides the pair
    * for a whole run and both sites follow automatically; the report
    * side additionally prefers the PUBLISHED split column wherever one
    * exists ([[graft.queries.DedupOps.splitLeakageReport]]), so a
    * re-audit of an already-published corpus agrees with its column
    * regardless of the current flag. */
  private[corpus] val SplitCuts: (String, String) =
    (TextOps.DefaultTrainUpper, TextOps.DefaultValUpper)

  def main(argv: Array[String]): Unit = {
    val usage = "usage: graft.corpus.CorpusMain --input <dir> --output <dir> " +
      "[--capacity N] [--bench <parquet>] [--min-hits N] [--quota N] " +
      "[--token-budget N] " +
      "[--mix src0:ff,src1:7f] [--mix-default <hex-pair>] " +
      "[--embeddings <parquet>] [--cos-threshold D] " +
      "[--semantic-bench <parquet>] [--semantic-threshold D] " +
      "[--broadcast-bench true|false] [--format parquet|jsonl] " +
      "[--export-jsonl true|false] [--publish-index <table>] " +
      "[--publish-vector-index <table>] [--publish-vectors <table>] " +
      "[--publish-shingles <table>] [--chunk N] [--chunk-stride N] " +
      "[--stats true|false] [--review-sample N] [--keep-best true|false] " +
      "[--normalize true|false] [--cut-spans N] [--url-dedup true|false] " +
      "[--quota-heap true|false] [--quality-floor D] " +
      "[--floor-threshold true|false] [--audit-splits D] " +
      "[--split-cuts tt:vv]"
    val args = Cli.parseArgs(argv,
      allowed = Set("input", "output", "capacity", "bench", "min-hits", "mix",
        "mix-default", "embeddings", "cos-threshold", "broadcast-bench",
        "semantic-bench", "semantic-threshold",
        "format", "export-jsonl", "publish-index", "publish-vector-index",
        "publish-vectors", "publish-shingles", "quota", "token-budget",
        "chunk", "chunk-stride", "stats", "review-sample", "keep-best",
        "normalize", "cut-spans", "url-dedup", "quota-heap",
        "quality-floor", "floor-threshold", "audit-splits", "split-cuts"),
      required = Set("input", "output"),
      usage = usage)
    // a tuning flag whose master stage is absent is always a config bug —
    // the same fail-loudly rule runWith applies to min-hits-without-bench
    for (orphan <- Seq("cos-threshold" -> "embeddings",
        "semantic-threshold" -> "semantic-bench",
        "semantic-bench" -> "embeddings",
        "broadcast-bench" -> "bench", "publish-vector-index" -> "embeddings",
        "publish-vectors" -> "embeddings", "chunk-stride" -> "chunk",
        "quota-heap" -> "quota", "floor-threshold" -> "quality-floor"))
      if (args.contains(orphan._1) && !args.contains(orphan._2)) {
        System.err.println(
          s"--${orphan._1} was given without --${orphan._2}: it would be silently ignored")
        sys.exit(2)
      }
    val rates = args.get("mix").map(Cli.parseMix)
    // convert every typed value BEFORE the session spins up: a malformed
    // value is a usage error and must exit 2 with the usage line, not a
    // stack trace after multi-second JVM startup
    val capacity = Cli.toInt(args, "capacity", usage)
    val quota = Cli.toInt(args, "quota", usage)
    val tokenBudget = Cli.toLong(args, "token-budget", usage)
    val chunk = Cli.toInt(args, "chunk", usage)
    val chunkStride = Cli.toInt(args, "chunk-stride", usage)
    val stats = Cli.toBoolean(args, "stats", usage).getOrElse(false)
    val reviewSample = Cli.toInt(args, "review-sample", usage)
    val minHits = Cli.toLong(args, "min-hits", usage).getOrElse(1L)
    val cosThreshold = Cli.toDouble(args, "cos-threshold", usage).getOrElse(0.4)
    val semanticThreshold =
      Cli.toDouble(args, "semantic-threshold", usage).getOrElse(0.3)
    val broadcastBench = Cli.toBoolean(args, "broadcast-bench", usage).getOrElse(true)
    val exportJsonl = Cli.toBoolean(args, "export-jsonl", usage).getOrElse(false)
    val keepBest = Cli.toBoolean(args, "keep-best", usage).getOrElse(false)
    val normalize = Cli.toBoolean(args, "normalize", usage).getOrElse(false)
    val cutSpans = Cli.toInt(args, "cut-spans", usage)
    val urlDedup = Cli.toBoolean(args, "url-dedup", usage).getOrElse(false)
    val quotaHeap = Cli.toBoolean(args, "quota-heap", usage).getOrElse(false)
    val qualityFloor = Cli.toDouble(args, "quality-floor", usage)
    val floorThreshold = Cli.toBoolean(args, "floor-threshold", usage).getOrElse(false)
    val auditSplits = Cli.toDouble(args, "audit-splits", usage)
    val splitCuts = args.get("split-cuts")
      .map(Cli.parseSplitCuts(_, usage)).getOrElse(SplitCuts)
    val spark = graft.Sessions.local("graft-corpus")
    try runWith(spark, args("input"), args("output"),
      capacity, args.get("bench"),
      rates, args.get("mix-default"),
      minHits,
      args.get("embeddings"),
      cosThreshold,
      broadcastBench,
      args.getOrElse("format", "parquet"),
      exportJsonl,
      args.get("publish-index"),
      args.get("publish-vector-index"),
      args.get("publish-vectors"),
      quota,
      args.get("publish-shingles"),
      tokenBudget,
      chunk,
      chunkStride,
      stats,
      reviewSample,
      keepBest,
      normalize,
      cutSpans,
      urlDedup,
      quotaHeap,
      qualityFloor,
      floorThreshold,
      semanticBench = args.get("semantic-bench"),
      semanticThreshold = semanticThreshold,
      auditSplits = auditSplits,
      splitCuts = splitCuts)
    finally spark.stop()
  }

  /** Erasure for the BATCH pipeline's published estate — the CorpusMain
    * side of [[GateState.purgeDocs]], closing the loop the r11 review
    * named: `deleteWhere` on `corpus/` composed with `purgeDocs` over the
    * gate tables still leaves the erased doc's TEXT live in the side
    * outputs until the next full re-curation — `examples/` carries
    * `chunk_text` (the doc cut into training windows), `review_sample/`
    * the full row, `span_cut/` the cut-passage text, and the
    * `corpus_jsonl/` mirror everything — plus its ID across every audit
    * (pairs, canonical maps, quota/budget/floor evidence). This helper
    * rewrites the doc's rows out of EVERY published dir under `output`
    * in one call, [[graft.sources.Warehouse.deleteWhere]]-style
    * (file-granularity, crash-safe, only hit files rewrite; a dir the
    * run never published is skipped):
    *
    *   - per-doc rows (`corpus`, `examples`, `review_sample`,
    *     `span_cut`, `contaminated`, `domain_quota`, `token_budget`,
    *     `quality_floor`) go by doc_id;
    *   - lineage/audit rows NAMING the doc go too: `canonical_map` /
    *     `embed_canonical_map` rows where it is either endpoint,
    *     `near_dup_pairs` / `embed_dup_pairs` / `split_leakage` where it
    *     is either side, `url_dedup` where it was dropped OR was the
    *     survivor (the `split_leakage_report/` aggregate then re-derives
    *     from the purged evidence, like the stats);
    *   - the `corpus_jsonl/` mirror (JSON — no file-granular rewrite)
    *     re-derives from the purged corpus whenever the MIRROR ITSELF
    *     still carries any of the ids (counted directly, not inferred
    *     from this run's corpus delete — so a crash mid-purge, or a
    *     caller who ran `deleteWhere` on `corpus/` first, is healed by
    *     the rerun instead of silently skipped), and `corpus_stats/` +
    *     `composition/` recompute whenever the composition row count
    *     disagrees with the live corpus — every audit keeps describing
    *     the corpus on disk (the pipeline's own invariant).
    *
    *   - `quarantine/` rows whose raw line PARSES to one of the ids go
    *     too ([[graft.sources.Jsonl.lineIdIn]] — the same schema-locked
    *     parse as ingest): the quarantine channel is not only malformed
    *     lines — a line that parsed as valid JSON and was quarantined
    *     for a null in some OTHER required column carries a live doc_id
    *     AND the subject's verbatim text (the raw line publishes by
    *     design). Truly unparseable lines, and lines whose doc_id field
    *     itself is null, have no id to address and stay — the honest
    *     limit of id-keyed erasure.
    *
    * NOT covered, by design: `normalize_stats/` / the sketch stats are
    * per-source aggregates carrying no per-doc rows (the stats recompute
    * above keeps them honest). Gate tables published via `--publish-*` are
    * CATALOG tables, not dirs under output — purge them with
    * [[GateState.purgeDocs]]; a complete erasure is this call composed
    * with that one (plus `deleteWhere` on any warehouse copies).
    *
    * Idempotent: a rerun finds no matching rows, rewrites nothing, and
    * skips the mirror/stats re-derivation (every entry reports (0, 0)).
    * Same single-maintenance-writer assumption as deleteWhere. Returns
    * per-dir (filesRewritten, rowsDeleted); the mirror reports
    * (1, corpusRowsPurged) when re-derived. */
  def purgeCurated(spark: SparkSession, output: String, ids: Seq[Long],
      maxConcurrentFiles: Int = 8): Map[String, (Int, Long)] = {
    require(ids.nonEmpty, "need at least one doc id to purge")
    val idList = ids.distinct.map(Long.box)
    def hits(cols: String*): org.apache.spark.sql.Column =
      cols.map(c => col(c).isin(idList: _*)).reduce(_ || _)
    val targets: Seq[(String, Seq[String])] = Seq(
      "corpus" -> Seq("doc_id"),
      "examples" -> Seq("doc_id"),
      "review_sample" -> Seq("doc_id"),
      "span_cut" -> Seq("doc_id"),
      "contaminated" -> Seq("doc_id"),
      "semantic_contaminated" -> Seq("doc_id"),
      "domain_quota" -> Seq("doc_id"),
      "token_budget" -> Seq("doc_id"),
      "quality_floor" -> Seq("doc_id"),
      "canonical_map" -> Seq("doc_id", "canonical_id"),
      "embed_canonical_map" -> Seq("doc_id", "canonical_id"),
      "near_dup_pairs" -> Seq("doc_a", "doc_b"),
      "embed_dup_pairs" -> Seq("doc_a", "doc_b"),
      "split_leakage" -> Seq("doc_a", "doc_b"),
      "url_dedup" -> Seq("doc_id", "survivor_id"))
    val root = new org.apache.hadoop.fs.Path(output)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swept = targets.flatMap { case (name, byCols) =>
      val p = new org.apache.hadoop.fs.Path(root, name)
      if (!fs.exists(p)) None
      else Some(name -> Warehouse.deleteWhere(spark, p.toString,
        hits(byCols: _*), maxConcurrentFiles))
    }.toMap
    // the quarantine channel is addressed through its RAW line (its only
    // columns are (line, file)): re-parse with the same locked schema the
    // ingest used and delete rows whose parsed doc_id is in the purge set
    // — parsed-but-null-quarantined lines carry a live id and the doc's
    // verbatim text. deleteWhere's file-granularity rewrite applies
    // unchanged; malformed / id-less lines evaluate FALSE (never null)
    // under lineIdIn and survive.
    val quarantineEntry = {
      val p = new org.apache.hadoop.fs.Path(root, "quarantine")
      if (!fs.exists(p)) None
      else Some("quarantine" -> Warehouse.deleteWhere(spark, p.toString,
        graft.sources.Jsonl.lineIdIn(col("line"),
          graft.sources.Jsonl.idProjection("doc_id"), "doc_id", ids),
        maxConcurrentFiles))
    }
    val corpusPurged = swept.getOrElse("corpus", (0, 0L))._2
    // a purge can legally erase EVERY published doc; deleteWhere then
    // leaves the corpus dir with zero data files, and anything derived
    // "from the published corpus" can no longer be re-derived (no schema
    // to read) — the truthful rendering of derived artifacts over an
    // empty corpus is their ABSENCE, so the blocks below RETIRE instead
    // of re-deriving in that state
    val corpusDir = new org.apache.hadoop.fs.Path(root, "corpus")
    // a corpus dir that is ABSENT entirely counts as empty too: a crash
    // (or hand cleanup) can remove the dir while report/evidence/stats
    // survive, and the staleness probes below read $output/corpus — on
    // a missing dir they would throw instead of healing (the r13
    // advisory; same class as the empty-corpus case, so it takes the
    // same retire path)
    val corpusEmpty = !fs.exists(corpusDir) || !dirHasData(fs, corpusDir)
    // the mirror keys its re-derivation on ITS OWN hit count, never on
    // this run's corpus delete count: a crash (or a caller running
    // deleteWhere on corpus/ first) can leave corpus rows already gone
    // while the mirror still carries the doc's full text — gating on
    // corpusPurged would then skip the rewrite and report (0, 0), silent
    // erasure non-compliance. Counting the mirror's hits directly makes
    // the rerun-no-op contract TRUE instead of assumed.
    val mirror = new org.apache.hadoop.fs.Path(root, "corpus_jsonl")
    val mirrorEntry =
      if (!fs.exists(mirror)) None
      // a mirror a previous purge emptied or retired is a valid (0, 0)
      // target, not a schema-inference crash
      else if (!dirHasData(fs, mirror)) Some("corpus_jsonl" -> ((0, 0L)))
      else {
        if (corpusEmpty) {
          // nothing left to mirror: retiring IS the re-derivation, and it
          // must NOT be gated on this run's ids hitting the mirror — a
          // prior purge can have emptied the corpus and crashed before
          // its own mirror block, leaving a full-text mirror describing
          // an erased corpus that a LATER purge (different ids, zero
          // hits) would otherwise skip right past. Reported rows = the
          // WHOLE mirror (everything the retire removes), counted
          // through the same locked one-column read as the hit probe.
          val removed = spark.read
            .schema(graft.sources.Jsonl.idProjection("doc_id"))
            .json(mirror.toString).count()
          Warehouse.retireDir(spark, s"$output/corpus_jsonl")
          Some("corpus_jsonl" -> ((1, removed)))
        } else {
          // schema LOCKED to the id projection: inference would read the
          // whole mirror once just to discover columns the hit count
          // never touches — on a corpus-sized mirror that is a full
          // extra pass (the r12 review's watch item); doc_id alone both
          // parses every mirror line and is the only field the
          // predicate needs
          val mirrorHits = spark.read
            .schema(graft.sources.Jsonl.idProjection("doc_id"))
            .json(mirror.toString)
            .filter(hits("doc_id")).count()
          if (mirrorHits == 0) Some("corpus_jsonl" -> ((0, 0L)))
          else {
            exportJsonlMirror(spark, output)
            Some("corpus_jsonl" -> ((1, mirrorHits)))
          }
        }
      }
    // stats carry no per-doc rows to count, so their staleness check is
    // the composition row-count vs the live corpus (cheap: composition
    // is (lang, source)-sized) — this also heals a crash between the
    // corpus delete and the stats recompute
    // gate on EITHER stats dir: a crash between the two retires below
    // must be healable by rerun (retiring corpus_stats first and dying
    // would otherwise orphan composition forever)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "corpus_stats")) ||
        (corpusEmpty &&
          fs.exists(new org.apache.hadoop.fs.Path(root, "composition")))) {
      if (corpusEmpty) {
        Warehouse.retireDir(spark, s"$output/corpus_stats")
        Warehouse.retireDir(spark, s"$output/composition")
      } else {
        val stale = corpusPurged > 0 || mirrorEntry.exists(_._2._2 > 0) ||
          !fs.exists(new org.apache.hadoop.fs.Path(root, "composition")) || {
            val counted = spark.read.parquet(s"$output/composition")
              .agg(coalesce(sum(col("n_docs")), lit(0L))).collect()(0).getLong(0)
            counted != spark.read.parquet(s"$output/corpus").count()
          }
        if (stale) publishStats(spark, output)
      }
    }
    // the split-leakage report is an aggregate of the pair EVIDENCE (no
    // per-doc rows of its own), so like the stats it re-derives when its
    // source moved: any purge hit on the corpus (share denominators) or
    // the pair list, or — the crash-heal check — a summed pair count
    // that disagrees with the live evidence (both sides pair-bounded,
    // cheap). A purge that emptied the evidence re-derives to the empty
    // report rather than leaving a stale one describing purged pairs.
    // an ORPHANED report (evidence dir gone — an audit-less rerun that
    // crashed between retiring the evidence and retiring the report
    // leaves exactly this) describes pairs that no longer exist and has
    // nothing to re-derive from: retire it — the same either-dir heal the
    // stats block applies
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "split_leakage_report")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, "split_leakage")))
      Warehouse.retireDir(spark, s"$output/split_leakage_report")
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "split_leakage_report")) &&
        fs.exists(new org.apache.hadoop.fs.Path(root, "split_leakage"))) {
      val slPurged = swept.getOrElse("split_leakage", (0, 0L))._2
      if (corpusEmpty) Warehouse.retireDir(spark, s"$output/split_leakage_report")
      else {
      val reportPath = new org.apache.hadoop.fs.Path(root, "split_leakage_report")
      val stale = corpusPurged > 0 || slPurged > 0 || {
        if (!dirHasData(fs, reportPath))
          // an absent-content report is stale iff evidence exists
          readSplitLeakage(spark, output).count() != 0
        else {
          val rep = spark.read.parquet(reportPath.toString)
          val reported = rep
            .agg(coalesce(sum(col("n_pairs")), lit(0L))).collect()(0).getLong(0)
          // two crash windows heal here: pair-count drift (a crash
          // between the pair sweep and the re-derivation) AND
          // denominator drift (a crash between the CORPUS sweep and the
          // re-derivation — the report publishes its totals precisely so
          // this check can exist; shares alone carry no evidence of
          // what they divided by). The totals probe reads one partition
          // column of the corpus; rows.isEmpty skips it for the empty
          // report, whose shares describe nothing.
          reported != readSplitLeakage(spark, output).count() || {
            val claimed = rep.select(col("split_a").as("s"),
                col("n_total_a").as("n"))
              .unionByName(rep.select(col("split_b").as("s"),
                col("n_total_b").as("n")))
              .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
            claimed.nonEmpty && {
              val live = spark.read.parquet(s"$output/corpus")
                .groupBy(col("split")).agg(count(lit(1)).as("n"))
                .collect().map(r => (r.getString(0), r.getLong(1))).toMap
              claimed.exists { case (sp, n) => !live.get(sp).contains(n) }
            }
          }
        }
      }
      if (stale) publishSplitReport(spark, output)
      }
    }
    swept ++ quarantineEntry ++ mirrorEntry
  }

  /** The JSONL mirror of the PUBLISHED corpus — one definition shared by
    * the pipeline's `--export-jsonl` stage and [[purgeCurated]]'s
    * re-derivation, so the purge can never rewrite the mirror into a
    * shape the pipeline no longer publishes. */
  private def exportJsonlMirror(spark: SparkSession, output: String): Unit =
    Warehouse.replaceDirWith(spark, s"$output/corpus_jsonl")(staging =>
      spark.read.parquet(s"$output/corpus")
        .write.partitionBy("split").json(staging))

  /** The split-leakage summary (q115's shape) over the PUBLISHED corpus
    * and the PUBLISHED pair evidence — one definition shared by the
    * `--audit-splits` stage and [[purgeCurated]]'s re-derivation (the
    * mirror/stats no-drift rule). A pair-evidence dir a purge emptied
    * reads as zero pairs, not as a schema-inference crash. */
  private def publishSplitReport(spark: SparkSession, output: String): Unit =
    Warehouse.replaceDir(
      DedupOps.splitLeakageReport(
        spark.read.parquet(s"$output/corpus"),
        readSplitLeakage(spark, output)),
      s"$output/split_leakage_report")

  private def readSplitLeakage(spark: SparkSession, output: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$output/split_leakage")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && dirHasData(fs, p)) spark.read.parquet(p.toString)
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_a", LongType),
          StructField("doc_b", LongType), StructField("split_a", StringType),
          StructField("split_b", StringType),
          StructField("jaccard", DoubleType))))
    }
  }

  /** Any VISIBLE data file under `p`? One shared definition of the
    * hidden-path-component rule — [[graft.sources.Warehouse
    * .dirHasVisibleData]], the same walk deleteWhere's empty-target
    * guard uses — so the purge-time "valid zero-row source vs
    * schema-inference crash" decision can never drift from the rule the
    * deleter itself applies. */
  private def dirHasData(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    Warehouse.dirHasVisibleData(fs, p)

  /** The sketch-statistics + long-form composition reports over the
    * PUBLISHED corpus — shared by the `--stats` stage and
    * [[purgeCurated]] (same no-drift argument as the mirror). */
  private def publishStats(spark: SparkSession, output: String): Unit = {
    val pub = spark.read.parquet(s"$output/corpus")
    Warehouse.replaceDir(
      TextOps.approxCorpusStats(pub), s"$output/corpus_stats")
    Warehouse.replaceDir(
      pub.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")),
      s"$output/composition")
  }

  /** The locked crawl-dump shape for `--format jsonl`: exactly the columns
    * the pipeline consumes (mix keys on source, dedup/pack on text,
    * split on doc_id) — inference over a large dump would cost a full
    * extra pass and let schema drift merge silently. */
  private val JsonlDocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** The job body on a caller-owned session (testable; main owns its own).
    *
    * Mixing semantics: `mixRates` names per-source keep cuts; sources NOT
    * named are kept in full unless `mixDefault` lowers them. `mixDefault`
    * alone is a flat global sample. Neither -> no mixing stage at all. */
  def runWith(spark: SparkSession, input: String, output: String,
      capacity: Option[Int] = None, bench: Option[String] = None,
      mixRates: Option[Seq[(String, String)]] = None,
      mixDefault: Option[String] = None,
      minHits: Long = 1L,
      embeddings: Option[String] = None,
      cosThreshold: Double = 0.4,
      broadcastBench: Boolean = true,
      format: String = "parquet",
      exportJsonl: Boolean = false,
      publishIndex: Option[String] = None,
      publishVectorIndex: Option[String] = None,
      publishVectors: Option[String] = None,
      quota: Option[Int] = None,
      publishShingles: Option[String] = None,
      tokenBudget: Option[Long] = None,
      chunk: Option[Int] = None,
      chunkStride: Option[Int] = None,
      stats: Boolean = false,
      reviewSample: Option[Int] = None,
      keepBest: Boolean = false,
      normalize: Boolean = false,
      cutSpans: Option[Int] = None,
      urlDedup: Boolean = false,
      quotaHeap: Boolean = false,
      qualityFloor: Option[Double] = None,
      floorThreshold: Boolean = false,
      semanticBench: Option[String] = None,
      semanticThreshold: Double = 0.3,
      auditSplits: Option[Double] = None,
      splitCuts: (String, String) = SplitCuts): Unit = {
    // the same shape Cli.parseSplitCuts guarantees on the flag path —
    // programmatic callers get the fail-loudly form of the same check
    require(splitCuts._1.matches("[0-9a-f]{2}") &&
        splitCuts._2.matches("[0-9a-f]{2}") && splitCuts._1 < splitCuts._2,
      s"split cuts must be two lowercase hex bytes with train < val, got $splitCuts")
    require(minHits >= 1, s"min-hits must be >= 1, got $minHits")
    require(cutSpans.forall(_ >= 2),
      s"cut-spans gram width must be >= 2, got ${cutSpans.get}")
    require(!quotaHeap || quota.nonEmpty,
      "quota-heap was given without a quota to compute")
    require(qualityFloor.forall(p => p >= 0 && p < 1),
      s"quality-floor must be in [0, 1), got ${qualityFloor.get}")
    require(!floorThreshold || qualityFloor.nonEmpty,
      "floor-threshold was given without a quality-floor to compute")
    require(reviewSample.forall(_ >= 1),
      s"review-sample must be >= 1, got ${reviewSample.get}")
    require(quota.forall(_ >= 1), s"quota must be >= 1, got ${quota.get}")
    require(tokenBudget.forall(_ >= 1),
      s"token-budget must be >= 1, got ${tokenBudget.get}")
    require(chunk.forall(_ >= 1), s"chunk must be >= 1, got ${chunk.get}")
    // stride outside [1, chunk] would skip tokens — fail before any work
    require(chunkStride.isEmpty || chunk.nonEmpty,
      "chunk-stride was given without a chunk size to stride")
    for (c <- chunk; s <- chunkStride) require(s >= 1 && s <= c,
      s"chunk-stride must be in [1, chunk], got $s (chunk $c)")
    // a threshold without a benchmark would be silently meaningless — the
    // same class of configuration bug the empty-corpus guard fails on
    require(minHits == 1L || bench.nonEmpty,
      s"min-hits=$minHits was given without a benchmark (--bench) to threshold")
    require(format == "parquet" || format == "jsonl",
      s"format must be parquet or jsonl, got '$format'")
    // a vector index needs the vectors: same silently-ignored-flag bug
    // class as min-hits-without-bench
    require(publishVectorIndex.isEmpty || embeddings.nonEmpty,
      "publish-vector-index was given without embeddings to index")
    require(publishVectors.isEmpty || embeddings.nonEmpty,
      "publish-vectors was given without embeddings to publish")
    // the semantic pass probes the DOCS' embeddings against the bench's:
    // without --embeddings there is nothing to probe with
    require(semanticBench.isEmpty || embeddings.nonEmpty,
      "semantic-bench was given without embeddings to probe with")
    require(semanticThreshold > -1 && semanticThreshold <= 1,
      s"semantic-threshold must sit in (-1, 1], got $semanticThreshold")
    // a jaccard threshold outside (0, 1] can never match a pair — the
    // audit would run and publish an empty report, silently: the same
    // silently-meaningless-config class as the guards above
    require(auditSplits.forall(t => t > 0 && t <= 1),
      s"audit-splits threshold must sit in (0, 1], got ${auditSplits.getOrElse(0.0)}")
    val raw = format match {
      case "jsonl" =>
        // a crawl dump's broken lines (malformed OR null-required-field)
        // are quarantined as first-class evidence (per-item isolation) —
        // STAGED here, while the dump is read exactly once up front, but
        // swapped live only after the new corpus publishes: the previous
        // corpus must never sit on disk described by the NEW run's
        // quarantine (the audits-describe-the-live-corpus invariant the
        // post-publish block maintains for every other audit)
        val (good, bad) =
          Jsonl.read(spark, s"$input/documents.jsonl", JsonlDocSchema)
        Warehouse.stageDirWith(spark, s"$output/quarantine")(staging =>
          bad.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staging))
        good
      case _ =>
        spark.read.parquet(s"$input/documents.parquet")
    }
    runStages(spark, raw, output, capacity, bench, mixRates, mixDefault,
      minHits, embeddings, cosThreshold, broadcastBench, exportJsonl,
      quarantineStaged = format == "jsonl", publishIndex, publishVectorIndex,
      publishVectors, quota, publishShingles, tokenBudget, chunk,
      chunkStride, stats, reviewSample, keepBest, normalize, cutSpans,
      urlDedup, quotaHeap, qualityFloor, floorThreshold,
      semanticBench, semanticThreshold, auditSplits, splitCuts)
  }

  private def runStages(spark: SparkSession, raw: DataFrame, output: String,
      capacity: Option[Int], bench: Option[String],
      mixRates: Option[Seq[(String, String)]], mixDefault: Option[String],
      minHits: Long, embeddings: Option[String], cosThreshold: Double,
      broadcastBench: Boolean, exportJsonl: Boolean,
      quarantineStaged: Boolean,
      publishIndex: Option[String] = None,
      publishVectorIndex: Option[String] = None,
      publishVectors: Option[String] = None,
      quota: Option[Int] = None,
      publishShingles: Option[String] = None,
      tokenBudget: Option[Long] = None,
      chunk: Option[Int] = None,
      chunkStride: Option[Int] = None,
      stats: Boolean = false,
      reviewSample: Option[Int] = None,
      keepBest: Boolean = false,
      normalize: Boolean = false,
      cutSpans: Option[Int] = None,
      urlDedup: Boolean = false,
      quotaHeap: Boolean = false,
      qualityFloor: Option[Double] = None,
      floorThreshold: Boolean = false,
      semanticBench: Option[String] = None,
      semanticThreshold: Double = 0.3,
      auditSplits: Option[Double] = None,
      splitCuts: (String, String) = SplitCuts): Unit = {
    // mixing first: membership is a pure hash of (doc_id, rate table), so
    // mixFilter is a broadcast join + filter — no shuffle, nothing read
    // beyond the scan every later stage pays only for the kept fraction of.
    // Unlisted sources default to 'ff' (keep all): sampling a source the
    // caller never named would silently lose training data.
    val mixed = (mixRates, mixDefault) match {
      case (Some(r), d) => TextOps.mixFilter(raw, r, d.getOrElse("ff"))
      case (None, Some(d)) => TextOps.mixFilter(raw, Seq.empty, d)
      case (None, None) => raw
    }
    // normalization BEFORE anything that reads text: whitespace variants
    // must not defeat shingle dedup (a tab-indented mirror of a page is
    // the same page), and quality/token stats must describe the text the
    // corpus actually publishes. The per-source dirt report lands first
    // (evidence-before-effect, like every audit here): one
    // low-cardinality map-side-combinable agg — the normalization scalar
    // is evaluated twice (audit pass + pipeline rewrite), which at any
    // scale is cheaper than materializing a corpus-sized intermediate.
    val cleaned = if (!normalize) mixed else {
      val norm = TextOps.normalizedCol(col("text"))
      Warehouse.replaceDir(
        mixed.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum((norm =!= col("text")).cast("long")).as("n_changed"),
          sum((length(col("text")) - length(norm)).cast("long"))
            .as("chars_removed")),
        s"$output/normalize_stats")
      val c = mixed.withColumn("text", norm)
      // documents carries a derived n_chars; keep it describing the text
      // it sits next to (jsonl dumps don't carry one — nothing to mend)
      if (c.columns.contains("n_chars")) c.withColumn("n_chars", length(col("text")))
      else c
    }
    // URL-keyed dedup (q94) directly after normalization and BEFORE any
    // shingling: re-crawls of the same canonical URL are duplicates by
    // construction, and dropping them here means the (much costlier)
    // shingle machinery never sees them — cheapest-reduction-first.
    // Needs a `url` column (a crawl dump's fetch URL); the synthetic
    // documents table has none, so the stage is opt-in. The audit lists
    // every DROPPED doc with its canonical URL and the surviving fetch
    // (reversible + explainable, canonical_map's shape), and membership
    // is read back from it like every other drop.
    val urlDeduped = if (!urlDedup) cleaned else {
      require(cleaned.columns.contains("url"),
        "--url-dedup needs a url column in the input (the crawl fetch URL)")
      val canon = cleaned.select(col("doc_id"),
        TextOps.canonicalUrlCol(col("url")).as("canonical"))
      val survivors = canon.filter(col("canonical").isNotNull)
        .groupBy(col("canonical"))
        .agg(min(col("doc_id")).as("survivor_id"))
      Warehouse.replaceDir(
        canon.join(survivors, "canonical")
          .filter(col("doc_id") =!= col("survivor_id"))
          .select(col("doc_id"), col("canonical"), col("survivor_id")),
        s"$output/url_dedup")
      cleaned.join(
        spark.read.parquet(s"$output/url_dedup").select("doc_id"),
        Seq("doc_id"), "left_anti")
    }
    // STAGED like the query-side shingle table (r21/r22, guide §2.5): a
    // single-row-group input would run the whole shingling kernel — and
    // every downstream consumer of this persisted frame — on ONE core;
    // the doc_id keying feeds the signature groupBy and the verify joins
    // exchange-free (§2.4). Profiled (ProfCorpus): the unrepartitioned
    // publish carried ~11 s of 1-task stages at sf0.1 on 32 cores.
    val shAll = DedupOps.shingledOf(urlDeduped
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id")))
      .persist()
    try {
      // decontamination, audited BEFORE the drop is applied: reading the
      // published audit back both avoids recomputing the overlap and makes
      // the corpus provably consistent with the evidence on disk
      val (docs, sh): (DataFrame, DataFrame) = bench match {
        case Some(b) =>
          // the audit keeps EVERY overlapping doc with its count; only the
          // drop applies the threshold, so lowering --min-hits later needs
          // no recompute and the near-misses stay visible
          // broadcastBench is a hard promise (Spark refuses, not falls
          // back, past its broadcast limit) — `--broadcast-bench false`
          // is the escape hatch for a benchmark too large to broadcast
          val hits = DedupOps.contamination(
            shAll, DedupOps.shingledOf(spark.read.parquet(b)), broadcastBench)
          Warehouse.replaceDir(hits, s"$output/contaminated")
          val drop = spark.read.parquet(s"$output/contaminated")
            .filter(col("n_hits") >= minHits).select("doc_id")
          (urlDeduped.join(drop, Seq("doc_id"), "left_anti"),
            shAll.join(drop, Seq("doc_id"), "left_anti"))
        case None =>
          // (the stale `contaminated` audit, if any, is retired AFTER the
          // new corpus publishes — see the post-publish block)
          (urlDeduped, shAll)
      }
      // SEMANTIC decontamination (q111) beside the shingle pass: a
      // PARAPHRASED benchmark item shares no shingle with its source but
      // sits next to it in embedding space — the docs' vectors probe the
      // bench's hyperplane band index (bench-sized — tiny — and the
      // corpus side never shuffles for the probe), exact cosine verifies
      // each candidate, and every flagged doc publishes with its
      // (n_hits, max_cos) evidence BEFORE the drop applies — the same
      // evidence-then-read-back protocol as `contaminated/`. Runs before
      // dedup for the same cheapest-reduction-first reason: the probe
      // costs candidates, the banded self-join costs the corpus.
      val (sdocs, ssh): (DataFrame, DataFrame) = semanticBench match {
        case Some(sb) =>
          val benchVecs = VectorSim.prepped(spark.read.parquet(sb))
          val allVecs = VectorSim.prepped(spark.read.parquet(embeddings.get))
          val corpusVecs = allVecs.join(
            docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          // a doc with NO vectors row — or a ZERO-NORM one (the probe
          // filters nrm > 0: a zero vector has no cosine to anything, so
          // it can never reach the band join) — cannot be probed: for
          // DECONTAMINATION a silent skip means eval leakage publishes
          // (a stale embedding pipeline looks exactly like a missing
          // row; a BROKEN one — all-zeros output — looks exactly like a
          // zero norm), so both gaps are reported loudly —
          // compactState's coverage rule
          val uncovered = docs.select(col("doc_id")).join(
            allVecs.filter(col("nrm") > 0).select(col("vec_id").as("doc_id")),
            Seq("doc_id"), "left_anti")
          val sample = uncovered.limit(11).collect().map(_.getLong(0))
          if (sample.nonEmpty) {
            val shown = sample.take(10).mkString(", ") +
              (if (sample.length > 10) ", …" else "")
            log.error(s"semantic decontamination: doc(s) with no vectors " +
              s"row (or a zero-norm embedding) pass UNPROBED (sample: " +
              s"$shown) — benchmark leakage among them publishes " +
              "unchecked. Legitimate only if these docs never had " +
              "embeddings; a stale or lagging vectors source (missing " +
              "rows) or a broken embedding pipeline (all-zero vectors) " +
              "looks exactly like this.")
          }
          // the audit keeps EVERY banded candidate (threshold -1 keeps
          // all verified cosines) with per-doc candidate/hit counts and
          // the max cosine; only the read-back drop applies the
          // threshold — the `contaminated/` philosophy: near-misses stay
          // visible, and a LOWER threshold later needs no recompute
          // (down to the banding's recall floor — tightening recall
          // itself still means a re-run)
          val hits = VectorOps.lshNearDupAgainstIndex(corpusVecs,
              VectorOps.vectorBandIndex(benchVecs), benchVecs, -1.0)
            .groupBy(col("vec_id"))
            .agg(count(lit(1)).as("n_cand"),
              sum((col("cos") >= semanticThreshold).cast("long")).as("n_hits"),
              max(col("cos")).as("max_cos"))
            .select(col("vec_id").as("doc_id"), col("n_cand"), col("n_hits"),
              col("max_cos"))
          Warehouse.replaceDir(hits, s"$output/semantic_contaminated")
          val drop = spark.read.parquet(s"$output/semantic_contaminated")
            .filter(col("max_cos") >= semanticThreshold).select("doc_id")
          (docs.join(drop, Seq("doc_id"), "left_anti"),
            sh.join(drop, Seq("doc_id"), "left_anti"))
        case None => (docs, sh)
      }
      val (pairs0, bands) = DedupOps.minhashNearDupWithBands(ssh)
      val pairs = pairs0.persist()
      try {
        // audit first: if the run dies after this publish, the pair
        // evidence is on disk and a rerun recomputes the same corpus.
        // The write materializes the staged pairs, so the band table they
        // were derived from is released right after it.
        try Warehouse.replaceDir(pairs, s"$output/near_dup_pairs")
        finally { bands.unpersist(); () }
        // --keep-best swaps each component's min-id survivor for its
        // best-QUALITY one (q74's rule, ranked by the same scalar the
        // quota ranks by), and publishes the full doc -> canonical map as
        // lineage evidence BEFORE the drop applies — every dropped doc's
        // audit row names the doc that replaced it, so the drop is
        // reversible and explainable like every other stage's
        def collapse(frame: DataFrame, prs: DataFrame, audit: String): DataFrame =
          if (!keepBest) DedupOps.dedupeCorpus(frame, prs)
          else {
            Warehouse.replaceDir(
              DedupOps.canonicalByQuality(frame, prs, TextOps.docQuality),
              s"$output/$audit")
            frame.join(
              spark.read.parquet(s"$output/$audit")
                .filter(col("is_canonical")).select("doc_id"),
              Seq("doc_id"), "left_semi")
          }
        val textDeduped = collapse(sdocs, pairs, "canonical_map")
        // vector pass AFTER the text pass, over its survivors only: the
        // double-dedup a production corpus run actually does. The pair
        // producer is the LSH-bucketed kernel (banded equi-join, never
        // all-pairs — the scale path; the exact kernel stays a
        // verification tool), and the collapse is the same components
        // pass as the text one.
        val deduped = embeddings match {
          case Some(embPath) =>
            val n = VectorSim.prepped(spark.read.parquet(embPath))
              .withColumnRenamed("vec_id", "doc_id")
              // only survivors' vectors matter: a pair whose side is
              // already text-deduped away must not drop a survivor, and
              // filtering BEFORE the banded join shrinks its input
              .join(textDeduped.select("doc_id"), Seq("doc_id"), "left_semi")
              .select(col("doc_id").as("vec_id"), col("e"), col("nrm"))
            val vpairs = VectorOps.lshNearDup(n, cosThreshold)
              .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
                col("cos"))
              .persist()
            try {
              // same evidence-first protocol as the text pairs: the audit
              // lands before any drop it justifies
              Warehouse.replaceDir(vpairs, s"$output/embed_dup_pairs")
              collapse(textDeduped, vpairs.select("doc_a", "doc_b"),
                "embed_canonical_map")
            } finally { vpairs.unpersist(); () }
          case None =>
            // (the stale vector audit, if any, is retired post-publish)
            textDeduped
        }
        // duplicated-PASSAGE cutting (q82, Lee et al. 2021) AFTER doc-level
        // dedup (the passes are complementary: dedup drops whole near-dup
        // docs, this cuts the verbatim passages shared by docs different
        // enough to both survive) and BEFORE quota/budget (both rank and
        // sample by quality/token totals, which change when spans are
        // cut). The audit IS the patch source: affected docs' stats AND
        // text_clean publish at span_cut/, are read back, and the corpus
        // text comes from exactly the published patch — the same
        // evidence-then-read-back protocol as every other stage. A doc
        // whose every token was covered (dup_frac = 1) carries no novel
        // text and is dropped; its audit row is the record of that.
        val spanCut = cutSpans match {
          case Some(nGram) =>
            Warehouse.replaceDir(
              DedupOps.spanDedup(deduped, nGram)
                .filter(col("n_covered") > 0),
              s"$output/span_cut")
            val patch = spark.read.parquet(s"$output/span_cut")
              .select(col("doc_id"), col("text_clean"))
            val patched = deduped
              .join(patch, Seq("doc_id"), "left")
              .withColumn("text", coalesce(col("text_clean"), col("text")))
              .drop("text_clean")
              .filter(length(col("text")) > 0)
            if (patched.columns.contains("n_chars"))
              patched.withColumn("n_chars", length(col("text")))
            else patched
          case None => deduped
        }
        // per-domain quota AFTER dedup (dedup changes per-source counts,
        // so a pre-dedup cut would under-fill every domain that had
        // duplicates), audited first like every other drop: the kept
        // (doc_id, source, quality, rk) rows land on disk, are read back,
        // and the corpus keeps exactly the audited ids — provably
        // consistent with the evidence, same protocol as contamination
        // --quality-floor AFTER span-cutting (quality must describe the
        // text that publishes) and BEFORE the quota (shed each source's
        // worst fraction first, then cap what remains): drops exactly
        // floor(p * n_src) docs per source — source-RELATIVE, so a weak
        // source sheds its own worst rather than being wiped out by a
        // global threshold (q101's calibration argument as a stage); the
        // count-based cut keeps a singleton source's only doc at any p.
        // Evidence-first like every drop: the dropped rows with their
        // quality/rank/source-size publish at quality_floor/, membership
        // reads back from it.
        // --floor-threshold swaps the window form for the histogram cut
        // (qualityFloorByThreshold) — IDENTICAL dropped set (monotone
        // binning, equivalence pinned in TextOpsSpec), histogram-sized
        // windows instead of a per-source partition sort: the switch to
        // flip when one source dominates the corpus, same lever as
        // --quota-heap for the quota (the audit then carries no rn_worst
        // — the global per-source rank IS the sort being avoided)
        val floored = qualityFloor match {
          case Some(p) =>
            Warehouse.replaceDir(
              if (floorThreshold) TextOps.qualityFloorByThreshold(spanCut, p)
              else TextOps.qualityFloorDrops(spanCut, p),
              s"$output/quality_floor")
            spanCut.join(
              spark.read.parquet(s"$output/quality_floor").select("doc_id"),
              Seq("doc_id"), "left_anti")
          case None => spanCut
        }
        // --quota-heap swaps the window form for the bounded-heap
        // aggregate (q96's graft_topk) — IDENTICAL cut (same total
        // order), O(k) state per domain instead of a per-domain
        // partition sort: the switch to flip when one domain dominates
        // the corpus and the window's sort partition would hold it whole
        val capped = quota match {
          case Some(q) =>
            Warehouse.replaceDir(
              if (quotaHeap) TextOps.domainQuotaHeap(floored, q)
              else TextOps.domainQuota(floored, q),
              s"$output/domain_quota")
            floored.join(
              spark.read.parquet(s"$output/domain_quota").select("doc_id"),
              Seq("doc_id"), "left_semi")
          case None => floored
        }
        // token budget LAST of the drops, over what every earlier stage
        // kept: rate mixing, dedup, and the quota all change per-source
        // token totals, so an earlier sample would target totals the
        // published corpus no longer has. Audited and read back like the
        // quota — the kept (doc_id, source, n_tokens, tb_bucket, tb_cut)
        // rows ARE the membership evidence.
        val budgeted = tokenBudget match {
          case Some(b) =>
            Warehouse.replaceDir(
              TextOps.mixToTokenBudget(capped, b), s"$output/token_budget")
            capped.join(
              spark.read.parquet(s"$output/token_budget").select("doc_id"),
              Seq("doc_id"), "left_semi")
          case None => capped
        }
        // split and pack IN PLACE: both are per-row/window columns, so
        // appending them costs zero joins — only the pack window itself
        // shuffles, once, on the stream key
        val withSplit = budgeted
          .withColumn("split",
            TextOps.splitColumn(col("doc_id"), splitCuts._1, splitCuts._2))
        // pack per (split, source): a training stream never crosses a
        // split boundary, so offsets must restart inside each split
        val packed = capacity
          .map(c => TextOps.packWindowsAll(withSplit, c, Seq("split", "source")))
          .getOrElse(TextOps.packWindowsAll(withSplit, streamCols = Seq("split", "source")))
        val published = Warehouse.overwritePartitions(
          packed, s"$output/corpus", Seq("split"))
        // an empty corpus is always a configuration bug (mix rates or a
        // benchmark that swallowed everything) — and an empty overwrite
        // leaves NO trace on disk, so failing loudly here is the only
        // signal the caller gets
        require(published > 0,
          "corpus pipeline produced zero documents — check --mix rates " +
            "and --bench overlap (every doc was filtered, dropped, or deduped)")
        // stale artifacts from previous runs with OTHER flags are retired
        // IMMEDIATELY after the new corpus is live — before the optional
        // export, whose failure must not leave the new corpus described
        // by the old run's audits. A run that fails earlier leaves the
        // previous corpus's evidence intact, because the audits on disk
        // describe the corpus that is still on disk. retireDir also
        // clears the swap protocol's hidden .old siblings, which
        // recover() would otherwise resurrect. The jsonl quarantine obeys
        // the same invariant from the other side: staged before the
        // pipeline, swapped live only now that the corpus it describes is.
        if (quarantineStaged) Warehouse.publishStaged(spark, s"$output/quarantine")
        else Warehouse.retireDir(spark, s"$output/quarantine")
        if (bench.isEmpty) Warehouse.retireDir(spark, s"$output/contaminated")
        if (semanticBench.isEmpty)
          Warehouse.retireDir(spark, s"$output/semantic_contaminated")
        if (embeddings.isEmpty) Warehouse.retireDir(spark, s"$output/embed_dup_pairs")
        if (!keepBest) Warehouse.retireDir(spark, s"$output/canonical_map")
        if (!keepBest || embeddings.isEmpty)
          Warehouse.retireDir(spark, s"$output/embed_canonical_map")
        if (!normalize) Warehouse.retireDir(spark, s"$output/normalize_stats")
        if (cutSpans.isEmpty) Warehouse.retireDir(spark, s"$output/span_cut")
        if (!urlDedup) Warehouse.retireDir(spark, s"$output/url_dedup")
        if (qualityFloor.isEmpty)
          Warehouse.retireDir(spark, s"$output/quality_floor")
        if (quota.isEmpty) Warehouse.retireDir(spark, s"$output/domain_quota")
        if (tokenBudget.isEmpty) Warehouse.retireDir(spark, s"$output/token_budget")
        if (!exportJsonl) Warehouse.retireDir(spark, s"$output/corpus_jsonl")
        if (chunk.isEmpty) Warehouse.retireDir(spark, s"$output/examples")
        if (reviewSample.isEmpty)
          Warehouse.retireDir(spark, s"$output/review_sample")
        if (!stats) {
          Warehouse.retireDir(spark, s"$output/corpus_stats")
          Warehouse.retireDir(spark, s"$output/composition")
        }
        if (auditSplits.isEmpty) {
          Warehouse.retireDir(spark, s"$output/split_leakage")
          Warehouse.retireDir(spark, s"$output/split_leakage_report")
        }
        // optional JSONL mirror of the published corpus — the exchange
        // format tokenizer/trainer tooling consumes — derived from the
        // PUBLISHED parquet (so it can never diverge from it), swapped in
        // whole via the same crash-safe protocol
        if (exportJsonl) exportJsonlMirror(spark, output)
        // fixed-length training examples (q60's windows), derived from the
        // PUBLISHED corpus like the jsonl mirror, so examples and corpus
        // can never diverge. Stride defaults to the chunk size (disjoint
        // windows); overlap is opt-in via --chunk-stride. The examples
        // carry chunk_text, never the full text — the corpus already
        // holds it once, and duplicating it ~n/stride times per doc would
        // multiply the footprint for no reader.
        chunk.foreach { c =>
          Warehouse.replaceDirWith(spark, s"$output/examples")(staging =>
            TextOps.chunkWindowsAll(spark.read.parquet(s"$output/corpus"),
                c, chunkStride.getOrElse(c))
              .drop("text", "offset", "bin")
              .write.partitionBy("split").parquet(staging))
        }
        // uniform per-source review sample (q71's coordinate), derived
        // from the PUBLISHED corpus: the human-eval set, full rows joined
        // back via the broadcast-able id list (k x |sources| rows), stable
        // across reruns and across growth of unrelated sources
        reviewSample.foreach { k =>
          Warehouse.replaceDirWith(spark, s"$output/review_sample")(staging => {
            val pub = spark.read.parquet(s"$output/corpus")
            pub.join(broadcast(TextOps.stratifiedSample(pub, k)
                .select(col("doc_id"), col("sample_rank"))), Seq("doc_id"))
              .write.parquet(staging)
          })
        }
        // the curation report, over the PUBLISHED corpus (same derive-
        // from-published rule): one-row sketch statistics plus the
        // long-form (lang, source) composition — counts and token totals
        // from one low-cardinality map-side-combinable aggregation
        if (stats) publishStats(spark, output)
        // optional at-rest gate index: the (b, v)-bucketed band-index
        // table the STREAMING twin loads via --index-table — derived from
        // the PUBLISHED parquet (so it can never diverge from the corpus
        // it describes, same rule as the jsonl mirror). saveAsTable
        // overwrite is drop-and-recreate, not a swap: the only reader is
        // a gate at STARTUP, and a failed write is healed by rerunning —
        // never by serving a half-written index mid-stream.
        // one re-shingle pass over the published corpus feeds every text
        // at-rest artifact that reads it: the (b,v)-bucketed band index,
        // the doc_id-bucketed shingle table (the gate's probe and verify
        // sides) — and the split-leakage audit's pair producer
        if (publishIndex.nonEmpty || publishShingles.nonEmpty ||
            auditSplits.nonEmpty) {
          val pubSh = DedupOps.shingledOf(
            spark.read.parquet(s"$output/corpus")
              .repartition(spark.sparkContext.defaultParallelism,
                col("doc_id"))).persist()
          try {
            publishIndex.foreach(DedupOps.writeCorpusBandIndex(pubSh, _))
            publishShingles.foreach(DedupOps.writeCorpusShingles(pubSh, _))
            // --audit-splits: the eval-hygiene audit run over what the
            // run just SHIPPED (q113/q115 as a stage). The dedup stage
            // collapses near-dups at ITS threshold regardless of split,
            // so pairs above it cannot reach publication — what this
            // audit catches is the band BELOW it (near-misses that still
            // leak eval signal; the audit threshold is typically lower)
            // and any banding-recall gap. Evidence first, then its
            // rendering: split_leakage/ is q113's cross-split pair list
            // over the published corpus, split_leakage_report/ is q115's
            // per-(split_a, split_b) summary derived from the PUBLISHED
            // pair evidence (evidence-then-read-back, like every audit).
            auditSplits.foreach { t =>
              val (leaks, leakBands) = DedupOps.minhashNearDupWithBands(pubSh, t)
              try Warehouse.replaceDir(
                DedupOps.crossSplitPairs(leaks, splitCuts._1, splitCuts._2)
                  .select(col("doc_a"), col("doc_b"), col("split_a"),
                    col("split_b"), col("jaccard")),
                s"$output/split_leakage")
              finally { leakBands.unpersist(); () }
              publishSplitReport(spark, output)
            }
          } finally { pubSh.unpersist(); () }
        }
        // the vector-space twins: over the PUBLISHED survivors' prepped
        // (vec_id, e, nrm) rows — what the streaming twin loads via
        // --vector-index-table / --vectors-table, same
        // derive-from-published rule as above. publish-vectors buckets by
        // vec_id so the gate's verification join never reshuffles the
        // vectors side — and never has to persist the whole table either
        // (GateState persistVectors = false).
        if (publishVectorIndex.nonEmpty || publishVectors.nonEmpty) {
          val prepped = VectorSim.prepped(spark.read.parquet(embeddings.get))
            .join(spark.read.parquet(s"$output/corpus")
              .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          publishVectorIndex.foreach(VectorOps.writeVectorBandIndex(prepped, _))
          publishVectors.foreach(Warehouse.writeBucketed(prepped, _, "vec_id"))
        }
      } finally { pairs.unpersist(); () }
    } finally { shAll.unpersist(); () }
  }
}
