package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.VectorSim

/** Similarity search over the `embeddings` table (`array<float>` x 64):
  * brute-force cosine near-dup + top-k as the exact baselines, and an
  * IVF-bucketed top-k as the approximate scale path.
  *
  * Scale design: the exact variants are quadratic by nature — they exist as
  * the correctness baseline and for small query sets (broadcast the query
  * side; the big side never shuffles). The IVF variant is the 100 TB shape:
  * assign every vector to its nearest centroid (one broadcast join against
  * k centroids), then search only the query's cell — cost drops from
  * O(|Q| x N) to O(|Q| x N/k), trading recall, and the cells give the write
  * path a partitioning key so each query touches one partition.
  *
  * Everything (including the IVF assignment) is deterministic and mirrored
  * in the DuckDB oracle — see VectorSim for the bit-exactness argument.
  */
/** Typed rows for the block-nested-loop kernel (top-level so Spark's
  * generated encoders can instantiate them). */
case class VecRow(vec_id: Long, e: Array[Double], nrm: Double)
case class PairCos(vec_a: Long, vec_b: Long, cos: Double)
case class BucketVec(bucket: Int, vec_id: Long, e: Array[Double], nrm: Double)

object VectorOps {

  private val NearDupThreshold = 0.4 // probed: 59 pairs at sf0.01, max cos ~0.51

  /** Block count B for the exact all-pairs triangle partitioning (q34).
    * Cost model: shuffle volume is O(N*B) (each vector replicated B times),
    * per-group memory is 2N/B vectors, and the triangle yields B(B+1)/2
    * reduce groups. To keep every core busy while minimizing replication,
    * pick the smallest B with B(B+1)/2 >= cluster parallelism, i.e.
    * B ~ sqrt(2 * parallelism) — at local[32] that is B = 8 (36 groups);
    * on a 1000-executor cluster B grows with the core count, and if
    * 2N/B vectors still exceed group memory, B must grow further (or,
    * properly, the kernel runs within LSH/IVF buckets, not globally). */
  private[queries] def allPairsBlocks(s: SparkSession): Int =
    math.max(2, math.ceil(math.sqrt(2.0 * s.sparkContext.defaultParallelism)).toInt)
  private val TopK = 5
  private val IvfK = 3
  private val NumCentroids = 8
  private val QueryMod = 50
  // q111: docs with vec_id % 97 == 0 play the benchmark (q51's partition
  // rule on the vector side); 0.3 probed at sf0.01: 24 corpus docs carry
  // an exact-cosine bench neighbor (4 at the 0.4 near-dup bar — a
  // decontamination threshold sits deliberately LOOSER than dedup's)
  private val SemBenchMod = 97
  private val SemDecontamThreshold = 0.3

  /** vec_id, e (array<double>), nrm. */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    val e = VectorSim.toDouble(col("embedding"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), e.as("e"))
      .withColumn("nrm", VectorSim.norm(col("e")))
  }

  /** [[vecs]] STAGED (r22): hash-repartitioned by vec_id to the session's
    * parallelism before the toDouble/norm kernel, and persisted — the
    * vector-side twin of DedupOps' staged shingle table, for the queries
    * that reference the prepped frame 2+ times (LSH band side + verify
    * sides; one Lloyd pass per training round). The bench tables ship as
    * one single-row-group parquet file, so every unstaged reference
    * re-ran scan + cast + norm as ONE serial task (guide §2.5 —
    * unsplittable input, repartition after the read; profiled: q54 paid
    * four such serial scans, q109's signature stage ran 345 ms on one
    * core). vec_id keying feeds the downstream id-equi-joins without a
    * further exchange (§2.4). Released by the caller's clearCache — the
    * same staged-frame contract as `shingled`. */
  private def stagedVecs(s: SparkSession, dir: String): DataFrame = {
    val e = VectorSim.toDouble(col("embedding"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), e.as("e"))
      .withColumn("nrm", VectorSim.norm(col("e")))
      .persist()
  }

  private def cos(ea: Column, na: Column, eb: Column, nb: Column): Column =
    VectorSim.cosinePre(VectorSim.dot(ea, eb), na, nb)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Embedding-cosine near-dup: exact all-pairs, fully distributed via
    // triangle block partitioning. Vectors are hashed into B blocks; every
    // unordered block pair {p,q} becomes one reduce group that receives
    // exactly the vectors of blocks p and q (each vector is replicated B
    // times — the standard O(N*B) shuffle for exact all-pairs). Inside a
    // group a tight JVM block-nested loop computes the O((N/B)^2 * dim)
    // kernel (~20x faster than interpreted higher-order functions); the
    // left-to-right double fold keeps results bit-exact vs the oracle.
    // Nothing is ever collected to the driver and per-group memory is
    // 2N/B vectors — at 100 TB pick B ~ sqrt(cluster parallelism) (and run
    // LSH/IVF first, reserving this kernel for within-bucket verification).
    "q34_cosine_neardup" -> { (s, dir) =>
      exactNearDup(vecs(s, dir), NearDupThreshold, allPairsBlocks(s))(s)
    },

    // Brute-force cosine top-k: small broadcast query set against the full
    // table — the fact side streams, never shuffles.
    "q35_ann_topk" -> { (s, dir) =>
      val n = vecs(s, dir)
      val q = n.filter(col("vec_id") % QueryMod === 0)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      broadcast(q).join(n, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          cos(col("qe"), col("qn"), col("e"), col("nrm")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
    },

    // IVF-bucketed top-k: nearest-centroid assignment (centroids = the
    // first NumCentroids vectors — a deterministic 'training' pick; see
    // q46/kmeansCentroids for the real trainer), then search only the
    // query's cell.
    "q36_ivf_topk" -> { (s, dir) =>
      val n = vecs(s, dir)
      val cent = n.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
      ivfSearch(assignToCentroids(n, cent), IvfK)
    },

    // The trained composition: q46's k-means centroids feeding q36's IVF
    // search — train (fixed-point Lloyd rounds), assign the corpus to the
    // TRAINED cells, search only the query's cell. The whole ANN pipeline
    // a 100 TB deployment runs, end-to-end in one plan: training cost is
    // bounded by iters corpus passes (each round's cells are
    // localCheckpoint'ed k x dim rows), the search side is identical to
    // q36's (broadcast queries, cell-local candidates).
    "q47_ivf_trained" -> { (s, dir) =>
      val n = vecs(s, dir).filter(col("nrm") > 0)
      ivfSearch(
        assignToCentroids(n, kmeansCentroids(n, KmeansK, KmeansIters)), IvfK)
    },

    // Embedding-cosine near-dup at scale: random-hyperplane LSH (SimHash
    // for vectors). Sixteen md5-derived ±1 hyperplanes give a 16-bit
    // signature whose bits agree with probability 1 - θ/π; four 4-bit
    // bands turn that into an equi-join (cost = candidates, never
    // all-pairs), and the exact cosine verifies each candidate — the
    // banded shape that replaces q34's exact kernel once N² is unpayable,
    // with recall traded by (bits, bands) instead of compute. Bands join
    // on the raw (band, 4-bit value) ints, so the candidate set — and
    // therefore the output — is identical to the oracle's by construction.
    "q37_hyperplane_lsh" -> { (s, dir) =>
      lshNearDup(stagedVecs(s, dir), NearDupThreshold)
    },

    // The within-bucket EXACT kernel over the same hyperplane-LSH bands as
    // q37: identical candidate universe and identical per-pair fold order,
    // so the result must hash-match q37's oracle while exercising the
    // typed block-nested-loop path instead of the pairwise equi-join —
    // the bucketed composition the q34 notes prescribe at 100x, with the
    // same oracle evidence as the banded form.
    // SemDeDup: cluster-then-prune semantic dedup — q36's cells, q34's
    // exact in-cell cosine, greedy keep-lowest-id survivors.
    "q76_semantic_dedup" -> { (s, dir) =>
      semanticDedup(vecs(s, dir))(s)
    },

    "q28_lsh_bucketed_exact" -> { (s, dir) =>
      exactNearDupInLshBuckets(vecs(s, dir), NearDupThreshold)(s)
    },

    // Embedding-space corpus dedup: the q34 pair set collapsed into
    // connected components — the vector-side capstone mirroring q38's
    // text-side one, composed from oracle-tested pieces (exact cosine
    // pairs -> DedupOps.components). At production scale the pair
    // producer swaps to the LSH/IVF-bucketed kernel; the component
    // collapse is identical. Cosine similarity chains (a near b near c
    // without a near c), so this graph is deeper than text near-dups
    // (diameter 16 at sf0.1, 16 label rounds).
    "q53_embed_dedup" -> { (s, dir) =>
      val pairs = exactNearDup(vecs(s, dir), NearDupThreshold, allPairsBlocks(s))(s)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      DedupOps.components(pairs)
        .select(col("doc_id").as("vec_id"), col("label"))
    },

    // q53's 100x-SCALE plan as its own timed + oracled query: the pair
    // producer is the hyperplane-LSH banded equi-join (q37's — cost =
    // candidates, never all-pairs) feeding the same component collapse.
    // q53 times the EXACT all-pairs kernel as its documented
    // oracle-mirrorable stand-in; this entry times the plan CorpusMain
    // actually ships at 100 TB, so the bench now measures the scale
    // story's real shape. Its components cover the LSH pair set (recall
    // traded by (bits, bands), q37's contract) — the oracle composes
    // q37's banding CTEs with q53's recursive component collapse, so the
    // banded candidate universe is shared by construction.
    "q109_embed_dedup_lsh" -> { (s, dir) =>
      val pairs = lshNearDup(stagedVecs(s, dir), NearDupThreshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      DedupOps.components(pairs)
        .select(col("doc_id").as("vec_id"), col("label"))
    },

    // Centroid training for the IVF path: k rounds of Lloyd's algorithm
    // (spherical/cosine assignment, the same argmax rule as q36's assign),
    // with FIXED-POINT centroid accumulation — each element is quantized to
    // floor(x*1000) and summed as a long, so the update is exact integer
    // arithmetic: the result is bit-identical under ANY partitioning or
    // reduction order, which is what makes a 100 TB training run
    // reproducible (double sums are order-dependent; a shuffle-partition
    // change would silently move centroids). Output = the final round's
    // per-(cluster, dim) mean plus the cluster size.
    "q46_kmeans" -> { (s, dir) =>
      kmeansCells(vecs(s, dir), KmeansK, KmeansIters)
    },

    // Cluster-purity report over the trained cells (see clusterPurity).
    "q97_cluster_purity" -> { (s, dir) =>
      clusterPurity(vecs(s, dir),
        Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
        KmeansK, KmeansIters)
    },

    // The vector-space ingest gate run in batch (the embedding twin of
    // q48's text gate): odd vec_ids play the incoming crawl batch, even
    // vec_ids the curated corpus; incoming vectors probe the corpus's
    // prebuilt hyperplane band index and every candidate is verified by
    // exact cosine — the stream-static pass CorpusStreamMain runs per
    // micro-batch under --embeddings. Candidates (and therefore output)
    // match the oracle's banding by construction, like q37.
    "q54_vector_gate" -> { (s, dir) =>
      val n = stagedVecs(s, dir)
      val incoming = n.filter(col("vec_id") % 2 === 1)
      val corpus = n.filter(col("vec_id") % 2 === 0)
      lshNearDupAgainstIndex(incoming, vectorBandIndex(corpus), corpus,
        NearDupThreshold)
    },

    // SEMANTIC decontamination (q51's vector-space sibling): eval-set
    // leakage that shingle overlap cannot catch — a PARAPHRASED benchmark
    // item shares no 3-gram with its source but sits next to it in
    // embedding space. Docs with vec_id % 97 == 0 play the benchmark
    // (q51's partition rule); every other doc probes the benchmark's
    // hyperplane band index and each candidate is verified by exact
    // cosine — the audit reports (vec_id, n_hits, max_cos) per flagged
    // doc, evidence-not-drop like q51. (The pipeline STAGE widens this to
    // every banded candidate so its read-back drop threshold can move
    // without recompute; the query form reports at the probe threshold —
    // the oracle-pinned operator semantics.) At 100 TB
    // the benchmark index is tiny ((b, v)-keyed, broadcast-able or at
    // rest via writeVectorBandIndex) and the corpus side never shuffles
    // for the probe; cost = candidates, never |corpus| x |bench|.
    "q111_semantic_decontaminate" -> { (s, dir) =>
      val n = stagedVecs(s, dir)
      val corpus = n.filter(col("vec_id") % SemBenchMod =!= 0)
      val bench = n.filter(col("vec_id") % SemBenchMod === 0)
      lshNearDupAgainstIndex(corpus, vectorBandIndex(bench), bench,
          SemDecontamThreshold)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
    },

    // F10 array-exists as a first-class Column HOF (SURVEY.md §2.7):
    // `exists` prunes rows and `filter`+`size` counts hits over the
    // array<float> column in place — no explode, so the row count never
    // blows up by the array width and the scan reads only
    // (vec_id, embedding). (HOF lambdas evaluate outside whole-stage
    // codegen, but stay a single narrow pass — PlanSpec pins the shape.)
    "q44_array_exists" -> { (s, dir) =>
      val hot = (x: Column) => x > lit(HotThreshold)
      Tables.embeddings(s, dir)
        .filter(exists(col("embedding"), hot))
        .select(col("vec_id"),
          size(filter(col("embedding"), hot)).as("n_hot"))
    })

  private val HotThreshold = 0.4 // probed: 15 of 500 rows at sf0.01

  private val HyperplaneBits = 16
  private val HyperplaneBandBits = 4 // 4 bands x 4 bits
  private val Dim = 64

  /** md5-derived ±1 hyperplane signs — deterministic and engine-portable:
    * sign(j, i) = +1 iff the first hex char of md5("j-i") is >= '8'. The
    * DuckDB oracle evaluates the SAME formula, so the signatures (and the
    * band join) agree bit-for-bit; probed at sf0.01: 33 of the 59 exact
    * q34 pairs recalled from ~23% of the all-pairs candidate volume. */
  private[queries] lazy val hyperplaneSigns: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(HyperplaneBits, Dim) { (j, i) =>
      val hex = md.digest(s"$j-$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (hex.charAt(0) >= '8') 1.0 else -1.0
    }
  }

  /** Exact all-pairs cosine near-dup over (vec_id, e, nrm) rows — the
    * distributed triangle-block kernel behind q34 (see the q34 query notes
    * for the cost model). Public as a DataFrame-in operator so callers can
    * run it globally at small N or WITHIN LSH/IVF buckets at scale. */
  def exactNearDup(n0: DataFrame, threshold: Double, nBlocks: Int)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val n = n0.select(col("vec_id"), col("e"), col("nrm")).as[VecRow]
    val thr = threshold
    n.flatMap { v =>
      val b = (math.floorMod(v.vec_id, nBlocks.toLong)).toInt
      (0 until nBlocks).iterator.map { j =>
        (math.min(b, j) * nBlocks + math.max(b, j), v)
      }
    }.groupByKey(_._1).flatMapGroups { (key: Int, it: Iterator[(Int, VecRow)]) =>
      val p = key / nBlocks
      val q = key % nBlocks
      val xs = scala.collection.mutable.ArrayBuffer.empty[VecRow] // block p
      val ys = scala.collection.mutable.ArrayBuffer.empty[VecRow] // block q
      it.foreach { case (_, v) =>
        if (math.floorMod(v.vec_id, nBlocks.toLong).toInt == p) xs += v else ys += v
      }
      def cosOf(a: VecRow, b: VecRow): Double = {
        var dot = 0.0
        var i = 0
        while (i < a.e.length) { dot += a.e(i) * b.e(i); i += 1 }
        dot / (a.nrm * b.nrm)
      }
      if (p == q) {
        // within-block: each unordered pair once (i < j on sorted ids)
        val arr = xs.toArray.sortBy(_.vec_id)
        Iterator.range(0, arr.length).flatMap { i =>
          Iterator.range(i + 1, arr.length).flatMap { j =>
            val c = cosOf(arr(i), arr(j))
            if (c >= thr) Some(PairCos(arr(i).vec_id, arr(j).vec_id, c)) else None
          }
        }
      } else {
        // cross-block only: within-block pairs belong to the diagonal
        // groups, so no pair is emitted twice across groups
        xs.iterator.flatMap { a =>
          ys.iterator.flatMap { b =>
            val (lo, hi) = if (a.vec_id < b.vec_id) (a, b) else (b, a)
            val c = cosOf(lo, hi)
            if (c >= thr) Some(PairCos(lo.vec_id, hi.vec_id, c)) else None
          }
        }
      }
    }.toDF("vec_a", "vec_b", "cos")
  }

  /** Hyperplane-LSH cosine near-dup over (vec_id, e, nrm) rows — the
    * banded scale path behind q37 (see the q37 query notes): signature,
    * band equi-join on raw small ints, exact-cosine verification of the
    * candidates. Recall is traded by (HyperplaneBits, HyperplaneBandBits);
    * precision is exact — every emitted pair's cosine clears `threshold`. */
  def lshNearDup(n0: DataFrame, threshold: Double): DataFrame = {
    // zero-norm vectors produce NaN cosines, and Spark SQL orders NaN
    // ABOVE every value (so `NaN >= threshold` is true) — without this
    // guard q37 would emit NaN pairs the exact kernel (JVM `>=`, NaN
    // false) never does. The oracle applies the same nrm > 0 filter.
    val n = n0.filter(col("nrm") > 0)
    val bands = lshBands(n)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(n.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na")), "vec_a")
      .join(n.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cos(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The (b, v)-keyed hyperplane band index of a CURATED corpus's vectors
    * — the prebuilt probe side of the vector-space ingest gate, the exact
    * analog of [[graft.queries.DedupOps.corpusBandIndex]] on the text
    * side: an always-on gate builds this once from the corpus (and folds
    * each accepted batch's rows in), instead of re-hashing every corpus
    * vector per micro-batch. Zero-norm vectors are excluded here (they
    * have no cosine to anything; see [[lshNearDup]]'s NaN note). */
  def vectorBandIndex(corpus: DataFrame): DataFrame =
    lshBands(corpus.filter(col("nrm") > 0))
      .select(col("vec_id").as("corpus_id"), col("b"), col("v"))

  /** [[vectorBandIndex]] AT REST: the (b, v)-bucketed catalog table — the
    * vector-space twin of [[graft.queries.DedupOps.writeCorpusBandIndex]].
    * Bucketed and sorted on the probe key, so the gate's band join plans
    * with NO exchange on the index side — the index never reshuffles per
    * batch, only the (tiny) incoming side does — and a restarting gate
    * loads the table instead of re-hashing every curated vector at
    * startup. `vectors` is the CURATED corpus's (vec_id, e, nrm) rows;
    * rebuild whenever the corpus itself republishes. */
  def writeVectorBandIndex(vectors: DataFrame, table: String,
      numBuckets: Int = 32): Unit =
    graft.sources.Warehouse.writeBucketedBy(
      vectorBandIndex(vectors), table, Seq("b", "v"), numBuckets)

  /** Vector near-dup GATE against a prebuilt [[vectorBandIndex]]: flag
    * vectors of `incoming` whose hyperplane bands collide with a corpus
    * vector and whose exact cosine clears `threshold` — the vector-space
    * twin of the text gate's
    * [[graft.queries.DedupOps.nearDupAgainstIndex]], for the ingest pass
    * that drops a paraphrased (text-novel but embedding-duplicate)
    * document on arrival. `corpus` supplies (vec_id, e, nrm) rows for the
    * exact-cosine verification of candidates; both joins are equi-joins
    * (band probe, then id lookup), so the plan is bucketed end-to-end —
    * never all-pairs.
    *
    * Zero-norm incoming vectors are SKIPPED (nrm > 0 below — a zero
    * vector has no cosine to anything), which for a decontamination
    * caller means such a doc passes unprobed exactly like a doc with no
    * vectors row at all: both gate mains fold zero-norm rows into their
    * loud uncovered report for precisely this reason (an all-zeros
    * embedding is the classic broken-pipeline symptom). */
  def lshNearDupAgainstIndex(incoming: DataFrame, index: DataFrame,
      corpus: DataFrame, threshold: Double): DataFrame = {
    val inc = incoming.filter(col("nrm") > 0)
    val cand = lshBands(inc).join(index, Seq("b", "v"))
      .select(col("vec_id"), col("corpus_id")).distinct()
    cand
      .join(inc.select(col("vec_id"), col("e").as("ie"), col("nrm").as("inrm")), "vec_id")
      .join(corpus.select(col("vec_id").as("corpus_id"), col("e").as("ce"),
        col("nrm").as("cnrm")), "corpus_id")
      .select(col("vec_id"), col("corpus_id"),
        cos(col("ie"), col("inrm"), col("ce"), col("cnrm")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-vector (vec_id, band index b, band value v) rows for the
    * hyperplane-LSH signature — shared by the banded equi-join
    * ([[lshNearDup]]) and the within-bucket exact kernel
    * ([[exactNearDupInLshBuckets]]) so the two paths cannot band
    * differently. Callers pass a zero-norm-filtered frame. */
  private def lshBands(n: DataFrame): DataFrame = {
    val sigCol = (0 until HyperplaneBits).map { j =>
      when(VectorSim.dot(col("e"),
        typedlit(hyperplaneSigns(j).toSeq)) > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)
    n.withColumn("sig", sigCol)
      .select(col("vec_id"),
        explode(array((0 until HyperplaneBits / HyperplaneBandBits).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("sig"), HyperplaneBandBits * b)
              .bitwiseAND((1 << HyperplaneBandBits) - 1).as("v"))): _*)).as("band"))
      .select(col("vec_id"), col("band.b").as("b"), col("band.v").as("v"))
  }

  /** The composition the q34 notes prescribe at 100x: the EXACT kernel run
    * WITHIN hyperplane-LSH buckets. Candidate universe identical to
    * [[lshNearDup]] (pairs sharing at least one band — same signatures,
    * same bands, by construction through [[lshBands]]), but each bucket's
    * work is the tight JVM all-pairs loop instead of a pairwise equi-join
    * + Column cosine — the shape for buckets too large to join pairwise.
    * The per-pair fold order matches the global kernel (low id left), so a
    * pair found in several bands yields bit-identical cosines and the
    * distinct collapses them. Equals the GLOBAL exact kernel whenever
    * every true pair shares a band — the recall contract the spec pins on
    * clustered data.
    *
    * Skew caveat: one bucket's work is quadratic in ITS size, so a
    * degenerate corpus where many vectors share a band value concentrates
    * on one task. The lever is more signature bits per band (smaller
    * buckets, lower recall) — salting cannot split an in-bucket N²;
    * at that point run the triangle-blocked global kernel per oversized
    * bucket instead. */
  def exactNearDupInLshBuckets(n0: DataFrame, threshold: Double)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val n = n0.filter(col("nrm") > 0)
    lshBands(n)
      .join(n.select(col("vec_id"), col("e"), col("nrm")), "vec_id")
      .select((col("b") * (1 << HyperplaneBandBits) + col("v")).as("bucket"),
        col("vec_id"), col("e"), col("nrm"))
      .as[BucketVec]
      .transform(pairsWithinBuckets(_, threshold))
      .distinct() // a pair may co-occur in several bands
      .toDF("vec_a", "vec_b", "cos")
  }

  /** The in-bucket exact pair kernel shared by [[exactNearDupInLshBuckets]]
    * (LSH bands as buckets) and [[semanticDedup]] (k-means cells as
    * buckets): per bucket, a tight JVM block-nested loop over the id-sorted
    * members — same left-to-right double fold as the q34 kernel, so every
    * emitted cosine is bit-exact vs the oracle's list_reduce. One bucket's
    * work is quadratic in ITS size (the skew caveat above applies to any
    * caller). */
  private def pairsWithinBuckets(ds: Dataset[BucketVec],
      thr: Double): Dataset[PairCos] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.bucket)
      .flatMapGroups { (_, it) =>
        val arr = it.toArray.sortBy(_.vec_id)
        Iterator.range(0, arr.length).flatMap { i =>
          Iterator.range(i + 1, arr.length).flatMap { j =>
            val a = arr(i); val b = arr(j)
            var dot = 0.0
            var k = 0
            while (k < a.e.length) { dot += a.e(k) * b.e(k); k += 1 }
            val c = dot / (a.nrm * b.nrm)
            if (c >= thr) Some(PairCos(a.vec_id, b.vec_id, c)) else None
          }
        }
      }
  }

  /** SemDeDup (q76) — semantic dedup by cluster-then-prune (Abbas et al.
    * 2023, arXiv:2303.09540): cluster the embedding space, then inside
    * each cluster drop every vector that has an ε-similar lower-id
    * neighbor. The greedy keep-lowest-id rule is the paper's (their
    * upper-triangular pairwise matrix drops any column with an
    * above-threshold entry); unlike the component collapse (q53) it never
    * chains — a kept vector is within ε of every vector it displaced.
    *
    * Cells here are q36's static first-k pick so the assignment is
    * oracle-mirrorable; the trained path swaps in [[kmeansCentroids]]
    * (q46) unchanged. At 100 TB k grows with the corpus (the paper runs
    * ~100k clusters) so cells stay bounded and the in-cell quadratic
    * kernel — the same [[pairsWithinBuckets]] the LSH path uses — stays
    * task-sized; assignment is one broadcast-k join, and the prune output
    * is an anti-join on vec_id. Returns survivors as (vec_id, cluster). */
  def semanticDedup(n0: DataFrame, threshold: Double = NearDupThreshold)(
      implicit s: SparkSession): DataFrame = {
    val n = n0.filter(col("nrm") > 0)
    val cent = n.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val assigned = assignToCentroids(n, cent)
    import s.implicits._
    val dropped = pairsWithinBuckets(
      assigned.select(col("cluster").cast("int").as("bucket"),
        col("vec_id"), col("e"), col("nrm")).as[BucketVec],
      threshold)
      .select(col("vec_b").as("vec_id"))
      .distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  private val KmeansK = 4
  private val KmeansIters = 2
  private val KmeansScale = 1000L

  /** Cluster-purity report (q97) — the clustering-quality readout a
    * curation pipeline runs after training (q46) to decide whether the
    * cells are usable for stratified sampling, dedup bucketing, or IVF
    * search: per trained cluster, its size, its majority label (the
    * embeddings table's ground-truth `label`), the majority's count, and
    * the purity share. Tie rule is the engine's canonical one (most
    * frequent, then the SMALLEST label — q89's stated rule at cluster
    * granularity), so the report is deterministic, not argmax luck.
    *
    * Shape at scale: the assignment is the trained-centroid broadcast
    * argmax (q47's front half — the corpus never shuffles for it); the
    * purity fold is two map-side-combinable aggregations at
    * (cluster, label) then cluster granularity, exactly [[graft.queries
    * .EventOps.labelMode]]'s shape; purity is one division of exact
    * longs. */
  def clusterPurity(n: DataFrame, labels: DataFrame, k: Int,
      iters: Int): DataFrame = {
    val assigned = assignToCentroids(n.filter(col("nrm") > 0),
      kmeansCentroids(n, k, iters))
    val counts = assigned.select(col("vec_id"), col("cluster"))
      .join(labels, "vec_id")
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("cluster"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lbl"))).as("m"),
        sum(col("cnt")).as("n_vecs"))
      .select(col("cluster"), col("n_vecs"),
        col("m.lbl").as("majority_label"),
        (-col("m.nc")).as("n_majority"),
        ((-col("m.nc")).cast("double") / col("n_vecs").cast("double"))
          .as("purity"))
  }

  /** Lloyd's k-means over (vec_id, e, nrm) rows with cosine assignment and
    * fixed-point centroid updates — the trainer that turns q36's
    * "first-k-vectors" centroid stand-in into real training.
    *
    * Per round: one broadcast of the k centroids (they are k rows by
    * construction — never a shuffle), an argmax-cosine assignment
    * (row_number over a per-vector window, ties to the lower centroid id —
    * exactly q36's rule), then the centroid update as a map-side-combinable
    * integer aggregation: elements quantize to floor(x·scale) longs, so
    * partial sums commute exactly and the trained centroids are
    * bit-identical under any partitioning, task order, or AQE re-plan.
    * That reproducibility is the point at 100 TB — an IEEE double sum
    * would make every run (and every engine) drift its centroids; the
    * quantization error is bounded by 1/scale per element and is part of
    * the operator's contract, not noise. Zero-norm vectors are excluded
    * up front (cosine undefined; same nrm > 0 guard as the LSH path).
    *
    * Returns the final round's cells: (cluster, dim, value, n_members) —
    * scalar rows rather than centroid arrays so the result is directly
    * comparable across engines. [[kmeansCentroids]] folds the same cells
    * back into (c_id, ce, cn) centroid rows for the IVF search path.
    *
    * Block ownership: intermediate rounds are released in-loop; the
    * RETURNED frame is checkpoint-backed and caller-owned — same contract
    * as [[DedupOps.components]] — so a dropped reference is reaped by the
    * ContextCleaner, and a long-lived pipeline retraining in one session
    * can free it eagerly via `graft.ops.Checkpoints.rddsOf(df)
    * .foreach(_.unpersist(false))`. */
  def kmeansCells(n0: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeans needs at least one round, got $iters")
    val n = n0.filter(col("nrm") > 0)
    // One round: assign, then fold each cluster's members into quantized
    // per-dim cells. The fold is a WIDE aggregation — one quantized sum
    // per dimension over the vector column in place — instead of the
    // earlier posexplode + groupBy(cluster, dim): exploding multiplied
    // the pre-shuffle row count by `dim` (guide §2.3 — shuffle fewer
    // bytes; 64x here) only to re-group what was already colocated in
    // the array. The per-element arithmetic is unchanged
    // (floor(x·scale) cast long, summed as long), so the cells are
    // bit-identical; the (cluster, dim) rows are re-derived from the
    // k-row wide result by a bounded generate AFTER the aggregation.
    // The round result is localCheckpoint'ed (k x dim rows — tiny):
    // without the materialization, round r's broadcast subtree would
    // re-execute rounds 1..r-1's full-corpus assignment — O(iters^2)
    // corpus passes — and stack the iterative plan (the
    // componentsWithRounds pitfall).
    // The wide fold sums dims 0..Dim-1 with the null-tolerant get(), so a
    // UNIFORM width <= Dim (the hand fixtures) works unchanged — absent
    // dims sum to null and are filtered out of the generate; a width
    // above Dim raises loudly via assert_true instead of silently
    // truncating the centroids. (Ragged widths are outside this module's
    // vector contract — every operator here assumes fixed-width rows.)
    def round(cent: DataFrame): DataFrame =
      assignToCentroids(n, cent)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max(size(col("e"))).as("_msz") +:
            (0 until Dim).map(i =>
              sum(floor(get(col("e"), lit(i)) * KmeansScale).cast("long"))
                .as(s"q$i")): _*)
        .select(col("cluster"), col("n_members"),
          explode(array((0 until Dim).map(i =>
            struct(lit(i).as("dim"), col(s"q$i").as("qsum"))): _*)).as("dq"),
          assert_true(col("_msz") <= lit(Dim),
            lit(s"kmeansCells wide fold supports vector width <= $Dim")).as("_chk"))
        .filter(col("_chk").isNull && col("dq.qsum").isNotNull)
        .select(col("cluster"), col("dq.dim").as("dim"),
          (col("dq.qsum").cast("double") /
            (col("n_members") * KmeansScale).cast("double")).as("value"),
          col("n_members"))
        .localCheckpoint(true)
    val init = n.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    var cells = round(init)
    for (_ <- 2 to iters) {
      val next = round(centroidsOf(cells))
      // the new round is self-contained — release the previous round's
      // checkpoint blocks (k x dim rows each; it's hygiene, not memory
      // pressure, but a long-trained model should not leak iters frames)
      graft.ops.Checkpoints.rddsOf(cells).foreach(_.unpersist(false))
      cells = next
    }
    cells
  }

  /** The cell-local top-k search shared by q36 (static centroid pick) and
    * q47 (trained centroids): queries = every QueryMod-th vector, searched
    * only against its own cluster, ranked by (cos desc, vec_id asc). The
    * query side is broadcast — the assigned fact side never shuffles for
    * the join. */
  private def ivfSearch(assigned: DataFrame, k: Int): DataFrame = {
    val q = assigned.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cluster").as("qcluster"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    broadcast(q).join(assigned,
        col("qcluster") === col("cluster") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cos(col("qe"), col("qn"), col("e"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
  }

  /** The nearest-centroid assignment shared by q36's IVF search and the
    * k-means trainer (so the two cannot drift): per vector, the
    * argmax-cosine centroid, ties to the lower centroid id — max over
    * struct(c_cos, -c_id), the struct-argmax idiom (same rule as the
    * former row_number window: cosine desc, ties to the lower id; Spark
    * normalizes -0.0 identically in sort and struct comparison, and
    * NaN cosines are excluded by the callers' nrm > 0 guards).
    *
    * Shape (r22): the k centroid rows collapse into ONE broadcast array
    * row and the argmax folds IN PLACE per vector —
    * `array_max(transform(cents, ...))` uses the same struct ordering as
    * the previous `max(struct(c_cos, -c_id))` aggregation, so the picked
    * centroid is identical, but the per-vector k-row expansion, its
    * map-side combine, and the full-corpus exchange of (vec_id, e, nrm)
    * rows are all gone (guide §2.3/§2.4: the argmax is a per-row function
    * of data already colocated — shuffling array-carrying rows per
    * training round bought nothing). At 100 TB this removes one
    * corpus-sized shuffle per Lloyd round and one from every IVF/purity
    * assignment. The empty-centroid guard (`size > 0`) keeps the old
    * join-with-empty behavior: no centroids, no assigned rows.
    * Returns (vec_id, e, nrm, cluster). */
  private def assignToCentroids(n: DataFrame, cent: DataFrame): DataFrame = {
    val carr = cent
      .agg(array_sort(collect_list(
        struct(col("c_id"), col("ce"), col("cn")))).as("_cents"))
      .filter(size(col("_cents")) > 0)
    val best = array_max(transform(col("_cents"), ct =>
      struct(
        cos(col("e"), col("nrm"), ct.getField("ce"), ct.getField("cn")).as("c"),
        (-ct.getField("c_id")).as("n"))))
    n.join(broadcast(carr))
      .select(col("vec_id"), col("e"), col("nrm"), (-best.getField("n")).as("cluster"))
  }

  /** Fold (cluster, dim, value) cells into (c_id, ce array<double>, cn)
    * centroid rows — k rows, each array rebuilt in dim order. A cluster
    * whose every dimension quantized to zero rebuilds as the zero vector
    * (cn = 0, cosine undefined) and is dropped — the same nrm > 0 rule the
    * input vectors get, and without it Spark (null on /0, sorts last in
    * the argmax desc) and DuckDB (NaN, sorts FIRST) would assign such a
    * dead centroid differently. */
  private def centroidsOf(cells: DataFrame): DataFrame =
    cells.groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("dim"), col("value")))).as("pv"))
      .select(col("cluster").as("c_id"),
        transform(col("pv"), p => p.getField("value")).as("ce"))
      .withColumn("cn", VectorSim.norm(col("ce")))
      .filter(col("cn") > 0)

  /** Trained centroids in the frame shape q36's IVF search consumes, from
    * [[kmeansCells]]'s final round. */
  def kmeansCentroids(n0: DataFrame, k: Int, iters: Int): DataFrame =
    centroidsOf(kmeansCells(n0, k, iters))

  /** Shared vector CTE: double-cast elements + precomputed norm. DuckDB
    * list_zip yields unnamed structs — index with p[1]/p[2]. */
  private val vecCte =
    """WITH v AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings),
       n AS (
         SELECT vec_id, e,
           sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nrm
         FROM v)"""

  private def cosSql(ea: String, na: String, eb: String, nb: String): String =
    s"""list_reduce(list_transform(list_zip($ea, $eb), p -> p[1] * p[2]),
          (x, y) -> x + y) / ($na * $nb)"""

  /** Shared assignment CTE — the SQL mirror of [[assignToCentroids]], used
    * by both the q36 oracle and every unrolled q46 round so the rule can't
    * drift between them: argmax-cosine centroid per vector of `src`, ties
    * to the lower c_id. */
  private def assignSql(src: String, cent: String, out: String): String =
    s"""$out AS (
         SELECT vec_id, e, nrm, cluster FROM (
           SELECT s.vec_id, s.e, s.nrm, c.c_id AS cluster,
             row_number() OVER (PARTITION BY s.vec_id
               ORDER BY ${cosSql("s.e", "s.nrm", "c.ce", "c.cn")} DESC,
                        c.c_id ASC) AS rn
           FROM $src s CROSS JOIN $cent c) t
         WHERE rn = 1)"""

  val oracles: Map[String, String] = Map(
    "q34_cosine_neardup" ->
      s"""$vecCte
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} AS cos
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $NearDupThreshold""",
    "q53_embed_dedup" ->
      s"""${vecCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         pairs AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $NearDupThreshold),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         reach AS (
           SELECT src AS doc_id, src AS label FROM edges
           UNION
           SELECT e.dst AS doc_id, r.label AS label
           FROM reach r JOIN edges e ON e.src = r.doc_id)
         SELECT doc_id AS vec_id, min(label) AS label FROM reach GROUP BY doc_id""",
    // q36's static-cell assignment + q34's exact cosine inside each cell;
    // dropped = any vector with an above-threshold lower-id cell-mate.
    "q76_semantic_dedup" ->
      s"""$vecCte,
         nz AS (SELECT vec_id, e, nrm FROM n WHERE nrm > 0),
         cent AS (SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM nz
                  WHERE vec_id < $NumCentroids),
         ${assignSql("nz", "cent", "assigned")},
         dropped AS (
           SELECT DISTINCT b.vec_id
           FROM assigned a JOIN assigned b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $NearDupThreshold)
         SELECT vec_id, cluster FROM assigned
         WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""",
    "q35_ann_topk" ->
      s"""$vecCte,
         q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
               WHERE vec_id % $QueryMod = 0),
         scored AS (
           SELECT q.query_id, n.vec_id,
             ${cosSql("q.qe", "q.qn", "n.e", "n.nrm")} AS cos
           FROM q JOIN n ON q.query_id <> n.vec_id),
         ranked AS (
           SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored)
         SELECT query_id, vec_id AS neighbor_id, rank, cos
         FROM ranked WHERE rank <= $TopK""",
    "q36_ivf_topk" ->
      s"""$vecCte,
         cent AS (SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM n
                  WHERE vec_id < $NumCentroids),
         ${assignSql("n", "cent", "assigned")},
         ${ivfSearchSql("assigned")}""",
    "q47_ivf_trained" ->
      s"""$kmeansChain,
         ${rebuildSql(s"m$KmeansIters", "centt")},
         ${assignSql("nz", "centt", "assigned")},
         ${ivfSearchSql("assigned")}""",
    // CAST(x AS DOUBLE): Spark promotes the float element to double
    // against the double literal; without the explicit cast DuckDB could
    // compare in FLOAT (its DECIMAL literal sits below FLOAT) and an
    // element equal to float(0.4) would flip membership between engines
    "q44_array_exists" ->
      s"""SELECT vec_id,
           len(list_filter(embedding, x -> CAST(x AS DOUBLE) > $HotThreshold)) AS n_hot
         FROM embeddings
         WHERE len(list_filter(embedding, x -> CAST(x AS DOUBLE) > $HotThreshold)) > 0""",
    "q37_hyperplane_lsh" -> hyperplaneOracle,
    "q109_embed_dedup_lsh" -> lshComponentsOracle,
    "q111_semantic_decontaminate" -> semanticDecontamOracle,
    "q46_kmeans" -> kmeansOracle,
    "q97_cluster_purity" -> clusterPurityOracle,
    // same oracle by design: the bucketed exact kernel has the same
    // candidate universe (pairs sharing >= 1 band) and bit-identical
    // cosines (same fold order) as the banded equi-join form
    "q28_lsh_bucketed_exact" -> hyperplaneOracle,
    "q54_vector_gate" -> vectorGateOracle)

  /** One fixed-point cell-update CTE (the SQL mirror of a [[kmeansCells]]
    * round's aggregation). */
  private def kmeansCellsSql(assigned: String, out: String): String =
    s"""$out AS (
         SELECT cluster, s.dim AS dim,
           CAST(sum(CAST(floor(s.val * $KmeansScale) AS BIGINT)) AS DOUBLE)
             / CAST(count(*) * $KmeansScale AS DOUBLE) AS value,
           count(*) AS n_members
         FROM (SELECT cluster,
                 unnest(list_transform(range(1, len(e) + 1),
                   i -> {'dim': i - 1, 'val': e[i]})) AS s
               FROM $assigned) u
         GROUP BY cluster, s.dim)"""

  /** Cells -> centroid rows; WHERE cn > 0 mirrors centroidsOf's
    * dead-centroid drop. */
  private def rebuildSql(cellsCte: String, out: String): String =
    s"""$out AS (
         SELECT c_id, ce, cn FROM (
           SELECT c_id, ce,
             sqrt(list_reduce(list_transform(ce, x -> x * x), (a, b) -> a + b)) AS cn
           FROM (SELECT cluster AS c_id, list(value ORDER BY dim) AS ce
                 FROM $cellsCte GROUP BY cluster) t0) t
         WHERE cn > 0)"""

  /** Cell-local top-k search over an assignment CTE — the SQL mirror of
    * [[ivfSearch]], shared by the q36 and q47 oracles. */
  private def ivfSearchSql(assigned: String): String =
    s"""q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cluster AS qcluster
           FROM $assigned WHERE vec_id % $QueryMod = 0),
       scored AS (
         SELECT q.query_id, a.vec_id,
           ${cosSql("q.qe", "q.qn", "a.e", "a.nrm")} AS cos
         FROM q JOIN $assigned a
           ON q.qcluster = a.cluster AND q.query_id <> a.vec_id),
       ranked AS (
         SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, vec_id ASC) AS rank
         FROM scored)
       SELECT query_id, vec_id AS neighbor_id, rank, cos
       FROM ranked WHERE rank <= $IvfK"""

  /** The unrolled [[KmeansIters]]-round Lloyd chain (WITH body through the
    * final round's cells `m<iters>`) — shared by the q46 oracle and q47's
    * trained-search oracle; integer sums make the per-round results
    * order-independent, so the unrolled SQL and the distributed loop must
    * agree bit-for-bit. */
  private lazy val kmeansChain: String = {
    val rounds = (1 to KmeansIters).map { r =>
      val cent = if (r == 1) "c0" else s"cent${r - 1}"
      val mid = Seq(assignSql("nz", cent, s"a$r"), kmeansCellsSql(s"a$r", s"m$r"))
      (if (r < KmeansIters) mid :+ rebuildSql(s"m$r", s"cent$r") else mid)
        .mkString(",\n")
    }.mkString(",\n")
    s"""$vecCte,
       nz AS (SELECT vec_id, e, nrm FROM n WHERE nrm > 0),
       c0 AS (SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM nz
              WHERE vec_id < $KmeansK),
       $rounds"""
  }

  private lazy val kmeansOracle: String =
    s"""$kmeansChain
       SELECT cluster, dim, value, n_members FROM m$KmeansIters"""

  /** q97: the trained chain + one more rebuild/assign, then q89's
    * max-count-join + min(label) mirror of the stated majority tie rule. */
  private lazy val clusterPurityOracle: String =
    s"""$kmeansChain,
       ${rebuildSql(s"m$KmeansIters", "centf")},
       ${assignSql("nz", "centf", "af")},
       j AS (
         SELECT a.cluster, v.label
         FROM af a JOIN embeddings v ON a.vec_id = v.vec_id),
       c AS (SELECT cluster, label, count(*) AS cnt FROM j GROUP BY 1, 2),
       m AS (
         SELECT cluster, max(cnt) AS n_majority,
           CAST(sum(cnt) AS BIGINT) AS n_vecs
         FROM c GROUP BY 1)
       SELECT m.cluster, m.n_vecs, min(c.label) AS majority_label,
         m.n_majority,
         CAST(m.n_majority AS DOUBLE) / CAST(m.n_vecs AS DOUBLE) AS purity
       FROM c JOIN m ON c.cluster = m.cluster AND c.cnt = m.n_majority
       GROUP BY m.cluster, m.n_vecs, m.n_majority"""

  /** SQL mirror of the 16-bit hyperplane signature ([[lshBands]]'s sig
    * column) over a vector column `e` — same md5-derived signs, so the
    * two engines band identically. */
  private lazy val hyperplaneSigSql: String =
    (0 until HyperplaneBits).map { j =>
      val signs = "LIST_VALUE(" +
        hyperplaneSigns(j).map(s => if (s > 0) "1.0" else "-1.0").mkString(",") + ")"
      s"""(CASE WHEN list_reduce(list_transform(list_zip(e, $signs),
            p -> p[1] * p[2]), (a, b) -> a + b) > 0 THEN ${1 << j} ELSE 0 END)"""
    }.mkString(" + ")

  /** The 4-band explode of `sg`'s signature (SQL mirror of [[lshBands]]). */
  private lazy val hyperplaneBandsSql: String =
    (0 until HyperplaneBits / HyperplaneBandBits).map { b =>
      s"SELECT vec_id, $b AS b, (sig // ${1 << (HyperplaneBandBits * b)}) % ${1 << HyperplaneBandBits} AS bv FROM sg"
    }.mkString(" UNION ALL ")

  private lazy val hyperplaneOracle: String =
    s"""$vecCte,
       sg AS (SELECT vec_id, e, nrm, $hyperplaneSigSql AS sig FROM n WHERE nrm > 0),
       bands AS ($hyperplaneBandsSql),
       cand AS (
         SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id)
       SELECT c.vec_a, c.vec_b,
         ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} AS cos
       FROM cand c
       JOIN n a ON a.vec_id = c.vec_a
       JOIN n b ON b.vec_id = c.vec_b
       WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $NearDupThreshold"""

  /** The q109 oracle: q37's banded candidate + exact-verify CTEs feeding
    * q53's recursive component collapse — the SQL mirror of the plan the
    * 100 TB deployment ships (LSH-bucketed pair producer, label
    * propagation), sharing the candidate universe with [[lshNearDup]] by
    * construction. */
  private lazy val lshComponentsOracle: String =
    s"""${vecCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       sg AS (SELECT vec_id, e, nrm, $hyperplaneSigSql AS sig FROM n WHERE nrm > 0),
       bands AS ($hyperplaneBandsSql),
       cand AS (
         SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id),
       pairs AS (
         SELECT c.vec_a AS doc_a, c.vec_b AS doc_b
         FROM cand c
         JOIN n a ON a.vec_id = c.vec_a
         JOIN n b ON b.vec_id = c.vec_b
         WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $NearDupThreshold),
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION
         SELECT doc_b AS src, doc_a AS dst FROM pairs),
       reach AS (
         SELECT src AS doc_id, src AS label FROM edges
         UNION
         SELECT e.dst AS doc_id, r.label AS label
         FROM reach r JOIN edges e ON e.src = r.doc_id)
       SELECT doc_id AS vec_id, min(label) AS label FROM reach GROUP BY doc_id"""

  /** The q111 oracle: q54's cross-side banding with q51's benchmark
    * partition (`% 97`), aggregated to the per-doc audit — candidates
    * are corpus-x-bench band collisions, each verified by exact cosine,
    * then one count/max rollup per flagged doc (max over bit-identical
    * doubles is engine-exact: it only PICKS a value). */
  private lazy val semanticDecontamOracle: String =
    s"""$vecCte,
       sg AS (SELECT vec_id, e, nrm, $hyperplaneSigSql AS sig FROM n WHERE nrm > 0),
       bands AS ($hyperplaneBandsSql),
       cand AS (
         SELECT DISTINCT x.vec_id, y.vec_id AS bench_id
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.bv = y.bv
         WHERE x.vec_id % $SemBenchMod <> 0 AND y.vec_id % $SemBenchMod = 0),
       hit AS (
         SELECT c.vec_id,
           ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} AS cos
         FROM cand c
         JOIN n a ON a.vec_id = c.vec_id
         JOIN n b ON b.vec_id = c.bench_id
         WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $SemDecontamThreshold)
       SELECT vec_id, count(*) AS n_hits, max(cos) AS max_cos
       FROM hit GROUP BY vec_id"""

  /** The q54 oracle: the same signature/banding as q37's, split odd
    * (incoming) vs even (corpus) — candidates are cross-side band
    * collisions, verified by exact cosine, exactly
    * [[lshNearDupAgainstIndex]] over [[vectorBandIndex]]. */
  private lazy val vectorGateOracle: String =
    s"""$vecCte,
       sg AS (SELECT vec_id, e, nrm, $hyperplaneSigSql AS sig FROM n WHERE nrm > 0),
       bands AS ($hyperplaneBandsSql),
       cand AS (
         SELECT DISTINCT x.vec_id, y.vec_id AS corpus_id
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.bv = y.bv
         WHERE x.vec_id % 2 = 1 AND y.vec_id % 2 = 0)
       SELECT c.vec_id, c.corpus_id,
         ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} AS cos
       FROM cand c
       JOIN n a ON a.vec_id = c.vec_id
       JOIN n b ON b.vec_id = c.corpus_id
       WHERE ${cosSql("a.e", "a.nrm", "b.e", "b.nrm")} >= $NearDupThreshold"""
}
