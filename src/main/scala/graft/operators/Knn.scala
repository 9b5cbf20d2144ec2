package graft.operators

import scala.collection.mutable.PriorityQueue

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Exact and approximate k-nearest-neighbor operators over an embedding
  * column (`ArrayType(FloatType)`).
  *
  * The reference executes exact brute-force kNN — `ORDER BY embeddings <=>
  * $probe LIMIT k` with no ANN index (reference `backend/models.py:186-191`,
  * SURVEY.md §1.4) — so [[topK]] is semantically identical. [[knnJoin]]
  * generalizes it to a batch of probes, and [[Ivf]] adds the scale path.
  *
  * Scale design (100 TB):
  *  - single-probe topK compiles to TakeOrderedAndProject: per-partition
  *    top-k heaps + driver merge of k rows/partition — no global sort, no
  *    shuffle of the corpus;
  *  - knnJoin broadcasts the probe batch and computes per-partition
  *    bounded heaps in one pass over the corpus (mapPartitions — the
  *    cross-product never materializes); the only shuffle is the
  *    candidate set, ≤ partitions x probes x k rows;
  *  - Ivf trains nlist centroids on a driver-side sample, assigns
  *    partitions distributively, and prunes the corpus to nprobe buckets
  *    at query time (the Spark analogue of pgvector's ivfflat, which the
  *    reference notably does NOT build — our exact operators stay the
  *    verified baseline).
  */
object Knn {

  /** Plain-Scala cosine distance, bit-identical to the CosineDistance
    * expression's loop (same accumulation order).
    */
  private[graft] def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"vector dimension mismatch: ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k by cosine distance to one probe (reference V2 semantics
    * plus a deterministic tie-break on `tieBreak`).
    */
  def topK(corpus: DataFrame, embCol: Column, probe: Array[Float], k: Int,
           tieBreak: Column, offset: Int = 0): DataFrame =
    corpus
      .withColumn("dist", cosine_distance(embCol, vector_lit(probe)))
      .orderBy(col("dist").asc, tieBreak.asc)
      .offset(offset)
      .limit(k)

  /** Batch kNN join: the k nearest corpus rows for every probe row.
    * Output: (probe_id, corpus_id, dist, rnk) with rnk in [1, k],
    * deterministic via (dist, corpus_id) ordering.
    *
    * Probe batches up to `probeChunk` rows are collected and broadcast
    * whole — ONE probe-side job (a bounded limit-collect), one corpus
    * scan, per-partition bounded heaps, the cross-product never
    * materializes. Larger probe sets auto-chunk: probe partitions stream
    * to the driver (`toLocalIterator` — the driver holds ONE chunk, never
    * the full probe set), each chunk runs its own corpus pass whose
    * partials are materialized eagerly so the chunk's broadcast can be
    * released before the next begins, and one global window ranks the
    * union. Exactness is preserved because every probe lives in exactly
    * one chunk and each chunk scans the full corpus. Cost model:
    * ceil(probes/probeChunk) corpus scans — fine in the 100k-10M probe
    * regime; beyond that prefer [[Ivf.knnJoinApprox]], which shuffles
    * both sides instead of re-scanning.
    */
  def knnJoin(corpus: DataFrame, corpusId: String, corpusEmb: String,
              probes: DataFrame, probeId: String, probeEmb: String,
              k: Int, probeChunk: Int = 100000): DataFrame = {
    require(probeChunk > 0, s"probeChunk must be positive, got $probeChunk")
    val spark = corpus.sparkSession
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val probeDs = probes
      .select(col(probeId).cast("long"), col(probeEmb).cast("array<float>"))
      .as[(Long, Array[Float])]
    // Probe the single-chunk case with ONE bounded job: toLocalIterator
    // schedules a job per probe partition, which turned the common small
    // batch into dozens of serial no-op jobs (measured 2x on v3w). The
    // limit-collect holds at most probeChunk+1 rows on the driver.
    val firstChunk = probeDs.limit(probeChunk + 1).collect()
    val chunks =
      if (firstChunk.length <= probeChunk)
        Iterator.single(firstChunk.toSeq) // empty probe set: one empty pass
      else probeDs.toLocalIterator().asScala.grouped(probeChunk)
    val passes = chunks.map { chunk =>
      val arr = chunk.toArray
      val bc = spark.sparkContext.broadcast(arr)
      val partials = corpus
        .select(col(corpusId).cast("long"), col(corpusEmb).cast("array<float>"))
        .as[(Long, Array[Float])]
        .mapPartitions { iter =>
          val ps = bc.value
          // max-heap on (dist, id): worst candidate at head, evicted first
          val ord = Ordering.Tuple2[Double, Long]
          val heaps = Array.fill(ps.length)(PriorityQueue.empty[(Double, Long)](ord))
          iter.foreach { case (cid, emb) =>
            var p = 0
            while (p < ps.length) {
              val d = cosineDist(emb, ps(p)._2)
              val h = heaps(p)
              if (h.size < k) h.enqueue((d, cid))
              else if (ord.lt((d, cid), h.head)) { h.dequeue(); h.enqueue((d, cid)) }
              p += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, p) =>
            h.iterator.map { case (d, cid) => (ps(p)._1, cid, d) }
          }
        }
        .toDF("probe_id", "corpus_id", "dist")
      (partials, bc)
    }
    val first = passes.next()
    val partials =
      if (!passes.hasNext) first._1 // single chunk: today's lazy one-pass plan
      else {
        // multi-chunk: run each pass eagerly (the kept state is bounded to
        // <= partitions x chunkProbes x k candidate rows, spilling to disk
        // past memory) and release its broadcast's executor copies before
        // collecting the next chunk. The materialization is a
        // lineage-PRESERVING persist, not a localCheckpoint: a truncated
        // checkpoint block lost to executor loss/eviction would fail the
        // final window job unrecoverably — exactly in the cluster regime
        // this path is documented for (round-5 advice). The broadcast is
        // unpersisted (executor copies dropped) but NOT destroyed: the
        // driver retains the value, so a lost persisted partition
        // recomputes its corpus pass and re-fetches the broadcast.
        // RDD-level persist (not Dataset.persist): the ContextCleaner
        // frees the blocks and the retained broadcasts once the result is
        // garbage-collected, where CacheManager would pin them for the
        // session's lifetime.
        (Iterator.single(first) ++ passes).map { case (df, bc) =>
          val rdd = df.rdd.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          rdd.count() // materialize before the next chunk's broadcast ships
          bc.unpersist(false)
          spark.createDataFrame(rdd, df.schema)
        }.reduce(_ union _)
      }
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist").asc, col("corpus_id").asc)
    partials
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Two-stage dimension-truncation kNN — the Matryoshka-style prefix
    * prefilter (Kusupati et al. 2022, public): rank the corpus by cosine
    * distance over only the FIRST `q` dimensions, then re-rank the `r`
    * survivors by exact full-dimension cosine and keep top-k.
    *
    * Scale design: stage 1 is a TakeOrderedAndProject over a kernel doing
    * dim/q-fold less float work — and, when the prefix is stored as its
    * own column (columnar parquet prunes the rest), dim/q-fold less scan
    * I/O; no shuffle, per-partition heaps, driver merges r rows. Stage 2
    * is an `isin`-pushed point lookup of r originals (bounded by r) plus
    * an r-row sort — the [[Pq.searchRefine]] shape with truncation instead
    * of quantization as the compressor. Unlike PQ it needs no training:
    * the prefix is its own coarse representation (meaningful when the
    * embedding model front-loads information, the Matryoshka property).
    *
    * Output: the corpus columns of the k winners plus `dist` (full-dim),
    * ordered (dist, id).
    */
  def topKTruncateRefine(corpus: DataFrame, idCol: String, embCol: String,
                         probe: Array[Float], q: Int, k: Int, r: Int): DataFrame = {
    require(r >= k, s"refine pool r=$r must be >= k=$k")
    require(q >= 1 && q <= probe.length,
      s"truncation dim q=$q must be in [1, ${probe.length}]")
    val pool = corpus
      .withColumn("dist_t", cosine_distance(
        slice(col(embCol).cast("array<float>"), 1, q), vector_lit(probe.take(q))))
      .orderBy(col("dist_t").asc, col(idCol).asc)
      .limit(r)
      .select(col(idCol)).collect().map(_.get(0)) // bounded by r
    corpus
      .filter(col(idCol).isin(pool: _*))
      .withColumn("dist",
        cosine_distance(col(embCol).cast("array<float>"), vector_lit(probe)))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Two-stage Johnson-Lindenstrauss kNN: rank the corpus by squared-L2
    * distance between k-dim +-1 projections ([[graft.functions
    * .SignedProject]] — dim/kDims-fold less arithmetic and, with the
    * projection stored as its own column, dim/kDims-fold less scan I/O),
    * then re-rank the r survivors by exact full-precision cosine. The
    * DATA-INDEPENDENT member of the compressor family: PQ/SQ8 need a
    * training pass, Matryoshka needs prefix-trained embeddings, JL needs
    * only a seed — the right tool the first time a corpus is seen.
    * The projected ranking is EXACT integer arithmetic (quantize-then-
    * fold, see SignedProject), so the pool is deterministic on any
    * engine — no float-associativity fuzz at the pool boundary.
    */
  def topKProjectRefine(corpus: DataFrame, idCol: String, embCol: String,
                        probe: Array[Float], kDims: Int, seed: Long,
                        k: Int, r: Int): DataFrame = {
    require(r >= k, s"refine pool r=$r must be >= k=$k")
    val pp = graft.functions.SignedProject.project(probe, kDims, seed)
    val emb = col(embCol).cast("array<float>")
    val pool = corpus
      .withColumn("pj", signed_project(emb, kDims, seed))
      .withColumn("dist_p", aggregate(
        zip_with(col("pj"), typedlit(pp.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
      .orderBy(col("dist_p").asc, col(idCol).asc)
      .limit(r)
      .select(col(idCol)).collect().map(_.get(0)) // bounded by r
    corpus
      .filter(col(idCol).isin(pool: _*))
      .withColumn("dist", cosine_distance(emb, vector_lit(probe)))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Two-stage binary-quantized kNN (the BQ shape public in Lucene/
    * Elasticsearch): rank the corpus by Hamming distance over 1-bit sign
    * quantizations (32x smaller than float32 — XOR + popcount per 64
    * dims), then re-rank the r survivors by exact full-precision cosine.
    * The probe's quantization constant-folds, so the scan-side work is
    * one `hamming_distance` per row over dim/64 words; with the packed
    * words stored as their own column the scan I/O drops 32-fold. The
    * coarsest, cheapest member of the compressor family (int8 v10, PQ
    * v12, truncation v18) — ties are broken by id, making the selection
    * deterministic despite Hamming's coarse granularity.
    */
  def topKBinaryRefine(corpus: DataFrame, idCol: String, embCol: String,
                       probe: Array[Float], k: Int, r: Int): DataFrame = {
    require(r >= k, s"refine pool r=$r must be >= k=$k")
    val emb = col(embCol).cast("array<float>")
    val pool = corpus
      .withColumn("dist_h", hamming_distance(
        binary_quantize(emb), binary_quantize(vector_lit(probe))))
      .orderBy(col("dist_h").asc, col(idCol).asc)
      .limit(r)
      .select(col(idCol)).collect().map(_.get(0)) // bounded by r
    corpus
      .filter(col(idCol).isin(pool: _*))
      .withColumn("dist", cosine_distance(emb, vector_lit(probe)))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Exact all-pairs near-duplicate detection: pairs (id1 < id2) whose
    * cosine similarity exceeds `minSim`. O(n^2) — the verified exact
    * baseline, and the only complete method when `minSim` sits below the
    * LSH-separable regime (see [[lshNearDupPairs]]): at sim 0.4 in 64-dim
    * the per-hyperplane collision probability of a qualifying pair (0.63)
    * vs an orthogonal pair (0.50) amplifies by only 1.26^rows per band, so
    * no (bands, rows) geometry can reach recall ~1 without candidating
    * nearly every pair. Realistic near-dup thresholds (>= ~0.8) belong on
    * the LSH path.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                   minSim: Double, maxRows: Int = 100000): DataFrame = {
    // The corpus is broadcast whole and compared all-pairs: fail loudly
    // before OOMing the executors if someone points this at a big table.
    // limit(n+1).count() bounds the guard's own cost — it never scans far
    // past the threshold.
    val n = corpus.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"nearDupPairs is the exact O(n^2) baseline and broadcasts the full " +
        s"corpus (> $maxRows rows found); use lshNearDupPairs for corpora " +
        "at scale (thresholds >= ~0.7), or raise maxRows deliberately")
    // the streaming side carries ALL n^2/2 cosine evaluations; a single
    // small parquet file scans as one partition and would run them on one
    // core (the v8-banding pathology) — spread only when narrower than
    // the cluster, a no-op on real multi-partition inputs
    val a = graft.Tables.spread(
      corpus.select(col(idCol).as("id1"), col(embCol).as("emb1")))
    val b = corpus.select(col(idCol).as("id2"), col(embCol).as("emb2"))
    a.join(broadcast(b), col("id1") < col("id2"))
      .withColumn("sim", lit(1.0) - cosine_distance(col("emb1"), col("emb2")))
      .filter(col("sim") > minSim)
      .select(col("id1"), col("id2"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Candidate pairs from hyperplane-LSH blocking: ids sharing at least one
    * (band, bucket). The shuffle carries bands fixed-size keys per row —
    * the pair space never materializes. Exposed separately so tests (and
    * capacity planning) can measure the candidate volume.
    *
    * Bucket-volume guard (guide §2.5): a degenerate corpus (e.g.
    * near-identical embeddings hashing every row into one bucket per band)
    * puts the corpus into one array row, so the exact candidate volume is
    * counted first and refused past `maxPairEstimate` ([[Pairs]]).
    *
    * The (id, band, bucket) banding is materialized ONCE via a lazy
    * localCheckpoint (GC-released blocks, the [[Dedup.hammingPairs]]
    * lifecycle): `hyperplane_bands` runs over every row, and both the
    * guard aggregate and the pair generation read it.
    */
  def lshCandidatePairs(corpus: DataFrame, idCol: String, embCol: String,
                        bands: Int, rowsPerBand: Int, seed: Long,
                        maxPairEstimate: Long = 50000000L): DataFrame = {
    val banded = corpus
      .select(col(idCol).as("id"),
        posexplode(hyperplane_bands(col(embCol), bands, rowsPerBand, seed))
          .as(Seq("band", "bucket")))
      .localCheckpoint(false)
    Pairs.guard(banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("df")),
      "df", maxPairEstimate) { pairVolume =>
      s"lshCandidatePairs would materialize ~$pairVolume candidate pairs " +
        s"from per-band posting buckets (> $maxPairEstimate): the " +
        "embedding distribution defeats hyperplane blocking (hot buckets " +
        "own the corpus). Use more rowsPerBand (rarer buckets), pre-dedup " +
        "exact duplicates first, or raise maxPairEstimate deliberately"
    }
    Pairs.within(banded, Seq("band", "bucket"), "id")
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** Scale path for embedding near-dup (the d3-to-d2 analogue of
    * [[nearDupPairs]]): hyperplane-LSH candidate blocking + exact cosine
    * verification of the candidates only. Precision is exactly 1 (every
    * emitted pair is verified); recall follows the sign-LSH S-curve
    * 1 - (1 - (1-theta/pi)^rows)^bands — at the (64, 12) defaults a
    * sim-0.9 pair is missed with P ~ 1e-9 while orthogonal pairs collide
    * with P ~ 0.016, so candidates stay ~2% of the pair space.
    *
    * `minSim` below ~0.7 defeats the blocking (see [[nearDupPairs]] — the
    * amplification ratio collapses); use the exact operator there.
    *
    * If `embCol` is an expensive derived expression, pre-materialize it
    * (`.select(...).cache()`) — the column is evaluated on both the banding
    * and the verification branch. `maxPairEstimate` is the candidate-volume
    * cap of [[lshCandidatePairs]].
    */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                      minSim: Double, bands: Int = 64, rowsPerBand: Int = 12,
                      seed: Long = 42L,
                      maxPairEstimate: Long = 50000000L): DataFrame = {
    val cand = lshCandidatePairs(corpus, idCol, embCol, bands, rowsPerBand, seed,
      maxPairEstimate)
    val emb = corpus.select(col(idCol), col(embCol))
    cand
      .join(emb.toDF("id1", "emb1"), "id1")
      .join(emb.toDF("id2", "emb2"), "id2")
      .filter(lit(1.0) - cosine_distance(col("emb1"), col("emb2")) > minSim)
      .select(col("id1"), col("id2"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Semantic deduplication, the SemDeDup shape (Abbas et al. 2023,
    * public): k-means-cluster the embeddings, compare pairs only WITHIN
    * a cluster, drop every row that has a lower-id neighbor above
    * `minSim` in its cluster. Returns the kept rows of `corpus`.
    *
    * Why clustering first: all-pairs is n^2; with k balanced clusters
    * the pair space shrinks k-fold (sum of n_i^2 ~ n^2/k), and the
    * pair generation's shuffle key is the cluster id, so each cluster's
    * pairs co-locate on one reducer — no global pair space ever exists.
    * The trade is the same as SemDeDup's: a cross-cluster near-dup pair
    * is not examined (by design — cluster-boundary pairs are the
    * published algorithm's accepted miss).
    *
    * "Drop if ANY lower-id neighbor" is deliberately transitive-free:
    * one SQL statement, deterministic, no iteration. For transitive
    * clusters use [[Dedup.nearDupClusters]] over emitted pairs (a driver
    * union-find for short pair lists, star contraction rounds past
    * [[Dedup.LocalMaxPairs]]).
    *
    * Clustering reuses [[Ivf.build]]'s deterministic k-means (seeded
    * sample, fixed iterations) so the oracle replays the assignment
    * exactly (IvfSql); the pair volume is counted per-cluster BEFORE the
    * pairs are generated ([[Pairs.within]], one row per unordered pair)
    * and refused past `pairCap` naming the knob — the d2 guard posture.
    * The (id, emb, bucket) assignment is materialized ONCE via a lazy
    * localCheckpoint (the [[lshCandidatePairs]] banding lifecycle): the
    * nearest-centroid pass runs over every row once, and both the guard
    * aggregate and the pair generation read it.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
                    minSim: Double, nlist: Int, iters: Int = 5,
                    pairCap: Long = 50000000L): DataFrame = {
    val a = Ivf.build(corpus, idCol, embCol, nlist, iters).assigned.localCheckpoint(false)
    Pairs.guard(a.groupBy(col("bucket")).agg(count(lit(1)).as("n")), "n", pairCap) { pairs =>
      s"semanticDedup: intra-cluster pair volume $pairs exceeds cap $pairCap" +
        " — raise nlist (smaller clusters) or pairCap deliberately"
    }
    // (id, emb) elements: ids are unique, so the struct order IS the id
    // order and each within-cluster pair comes once, lower id first
    val dropped = Pairs.within(a.select(col("bucket"), struct(col("id"), col("emb")).as("e")),
        Seq("bucket"), "e", ("es", "e1", "e2"))
      .filter(lit(1.0) - cosine_distance(col("e1.emb"), col("e2.emb")) > minSim)
      .select(col("e2.id").as("__dropped_id"))
      .distinct()
    corpus.join(dropped, corpus(idCol) === dropped("__dropped_id"), "left_anti")
  }
}
