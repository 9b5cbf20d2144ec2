package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.Knn

/** Vector-search coverage: the reference's core operator family
  * (cosine-distance brute-force kNN, `backend/models.py:186-191`) plus the
  * batch generalizations SURVEY.md §2.9 mandates (kNN join, embedding
  * near-dup, centroids).
  *
  * Oracle notes: distances are compared only through *ordering* (outputs
  * carry ids + ranks, not raw distances) because DuckDB's
  * `list_cosine_similarity` and our codegen loop may differ in the last
  * ulp; the synthetic embeddings' distance gaps (>=1e-4 in every top-k
  * window, verified at all SFs) make rank order robust. Centroid sums are
  * decimal-routed per component for exactness. v8's oracle restates the
  * whole LSH pipeline in SQL (SketchSql); since round 5 v7/v9 are fully
  * oracled too — the deterministic k-means unrolls into chained DuckDB
  * CTEs (see [[IvfSql]]) because the gate corpus fits the sample budget,
  * collapsing Ivf.build's reservoir sample to the identity. Round 6
  * closes the remaining regime: v7s pins a corpus LARGER than the budget
  * under a deterministic skewed layout, with the reservoir + quota
  * sampling itself restated in SQL ([[IvfSql.sampleCtes]]).
  */
object Vectors extends QueryPack {

  /** Driver-side probe lookup: the embedding of `vec_id = probeId`.
    * Mirrors the reference's out-of-engine probe acquisition (the query
    * string is embedded before the SQL runs — SURVEY.md §2.7 F8).
    */
  /** Shared by v9 (in-memory IVF batch join) and v22 (the same join
    * served from the saved bucket-partitioned index — the float
    * round-trip is lossless, so the selections must coincide).
    */
  private lazy val ivfKnnJoinSql: String =
    s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
       |probes AS MATERIALIZED (SELECT vec_id AS probe_id, v, nn FROM emb WHERE vec_id < 8),
       |pbk AS (
       |  SELECT p.probe_id, c.b
       |  FROM probes p CROSS JOIN ${IvfSql.cent} c
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |    ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b) <= 3),
       |cand AS (
       |  SELECT pb.probe_id, af.vec_id AS corpus_id,
       |         ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")} AS dist
       |  FROM pbk pb
       |  JOIN probes p USING (probe_id)
       |  JOIN af ON af.b = pb.b
       |  JOIN emb e ON e.vec_id = af.vec_id)
       |SELECT probe_id, rnk, corpus_id FROM (
       |  SELECT probe_id, corpus_id,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dist, corpus_id) AS rnk
       |  FROM cand) t
       |WHERE rnk <= 3
       |ORDER BY probe_id, rnk""".stripMargin

  private def probeOf(s: SparkSession, d: String, probeId: Long): Array[Float] =
    Tables.embeddings(s, d)
      .filter(col("vec_id") === probeId)
      .select(col("embedding"))
      .head().getSeq[Float](0).toArray

  /** One unrolled MMR greedy step for the v31 oracle: argmax over the
    * unselected pool of 2*rel - max(sim to the accumulated id list),
    * tie-broken on id — DuckDB's correlated MAX subquery plays the
    * engine's driver-side max over the selected set. */
  private def mmrStep(n: Int): String =
    s"""s$n AS MATERIALIZED (
       |  SELECT CAST($n AS BIGINT) AS step, c.vec_id AS vec_id,
       |    list_append(s${n - 1}.ids, c.vec_id) AS ids,
       |    2 * c.rel - (SELECT MAX(m.sim) FROM sims m
       |                 WHERE m.ai = c.vec_id
       |                   AND list_contains(s${n - 1}.ids, m.bi)) AS score
       |  FROM pool c, s${n - 1}
       |  WHERE NOT list_contains(s${n - 1}.ids, c.vec_id)
       |  ORDER BY score DESC, c.vec_id ASC LIMIT 1)""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Reference-parity exact kNN: scan -> cosine distance -> top-k.
    // Catalyst plans TakeOrderedAndProject (per-partition heap, no shuffle).
    "v1_knn_top10" -> { (s, d) =>
      Knn.topK(Tables.embeddings(s, d), col("embedding"), probeOf(s, d, 0L),
        k = 10, tieBreak = col("vec_id"))
        .select(col("vec_id"), col("label"))
    },

    // Offset pagination over the same ordering (reference V3 semantics).
    "v2_knn_page2" -> { (s, d) =>
      Knn.topK(Tables.embeddings(s, d), col("embedding"), probeOf(s, d, 0L),
        k = 10, tieBreak = col("vec_id"), offset = 10)
        .select(col("vec_id"), col("label"))
    },

    // Batch kNN join: 8 probes x corpus, k=3, via broadcast probes +
    // per-partition bounded heaps (no materialized cross product).
    "v3_knn_join" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Knn.knnJoin(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("corpus_id"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // The chunked probe path: probeChunk=3 forces the 8 probes through
    // three broadcast chunks + the eager-union path — the exact regime
    // knnJoin enters past its single-broadcast comfort zone (~100k). Same
    // oracle shape as v3: chunking must be invisible in the result.
    "v3c_knn_join_chunked" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Knn.knnJoin(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3, probeChunk = 3)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("corpus_id"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // Embedding-cosine near-duplicate pairs (SURVEY §2.9).
    "v4_embedding_near_dup" -> { (s, d) =>
      Knn.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", minSim = 0.4)
    },

    // SemDeDup: cluster (v7's deterministic k-means), intra-cluster
    // near-dup drop (keep the lowest id of any close pair) — the pair
    // space shrinks nlist-fold vs v4's all-pairs and shuffles on the
    // cluster id. Same 0.4 threshold as v4, so the drop decisions are
    // the cluster-restricted subset of v4's verified pair set.
    "d9_semantic_dedup" -> { (s, d) =>
      Knn.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        minSim = 0.4, nlist = 8, iters = 5)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },

    // Per-label centroids via the vector_centroid TypedImperativeAggregate:
    // the aggregation shuffles one dim-width buffer per (label, partition)
    // instead of posexplode's rows x dim rows (at 1024-dim production scale
    // a 1000x row amplification). Decimal(18,9)-routed per component inside
    // the buffer, so the compare stays exact; the explode to (label, pos)
    // rows happens AFTER the aggregate, on |labels| rows.
    "v5_label_centroids" -> { (s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(vector_centroid(col("embedding")).as("cent"))
        .select(col("label"), posexplode(col("cent")).as(Seq("pos", "centroid")))
        .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))
        .orderBy(col("label"), col("pos"))
    },

    // IVF approximate kNN — the scale path, fully oracled: VectorSpec
    // asserts recall against exact brute force AND the driver replays the
    // deterministic k-means in DuckDB (IvfSql). Deterministic: sample
    // order, centroid init, and iteration count are all fixed.
    "v7_ivf_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      graft.operators.Ivf.search(idx, probeOf(s, d, 0L), k = 10, nprobe = 3)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // the RECALL-vs-NPROBE curve (v30 extended to the tuning decision):
    // one exact baseline, three approximate arms at nprobe 1/2/4 —
    // recall must be non-decreasing in nprobe and the curve is the
    // artifact nlist/nprobe choices are justified with (the exact join
    // and index build each run once; arms reuse them)
    "v33_nprobe_curve" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding",
        nlist = 8, iters = 5)
      val probes = e.filter(col("vec_id") < 8)
      val exact = Knn.knnJoin(e, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 10)
      Seq(1, 2, 4).map { np =>
        val approx = graft.operators.Ivf.knnJoinApprox(idx, probes,
          "vec_id", "embedding", k = 10, nprobe = np)
        graft.operators.AnnEval.recallAtK(exact, approx, k = 10)
          .agg(sum(col("n_hit")).as("n_hit_total"))
          .select(lit(np.toLong).as("nprobe"), col("n_hit_total"),
            // 8 probes x k=10 relevant pairs
            expr("(n_hit_total * 1000000L) div 80").as("recall_ppm"))
      }.reduce(_ unionAll _).orderBy(col("nprobe"))
    },

    // r-CURVES for the refine-pool knobs (v33's posture applied to the
    // OTHER approximate-search dial): every compressor's pool size r now
    // carries a measured recall the way nlist/nprobe do. One exact
    // baseline + model/codes built once per gate; arms reuse them.
    // PQ's refine metric is exact L2 (v15), so its baseline is the v6
    // kernel; SQ8/JL refine by exact cosine (v26/v29), baseline = v1's.
    "v34_pq_r_curve" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val model = graft.operators.Pq.train(e, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
      val probe = probeOf(s, d, 0L)
      val exact = e
        .withColumn("dist", l2_distance(col("embedding"), vector_lit(probe)))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id")).localCheckpoint(true)
      Seq(10, 20, 40).map { r =>
        val approx = graft.operators.Pq.searchRefine(codes, "code", "vec_id",
          e, "vec_id", "embedding", model, probe, k = 10, r = r)
          .select(col("vec_id"))
        exact.join(approx, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(r.toLong).as("r"), col("n_hit"),
            expr("(n_hit * 1000000L) div 10").as("recall_ppm"))
      }.reduce(_ unionAll _).orderBy(col("r"))
    },

    "v35_sq8_r_curve" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val model = graft.operators.Sq.train(e, "embedding")
      val codes = graft.operators.Sq.encode(e, "vec_id", "embedding", model)
      val probe = probeOf(s, d, 0L)
      val exact = Knn.topK(e, col("embedding"), probe,
        k = 10, tieBreak = col("vec_id"))
        .select(col("vec_id")).localCheckpoint(true)
      Seq(10, 20, 40).map { r =>
        val approx = graft.operators.Sq.searchRefine(codes, "code", "vec_id",
          e, "vec_id", "embedding", model, probe, k = 10, r = r)
          .select(col("vec_id"))
        exact.join(approx, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(r.toLong).as("r"), col("n_hit"),
            expr("(n_hit * 1000000L) div 10").as("recall_ppm"))
      }.reduce(_ unionAll _).orderBy(col("r"))
    },

    // CORPUS DATA MAP: cluster the embedding space (v7's deterministic
    // k-means), label each cluster with its 3 most DISTINCTIVE terms —
    // per-cluster TF against cluster-granularity DF (t49's quantized
    // integer idf), so corpus-wide stopwords score low everywhere. The
    // "what is in this training set" curation view; the oracle replays
    // the k-means (IvfSql) and the cluster-level tf-idf verbatim.
    "v37_cluster_labels" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding",
        nlist = 8, iters = 5)
      graft.operators.DataMap.clusterLabels(idx.assigned,
        Tables.documents(s, d), "doc_id", "text", topTerms = 3)
        .orderBy(col("bucket"), col("rnk"))
    },

    "v36_jl_r_curve" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = probeOf(s, d, 0L)
      val exact = Knn.topK(e, col("embedding"), probe,
        k = 10, tieBreak = col("vec_id"))
        .select(col("vec_id")).localCheckpoint(true)
      Seq(10, 30, 60).map { r =>
        val approx = graft.operators.Knn.topKProjectRefine(e,
          "vec_id", "embedding", probe, kDims = 16, seed = 7L, k = 10, r = r)
          .select(col("vec_id"))
        exact.join(approx, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(r.toLong).as("r"), col("n_hit"),
            expr("(n_hit * 1000000L) div 10").as("recall_ppm"))
      }.reduce(_ unionAll _).orderBy(col("r"))
    },

    // FILTERED ANN (metadata predicate + vector search, the reference's
    // hybrid query at IVF scale): the label predicate semi-joins the
    // bucket scan BEFORE the distance heap — a post-hoc filter on the
    // unfiltered top-k under-returns on selective predicates, the
    // classic filtered-ANN bug this gate exists to pin
    "v32_ivf_filtered" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      graft.operators.Ivf.searchFiltered(idx, probeOf(s, d, 0L),
          k = 10, nprobe = 3,
          allowed = e.filter(col("label") % 4 === 1), allowedIdCol = "vec_id")
        .select(col("id"))
        .orderBy(col("id"))
    },

    // IVF under a corpus that EXCEEDS the sample budget — the round-5
    // oracle gap. sampleSize=64 forces a 77-vector budget against >=500
    // corpus rows, so the per-partition reservoir, proportional quota,
    // and seeded-hash quota subselection all actually fire. The corpus is
    // laid out by an EXPLICIT hash repartition on a skewed derived key
    // (6.25% / 18.75% / 75% slices; key values chosen so Murmur3 sends
    // them to three distinct reducers — mapping pinned by VectorSpec) +
    // sortWithinPartitions, so the partition layout — the only
    // non-SQL-expressible input to the sample — is deterministic and the
    // oracle restates the whole sampling pipeline (IvfSql.sampleCtes:
    // counter-based splitmix draws, last-writer-wins slots as max_by,
    // quota ORDER BY) before the same unrolled k-means. The 6.25% and
    // 18.75% slices TRUNCATE to quota (the subsample path), the 75%
    // slice keeps its capped reservoir, and one reducer stays empty.
    "v7s_ivf_subsample_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val m16 = col("vec_id") % 16
      val skewKey = when(m16 === 0, 2L).when(m16 <= 3, 3L).otherwise(0L)
      val corpus = e.repartition(4, skewKey).sortWithinPartitions("vec_id")
      val idx = graft.operators.Ivf.build(corpus, "vec_id", "embedding",
        nlist = 8, iters = 5, sampleSize = 64)
      graft.operators.Ivf.search(idx, probeOf(s, d, 0L), k = 10, nprobe = 3)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // The IVF MAINTENANCE path under the oracle: build on 80% of the
    // corpus (vec_id % 5 <> 0), save bucket-partitioned, append the held
    // -out 20% WITHOUT retraining (assignment against the STORED
    // centroids — appendSaved), then search the saved index. Equivalent
    // spec: k-means trained on the base subset, final assignment over the
    // FULL corpus — appendSaved's nearest-stored-centroid rule is exactly
    // the af rule, so the v7 oracle extends by swapping the train source.
    // The saved files live at a Tables.fixture path (memory-backed, keyed
    // by sf so runs stay isolated; the index is a few MB).
    "v11_ivf_append_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val extra = e.filter(col("vec_id") % 5 === 0)
      val idx = graft.operators.Ivf.build(base, "vec_id", "embedding",
        nlist = 8, iters = 5)
      val path = Tables.fixture("ivf_v11", d)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.appendSaved(s, path, extra, "vec_id", "embedding")
      graft.operators.Ivf.searchSaved(s, path, probeOf(s, d, 0L), k = 10, nprobe = 3)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // Product-quantized kNN (Jégou et al. 2011) — the vector COMPRESSION
    // scale path beside IVF's scan pruning: the corpus stores as m=4
    // codebook indices per vector (64x smaller than 64 floats at
    // production dims) and the search runs on codes alone via ADC table
    // lookups. The WHOLE path is under the oracle: per-subspace k-means
    // unrolled in DuckDB (PqSql — the IvfSql pattern over list slices,
    // squared-L2 in the dot-product shape both engines share), encoding
    // as per-subspace argmin, ADC as an explicit left-to-right addition
    // chain matching the engine's ascending-subspace loop. Output is ids
    // only (v7's last-ulp robustness argument).
    "v12_pq_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val model = graft.operators.Pq.train(e, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
      graft.operators.Pq.searchADC(codes, "code", "vec_id", model,
        probeOf(s, d, 0L), k = 10)
        .select(col("vec_id").as("id"))
        .orderBy(col("id"))
    },

    // IVF-PQ — the two vector scale paths COMPOSED (the standard FAISS
    // IVFPQ shape, public): IVF's centroids prune the corpus to nprobe
    // buckets, PQ's codes answer distances inside them via ADC — at
    // 100 TB the scan reads nprobe/nlist of a table that is itself 16x
    // narrower than the floats. With the encoded table stored
    // partitioned by bucket (the v11 save layout), the code/bucket join
    // below disappears into partition pruning. Oracle: the v7 k-means
    // CTEs and the v12 subspace CTEs compose verbatim — bucket
    // selection from IvfSql, ADC ranking from PqSql, candidates =
    // af-assignment filtered to the probed buckets.
    "v13_ivfpq_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val model = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
      val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
      val buckets = graft.operators.Ivf.probeBuckets(idx, probeOf(s, d, 0L), nprobe = 3)
      val cand = idx.assigned.filter(col("bucket").isin(buckets: _*)).select(col("id"))
      val prunedCodes = codes.join(cand, codes("vec_id") === cand("id"))
        .select(col("vec_id"), col("code"))
      graft.operators.Pq.searchADC(prunedCodes, "code", "vec_id", model,
        probeOf(s, d, 0L), k = 10)
        .select(col("vec_id").as("id"))
        .orderBy(col("id"))
    },

    // The PQ PERSISTENCE path — v11's maintenance lifecycle applied to
    // the compression index: train codebooks on 80% of the corpus
    // (vec_id % 5 <> 0), encode the base and save codes + codebook
    // sidecar, append the held-out 20% encoded against the STORED
    // codebooks (appendSaved — no retraining), then ADC-search the
    // saved codes alone. Encode-once economics: a 100 TB corpus is
    // encoded one time and every later session scans the 4D/M-fold
    // smaller code table. Equivalent spec: per-subspace k-means trained
    // on the base slice, codes = argmin over the FULL corpus — the
    // stored-codebook encode rule is exactly the final-assignment rule,
    // so the v12 oracle extends by swapping the train source (the v11
    // pattern). Saved files at a Tables.fixture path (v11 precedent).
    "v14_pq_save_append_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val extra = e.filter(col("vec_id") % 5 === 0)
      val model = graft.operators.Pq.train(base, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val codes = graft.operators.Pq.encode(base, "vec_id", "embedding", model)
      val path = Tables.fixture("pq_v14", d)
      graft.operators.Pq.save(model, codes, "vec_id", path)
      graft.operators.Pq.appendSaved(s, path, extra, "vec_id", "embedding")
      graft.operators.Pq.searchSavedADC(s, path, probeOf(s, d, 0L), k = 10)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // PQ + refine — the standard recall mitigation (FAISS IVFPQ+R,
    // public): ADC nominates r=40 candidates from the codes, the
    // original vectors of ONLY those 40 rows are read back and ranked
    // by exact L2 for the final top-10. The oracle states the same
    // two-stage selection: the v12 ADC CTEs pick the candidate set,
    // then the exact dot-shape L2 (with the engine's sqrt included —
    // both engines' sqrt is IEEE correctly-rounded) orders it. Ids
    // only (v7's robustness argument).
    "v15_pq_refine_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val model = graft.operators.Pq.train(e, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
      graft.operators.Pq.searchRefine(codes, "code", "vec_id",
        e, "vec_id", "embedding", model, probeOf(s, d, 0L), k = 10, r = 40)
        .select(col("vec_id").as("id"))
        .orderBy(col("id"))
    },

    // SCALAR quantization + refine (the FAISS SQ8 shape): per-dim 8-bit
    // codes against trained [min, max] bounds — 4x compression with NO
    // codebook loop (train is one min/max aggregate), the simplest
    // point on the compression curve beside PQ (16x) and binary (32x).
    // ADC reconstructs each dim (mn + code*scale) and ranks by squared
    // L2 through a fixed left-folded expression tree; exact cosine
    // re-ranks the r=40 pool. The oracle replays bounds, quantization
    // (floor(t*255 + 0.5), clamped), reconstruction, the SAME fold
    // order (list_reduce over dims), and the refine — hash-exact.
    "v26_sq8_refine" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val model = graft.operators.Sq.train(e, "embedding")
      val codes = graft.operators.Sq.encode(e, "vec_id", "embedding", model)
      graft.operators.Sq.searchRefine(codes, "code", "vec_id",
        e, "vec_id", "embedding", model, probeOf(s, d, 0L), k = 10, r = 40)
        .select(col("vec_id").as("id"))
        .orderBy(col("id"))
    },

    // SQ8 PERSISTENCE lifecycle (the v14 maintenance shape applied to
    // the scalar quantizer): train bounds on 80% of the corpus, save
    // codes + the bounds sidecar, append the held-out 20% against the
    // STORED bounds (out-of-range values clamp — the documented SQ
    // append semantics), then serve an ADC top-10 from the saved codes
    "v28_sq8_saved_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val extra = e.filter(col("vec_id") % 5 === 0)
      val model = graft.operators.Sq.train(base, "embedding")
      val codes = graft.operators.Sq.encode(base, "vec_id", "embedding", model)
      val path = Tables.fixture("sq", d)
      graft.operators.Sq.save(model, codes, "vec_id", path)
      graft.operators.Sq.appendSaved(s, path, extra, "vec_id", "embedding")
      graft.operators.Sq.searchSaved(s, path, probeOf(s, d, 0L), r = 10)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // IVF x SQ8 composition (the FAISS IVF,SQ8 index shape): the v13
    // bucket-pruning stage feeds the v26 scalar quantizer — nprobe
    // centroid buckets nominate candidates, SQ ADC ranks ONLY those,
    // exact cosine re-ranks the r-pool. Every stage reuses its gated
    // sibling's machinery, so the oracle is the v13 bucket CTEs
    // composed with the v26 quantization CTEs.
    "v27_ivfsq_refine" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val model = graft.operators.Sq.train(e, "embedding")
      val codes = graft.operators.Sq.encode(e, "vec_id", "embedding", model)
      val buckets = graft.operators.Ivf.probeBuckets(idx, probeOf(s, d, 0L), nprobe = 3)
      val cand = idx.assigned.filter(col("bucket").isin(buckets: _*)).select(col("id"))
      val pruned = codes.join(cand, codes("vec_id") === cand("id"))
        .select(col("vec_id"), col("code"))
      graft.operators.Sq.searchRefine(pruned, "code", "vec_id",
        e, "vec_id", "embedding", model, probeOf(s, d, 0L), k = 10, r = 40)
        .select(col("vec_id").as("id"))
        .orderBy(col("id"))
    },

    // Matryoshka-style dimension-truncation ANN: cosine over the FIRST
    // 16 of 64 dims nominates 40 candidates (TakeOrderedAndProject on a
    // 4x-cheaper kernel; with the prefix stored as its own column, 4x
    // less scan I/O), exact full-dim cosine re-ranks to top-10 — the
    // training-free compressor beside PQ's trained one (v15)
    "v18_truncate_refine" -> { (s, d) =>
      graft.operators.Knn.topKTruncateRefine(Tables.embeddings(s, d),
        "vec_id", "embedding", probeOf(s, d, 0L), q = 16, k = 10, r = 40)
        .select(col("vec_id").as("id"), col("label"))
        .orderBy(col("id"))
    },

    // Binary-quantized ANN: Hamming distance over 1-bit sign words
    // (32x-smaller scan) nominates 40 candidates, exact full-precision
    // cosine re-ranks to top-10 — the coarsest compressor in the family
    "v19_binary_refine" -> { (s, d) =>
      graft.operators.Knn.topKBinaryRefine(Tables.embeddings(s, d),
        "vec_id", "embedding", probeOf(s, d, 0L), k = 10, r = 40)
        .select(col("vec_id").as("id"), col("label"))
        .orderBy(col("id"))
    },

    // the evaluation loop for the index family: recall@10 of the
    // nprobe-2 IVF search vs exact kNN, per probe — the number
    // nlist/nprobe decisions are made on. Both inputs deterministic
    // top-k relations; recall one IEEE division of exact ints
    "v30_ivf_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding",
        nlist = 8, iters = 5)
      val probes = e.filter(col("vec_id") < 8)
      val approx = graft.operators.Ivf.knnJoinApprox(idx, probes,
        "vec_id", "embedding", k = 10, nprobe = 2)
      val exact = Knn.knnJoin(e, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 10)
      graft.operators.AnnEval.recallAtK(exact, approx, k = 10)
        .orderBy(col("probe_id"))
    },

    // MAXIMAL MARGINAL RELEVANCE rerank (Carbonell & Goldstein 1998):
    // relevance traded against redundancy with the already-selected set
    // — the retrieval-diversity stage after any v-family top-k. rel and
    // sim are INTEGER dots of floor-quantized components, so the greedy
    // argmax is bit-stable cross-engine (quantize inputs, not outputs);
    // the oracle unrolls the k sequential picks as chained CTEs (the g3
    // pattern — greedy selection is inherently iterative)
    "v31_mmr_rerank" -> { (s, d) =>
      graft.operators.Mmr.rerank(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), probeOf(s, d, 0L),
        poolSize = 16, k = 5)
        .orderBy(col("step"))
    },

    // Johnson-Lindenstrauss +-1 projection (64 -> 16 dims) + exact
    // refine: the DATA-INDEPENDENT compressor (PQ/SQ8 train, Matryoshka
    // assumes prefix training, JL needs only a seed). The projected
    // ranking is exact integer arithmetic (quantize-then-fold), so the
    // candidate pool is engine-deterministic — no float fuzz at the
    // pool boundary
    "v29_jl_project_refine" -> { (s, d) =>
      graft.operators.Knn.topKProjectRefine(Tables.embeddings(s, d),
        "vec_id", "embedding", probeOf(s, d, 0L),
        kDims = 16, seed = 7L, k = 10, r = 60)
        .select(col("vec_id").as("id"), col("label"))
        .orderBy(col("id"))
    },

    // IVF maintenance: save, split every above-average bucket (fresh
    // sub-centroids on the bucket's own rows, id space kept dense,
    // untouched buckets' files never rewritten), then search probing
    // EVERY bucket — which must equal exact kNN: the rewrite lost or
    // duplicated nothing, the oracle-checkable data-integrity statement
    "v20_rebalanced_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val path = Tables.fixture("ivf_v20", d)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.rebalanceSaved(s, path,
        maxBucketRows = e.count() / 8, splitInto = 2)
      graft.operators.Ivf.searchSaved(s, path, probeOf(s, d, 0L), k = 10, nprobe = 64)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // UNATTENDED INDEX MAINTENANCE end-to-end: v20 gives the split
    // mechanism, v23's health report the telemetry — this is the
    // DECISION between them under the gate. Build on the label!=1
    // slice, snapshot baseline stats, append the label-1 slice under
    // fresh ids (a genuinely different distribution — measured drift),
    // run maintainSaved (skew arm: n > 1.5x mean; drift arm: mean
    // centroid distance > 1.1x its baseline), then full-probe search
    // MUST equal exact kNN over the union corpus: the policy may split
    // whatever it decides, it may lose or duplicate NOTHING.
    "v38_drift_maintenance" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("label") =!= 1)
      val path = Tables.fixture("ivf_v38", d)
      val idx = graft.operators.Ivf.build(base, "vec_id", "embedding",
        nlist = 8, iters = 5)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.snapshotStats(s, path)
      val drifted = e.filter(col("label") === 1)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      graft.operators.Ivf.appendSaved(s, path, drifted, "vec_id", "embedding")
      graft.operators.Ivf.maintainSaved(s, path,
        sizeFactor = 1.5, driftFactor = 1.1)
      graft.operators.Ivf.searchSaved(s, path, probeOf(s, d, 0L),
        k = 10, nprobe = 4096)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // IVF-PQ UNATTENDED MAINTENANCE (v39, round 16 — the v38 posture on
    // the COMPRESSED layout, the maintenance matrix's last gap): build
    // + train on the base slice, save codes partitioned by bucket,
    // snapshot the reconstruction-drift baseline, append the label-1
    // slice under +10M ids (drift the codes layout never saw), run
    // maintainSaved — which must decide, split, and move CODE rows
    // between bucket directories WITHOUT re-encoding (PQ codes are
    // bucket-independent; splitting runs on PqDecode reconstructions
    // because IVF-PQ never stores the float corpus) — then full-probe
    // ADC search over the union, which is INVARIANT under any bucket
    // layout: the policy may split whatever it decides, it may lose,
    // duplicate, or re-encode NOTHING. The probe row stays unshifted on
    // both sides so the oracle's probe CTE finds it.
    "v39_ivfpq_maintain" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("label") =!= 1 || col("vec_id") === 0)
      val idx = graft.operators.Ivf.build(base, "vec_id", "embedding",
        nlist = 8, iters = 5)
      val model = graft.operators.Pq.train(base, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val path = Tables.fixture("ivfpq_v39", d)
      graft.operators.IvfPq.save(idx, model, path)
      graft.operators.IvfPq.snapshotStats(s, path)
      val drifted = e.filter(col("label") === 1 && col("vec_id") =!= 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      graft.operators.IvfPq.appendSaved(s, path, drifted, "vec_id", "embedding")
      graft.operators.IvfPq.maintainSaved(s, path,
        sizeFactor = 1.5, driftFactor = 1.1)
      graft.operators.IvfPq.searchSaved(s, path, probeOf(s, d, 0L),
        k = 10, nprobe = 4096)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // Margin-based bitext mining (Artetxe & Schwenk 2019, public): for
    // every label-0 "source" vector, its two nearest label-1 "target"
    // vectors (the batch kNN join, k=2), mined iff the ratio margin
    // sim1/sim2 clears 1.2 — the absolute-threshold-free criterion
    // parallel-corpus mining uses. Sims re-derived as 1 - dist so the
    // oracle can state the IDENTICAL double expression.
    "v21_margin_mining" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val knn = graft.operators.Knn.knnJoin(
        e.filter(col("label") === 1), "vec_id", "embedding",
        e.filter(col("label") === 0), "vec_id", "embedding", k = 2)
      knn.groupBy(col("probe_id").as("src_id"))
        .agg(max(when(col("rnk") === 1, col("corpus_id"))).as("tgt1"),
          max(when(col("rnk") === 1, col("dist"))).as("d1"),
          max(when(col("rnk") === 2, col("corpus_id"))).as("tgt2"),
          max(when(col("rnk") === 2, col("dist"))).as("d2"))
        .select(col("src_id"), col("tgt1"), col("tgt2"),
          ((lit(1.0) - col("d1")) / (lit(1.0) - col("d2")) > 1.2).as("mined"))
        .orderBy(col("src_id"))
    },

    // v9's batch kNN join SERVED from the saved bucket-partitioned
    // index: the join key IS the on-disk partitioning (no corpus
    // re-shuffle at scale), unselected buckets pruned from the scan;
    // the save/load round-trip is lossless, so v9's oracle holds verbatim
    "v22_ivf_knn_join_saved" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val path = Tables.fixture("ivf_v22", d)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.knnJoinApproxSaved(s, path, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("corpus_id"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // saved-index health report: per-bucket size + mean distance to the
    // assigned centroid (nano-quantized, order-independent) — the
    // staleness telemetry deciding rebuild-vs-append
    "v23_index_stats" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val path = Tables.fixture("ivf_v23", d)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.savedBucketStats(s, path)
        .orderBy(col("bucket"))
    },

    // embedding-space drift per label (t32's monitoring posture for
    // vectors): squared L2 distance of each label's centroid to the
    // corpus centroid, per-dim terms nano-quantized BEFORE the cross-dim
    // sum so the reduction is integer-exact and order-independent (the
    // t32/v23 trick — a raw double SUM over dims would be engine-order
    // dependent). Centroids come from the decimal-exact
    // vector_centroid aggregate (the v5 machinery), so the per-dim
    // means are bit-identical cross-engine.
    "v25_label_drift" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val glob = e.agg(vector_centroid(col("embedding")).as("gc"))
      e.groupBy(col("label"))
        .agg(vector_centroid(col("embedding")).as("lc"),
          count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(glob))
        .select(col("label"), col("n_vecs"),
          aggregate(
            zip_with(col("lc"), col("gc"),
              (a, b) => floor((a - b) * (a - b) * lit(1000000000.0) + lit(0.5))
                .cast("long")),
            lit(0L), (acc, x) => acc + x).as("drift_q"))
        .orderBy(col("label"))
    },

    // cluster-balanced subset selection (semantic diversity sampling —
    // the SemDeDup-adjacent curation step that samples EVENLY across
    // embedding space instead of by volume): deterministic k-means
    // clusters (the v7 IVF build) + 5 vectors per cluster in md5 hash
    // order (the t13 determinism convention). Composition: the corpus
    // pass is the one cluster assignment; the per-cluster pick windows
    // over cluster-sized groups.
    "v24_cluster_sample" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding",
        nlist = 8, iters = 5)
      graft.operators.Sampling.stratifiedHead(
        idx.assigned.select(col("bucket").as("cluster"), col("id").as("vec_id")),
        "cluster", "vec_id", k = 5)
        .select(col("cluster"),
          col("sample_rank").cast("long").as("sample_rank"), col("vec_id"))
        .orderBy(col("cluster"), col("sample_rank"))
    },

    // The PERSISTED IVF-PQ index (on-disk FAISS IVFPQ shape, public):
    // codes stored PARTITIONED BY bucket with centroid + codebook
    // sidecars; the search reads only the nprobe bucket directories
    // (partition pruning — v11's mechanism) and ranks codes by ADC
    // (v12's kernel). The code/bucket JOIN v13's in-memory composition
    // pays disappears into the directory layout. Same params as v13 →
    // the SAME oracle: the save/load round-trip is float-lossless, so
    // the pruned-ADC selection is identical.
    "v16_ivfpq_saved_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val model = graft.operators.Pq.train(e, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val path = Tables.fixture("ivfpq_v16", d)
      graft.operators.IvfPq.save(idx, model, path)
      graft.operators.IvfPq.searchSaved(s, path, probeOf(s, d, 0L), k = 10, nprobe = 3)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // the full production search shape: persisted IVF-PQ index,
    // partition-pruned ADC nominating top-40, exact L2 re-rank of just
    // those 40 original vectors to top-10 (FAISS IVFPQ+R on disk) —
    // v16's persistence composed with v15's refine under one oracle
    "v17_ivfpq_saved_refine" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      val model = graft.operators.Pq.train(e, "vec_id", "embedding",
        m = 4, k = 8, iters = 3)
      val path = Tables.fixture("ivfpq_v17", d)
      graft.operators.IvfPq.save(idx, model, path)
      graft.operators.IvfPq.searchSavedRefine(s, path, e, "vec_id", "embedding",
        probeOf(s, d, 0L), k = 10, r = 40, nprobe = 3)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },

    // Hybrid retrieval — BM25 lexical top-20 and exact-cosine vector
    // top-20 fused by Reciprocal Rank Fusion (Cormack et al. 2009,
    // the standard production combiner; rank-based, so no score
    // normalization across the two systems' incomparable scales). The
    // corpus shares one id space (doc_id = vec_id). Output carries the
    // per-id list count (integers — hash-safe); the fused ordering is
    // sums of identical double reciprocals on both engines, ties by id.
    "t19_hybrid_rrf" -> { (s, d) =>
      val lex = graft.operators.Bm25.topK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("spark", "join", "fast", "window"), k = 20)
      val vec = graft.operators.Knn.topK(Tables.embeddings(s, d), col("embedding"),
        probeOf(s, d, 0L), 20, col("vec_id"))
        .select(col("vec_id").as("id"), (-col("dist")).as("score"))
      graft.operators.Hybrid.rrf(Seq(lex, vec), k = 10)
        .select(col("id"), col("lists"))
        .orderBy(col("id"))
    },

    // kNN over the int8-quantized storage path (quantize -> dequantize ->
    // exact L2): the 4x-smaller scan format a 100 TB brute-force pass
    // would read. The oracle replicates the quantization float math
    // bit-for-bit: scale = float(maxAbs/127), q = clamp(floor(x/scale +
    // 0.5)) — the kernel states the identical floor form (NOT Math.round,
    // which special-cases the 0.49999999999999994 edge since Java 7) —
    // dequant = float(q * scale); float products of these magnitudes are
    // exact in double, so one final rounding matches the JVM on both
    // engines and the dequantized vectors (hence distances, hence
    // ordering) are identical.
    "v10_quantized_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          dequantize_int8(quantize_int8(col("embedding"))).as("de"))
      val probe = e.filter(col("vec_id") === 2L)
        .select(col("de")).head().getSeq[Float](0).toArray
      e.withColumn("dist", l2_distance(col("de"), vector_lit(probe)))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("label"))
    },

    // L2 (euclidean) kNN — exercises the L2Distance expression.
    "v6_l2_knn" -> { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("dist", l2_distance(col("embedding"), vector_lit(probeOf(s, d, 1L))))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("label"))
    },

    // IVF-bucketed approximate batch kNN join — the scale path for probe
    // sets beyond knnJoin's broadcast guard (full k-means oracle, see
    // IvfSql; VectorSpec additionally asserts per-probe agreement with
    // single-probe IVF search and recall vs the exact join).
    "v9_ivf_knn_join" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      graft.operators.Ivf.knnJoinApprox(idx, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("corpus_id"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // Hyperplane-LSH-blocked embedding near-dup — the 100 TB scale path
    // for v4 (full-pipeline SQL oracle since round 4: feature hashing,
    // Gaussian plane stream, sign banding, and verification restated in
    // DuckDB — see the sql map; VectorSpec additionally asserts pair-set
    // equality with the exact operator and candidates << n^2). Runs in
    // the regime the blocking is designed for (sim >= 0.85):
    // feature-hashed shingle vectors of the documents corpus, where true
    // near-dups sit at sim >= 0.94 against a ~0 background. The synthetic
    // `embeddings` table's sim-0.4 threshold is below any LSH-separable
    // regime (see Knn.nearDupPairs scaladoc), so v4 stays the exact path
    // there.
    "v8_lsh_near_dup" -> { (s, d) =>
      Knn.lshNearDupPairs(Vectors.docVectors(s, d), "doc_id", "vec",
        minSim = 0.85, bands = 64, rowsPerBand = 12, seed = 42L)
    }
  )

  /** Deterministic document embeddings: L2-normalized signed-feature-hashed
    * word-3-gram TF vectors (dim 256). The stand-in for a model-embedded
    * corpus that keeps the LSH path fully verifiable against the exact
    * operator (near-dup texts -> cosine >= ~0.94).
    *
    * Materialized via lazy `localCheckpoint`, NOT `.cache()`: the LSH
    * consumer evaluates the vector column three times (banding + both
    * verify joins — measured 2.6 s -> 4.0 s without reuse at sf0.1), but
    * rounds 2-3's `.cache()` had no unpersist hook, leaking pinned blocks
    * in a long-lived session because CacheManager holds cached plans
    * forever. A localCheckpoint materializes once on first action and its
    * blocks are released by the ContextCleaner as soon as the DataFrame
    * is garbage-collected — reuse with an automatic lifecycle.
    */
  private[graft] def docVectors(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // The gate corpus is one small parquet file -> one scan partition, so
    // the 64x12x256-FMA banding downstream would run on a single core
    // (measured 1.3 s of the 4 s v8 cost). Spread the rows ONLY when the
    // scan is narrower than the cluster — at real scale the input already
    // arrives in many partitions and this is a no-op, never a shuffle tax.
    Tables.spread(docs)
      .select(col("doc_id"),
        l2_normalize(hashing_tf(
          graft.functions.TextFunctions.shingle_set(col("text"), 3), 256)).as("vec"))
      .localCheckpoint(false)
  }

  /** Name of the materialized production-width table `graft.Bench` writes
    * beside its staged inputs (see widenInline).
    */
  val WidenedTable = "embeddings1024.parquet"

  /** The 1024-dim widened corpus: each 64-dim embedding tiled x16,
    * matching the reference's production width (`vector(1024)`,
    * `/root/reference/backend/load_data.py:78`). Tiling multiplies dot
    * products and both norms by 16, so cosine ordering — and therefore
    * every widened query's semantics — is pinned by the 64-dim gate
    * siblings; what changes is the kernel work per row, which is the
    * point. Reads the pre-materialized parquet when the bench has staged
    * it (so measurements see real 1024-dim columnar input, not inline
    * widening), deriving on the fly otherwise. The probe goes through the
    * Hadoop FS API (not java.io.File — works under any default FS) and
    * requires the _SUCCESS commit marker: a crashed partial write must
    * fall back to inline widening, not silently serve a truncated corpus.
    */
  private[graft] def widened(s: SparkSession, d: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$WidenedTable")
    val committed =
      try {
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      } catch { case _: Exception => false }
    if (committed) s.read.parquet(p.toString)
    else widenInline(s, d)
  }

  private[graft] def widenInline(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        flatten(array_repeat(col("embedding"), 16)).as("embedding"))

  /** Bench-only variants at production vector width (1024-dim): the gate
    * corpus is 64-dim, so without these the CosineDistance codegen loop,
    * knnJoin's bounded heaps, and VectorCentroid's fixed-width buffer were
    * never measured at the width the design claims. Not oracle-gated
    * (semantics pinned by v1/v3/v5, see `widened`); measured by
    * `graft.Bench` with standing minima in BASELINE.md.
    */
  def benchDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // neural batch encode at production width (the BGE-like 1024-dim
    // output of SURVEY §1.2, hidden 256 over a 256-bucket hashed BOW):
    // artifact save -> load -> broadcast -> per-partition forward pass
    // over the corpus, then cosine top-10 over the 1024-wide outputs —
    // the F8 seam's recorded throughput shape. Semantics are pinned by
    // the 64-dim x4 gate; corpus token bound (<= 100/doc) keeps every
    // activation under the float32-exact 2^24 assert at this width.
    "x4w_neural_encode_1024" -> { (s, d) =>
      import s.implicits._
      val path = Tables.fixture("nnw", d)
      graft.operators.NeuralEmbed.save(s,
        graft.operators.NeuralEmbed.generate(256, 256, 1024), path)
      val model = graft.operators.NeuralEmbed.load(s, path)
      val docs = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("id"), col("text"))
        .as[graft.operators.Embed.TextRow]
      val emb = graft.operators.NeuralEmbed.embedText(docs, model).toDF()
      val probe = graft.operators.NeuralEmbed.embedQuery(
        "spark window merge batch query join", model)
      Knn.topK(emb, col("embedding"), probe, k = 10, tieBreak = col("id"))
        .select(col("id"), col("dist"))
    },
    "v1w_knn_1024" -> { (s, d) =>
      val e = widened(s, d)
      val probe = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Knn.topK(e, col("embedding"), probe, k = 10, tieBreak = col("vec_id"))
        .select(col("vec_id"), col("label"))
    },
    // MMR at production width: the quantized-dot scan and pool cut at
    // 1024 dims (semantics pinned by the 64-dim v31 gate)
    "v31w_mmr_1024" -> { (s, d) =>
      val e = widened(s, d)
      val probe = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.operators.Mmr.rerank(e, col("vec_id"), col("embedding"),
        probe, poolSize = 16, k = 5)
        .orderBy(col("step"))
    },
    "v3w_knn_join_1024" -> { (s, d) =>
      val e = widened(s, d)
      Knn.knnJoin(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("corpus_id"))
        .orderBy(col("probe_id"), col("rnk"))
    },
    // the multi-chunk path at production width: probeChunk=3 forces the
    // 8 probes through three eager persist-and-release corpus passes, so
    // the chunked regime (100k-10M probes on a cluster) has a recorded
    // cost — expected ~chunkCount x v3w plus the per-chunk materialize
    "v3cw_knn_join_chunked_1024" -> { (s, d) =>
      val e = widened(s, d)
      Knn.knnJoin(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3, probeChunk = 3)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("corpus_id"))
        .orderBy(col("probe_id"), col("rnk"))
    },
    "v5w_centroids_1024" -> { (s, d) =>
      widened(s, d)
        .groupBy(col("label"))
        .agg(vector_centroid(col("embedding")).as("cent"))
        .select(col("label"), posexplode(col("cent")).as(Seq("pos", "centroid")))
        .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))
        .orderBy(col("label"), col("pos"))
    }
  )

  def sql: Map[String, String] = Map(
    "v1_knn_top10" ->
      """SELECT vec_id, label
        |FROM embeddings
        |ORDER BY 1 - list_cosine_similarity(embedding,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC, vec_id ASC
        |LIMIT 10""".stripMargin,

    "v2_knn_page2" ->
      """SELECT vec_id, label
        |FROM embeddings
        |ORDER BY 1 - list_cosine_similarity(embedding,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC, vec_id ASC
        |LIMIT 10 OFFSET 10""".stripMargin,

    "v3_knn_join" ->
      """SELECT probe_id, rnk, corpus_id FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |      ORDER BY 1 - list_cosine_similarity(c.embedding, p.embedding) ASC,
        |               c.vec_id ASC) AS rnk
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 8) t
        |WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin,

    // identical relation to v3 — chunking must not change the result
    "v3c_knn_join_chunked" ->
      """SELECT probe_id, rnk, corpus_id FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |      ORDER BY 1 - list_cosine_similarity(c.embedding, p.embedding) ASC,
        |               c.vec_id ASC) AS rnk
        |  FROM embeddings c, embeddings p
        |  WHERE p.vec_id < 8) t
        |WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin,

    "v4_embedding_near_dup" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) > 0.4
        |ORDER BY id1, id2""".stripMargin,

    // v7's k-means replay supplies the cluster assignment `af`; the drop
    // predicate is v4's verified cosine comparison restricted to
    // same-cluster lower-id pairs
    "d9_semantic_dedup" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |drp AS (
         |  SELECT DISTINCT a2.vec_id
         |  FROM af a1 JOIN af a2 ON a1.b = a2.b AND a1.vec_id < a2.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a1.vec_id
         |  JOIN embeddings eb ON eb.vec_id = a2.vec_id
         |  WHERE list_cosine_similarity(ea.embedding, eb.embedding) > 0.4)
         |SELECT e.vec_id, e.label
         |FROM embeddings e ANTI JOIN drp d ON e.vec_id = d.vec_id
         |ORDER BY e.vec_id""".stripMargin,

    // The double->decimal quantization goes through CAST(... AS VARCHAR):
    // DuckDB prints doubles in shortest round-trip form — the same decimal
    // the JVM's BigDecimal.valueOf(double) starts from — and its
    // string->DECIMAL(18,9) parse rounds ties away from zero like Java's
    // HALF_UP, so the per-value nano quantization matches VectorCentroid's
    // buffer bit-for-bit at every scale factor. A direct double->decimal
    // cast rounds through DuckDB's own binary path and drifted ~1e-9 at
    // sf0.1.
    "v5_label_centroids" ->
      """SELECT label, i - 1 AS pos,
        |  CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9))) AS DOUBLE)
        |    / COUNT(*) AS centroid
        |FROM embeddings, generate_series(1, 64) AS g(i)
        |GROUP BY label, i
        |ORDER BY label, pos""".stripMargin,

    "v6_l2_knn" ->
      """SELECT vec_id, label
        |FROM embeddings
        |ORDER BY list_distance(embedding,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 1)) ASC, vec_id ASC
        |LIMIT 10""".stripMargin,

    "v10_quantized_knn" ->
      """WITH sc AS (
        |  SELECT vec_id, label, embedding,
        |    CASE WHEN m = 0 THEN CAST(1 AS FLOAT) ELSE CAST(m / 127.0 AS FLOAT) END AS scale
        |  FROM (SELECT vec_id, label, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        |        FROM embeddings)),
        |dq AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(
        |      GREATEST(-127, LEAST(127, CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))
        |        * scale AS FLOAT)) AS de
        |  FROM sc)
        |SELECT vec_id, label
        |FROM dq
        |ORDER BY list_distance(de, (SELECT de FROM dq WHERE vec_id = 2)) ASC, vec_id ASC
        |LIMIT 10""".stripMargin,

    // The full hyperplane-LSH pipeline restated in SQL (same approach as
    // d3/d4, see SketchSql): signed feature hashing (bucket = FNV & 255,
    // sign = splitmix bit), float-exact L2 normalization (small-integer
    // raw vectors make the norm arithmetic bit-identical; CAST AS FLOAT
    // reproduces the JVM's double->float rounding), the counter-mode
    // splitmix64 + Box-Muller Gaussian plane stream at seed 42, sign
    // banding (64 bands x 12 rows packed as bits), candidate join on
    // (band, bucket), and exact cosine verification. IEEE add/mul/div/
    // sqrt make every arithmetic step bit-identical to the JVM kernels;
    // the only cross-engine wiggle is the last ulp of ln/cos in plane
    // generation, which flips a projection sign only when |dot| < ~1e-15
    // (expected flips over the whole corpus ~1e-10 — none observed at any
    // SF). Tokenless docs carry the zero vector, whose candidate pairs
    // fail NaN-cosine verification on both sides, so they are dropped up
    // front with the tf grid.
    // The IVF build+search pipeline restated in SQL: Ivf.build's reservoir
    // sample degenerates to the FULL corpus in vec_id order whenever the
    // corpus fits the sample budget (<= ~budget/parts rows per partition;
    // the gate corpus is <= 2000 rows vs a 120k budget, verified at all
    // three SFs), so the k-means is a pure function of the table and the
    // five fixed iterations unroll as chained CTEs: init = first-nlist
    // vectors in id order, assign (ROW_NUMBER over (dist, b) — ties keep
    // the lower bucket, like nearestCentroid's strict `<`), update
    // (double mean per component cast to FLOAT, exactly the JVM's
    // `(sum/count).toFloat`; empty buckets keep their centroid via the
    // LEFT JOIN COALESCE). Float wiggle budget: DuckDB's
    // list_inner_product sums pairwise vs the kernel's sequential loop
    // and SUM() order is engine-chosen, so last-ulp drift exists in
    // principle — but every compared value is an id/rank downstream of a
    // float cast or an ordering with gaps >= 1e-4, the same robustness
    // argument as v1 (validated hash-exact at sf0.001/0.01/0.1).
    // v30's oracle with one pbk/approx arm per nprobe, summed per arm
    "v33_nprobe_curve" -> {
      def arm(np: Int): String =
        s"""pbk$np AS (
           |  SELECT p.probe_id, c.b
           |  FROM probes p CROSS JOIN ${IvfSql.cent} c
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |    ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b) <= $np),
           |approx$np AS (
           |  SELECT probe_id, corpus_id FROM (
           |    SELECT pb.probe_id, af.vec_id AS corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY pb.probe_id
           |        ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, af.vec_id) AS rnk
           |    FROM pbk$np pb
           |    JOIN probes p USING (probe_id)
           |    JOIN af ON af.b = pb.b
           |    JOIN emb e ON e.vec_id = af.vec_id) t
           |  WHERE rnk <= 10),
           |nh$np AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n
           |  FROM ex JOIN approx$np USING (probe_id, corpus_id))""".stripMargin
      def row(np: Int): String =
        s"""SELECT CAST($np AS BIGINT) AS nprobe, n AS n_hit_total,
           |  (n * 1000000) // 80 AS recall_ppm FROM nh$np""".stripMargin
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |probes AS MATERIALIZED (SELECT vec_id AS probe_id, v, nn FROM emb WHERE vec_id < 8),
         |ex AS MATERIALIZED (
         |  SELECT probe_id, corpus_id FROM (
         |    SELECT p.probe_id, e.vec_id AS corpus_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
         |        ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, e.vec_id) AS rnk
         |    FROM probes p CROSS JOIN emb e) t
         |  WHERE rnk <= 10),
         |${arm(1)},
         |${arm(2)},
         |${arm(4)}
         |${row(1)} UNION ALL ${row(2)} UNION ALL ${row(4)}
         |ORDER BY nprobe""".stripMargin
    },

    // v15's ADC CTEs nominate per-r pools, the exact sqrt-L2 re-rank
    // orders each, hits counted against the exact L2 top-10
    "v34_pq_r_curve" -> {
      def arm(r: Int): String =
        s"""cand$r AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT $r),
           |topk$r AS (
           |  SELECT e.vec_id AS id
           |  FROM emb e JOIN cand$r USING (vec_id) CROSS JOIN probe p
           |  ORDER BY sqrt(e.nn - 2 * list_inner_product(e.v, p.v) + p.nn), e.vec_id
           |  LIMIT 10),
           |nh$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           |         FROM ex10 JOIN topk$r USING (id))""".stripMargin
      def row(r: Int): String =
        s"""SELECT CAST($r AS BIGINT) AS r, n AS n_hit,
           |  (n * 1000000) // 10 AS recall_ppm FROM nh$r""".stripMargin
      s"""WITH ${IvfSql.embCtes},
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L)).mkString(",\n")},
         |adc AS MATERIALIZED (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b),
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |ex10 AS MATERIALIZED (
         |  SELECT e.vec_id AS id
         |  FROM emb e CROSS JOIN probe p
         |  ORDER BY sqrt(e.nn - 2 * list_inner_product(e.v, p.v) + p.nn), e.vec_id
         |  LIMIT 10),
         |${arm(10)},
         |${arm(20)},
         |${arm(40)}
         |${row(10)} UNION ALL ${row(20)} UNION ALL ${row(40)}
         |ORDER BY r""".stripMargin
    },

    // v26's bounds/quantization/fold CTEs nominate per-r pools, exact
    // cosine re-ranks, hits counted against the cosine top-10
    "v35_sq8_r_curve" -> {
      def arm(r: Int): String =
        s"""cand$r AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT $r),
           |topk$r AS (
           |  SELECT e.vec_id AS id
           |  FROM emb e JOIN cand$r USING (vec_id) CROSS JOIN pv p
           |  ORDER BY ${IvfSql.dist("e.v", "e.nn", "p.v", "p.nn")}, e.vec_id
           |  LIMIT 10),
           |nh$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           |         FROM ex10 JOIN topk$r USING (id))""".stripMargin
      def row(r: Int): String =
        s"""SELECT CAST($r AS BIGINT) AS r, n AS n_hit,
           |  (n * 1000000) // 10 AS recall_ppm FROM nh$r""".stripMargin
      s"""WITH ${IvfSql.embCtes},
         |bounds AS MATERIALIZED (
         |  SELECT g.i,
         |    CAST(MIN(embedding[g.i]) AS DOUBLE) AS mn,
         |    CAST(MAX(embedding[g.i]) AS DOUBLE) - CAST(MIN(embedding[g.i]) AS DOUBLE) AS rg
         |  FROM embeddings, generate_series(1, 64) AS g(i)
         |  GROUP BY g.i),
         |b2 AS MATERIALIZED (SELECT i, mn, rg, rg / 255.0 AS s FROM bounds),
         |codes AS MATERIALIZED (
         |  SELECT e.vec_id, b.i,
         |    CASE WHEN b.rg = 0 THEN 0
         |         ELSE CAST(LEAST(255, GREATEST(0,
         |           FLOOR((CAST(e.embedding[b.i] AS DOUBLE) - b.mn) / b.rg * 255.0 + 0.5)))
         |           AS BIGINT) END AS code
         |  FROM embeddings e CROSS JOIN b2 b),
         |qprobe AS MATERIALIZED (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
         |  FROM embeddings WHERE vec_id = 0),
         |term AS (
         |  SELECT c.vec_id, c.i,
         |    ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM qprobe)[c.i])
         |    * ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM qprobe)[c.i]) AS t
         |  FROM codes c JOIN b2 b USING (i)),
         |adc AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY i)),
         |      (a, x) -> a + x) AS dist
         |  FROM term GROUP BY vec_id),
         |pv AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |ex10 AS MATERIALIZED (
         |  SELECT e.vec_id AS id
         |  FROM emb e CROSS JOIN pv p
         |  ORDER BY ${IvfSql.dist("e.v", "e.nn", "p.v", "p.nn")}, e.vec_id
         |  LIMIT 10),
         |${arm(10)},
         |${arm(20)},
         |${arm(40)}
         |${row(10)} UNION ALL ${row(20)} UNION ALL ${row(40)}
         |ORDER BY r""".stripMargin
    },

    // the v7 k-means CTEs assign buckets; cluster-granularity tf-idf
    // (t49's quantized idf at the cluster level) labels them
    "v37_cluster_labels" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |toksw AS (
         |  SELECT doc_id, t.term
         |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(term)
         |  WHERE t.term <> ''),
         |at AS (
         |  SELECT CAST(af.b AS BIGINT) AS bucket, toksw.term
         |  FROM toksw JOIN af ON af.vec_id = toksw.doc_id),
         |tfc AS MATERIALIZED (
         |  SELECT bucket, term, COUNT(*) AS tf FROM at GROUP BY 1, 2),
         |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
         |ncl AS (SELECT COUNT(DISTINCT b) AS n_cl FROM af),
         |sizes AS (SELECT CAST(b AS BIGINT) AS bucket, COUNT(*) AS n_docs
         |          FROM af GROUP BY 1),
         |scq AS (
         |  SELECT bucket, term,
         |    CAST(tf * ((n_cl * 1000000) // df) AS BIGINT) AS score_q
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN ncl)
         |SELECT bucket, n_docs, rnk, term, score_q FROM (
         |  SELECT bucket, term, score_q,
         |    CAST(row_number() OVER (PARTITION BY bucket
         |      ORDER BY score_q DESC, term ASC) AS BIGINT) AS rnk
         |  FROM scq) t
         |JOIN sizes USING (bucket)
         |WHERE rnk <= 3
         |ORDER BY bucket, rnk""".stripMargin,

    // v29's integer-exact projection CTEs nominate per-r pools, exact
    // cosine re-ranks, hits counted against the cosine top-10
    "v36_jl_r_curve" -> {
      def arm(r: Int): String =
        s"""cand$r AS (SELECT vec_id FROM dp ORDER BY d2 ASC, vec_id ASC LIMIT $r),
           |topk$r AS (
           |  SELECT e.vec_id AS id
           |  FROM embeddings e JOIN cand$r USING (vec_id) CROSS JOIN p
           |  ORDER BY 1 - list_cosine_similarity(e.embedding, p.pv) ASC, e.vec_id ASC
           |  LIMIT 10),
           |nh$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           |         FROM ex10 JOIN topk$r USING (id))""".stripMargin
      def row(r: Int): String =
        s"""SELECT CAST($r AS BIGINT) AS r, n AS n_hit,
           |  (n * 1000000) // 10 AS recall_ppm FROM nh$r""".stripMargin
      s"""WITH sm0 AS (
         |  SELECT gs.idx AS idx,
         |    ${SketchSql.addModU(
              SketchSql.mulModU("CAST(gs.idx + 1 AS UBIGINT)", 0x9e3779b97f4a7c15L),
              "CAST(7 AS UBIGINT)")} AS z
         |  FROM generate_series(0, 1023) AS gs(idx)),
         |${SketchSql.mixLayerCtes("sm0", Seq("idx"))},
         |sm AS (SELECT idx // 64 AS t, idx % 64 AS j,
         |        CASE WHEN (u & 1) = 1 THEN 1 ELSE -1 END AS s FROM sm0mu),
         |qe AS (SELECT vec_id, gs.j AS j,
         |        CAST(floor(CAST(embedding[gs.j + 1] AS DOUBLE) * 1024) AS BIGINT) AS q
         |       FROM embeddings, generate_series(0, 63) AS gs(j)),
         |pj AS MATERIALIZED (
         |  SELECT vec_id, sm.t AS t, CAST(SUM(sm.s * qe.q) AS BIGINT) AS y
         |  FROM qe JOIN sm ON sm.j = qe.j GROUP BY 1, 2),
         |pp AS MATERIALIZED (SELECT t, y FROM pj WHERE vec_id = 0),
         |dp AS MATERIALIZED (
         |  SELECT a.vec_id, SUM((a.y - b.y) * (a.y - b.y)) AS d2
         |  FROM pj a JOIN pp b ON a.t = b.t GROUP BY 1),
         |p AS MATERIALIZED (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |ex10 AS MATERIALIZED (
         |  SELECT e.vec_id AS id
         |  FROM embeddings e CROSS JOIN p
         |  ORDER BY 1 - list_cosine_similarity(e.embedding, p.pv) ASC, e.vec_id ASC
         |  LIMIT 10),
         |${arm(10)},
         |${arm(30)},
         |${arm(60)}
         |${row(10)} UNION ALL ${row(30)} UNION ALL ${row(60)}
         |ORDER BY r""".stripMargin
    },

    // v7's selection with the label predicate inside the candidate set
    "v32_ivf_filtered" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN af USING (vec_id) CROSS JOIN probe p
         |  WHERE af.b IN (SELECT b FROM pb)
         |    AND e.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 4 = 1)
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    "v7_ivf_knn" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN af USING (vec_id) CROSS JOIN probe p
         |  WHERE af.b IN (SELECT b FROM pb)
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // the subsampling regime: reservoir-sample CTEs (sampleCtes) feed the
    // k-means as training source `smp`; assignment + search are over the
    // full corpus as in v7. pidExpr mirrors the Spark side's
    // HashPartitioning of the skewed key: key 2 (vec_id%16=0) -> reducer
    // 0, key 3 (%16 in 1..3) -> reducer 3, key 0 (rest) -> reducer 1
    // (pmod(murmur3_42(key), 4) — constants pinned by VectorSpec).
    "v7s_ivf_subsample_knn" ->
      s"""WITH ${IvfSql.embCtes},
         |${IvfSql.sampleCtes(seed = 42L, nlist = 8, sampleSize = 64, parts = 4,
             pidExpr = "CASE WHEN vec_id % 16 = 0 THEN 0 WHEN vec_id % 16 <= 3 THEN 3 " +
               "ELSE 1 END")},
         |${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64, trainSrc = "smp")},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN af USING (vec_id) CROSS JOIN probe p
         |  WHERE af.b IN (SELECT b FROM pb)
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // IVF-PQ: the v7 and v12 CTE generators composed verbatim — pb
    // selects the probe's 3 buckets (IvfSql), af supplies assignments,
    // the PqSql codes/tabs rank the bucket survivors by ADC
    "v13_ivfpq_knn" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L)).mkString(",\n")},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b
         |  JOIN af ON af.vec_id = c0.vec_id
         |  WHERE af.b IN (SELECT b FROM pb)),
         |topk AS (
         |  SELECT vec_id AS id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // the full PQ path unrolled: per-subspace k-means over list slices
    // (PqSql — IvfSql's pattern with L2 in the shared dot-product
    // shape), per-vector argmin codes, probe ADC tables, and a
    // left-to-right addition chain matching the engine's ascending-
    // subspace accumulation. Ids only (v7's robustness argument).
    "v12_pq_knn" ->
      s"""WITH ${IvfSql.embCtes},
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L)).mkString(",\n")},
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b),
         |topk AS (
         |  SELECT vec_id AS id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // v12's oracle with the train source swapped to the 80% base slice
    // (the v11 pattern): the stored-codebook encode of the appended 20%
    // is exactly the final-assignment argmin over the full corpus
    "v14_pq_save_append_search" ->
      s"""WITH ${IvfSql.embCtes},
         |base AS MATERIALIZED (SELECT vec_id, v FROM emb WHERE vec_id % 5 <> 0),
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L, trainSrc = "base")).mkString(",\n")},
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b),
         |topk AS (
         |  SELECT vec_id AS id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // the two-stage refine selection stated verbatim: v12's ADC CTEs
    // nominate the 40 candidates, exact dot-shape L2 (sqrt included —
    // IEEE correctly-rounded in both engines) orders the final 10
    "v15_pq_refine_knn" ->
      s"""WITH ${IvfSql.embCtes},
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L)).mkString(",\n")},
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b),
         |cand AS (
         |  SELECT vec_id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 40),
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN cand USING (vec_id) CROSS JOIN probe p
         |  ORDER BY sqrt(e.nn - 2 * list_inner_product(e.v, p.v) + p.nn), e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // bounds trained on the 80% side only; every vector (incl. the
    // appended 20%) quantized against those bounds with the clamp live
    "v28_sq8_saved_search" ->
      s"""WITH bounds AS MATERIALIZED (
         |  SELECT g.i,
         |    CAST(MIN(embedding[g.i]) AS DOUBLE) AS mn,
         |    CAST(MAX(embedding[g.i]) AS DOUBLE) - CAST(MIN(embedding[g.i]) AS DOUBLE) AS rg
         |  FROM embeddings, generate_series(1, 64) AS g(i)
         |  WHERE vec_id % 5 <> 0
         |  GROUP BY g.i),
         |b2 AS MATERIALIZED (SELECT i, mn, rg, rg / 255.0 AS s FROM bounds),
         |codes AS MATERIALIZED (
         |  SELECT e.vec_id, b.i,
         |    CASE WHEN b.rg = 0 THEN 0
         |         ELSE CAST(LEAST(255, GREATEST(0,
         |           FLOOR((CAST(e.embedding[b.i] AS DOUBLE) - b.mn) / b.rg * 255.0 + 0.5)))
         |           AS BIGINT) END AS code
         |  FROM embeddings e CROSS JOIN b2 b),
         |qprobe AS MATERIALIZED (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
         |  FROM embeddings WHERE vec_id = 0),
         |term AS (
         |  SELECT c.vec_id, c.i,
         |    ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM qprobe)[c.i])
         |    * ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM qprobe)[c.i]) AS t
         |  FROM codes c JOIN b2 b USING (i)),
         |adc AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY i)),
         |      (a, x) -> a + x) AS dist
         |  FROM term GROUP BY vec_id),
         |pool AS (SELECT vec_id AS id FROM adc ORDER BY dist, vec_id LIMIT 10)
         |SELECT id FROM pool ORDER BY id""".stripMargin,

    // the v13 bucket CTEs composed with the v26 quantization CTEs: the
    // ADC pool ranks only rows whose IVF bucket is probed
    "v27_ivfsq_refine" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |pv AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN pv p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |bounds AS MATERIALIZED (
         |  SELECT g.i,
         |    CAST(MIN(embedding[g.i]) AS DOUBLE) AS mn,
         |    CAST(MAX(embedding[g.i]) AS DOUBLE) - CAST(MIN(embedding[g.i]) AS DOUBLE) AS rg
         |  FROM embeddings, generate_series(1, 64) AS g(i)
         |  GROUP BY g.i),
         |b2 AS MATERIALIZED (SELECT i, mn, rg, rg / 255.0 AS s FROM bounds),
         |cand AS MATERIALIZED (
         |  SELECT vec_id FROM af WHERE b IN (SELECT b FROM pb)),
         |codes AS MATERIALIZED (
         |  SELECT e.vec_id, b.i,
         |    CASE WHEN b.rg = 0 THEN 0
         |         ELSE CAST(LEAST(255, GREATEST(0,
         |           FLOOR((CAST(e.embedding[b.i] AS DOUBLE) - b.mn) / b.rg * 255.0 + 0.5)))
         |           AS BIGINT) END AS code
         |  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN b2 b),
         |qprobe AS MATERIALIZED (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
         |  FROM embeddings WHERE vec_id = 0),
         |term AS (
         |  SELECT c.vec_id, c.i,
         |    ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM qprobe)[c.i])
         |    * ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM qprobe)[c.i]) AS t
         |  FROM codes c JOIN b2 b USING (i)),
         |adc AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY i)),
         |      (a, x) -> a + x) AS dist
         |  FROM term GROUP BY vec_id),
         |pool AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT 40),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN pool USING (vec_id) CROSS JOIN pv p
         |  ORDER BY ${IvfSql.dist("e.v", "e.nn", "p.v", "p.nn")}, e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // bounds, quantization, reconstruction, the SAME left-fold term
    // order (list_reduce over dims 1..64), then the exact-cosine refine
    "v26_sq8_refine" ->
      s"""WITH ${IvfSql.embCtes},
         |bounds AS MATERIALIZED (
         |  SELECT g.i,
         |    CAST(MIN(embedding[g.i]) AS DOUBLE) AS mn,
         |    CAST(MAX(embedding[g.i]) AS DOUBLE) - CAST(MIN(embedding[g.i]) AS DOUBLE) AS rg
         |  FROM embeddings, generate_series(1, 64) AS g(i)
         |  GROUP BY g.i),
         |b2 AS MATERIALIZED (SELECT i, mn, rg, rg / 255.0 AS s FROM bounds),
         |codes AS MATERIALIZED (
         |  SELECT e.vec_id, b.i,
         |    CASE WHEN b.rg = 0 THEN 0
         |         ELSE CAST(LEAST(255, GREATEST(0,
         |           FLOOR((CAST(e.embedding[b.i] AS DOUBLE) - b.mn) / b.rg * 255.0 + 0.5)))
         |           AS BIGINT) END AS code
         |  FROM embeddings e CROSS JOIN b2 b),
         |probe AS MATERIALIZED (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
         |  FROM embeddings WHERE vec_id = 0),
         |term AS (
         |  SELECT c.vec_id, c.i,
         |    ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM probe)[c.i])
         |    * ((b.mn + CAST(c.code AS DOUBLE) * b.s) - (SELECT q FROM probe)[c.i]) AS t
         |  FROM codes c JOIN b2 b USING (i)),
         |adc AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY i)),
         |      (a, x) -> a + x) AS dist
         |  FROM term GROUP BY vec_id),
         |pool AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT 40),
         |pv AS (SELECT v, nn FROM emb WHERE vec_id = 0),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN pool USING (vec_id) CROSS JOIN pv p
         |  ORDER BY ${IvfSql.dist("e.v", "e.nn", "p.v", "p.nn")}, e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // both stages stated verbatim: prefix-slice cosine nominates the 40,
    // full-dim cosine orders the 10 (same kernel v1 already pins)
    "v18_truncate_refine" ->
      """WITH p AS MATERIALIZED
        |  (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT e.vec_id
        |  FROM embeddings e CROSS JOIN p
        |  ORDER BY 1 - list_cosine_similarity(e.embedding[1:16], p.pv[1:16]) ASC,
        |           e.vec_id ASC
        |  LIMIT 40),
        |topk AS (
        |  SELECT e.vec_id AS id, e.label
        |  FROM embeddings e JOIN pool USING (vec_id) CROSS JOIN p
        |  ORDER BY 1 - list_cosine_similarity(e.embedding, p.pv) ASC, e.vec_id ASC
        |  LIMIT 10)
        |SELECT id, label FROM topk
        |ORDER BY id""".stripMargin,

    // probing every bucket makes the index transparent: the result is
    // exact cosine top-10 over the corpus regardless of the assignment,
    // so the oracle states v1's selection — any row lost or duplicated
    // by the rebalance rewrite would break the hash
    "v20_rebalanced_search" ->
      """SELECT vec_id AS id FROM (
        |  SELECT vec_id
        |  FROM embeddings
        |  ORDER BY 1 - list_cosine_similarity(embedding,
        |    (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC, vec_id ASC
        |  LIMIT 10) t
        |ORDER BY id""".stripMargin,

    // the v20 integrity posture for the DECISION operator: whatever the
    // policy split, full-probe search equals exact kNN over the union
    // corpus (base slice + drifted slice under shifted ids)
    "v38_drift_maintenance" ->
      """WITH corpus AS (
        |  SELECT vec_id AS id, embedding FROM embeddings WHERE label <> 1
        |  UNION ALL
        |  SELECT vec_id + 10000000 AS id, embedding FROM embeddings WHERE label = 1)
        |SELECT id FROM (
        |  SELECT id FROM corpus
        |  ORDER BY 1 - list_cosine_similarity(embedding,
        |    (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC, id ASC
        |  LIMIT 10) t
        |ORDER BY id""".stripMargin,

    // v14's train-on-base ADC oracle over the DRIFTED union: codebooks
    // from the base slice, codes over every union row, FULL ADC top-10
    // (no bucket restriction — full-probe results are invariant under
    // any bucket layout, which is exactly what puts the maintenance
    // run's moves under the hash)
    "v39_ivfpq_maintain" ->
      s"""WITH emb0 AS (
         |  SELECT CASE WHEN label = 1 AND vec_id <> 0
         |              THEN vec_id + 10000000 ELSE vec_id END AS vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |emb AS MATERIALIZED (
         |  SELECT vec_id, v, list_inner_product(v, v) AS nn FROM emb0),
         |base AS MATERIALIZED (
         |  SELECT vec_id, v FROM emb WHERE vec_id < 10000000),
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L, trainSrc = "base")).mkString(",\n")},
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b),
         |topk AS (
         |  SELECT vec_id AS id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // v3's knnJoin oracle shape restricted to the label split, pivoted;
    // the margin states the same (1 - d) double pipeline the engine
    // computes (NOT the raw similarity — 1-(1-s) differs from s in floats)
    "v21_margin_mining" ->
      """WITH r AS (
        |  SELECT p.vec_id AS src_id, c.vec_id AS tgt_id,
        |    1 - list_cosine_similarity(c.embedding, p.embedding) AS d,
        |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |      ORDER BY 1 - list_cosine_similarity(c.embedding, p.embedding) ASC,
        |               c.vec_id ASC) AS rnk
        |  FROM embeddings c, embeddings p
        |  WHERE p.label = 0 AND c.label = 1),
        |piv AS (
        |  SELECT src_id,
        |    MAX(CASE WHEN rnk = 1 THEN tgt_id END) AS tgt1,
        |    MAX(CASE WHEN rnk = 1 THEN d END) AS d1,
        |    MAX(CASE WHEN rnk = 2 THEN tgt_id END) AS tgt2,
        |    MAX(CASE WHEN rnk = 2 THEN d END) AS d2
        |  FROM r WHERE rnk <= 2 GROUP BY src_id)
        |SELECT src_id, tgt1, tgt2, (1 - d1) / (1 - d2) > 1.2 AS mined
        |FROM piv
        |ORDER BY src_id""".stripMargin,

    // v7's k-means CTEs supply both the assignment and the float-rounded
    // centroids; distances quantize identically, sums are exact longs
    "v23_index_stats" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |d AS (
         |  SELECT af.b,
         |    CAST(floor((${IvfSql.dist("e.v", "e.nn", "c.c")})
         |      * 1000000000.0 + 0.5) AS BIGINT) AS qd
         |  FROM af JOIN emb e USING (vec_id) JOIN c5 c ON c.b = af.b)
         |SELECT b AS bucket, COUNT(*) AS n,
         |  CAST(SUM(qd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS mean_dist
         |FROM d
         |GROUP BY b
         |ORDER BY bucket""".stripMargin,

    // the v5 decimal-exact per-dim means for both centroid sets, the
    // identical (l-g)^2 IEEE expression, nano-quantized per-dim terms,
    // integer sum
    "v25_label_drift" ->
      """WITH l AS (
        |  SELECT label, i,
        |    CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9))) AS DOUBLE)
        |      / COUNT(*) AS c,
        |    COUNT(*) AS n
        |  FROM embeddings, generate_series(1, 64) AS gs(i)
        |  GROUP BY label, i),
        |g AS (
        |  SELECT i,
        |    CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM embeddings, generate_series(1, 64) AS gs(i)
        |  GROUP BY i),
        |d AS (
        |  SELECT l.label, l.n,
        |    CAST(floor((l.c - g.c) * (l.c - g.c) * 1000000000.0 + 0.5) AS BIGINT) AS qd
        |  FROM l JOIN g USING (i))
        |SELECT label, CAST(MIN(n) AS BIGINT) AS n_vecs,
        |  CAST(SUM(qd) AS BIGINT) AS drift_q
        |FROM d
        |GROUP BY label
        |ORDER BY label""".stripMargin,

    // the same k-means assignment CTEs + the t13 windowed hash pick
    "v24_cluster_sample" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)}
         |SELECT cluster, sample_rank, vec_id FROM (
         |  SELECT CAST(af.b AS INT) AS cluster, e.vec_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY af.b
         |      ORDER BY md5('graft' || CAST(e.vec_id AS VARCHAR)) ASC, e.vec_id ASC)
         |      AS BIGINT) AS sample_rank
         |  FROM emb e JOIN af USING (vec_id)) t
         |WHERE sample_rank <= 5
         |ORDER BY cluster, sample_rank""".stripMargin,

    // the packed-word Hamming kernel restated as what it counts: the
    // number of dimensions whose SIGN differs (popcount of XOR over sign
    // bits == count of sign mismatches); then v18's exact re-rank shape
    "v19_binary_refine" ->
      """WITH p AS MATERIALIZED
        |  (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT e.vec_id
        |  FROM embeddings e CROSS JOIN p
        |  ORDER BY len(list_filter(generate_series(1, 64),
        |    i -> (e.embedding[i] >= 0) <> (p.pv[i] >= 0))) ASC,
        |           e.vec_id ASC
        |  LIMIT 40),
        |topk AS (
        |  SELECT e.vec_id AS id, e.label
        |  FROM embeddings e JOIN pool USING (vec_id) CROSS JOIN p
        |  ORDER BY 1 - list_cosine_similarity(e.embedding, p.pv) ASC, e.vec_id ASC
        |  LIMIT 10)
        |SELECT id, label FROM topk
        |ORDER BY id""".stripMargin,

    // the approx side re-derives the IVF selection through the same
    // k-means CTEs as v9/v22; the exact side is the v3 shape; recall is
    // the intersection count over one division
    "v30_ivf_recall" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |probes AS MATERIALIZED (SELECT vec_id AS probe_id, v, nn FROM emb WHERE vec_id < 8),
         |pbk AS (
         |  SELECT p.probe_id, c.b
         |  FROM probes p CROSS JOIN ${IvfSql.cent} c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.probe_id
         |    ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b) <= 2),
         |approx AS (
         |  SELECT probe_id, corpus_id FROM (
         |    SELECT pb.probe_id, af.vec_id AS corpus_id,
         |      ROW_NUMBER() OVER (PARTITION BY pb.probe_id
         |        ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, af.vec_id) AS rnk
         |    FROM pbk pb
         |    JOIN probes p USING (probe_id)
         |    JOIN af ON af.b = pb.b
         |    JOIN emb e ON e.vec_id = af.vec_id) t
         |  WHERE rnk <= 10),
         |ex AS (
         |  SELECT probe_id, corpus_id FROM (
         |    SELECT p.probe_id, e.vec_id AS corpus_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
         |        ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, e.vec_id) AS rnk
         |    FROM probes p CROSS JOIN emb e) t
         |  WHERE rnk <= 10),
         |hits AS (
         |  SELECT probe_id, COUNT(*) AS n_hit
         |  FROM ex JOIN approx USING (probe_id, corpus_id) GROUP BY 1)
         |SELECT p.probe_id, COALESCE(h.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10 AS recall
         |FROM (SELECT DISTINCT probe_id FROM ex) p
         |LEFT JOIN hits h USING (probe_id)
         |ORDER BY probe_id""".stripMargin,

    // the same floor-quantized integer dots; the k sequential greedy
    // picks unroll as chained MATERIALIZED CTEs (each step's argmax
    // conditions on the accumulated id list)
    "v31_mmr_rerank" ->
      s"""WITH qe AS MATERIALIZED (
         |  SELECT vec_id, gs.j AS j,
         |    CAST(floor(CAST(embedding[gs.j + 1] AS DOUBLE) * 1000.0) AS BIGINT) AS q
         |  FROM embeddings, generate_series(0, 63) AS gs(j)),
         |pq AS MATERIALIZED (SELECT j, q FROM qe WHERE vec_id = 0),
         |rel AS (
         |  SELECT qe.vec_id, CAST(SUM(qe.q * pq.q) AS BIGINT) AS rel
         |  FROM qe JOIN pq USING (j) GROUP BY 1),
         |pool AS MATERIALIZED (
         |  SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id ASC LIMIT 16),
         |sims AS MATERIALIZED (
         |  SELECT a.vec_id AS ai, b.vec_id AS bi,
         |    CAST(SUM(qa.q * qb.q) AS BIGINT) AS sim
         |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
         |  JOIN qe qa ON qa.vec_id = a.vec_id
         |  JOIN qe qb ON qb.vec_id = b.vec_id AND qb.j = qa.j
         |  GROUP BY 1, 2),
         |s1 AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS step, vec_id, [vec_id] AS ids,
         |    2 * rel AS score
         |  FROM pool ORDER BY rel DESC, vec_id ASC LIMIT 1),
         |${(2 to 5).map(mmrStep).mkString(",\n")}
         |SELECT step, vec_id, score FROM (
         |  SELECT step, vec_id, score FROM s1
         |  UNION ALL SELECT step, vec_id, score FROM s2
         |  UNION ALL SELECT step, vec_id, score FROM s3
         |  UNION ALL SELECT step, vec_id, score FROM s4
         |  UNION ALL SELECT step, vec_id, score FROM s5)
         |ORDER BY step""".stripMargin,

    // the identical +-1 matrix from the splitmix64 counter stream, the
    // identical floor-quantized integer fold, then v18's exact re-rank
    "v29_jl_project_refine" ->
      s"""WITH sm0 AS (
         |  SELECT gs.idx AS idx,
         |    ${SketchSql.addModU(
              SketchSql.mulModU("CAST(gs.idx + 1 AS UBIGINT)", 0x9e3779b97f4a7c15L),
              "CAST(7 AS UBIGINT)")} AS z
         |  FROM generate_series(0, 1023) AS gs(idx)),
         |${SketchSql.mixLayerCtes("sm0", Seq("idx"))},
         |sm AS (SELECT idx // 64 AS t, idx % 64 AS j,
         |        CASE WHEN (u & 1) = 1 THEN 1 ELSE -1 END AS s FROM sm0mu),
         |qe AS (SELECT vec_id, gs.j AS j,
         |        CAST(floor(CAST(embedding[gs.j + 1] AS DOUBLE) * 1024) AS BIGINT) AS q
         |       FROM embeddings, generate_series(0, 63) AS gs(j)),
         |pj AS MATERIALIZED (
         |  SELECT vec_id, sm.t AS t, CAST(SUM(sm.s * qe.q) AS BIGINT) AS y
         |  FROM qe JOIN sm ON sm.j = qe.j GROUP BY 1, 2),
         |pp AS MATERIALIZED (SELECT t, y FROM pj WHERE vec_id = 0),
         |dp AS (SELECT a.vec_id, SUM((a.y - b.y) * (a.y - b.y)) AS d2
         |       FROM pj a JOIN pp b ON a.t = b.t GROUP BY 1),
         |pool AS (SELECT vec_id FROM dp ORDER BY d2 ASC, vec_id ASC LIMIT 60),
         |p AS MATERIALIZED (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |topk AS (
         |  SELECT e.vec_id AS id, e.label
         |  FROM embeddings e JOIN pool USING (vec_id) CROSS JOIN p
         |  ORDER BY 1 - list_cosine_similarity(e.embedding, p.pv) ASC, e.vec_id ASC
         |  LIMIT 10)
         |SELECT id, label FROM topk
         |ORDER BY id""".stripMargin,

    // identical to v13's oracle: the saved index's float round-trip is
    // lossless, so the persisted pruned-ADC selection equals the
    // in-memory composition's
    "v16_ivfpq_saved_search" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L)).mkString(",\n")},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b
         |  JOIN af ON af.vec_id = c0.vec_id
         |  WHERE af.b IN (SELECT b FROM pb)),
         |topk AS (
         |  SELECT vec_id AS id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // v16's pruned-ADC CTEs nominate the pool (LIMIT 40), v15's exact
    // sqrt-L2 re-rank orders it — persistence is lossless so the
    // composition is the in-memory one's oracle verbatim
    "v17_ivfpq_saved_refine" ->
      s"""WITH ${IvfSql.embCtes}, ${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64)},
         |${(0 until 4).map(j => PqSql.subspaceCtes(j, k = 8, iters = 3,
              subDim = 16, probeId = 0L)).mkString(",\n")},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |adc AS (
         |  SELECT c0.vec_id, ((t0.dd + t1.dd) + t2.dd) + t3.dd AS dist
         |  FROM code0 c0
         |  JOIN code1 c1 USING (vec_id)
         |  JOIN code2 c2 USING (vec_id)
         |  JOIN code3 c3 USING (vec_id)
         |  JOIN tab0 t0 ON c0.b = t0.b
         |  JOIN tab1 t1 ON c1.b = t1.b
         |  JOIN tab2 t2 ON c2.b = t2.b
         |  JOIN tab3 t3 ON c3.b = t3.b
         |  JOIN af ON af.vec_id = c0.vec_id
         |  WHERE af.b IN (SELECT b FROM pb)),
         |cand AS (
         |  SELECT vec_id FROM adc
         |  ORDER BY dist, vec_id
         |  LIMIT 40),
         |topk AS (
         |  SELECT e.vec_id
         |  FROM emb e JOIN cand USING (vec_id) CROSS JOIN probe p
         |  ORDER BY sqrt(e.nn - 2 * list_inner_product(e.v, p.v) + p.nn), e.vec_id
         |  LIMIT 10)
         |SELECT vec_id FROM topk ORDER BY vec_id""".stripMargin,

    // hybrid RRF: the t18 BM25 CTEs rank the lexical top-20, the v1
    // cosine form ranks the vector top-20, and the fusion is the sum of
    // identical double reciprocals 1/(60+rank) — rank-based, so the two
    // systems' score scales never meet. Ties in the fused score (rank
    // pairs swapped between two docs) break by id on both engines.
    "t19_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(term)
        |  WHERE t.term <> ''),
        |dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY id),
        |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        |q(term) AS (VALUES ('spark'), ('join'), ('fast'), ('window')),
        |dft AS (
        |  SELECT term, COUNT(DISTINCT id) AS df
        |  FROM toks JOIN q USING (term) GROUP BY term),
        |tf AS (
        |  SELECT id, term, COUNT(*) AS tf
        |  FROM toks JOIN q USING (term) GROUP BY id, term),
        |sc AS (
        |  SELECT tf.id,
        |    SUM(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / s.avgdl))) AS score
        |  FROM tf JOIN dft d USING (term) JOIN dl USING (id) CROSS JOIN stats s
        |  GROUP BY tf.id),
        |lex AS (
        |  SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rnk
        |  FROM sc QUALIFY rnk <= 20),
        |vec AS (
        |  SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY
        |    1 - list_cosine_similarity(embedding,
        |      (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC,
        |    vec_id ASC) AS rnk
        |  FROM embeddings QUALIFY rnk <= 20),
        |contrib AS (
        |  SELECT id, CAST(1.0 AS DOUBLE) / (rnk + 60) AS c FROM lex
        |  UNION ALL
        |  SELECT id, CAST(1.0 AS DOUBLE) / (rnk + 60) AS c FROM vec),
        |fused AS (
        |  SELECT id, SUM(c) AS rrf, COUNT(*) AS lists
        |  FROM contrib GROUP BY id),
        |topk AS (
        |  SELECT id, lists FROM fused
        |  ORDER BY rrf DESC, id ASC
        |  LIMIT 10)
        |SELECT id, lists FROM topk ORDER BY id""".stripMargin,

    // build-on-base / append-the-rest: identical to v7's oracle except
    // the k-means trains on the base subset while af (and the search)
    // cover the full corpus — the append path's stored-centroid
    // assignment restated as the standard final-assignment rule
    "v11_ivf_append_search" ->
      s"""WITH ${IvfSql.embCtes},
         |base AS MATERIALIZED (SELECT vec_id, v, nn FROM emb WHERE vec_id % 5 <> 0),
         |${IvfSql.kmeansCtes(nlist = 8, iters = 5, dim = 64, trainSrc = "base")},
         |probe AS MATERIALIZED (SELECT v, nn FROM emb WHERE vec_id = 0),
         |pb AS (
         |  SELECT c.b FROM ${IvfSql.cent} c CROSS JOIN probe p
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "c.c")}, c.b
         |  LIMIT 3),
         |topk AS (
         |  SELECT e.vec_id AS id
         |  FROM emb e JOIN af USING (vec_id) CROSS JOIN probe p
         |  WHERE af.b IN (SELECT b FROM pb)
         |  ORDER BY ${IvfSql.dist("p.v", "p.nn", "e.v", "e.nn")}, e.vec_id
         |  LIMIT 10)
         |SELECT id FROM topk ORDER BY id""".stripMargin,

    // knnJoinApprox under the same unrolled k-means: each probe tags its
    // nprobe nearest buckets, joins the final assignment ON bucket, exact
    // distances within, window top-k per probe — the af JOIN guarantees
    // each corpus row appears at most once per probe (one bucket per row).
    "v9_ivf_knn_join" -> ivfKnnJoinSql,

    // intentionally identical to v9's oracle: the saved index's float
    // round-trip is lossless, so the served batch join must select the
    // same (probe, rank, corpus) triples as the in-memory composition
    "v22_ivf_knn_join_saved" -> ivfKnnJoinSql,

    "v8_lsh_near_dup" ->
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${SketchSql.shinglesSql(SketchSql.ToksSql)} AS shingles FROM documents),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |bases AS MATERIALIZED (SELECT doc_id, ${SketchSql.FnvSql} AS base FROM ex),
         |sg AS (SELECT doc_id, base, base AS z FROM bases),
         |${SketchSql.mixLayerCtes("sg", Seq("doc_id", "base"))},
         |tf AS (
         |  SELECT doc_id, CAST(base & 255 AS INT) AS j,
         |         SUM(CASE WHEN u & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM sgmu GROUP BY doc_id, j),
         |grid AS (SELECT t.doc_id, g.j
         |         FROM (SELECT DISTINCT doc_id FROM tf) t CROSS JOIN generate_series(0, 255) AS g(j)),
         |docs256 AS (
         |  SELECT grid.doc_id, grid.j, COALESCE(tf.v, 0) AS v
         |  FROM grid LEFT JOIN tf ON tf.doc_id = grid.doc_id AND tf.j = grid.j),
         |rawvec AS (SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY j) AS raw FROM docs256 GROUP BY doc_id),
         |dvec AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_transform(raw, x -> CAST(CAST(CASE WHEN nrm = 0 THEN 0 ELSE x / nrm END AS FLOAT) AS DOUBLE)) AS vec
         |  FROM (SELECT doc_id, raw, sqrt(list_inner_product(raw, raw)) AS nrm FROM rawvec)),
         |pidx AS (SELECT p, CAST(p % 256 AS INT) AS j, CAST((p // 256) % 12 AS INT) AS r,
         |                CAST(p // 3072 AS INT) AS b,
         |                ${SketchSql.addModU("CAST(42 AS UBIGINT)", SketchSql.mulModU("CAST(2*p+1 AS UBIGINT)", Gold))} AS z1,
         |                ${SketchSql.addModU("CAST(42 AS UBIGINT)", SketchSql.mulModU("CAST(2*p+2 AS UBIGINT)", Gold))} AS z2
         |         FROM generate_series(0, 196607) AS g(p)),
         |h1 AS (SELECT p, j, r, b, z2, z1 AS z FROM pidx),
         |${SketchSql.mixLayerCtes("h1", Seq("p", "j", "r", "b", "z2"))},
         |h2 AS (SELECT p, j, r, b, u AS u1, z2 AS z FROM h1mu),
         |${SketchSql.mixLayerCtes("h2", Seq("p", "j", "r", "b", "u1"))},
         |pl AS (
         |  SELECT b, r, j,
         |    sqrt(-2.0 * ln((CAST(u1 >> 11 AS DOUBLE) + 1) / 9007199254740992.0))
         |      * cos(2 * pi() * (CAST(u >> 11 AS DOUBLE) / 9007199254740992.0)) AS w
         |  FROM h2mu),
         |planerows AS MATERIALIZED (SELECT b, r, list(w ORDER BY j) AS plane FROM pl GROUP BY b, r),
         |dots AS (SELECT d.doc_id, p.b, p.r, list_inner_product(d.vec, p.plane) AS dot
         |         FROM dvec d CROSS JOIN planerows p),
         |buckets AS MATERIALIZED (
         |  SELECT doc_id, b,
         |         SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << r ELSE 0 END) AS bucket
         |  FROM dots GROUP BY doc_id, b),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
         |  FROM buckets a JOIN buckets b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |verified AS (
         |  SELECT id1, id2
         |  FROM cand
         |  JOIN dvec v1 ON v1.doc_id = id1
         |  JOIN dvec v2 ON v2.doc_id = id2
         |  WHERE list_inner_product(v1.vec, v2.vec)
         |        / (sqrt(list_inner_product(v1.vec, v1.vec)) * sqrt(list_inner_product(v2.vec, v2.vec))) > 0.85)
         |SELECT id1, id2 FROM verified ORDER BY id1, id2""".stripMargin
  )

  private val Gold = 0x9e3779b97f4a7c15L
}

/** DuckDB-SQL builder for the IVF k-means oracle (v7/v9): the engine's
  * deterministic training loop ([[graft.operators.Ivf.trainCentroids]] —
  * first-nlist init in id order, fixed iteration count, cosine geometry,
  * float-cast means) unrolled as chained CTEs. Valid exactly when the
  * corpus fits Ivf.build's sample budget, which collapses the reservoir
  * sample to the identity — the precondition the gate corpus satisfies at
  * every SF (<= 2000 rows vs a 120k budget). Same precedent as
  * [[SketchSql]]: restate the kernel arithmetic in SQL the oracle engine
  * executes natively.
  */
/** PQ oracle CTE generator — the [[IvfSql]] pattern applied per
  * subspace over DuckDB list slices. Every distance is squared L2 in
  * the dot-product shape `nn_a - 2*dot(a,b) + dot(b,b)` — the exact
  * double arithmetic [[graft.functions.PqCodec.l2sq]] computes, through
  * the same list_inner_product primitive the v7 oracle validated.
  */
private[queries] object PqSql {

  def l2(av: String, ann: String, c: String): String =
    s"$ann - 2 * list_inner_product($av, $c) + list_inner_product($c, $c)"

  /** CTEs for subspace j (0-based) over `emb`: `s{j}` (slice + self
    * inner product), `s{j}c0..c{iters}` (k-means — init from the first k
    * rows in vec_id order, L2 assignment with first-index tie-breaks,
    * float-cast means, empty clusters kept), `code{j}` (per-vector
    * argmin), `p{j}` (probe slice), `tab{j}` (ADC table entries `dd`).
    * DuckDB list slicing is 1-based inclusive.
    */
  def subspaceCtes(j: Int, k: Int, iters: Int, subDim: Int,
                   probeId: Long, trainSrc: String = "emb"): String = {
    val lo = j * subDim + 1
    val hi = (j + 1) * subDim
    val slice =
      s"""s$j AS MATERIALIZED (
         |  SELECT vec_id, v[$lo:$hi] AS v,
         |         list_inner_product(v[$lo:$hi], v[$lo:$hi]) AS nn
         |  FROM emb)""".stripMargin
    // training slice: the k-means sees only `trainSrc` rows (the v11
    // swap-the-train-source pattern) while codes cover all of `emb`;
    // the default emits no extra CTE so v12/v13's oracle text is
    // unchanged byte-for-byte
    val trn = if (trainSrc == "emb") s"s$j" else s"s${j}t"
    val trainSlice =
      if (trainSrc == "emb") Seq.empty[String]
      else Seq(
        s"""s${j}t AS MATERIALIZED (
           |  SELECT vec_id, v[$lo:$hi] AS v,
           |         list_inner_product(v[$lo:$hi], v[$lo:$hi]) AS nn
           |  FROM $trainSrc)""".stripMargin)
    val init =
      s"""s${j}c0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS b, v AS c
         |  FROM $trn QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $k)""".stripMargin
    val rounds = (1 to iters).map { r =>
      val p = s"s${j}c${r - 1}"
      s"""s${j}a$r AS (
         |  SELECT e.vec_id, c.b
         |  FROM $trn e CROSS JOIN $p c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${l2("e.v", "e.nn", "c.c")}, c.b) = 1),
         |s${j}m$r AS (
         |  SELECT a.b, g.i, CAST(CAST(SUM(e.v[g.i]) / COUNT(*) AS FLOAT) AS DOUBLE) AS mc
         |  FROM s${j}a$r a JOIN $trn e USING (vec_id), generate_series(1, $subDim) AS g(i)
         |  GROUP BY a.b, g.i),
         |s${j}c$r AS MATERIALIZED (
         |  SELECT p.b, COALESCE(m.c, p.c) AS c
         |  FROM $p p LEFT JOIN (SELECT b, list(mc ORDER BY i) AS c FROM s${j}m$r GROUP BY b) m USING (b))""".stripMargin
    }
    val codes =
      s"""code$j AS MATERIALIZED (
         |  SELECT e.vec_id, c.b
         |  FROM s$j e CROSS JOIN s${j}c$iters c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${l2("e.v", "e.nn", "c.c")}, c.b) = 1)""".stripMargin
    val probe =
      s"""p$j AS MATERIALIZED (
         |  SELECT v[$lo:$hi] AS v, list_inner_product(v[$lo:$hi], v[$lo:$hi]) AS nn
         |  FROM emb WHERE vec_id = $probeId)""".stripMargin
    val tab =
      s"""tab$j AS (
         |  SELECT c.b, ${l2("p.v", "p.nn", "c.c")} AS dd
         |  FROM s${j}c$iters c CROSS JOIN p$j p)""".stripMargin
    (Seq(slice) ++ trainSlice ++ Seq(init) ++ rounds ++ Seq(codes, probe, tab)).mkString(",\n")
  }
}

private[queries] object IvfSql {

  /** Name of the final-centroid CTE emitted by [[kmeansCtes]]. */
  def cent = "c5"

  /** Cosine distance in the kernel's exact formula shape
    * (`Knn.cosineDist`): 1 - dot/(sqrt(na)*sqrt(nb)). Overloads take a
    * precomputed self-inner-product where the caller has one.
    */
  def dist(av: String, ann: String, bv: String, bnn: String): String =
    s"1 - list_inner_product($av, $bv) / (sqrt($ann) * sqrt($bnn))"
  def dist(av: String, ann: String, bc: String): String =
    s"1 - list_inner_product($av, $bc) / (sqrt($ann) * sqrt(list_inner_product($bc, $bc)))"

  /** The corpus CTEs: `emb` = vectors as double lists + self inner
    * product. Shared prefix of every IVF oracle.
    */
  def embCtes: String =
    s"""emb0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |emb AS MATERIALIZED (SELECT vec_id, v, list_inner_product(v, v) AS nn FROM emb0)""".stripMargin

  /** The k-means CTEs: `c0..c{iters}` (centroid tables, MATERIALIZED —
    * each is consumed twice and default CTE inlining would re-expand the
    * whole chain per reference) trained on `trainSrc` (a CTE with
    * vec_id/v/nn — the full corpus `emb` in the degenerate regime, the
    * reservoir sample `smp` under v7s), and `af` (the final FULL-corpus
    * bucket assignment Ivf.build computes with the trained centroids).
    */
  def kmeansCtes(nlist: Int, iters: Int, dim: Int, trainSrc: String = "emb"): String = {
    val init =
      s"""c0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS b, v AS c
         |  FROM $trainSrc QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $nlist)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = s"c${k - 1}"
      s"""a$k AS (
         |  SELECT e.vec_id, c.b
         |  FROM $trainSrc e CROSS JOIN $p c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${dist("e.v", "e.nn", "c.c")}, c.b) = 1),
         |m$k AS (
         |  SELECT a.b, g.i, CAST(CAST(SUM(e.v[g.i]) / COUNT(*) AS FLOAT) AS DOUBLE) AS mc
         |  FROM a$k a JOIN $trainSrc e USING (vec_id), generate_series(1, $dim) AS g(i)
         |  GROUP BY a.b, g.i),
         |c$k AS MATERIALIZED (
         |  SELECT p.b, COALESCE(m.c, p.c) AS c
         |  FROM $p p LEFT JOIN (SELECT b, list(mc ORDER BY i) AS c FROM m$k GROUP BY b) m USING (b))""".stripMargin
    }
    val fin =
      s"""af AS MATERIALIZED (
         |  SELECT e.vec_id, c.b
         |  FROM emb e CROSS JOIN c$iters c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${dist("e.v", "e.nn", "c.c")}, c.b) = 1)""".stripMargin
    (Seq(init) ++ rounds ++ Seq(fin)).mkString(",\n")
  }

  /** Ivf.build's SAMPLING pipeline restated in SQL — the subsampling
    * regime the round-5 oracle could not reach. Emits CTEs ending in
    * `smp` (the merged sample as vec_id/v/nn), assuming `emb` exists.
    *
    * Restatable at all only because every random draw in Ivf.build is
    * counter-based splitmix64 (pure function of partition seed + row
    * index / id — [[graft.operators.Ivf.rowDraw]]/
    * [[graft.operators.Ivf.quotaKey]]): the reservoir's "last writer
    * wins" slot content becomes a max_by over independently-computable
    * writes, and the quota subselection an ORDER BY over per-id keys.
    * The per-partition seeds are computed by the ENGINE's own seed
    * functions and inlined, so the streams cannot drift.
    *
    * @param pidExpr SQL over `vec_id` mapping each row to its Spark
    *                partition id — must mirror the query's explicit
    *                corpus construction (filter + coalesce(1) pieces).
    */
  def sampleCtes(seed: Long, nlist: Int, sampleSize: Int, parts: Int,
                 pidExpr: String): String = {
    import graft.operators.Ivf.{reservoirSeed, quotaSeed}
    def uns(l: Long) = java.lang.Long.toUnsignedString(l)
    val budget = math.max(nlist, math.ceil(1.2 * sampleSize).toInt)
    val perPart = (budget.toLong / parts + 1).toInt
    val golden = 0x9E3779B97F4A7C15L
    val seedRows = (0 until parts).map { p =>
      s"($p, CAST(${uns(reservoirSeed(seed, p))} AS UBIGINT), " +
        s"CAST(${uns(quotaSeed(seed, p))} AS UBIGINT))"
    }.mkString(", ")
    val u01 = "(CAST(u >> 11 AS DOUBLE) / 9007199254740992.0)"
    s"""pseed(pid, rs, qs) AS (VALUES $seedRows),
       |rws AS (
       |  SELECT vec_id, pid, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY vec_id) - 1 AS i
       |  FROM (SELECT vec_id, $pidExpr AS pid FROM emb)),
       |pstat AS (SELECT pid, COUNT(*) AS seen FROM rws GROUP BY pid),
       |dz AS (
       |  SELECT r.vec_id, r.pid, r.i,
       |         ${SketchSql.addModU("p.rs", SketchSql.mulModU("CAST(r.i + 1 AS UBIGINT)", golden))} AS z
       |  FROM rws r JOIN pseed p USING (pid) WHERE r.i >= $perPart),
       |${SketchSql.mixLayerCtes("dz", Seq("vec_id", "pid", "i"))},
       |wrt AS (
       |  SELECT vec_id, pid, i, i AS slot FROM rws WHERE i < $perPart
       |  UNION ALL
       |  SELECT vec_id, pid, i, CAST(floor($u01 * (i + 1)) AS BIGINT) AS slot
       |  FROM dzmu WHERE floor($u01 * (i + 1)) < $perPart),
       |res AS (SELECT pid, slot, max_by(vec_id, i) AS vec_id FROM wrt GROUP BY pid, slot),
       |rstat AS (SELECT pid, COUNT(*) AS rlen FROM res GROUP BY pid),
       |tot AS (SELECT GREATEST(SUM(seen), 1) AS total FROM pstat),
       |qta AS (
       |  SELECT p.pid, LEAST(r.rlen, CAST(CEIL($budget.0 * p.seen / t.total) AS BIGINT)) AS quota
       |  FROM pstat p JOIN rstat r USING (pid) CROSS JOIN tot t),
       |qk0 AS (
       |  SELECT r.vec_id, r.pid,
       |         ${SketchSql.addModU("p.qs", SketchSql.mulModU("CAST(r.vec_id AS UBIGINT)", golden))} AS z
       |  FROM res r JOIN pseed p USING (pid)),
       |${SketchSql.mixLayerCtes("qk0", Seq("vec_id", "pid"))},
       |sel AS (
       |  SELECT vec_id, pid,
       |         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ${SketchSql.signedSql("u")}, vec_id) AS rk
       |  FROM qk0mu),
       |smp AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, e.nn
       |  FROM sel s JOIN qta q USING (pid) JOIN emb e ON e.vec_id = s.vec_id
       |  WHERE s.rk <= q.quota)""".stripMargin
  }
}
