package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-overlap link prediction (common-neighbor and Jaccard
  * scores for non-adjacent node pairs) — the classic "you may also
  * like" / record-linkage primitive over the same co-occurrence graphs
  * g1–g4 serve (Liben-Nowell & Kleinberg 2003).
  *
  * Shape: candidate pairs are exactly the WEDGES of the graph — for
  * each center c, every unordered pair of its neighbors — generated
  * once each by [[Pairs.within]] (one groupBy on the center key, no
  * self-join) and counted with one combinable count, then anti-joined
  * against the edge set so only genuinely new links remain, then
  * degree-joined for the Jaccard denominator. All arithmetic is integer (counts, degrees, ppm
  * quotient), bit-stable across engines.
  *
  * Scale posture: wedge volume is Σ_c deg(c)·(deg(c)−1)/2 — quadratic
  * in hub degree, the same regime Dedup.jaccardNearDupPairs guards.
  * The operator computes that sum exactly from the degree table it
  * needs anyway and REFUSES loudly past `maxWedgeEstimate`, naming the
  * mitigations (degree-cap the centers, or sample), rather than
  * absorbing an unbounded shuffle. Degrees join via two key shuffles of
  * candidate volume; the top-k exits through TakeOrderedAndProject.
  */
object LinkPredict {

  /** Top-`k` non-adjacent pairs by common-neighbor count over an
    * undirected edge list (`aCol` < `bCol`, deduped). Output:
    * (a, b, cn, deg_a, deg_b, jac_ppm), ordered by cn desc then (a, b).
    */
  def commonNeighbors(edges: DataFrame, aCol: String, bCol: String,
                      k: Int = 20,
                      maxWedgeEstimate: Long = 50000000L): DataFrame = {
    // the edge list is typically itself a derived plan (the gate's is a
    // co-occurrence self-join + distinct) and is read FOUR times here
    // (guard/degrees/wedges via adj, plus the anti-join) — persist it so
    // the upstream plan executes once
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // adjacency in both directions: (c = center, n = neighbor)
    // cached: the guard aggregate, the degree table, and the wedge
    // groupBy all read the adjacency. The (u, v) pair aggregation's
    // wedge-volume shuffle dominates and no layout of the adjacency can
    // reduce it (a cached repartition(c) was measured at 20.3 s vs
    // 17.9 s on the round-12 self-join shape — the up-front shuffle
    // cost more than it saved).
    val adj = e.select(col("a").as("c"), col("b").as("n"))
      .unionAll(e.select(col("b").as("c"), col("a").as("n")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the guard aggregate also reads off the id range the pair key is
      // built from (one packed long through the dominant wedge aggregation
      // when the ids fit)
      val est = deg.agg(Pairs.volume(col("d")), Pairs.idRange(col("c")): _*).head()
      val wedgeVolume = est.getLong(0)
      require(wedgeVolume <= maxWedgeEstimate,
        s"commonNeighbors would enumerate ~$wedgeVolume wedges (sum of " +
          s"deg*(deg-1)/2 over centers) > maxWedgeEstimate=$maxWedgeEstimate; " +
          "cap hub degrees (commonNeighborsCapped) or sample centers, or " +
          "raise maxWedgeEstimate deliberately")
      val key = Pairs.Key(est, 1, adj.schema("n").dataType)
      // pair-aggregation parallelism derived from the MEASURED wedge
      // volume (profiled at sf0.1: the wedge stage inherits the
      // adjacency exchange's AQE-coalesced partition count, so the
      // 148M-row partial aggregate ran nearly unparallelized and
      // spilled; distinct pairs are ~0.7x of wedges, so map-side
      // combining is worthless here anyway — repartitioning the RAW
      // pairs to volume-scaled partitions and aggregating ONCE measured
      // 27 -> 11.4 s for the aggregation stage). ~1.5M pair rows
      // (~12 MB packed) per task.
      val parts = Pairs.partitions(adj.sparkSession, wedgeVolume, 1500000L)
      // realize the k-row result eagerly so the finally can release the
      // cached tables without a later action re-running the whole plan
      // uncached (the LabelProp/Occupancy cleanup pattern)
      scoreWedges(e, adj, deg, k, key, parts).localCheckpoint(true)
    } finally { e.unpersist(); adj.unpersist(); deg.unpersist() }
  }

  /** Degree-capped GENERATE + exact REFINE — the 100×-scale route past
    * the exact operator's wedge refusal (the IVF posture applied to the
    * graph: a cheap bounded candidate generator, then exact rescoring of
    * a candidate pool that is k-sized, not corpus-sized).
    *
    * Generate: drop wedges CENTERED on nodes with deg > `maxDegree`
    * before enumeration, bounding wedge volume at n·D·(D−1)/2 REGARDLESS
    * of skew — no exact pre-count needed, the bound holds by
    * construction. Take the top `k * refineFactor` pairs by capped
    * count. Refine: rescore just those pairs with their TRUE
    * common-neighbor counts (cost Σ_cand deg — candidate-bounded, never
    * wedge-shaped) and emit the top k with true degrees and Jaccard.
    *
    * `maxDegree` is a recall/cost knob exactly like IVF's nprobe: recall
    * vs the exact top-k is MEASURED by the g7b sweep (the d21/d22
    * posture), not assumed — at gate scale D=100/140/180 recovers
    * 4/17/20 of the exact top-20.
    */
  def commonNeighborsCapped(edges: DataFrame, aCol: String, bCol: String,
                            maxDegree: Long, k: Int = 20,
                            refineFactor: Int = 10): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("a").as("c"), col("b").as("n"))
      .unionAll(e.select(col("b").as("c"), col("a").as("n")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // centers filtered BEFORE wedge generation: the low-degree center
      // set reaches the adjacency groupBy, so the hub-quadratic blow-up
      // never materializes
      val okCenters = deg.filter(col("d") <= lit(maxDegree)).select(col("c"))
      val cappedAdj = adj.join(okCenters, "c")
      // ONE pre-aggregate over the cached degree table reads off the
      // capped wedge volume (aggregate parallelism, the scoreWedges
      // repartition-first treatment) and the id range (pair key)
      val pre = deg.agg(Pairs.volume(when(col("d") <= lit(maxDegree), col("d"))),
        Pairs.idRange(col("c")): _*).head()
      val key = Pairs.Key(pre, 1, adj.schema("n").dataType)
      val parts = Pairs.partitions(adj.sparkSession, pre.getLong(0), 1500000L)
      val (pu, pv) = key.ids(col("pk"))
      // candidate pool: top k*refineFactor NEW pairs by capped count,
      // realized eagerly (R rows) so everything downstream is
      // candidate-bounded; (ccn desc, pk) ordering == (ccn desc, u, v)
      val gen = Pairs.within(cappedAdj, Seq("c"), "n", ("ns", "u", "v"))
        .select(key.of(col("u"), col("v")).as("pk"))
        .repartition(parts, col("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("ccn"))
        .join(e.select(key.of(col("a"), col("b")).as("pk")), Seq("pk"), "left_anti")
        .orderBy(col("ccn").desc, col("pk").asc)
        .limit(k * refineFactor)
        .select(pu.as("u"), pv.as("v"))
        .localCheckpoint(true)
      // exact rescore: per candidate pair, count the centers adjacent
      // to BOTH endpoints over the FULL adjacency. Join volume is
      // Σ_cand deg(endpoint) — R·maxTrueDeg worst case, never the wedge
      // volume; gen (R rows) broadcasts into the first join.
      val ref = broadcast(gen)
        .join(adj.select(col("n").as("u"), col("c")), "u")
        .join(adj.select(col("n").as("v"), col("c")), Seq("v", "c"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      ref.hint("broadcast")
        .join(deg.select(col("c").as("u"), col("d").as("deg_a")), "u")
        .join(deg.select(col("c").as("v"), col("d").as("deg_b")), "v")
        .select(col("u").as("a"), col("v").as("b"), col("cn"),
          col("deg_a"), col("deg_b"),
          expr("cast((cn * 1000000) div (deg_a + deg_b - cn) as bigint)")
            .as("jac_ppm"))
        .orderBy(col("cn").desc, col("a").asc, col("b").asc)
        .limit(k)
        .localCheckpoint(true)
    } finally { e.unpersist(); adj.unpersist(); deg.unpersist() }
  }

  /** Shared scoring tail: count co-neighbors per wedge pair, drop
    * existing edges, join TRUE degrees, integer Jaccard, top-k.
    * The pair travels through the dominant exchange as ONE `key` column
    * ([[Pairs.Key]], a packed long when the ids fit); the edge anti-join
    * runs on the same key (the aggregate's partitioning is reused), and
    * the pair splits back into ids only after the anti-join.
    * The RAW pairs repartition to `aggParts` before ONE aggregation pass:
    * distinct pairs run ~0.7x of wedges, so the default
    * partial-then-final plan pays a near-useless map-side hash (spilling,
    * at the upstream stage's AQE-coalesced parallelism) to save ~30% of
    * exchange rows — measured 2.4x slower than exchanging the raw pairs
    * at volume-scaled parallelism.
    *
    * `adj` must hold every edge in both directions, so that each wedge
    * through a center is generated and every pair endpoint has a degree
    * row. Its one caller, [[commonNeighbors]], builds it as the union of
    * both directions of `e`, so this holds by construction.
    *
    * The top-k on (cn desc, u, v) runs BEFORE the degree joins: the
    * ordering never reads degrees or Jaccard, and the inner joins drop
    * nothing (every pair endpoint is some center's neighbor, so its
    * degree row exists) — so only k rows pay the two degree joins and
    * the ppm arithmetic, not the ~0.7x-of-wedges distinct pair set
    * (guide §1.2 "don't compute things you throw away"). A final
    * orderBy restores the k-row total order the joins may permute.
    */
  private def scoreWedges(e: DataFrame, adj: DataFrame, deg: DataFrame,
                          k: Int, key: Pairs.Key, aggParts: Int): DataFrame = {
    val (pu, pv) = key.ids(col("pk"))
    Pairs.within(adj, Seq("c"), "n", ("ns", "u", "v"))
      .select(key.of(col("u"), col("v")).as("pk"))
      .repartition(aggParts, col("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("cn"))
      // wedge pairs that are already edges are triangles, not
      // predictions — dropped on the pair key so the aggregate's
      // partitioning carries straight through
      .join(e.select(key.of(col("a"), col("b")).as("pk")), Seq("pk"), "left_anti")
      .select(pu.as("u"), pv.as("v"), col("cn"))
      .orderBy(col("cn").desc, col("u").asc, col("v").asc)
      .limit(k)
      .join(deg.select(col("c").as("u"), col("d").as("deg_a")), "u")
      .join(deg.select(col("c").as("v"), col("d").as("deg_b")), "v")
      .select(col("u").as("a"), col("v").as("b"), col("cn"),
        col("deg_a"), col("deg_b"),
        expr("cast((cn * 1000000) div (deg_a + deg_b - cn) as bigint)")
          .as("jac_ppm"))
      .orderBy(col("cn").desc, col("a").asc, col("b").asc)
      .limit(k)
  }
}
