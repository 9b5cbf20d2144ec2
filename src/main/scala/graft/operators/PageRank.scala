package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic integer-arithmetic PageRank (Page et al. 1999, public)
  * over an edge list — the link-analysis signal large-scale web-corpus
  * curation uses to weight domains/documents (e.g. the harmonic/PageRank
  * centrality features in public CommonCrawl pipelines). The reference
  * has no graph surface; this extends the SURVEY §2.9 family beside d7/d8
  * (connected components), reusing their iterative-DataFrame posture.
  *
  * Numerics: ranks live in integer "units" (`scale` total mass), every
  * division is a floor integer divide, every sum a long sum — the
  * fixed-point iteration is therefore EXACTLY reproducible across
  * engines, partitionings, and retries (no float summation order
  * anywhere), which is what makes a cross-engine oracle possible and the
  * operator safe to resume at scale. Mass lost to floor rounding (< one
  * unit per node per step) is deliberately dropped, identically on both
  * sides; `scale` = 1e12 keeps the relative rounding error < 1e-6 for
  * graphs up to ~1e6 nodes per unit of rank.
  *
  * Update rule per iteration (damping 0.85 as published):
  *   dangShare = (sum of ranks of out-degree-0 nodes) div N
  *   r'(u) = base + 85 * (sum over in-edges(v,u) of r(v) div out(v)
  *                        + dangShare) div 100
  * with base = (scale div N) * 15 div 100.
  *
  * Scale design: the edge list (joined once with out-degrees) is
  * persisted and reused across iterations — each iteration is ONE
  * shuffle join of edges with the current ranks on `src` plus one
  * map-side-combinable sum on `dst`; the dangling mass is a scalar
  * aggregate (one long to the driver per iteration, the standard Pregel
  * shape). Rank lineage is cut by persist-per-iteration with eager
  * materialization; for hundreds of iterations compose with a reliable
  * checkpoint dir as [[graft.operators.Dedup.nearDupClusters]] does.
  */
object PageRank {

  /** Run `iters` synchronous PageRank iterations over the DISTINCT edge
    * set. Output: (node, out, rank) — one row per node participating in
    * at least one edge, `rank` in integer units of `scale`.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the caller's edge plan (g1's is an orders-lineitem join + distinct)
    // is read three times below (nodes twice via the union, deg, ew) —
    // persist it so the upstream join runs once (guide §2.4; released
    // before returning, after ew/od materialize)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out"))
    val od = nodes.join(deg, Seq("node"), "left")
      .na.fill(0L, Seq("out"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = od.count()
    require(n > 0, "PageRank needs at least one edge")
    // edges pre-joined with their source's out-degree and HASH-PARTITIONED
    // ON src once: every iteration's join then exchanges only the
    // node-count-sized ranks table, never the edge list
    val ew = e.join(od.withColumnRenamed("node", "src"), Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ew.count()
    e.unpersist()
    val perNode = scale / n
    val base = perNode * 15L / 100L
    // ONE action per iteration: the dangling-mass aggregate doubles as
    // the eager materialization of the freshly-persisted ranks (the agg
    // touches every partition, filling the cache), so each synchronous
    // step costs exactly one job — not a count plus a scalar aggregate
    def dangOf(df: DataFrame): Long = {
      val row = df.agg(sum(when(col("out") === 0L, col("r")))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    var ranks = od.select(col("node"), col("out"), lit(perNode).as("r"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dang = dangOf(ranks)
    var i = 0
    while (i < iters) {
      val dangShare = dang / n
      val contrib = ew
        .join(ranks.select(col("node").as("src"), col("r")), Seq("src"))
        .select(col("dst").as("node"),
          call_function("div", col("r"), col("out")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      val next = od.join(contrib, Seq("node"), "left")
        .select(col("node"), col("out"),
          (lit(base) + call_function("div",
            (coalesce(col("contrib"), lit(0L)) + lit(dangShare)) * lit(85L),
            lit(100L))).as("r"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      dang = dangOf(next) // materializes next before releasing the previous
      ranks.unpersist()
      ranks = next
      i += 1
    }
    od.unpersist()
    ew.unpersist()
    ranks.select(col("node"), col("out"), col("r").as("rank"))
  }

  /** PERSONALIZED PageRank (random walk with restart): the teleport
    * mass — both the 15% restart and the dangling redistribution — goes
    * only to nodes satisfying `seedPred`, instead of uniformly to all N:
    *   r'(u) = 1{seed}(u) * (15 * scale / 100) div s
    *           + 85 * (contrib(u) + 1{seed}(u) * (dang div s)) div 100
    * with s = |seeds| and r0 = scale div s at seeds, 0 elsewhere. Same
    * exact-integer arithmetic, persistence shape, and one-action-per-
    * iteration discipline as [[run]] — the per-iteration cost is
    * identical; only the base vector changed. Ranks concentrate in the
    * seeds' neighborhoods: the "related to THESE" recommendation query
    * next to g1's global importance.
    */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   seedPred: Column, iters: Int = 5,
                   scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // persist the caller's edge plan across its three readers (see run)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out"))
    val od = nodes.join(deg, Seq("node"), "left")
      .na.fill(0L, Seq("out"))
      .withColumn("seed", seedPred)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s = od.filter(col("seed")).count()
    require(s > 0, "personalized PageRank needs at least one seed node in the graph")
    val ew = e.join(od.select(col("node").as("src"), col("out")), Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ew.count()
    e.unpersist()
    val perSeed = scale / s
    val base = perSeed * 15L / 100L
    def dangOf(df: DataFrame): Long = {
      val row = df.agg(sum(when(col("out") === 0L, col("r")))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    var ranks = od.select(col("node"), col("out"), col("seed"),
        when(col("seed"), lit(perSeed)).otherwise(lit(0L)).as("r"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dang = dangOf(ranks)
    var i = 0
    while (i < iters) {
      val dangShare = dang / s
      val contrib = ew
        .join(ranks.select(col("node").as("src"), col("r")), Seq("src"))
        .select(col("dst").as("node"),
          call_function("div", col("r"), col("out")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      val next = od.join(contrib, Seq("node"), "left")
        .select(col("node"), col("out"), col("seed"),
          (when(col("seed"), lit(base)).otherwise(lit(0L))
            + call_function("div",
              (coalesce(col("contrib"), lit(0L))
                + when(col("seed"), lit(dangShare)).otherwise(lit(0L))) * lit(85L),
              lit(100L))).as("r"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      dang = dangOf(next)
      ranks.unpersist()
      ranks = next
      i += 1
    }
    od.unpersist()
    ew.unpersist()
    ranks.select(col("node"), col("out"), col("r").as("rank"))
  }
}
