package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting (the node-iterator-with-degree-ordering
  * algorithm: Schank 2007; Suri & Vassilvitskii 2011's MapReduce form —
  * public). The reference has no graph surface; this deepens the SURVEY
  * §2.9 graph family beside g1's PageRank and d7/d8's connected
  * components.
  *
  * Scale design — the entire point of the degree orientation: directing
  * every undirected edge from its (degree, id)-smaller endpoint to the
  * larger one caps every node's OUT-degree at O(sqrt(m)), so the wedge
  * join (the quadratic step) generates at most O(m^1.5) candidate rows
  * regardless of how skewed the raw degree distribution is — a celebrity
  * node with 10^6 neighbors contributes wedges only through the ~sqrt(m)
  * neighbors that outrank it, not 10^12 pairs. Three shuffles total
  * (degree aggregate, per-pivot adjacency groupBy, closing-edge
  * equi-join), each on plain equi-keys; each triangle materializes
  * exactly once because the wedge pivot is the orientation-minimum, the
  * adjacency arrays are sorted in orientation order so each wedge is
  * generated once, and the closing edge is checked in its oriented
  * direction only.
  *
  * Deliberately NOT cached: the oriented-edge subtree is referenced
  * twice (adjacency groupBy + closing join), but AQE's exchange reuse
  * collapses identical subplans at runtime (measured at sf0.1 on the
  * round-7 self-join shape: uncached 8.5-9.4 s vs
  * persist+localCheckpoint 9.6-12.8 s — the cache only added
  * materialization overhead). Keeping the plan fully declarative also
  * leaves AQE free to re-plan the skewed closing join.
  */
object Triangles {

  /** Degree-oriented edge list: every undirected (srcCol, dstCol) edge
    * (self-loops dropped, parallel edges collapsed) directed from its
    * (degree, id)-smaller endpoint `u` to the larger `v`. Carries `dv` =
    * deg(v) so [[wedgeClose]] can sort each pivot's neighbors by the SAME
    * (degree, id) total order the orientation uses.
    */
  private def orient(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
      least(col(srcCol), col(dstCol)).as("a"),
      greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
    // orient u -> v iff (deg(u), u) < (deg(v), v)
    withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
  }

  /** Wedge + close over an oriented edge list: wedges at the
    * orientation-minimum pivot; the closing edge is only ever probed in
    * its oriented direction, so no triangle is double-counted.
    *
    * Wedges are the [[Pairs.within]] pairs of each pivot's neighbors,
    * ordered by the orientation key (deg, id): for positions i < j the
    * closing edge, if present, can only be oriented ns[i] -> ns[j], so
    * each wedge is emitted exactly ONCE, in the only order the closing
    * join can match. Out-degree is O(sqrt m) under the orientation, so
    * each adjacency array is O(sqrt m) — bounded regardless of skew.
    */
  private def wedgeClose(oriented: DataFrame): DataFrame = {
    // (r19 note: hash-repartitioning the arrays table to spread the
    // generate stage — the LinkPredict repartition-first treatment —
    // was tried and measured NEUTRAL-to-worse here (g8x 2.4 -> 3.4 s):
    // the orientation caps wedge volume at O(m^1.5) with small
    // constants, so the extra exchange outweighs the parallelism win
    // at this volume. The closing join's own exchange already spreads
    // the triangle-counting work.)
    val wedges = Pairs.within(oriented, Seq("u"), "v", ("ns", "v1", "v2"),
      orderBy = Some("dv"))
    val tri = wedges
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u").as("x"), col("v1").as("y"), col("v2").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Per-node triangle participation counts over the undirected graph
    * induced by (srcCol, dstCol) pairs (self-loops dropped, parallel
    * edges collapsed). Output: (node, n_tri).
    */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    wedgeClose(orient(edges, srcCol, dstCol))

  /** [[perNode]] with the oriented edge list MATERIALIZED as a bucketed
    * external table before the wedge+close phase — the alternative
    * physical design for graphs whose orientation pipeline (distinct +
    * degree joins, or an expensive upstream edge construction) is costly
    * enough that computing it once beats AQE's partial exchange reuse:
    * the declarative [[perNode]] plan reuses the u-keyed exchange for
    * the adjacency groupBy, but the (v1,v2)-keyed closing exchange
    * RECOMPUTES the whole orientation subtree. Here the subtree runs
    * exactly once; the per-pivot adjacency groupBy then reads the bucket
    * layout with NO exchange, and only the wedge output — the
    * irreducible O(m^1.5) volume — is shuffled for the closing join.
    *
    * The price is one parquet write of the oriented edges (O(m), tiny
    * next to the wedge volume): the bucketed-table amortization argument
    * (pay the shuffle once at write time, read the co-located buckets
    * with no Exchange) applied to a self-join. `table`/`path` name
    * the external bucketed table (dropped and overwritten if present).
    */
  def perNodeBucketed(edges: DataFrame, srcCol: String, dstCol: String,
                      table: String, path: String,
                      buckets: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    graft.sources.LayersTable.validateIdentifier(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val oriented = orient(edges, srcCol, dstCol)
    // cluster by bucket key BEFORE the bucketed write: without
    // this every upstream task opens a writer per bucket it touches —
    // tasks x buckets tiny files at scale (guide §6), and at gate scale
    // the AQE-coalesced single upstream task writes ALL buckets serially.
    // With it each task holds exactly one bucket: `buckets` files, a
    // parallel write, and the downstream bucket-layout read opens one
    // file per bucket (the q39 repartition-before-bucketBy treatment;
    // OPTIMIZATION_r20.md chg 4 measured the unclustered write slower).
    oriented.repartition(buckets, col("u"))
      .write
      .mode("overwrite").format("parquet")
      .bucketBy(buckets, "u").sortBy("u")
      .option("path", path)
      .saveAsTable(table)
    wedgeClose(spark.table(table))
  }
}
