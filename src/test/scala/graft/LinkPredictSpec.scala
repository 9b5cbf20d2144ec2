package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkPredict

class LinkPredictSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("commonNeighbors: non-adjacent pair scored, adjacent pairs excluded, exact jaccard ppm") {
    import spark.implicits._
    // diamond: 1-2, 1-3, 2-3, 2-4, 3-4. The only non-adjacent pair is
    // (1,4) with common neighbors {2,3}: cn=2, deg=2 and 2,
    // jaccard = 2/(2+2-2) = 1 -> 1000000 ppm
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val got = LinkPredict.commonNeighbors(edges, "a", "b", k = 10).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((1L, 4L, 2L, 2L, 2L, 1000000L)))
  }

  test("commonNeighbors: packed and unpacked pair keys agree (ids past 2^31 take the fallback)") {
    import spark.implicits._
    // same diamond twice: small ids exercise the packed (u << 32 | v)
    // pair key, the +2^32 shift forces the struct(u, v) key —
    // results must be the shifted image of each other
    val base = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val off = 1L << 32
    val small = LinkPredict.commonNeighbors(base.toDF("a", "b"), "a", "b", k = 10)
      .collect()
    val big = LinkPredict.commonNeighbors(
      base.map { case (a, b) => (a + off, b + off) }.toDF("a", "b"),
      "a", "b", k = 10).collect()
    assert(small.length === 1 && big.length === 1)
    assert(big.head.getLong(0) === small.head.getLong(0) + off)
    assert(big.head.getLong(1) === small.head.getLong(1) + off)
    // cn, degrees, jaccard are shift-invariant
    assert((big.head.getLong(2), big.head.getLong(3),
      big.head.getLong(4), big.head.getLong(5)) ===
      (small.head.getLong(2), small.head.getLong(3),
        small.head.getLong(4), small.head.getLong(5)))
  }

  test("commonNeighbors: refuses the hub-quadratic regime loudly") {
    import spark.implicits._
    // a 60-leaf star: 60*59/2 = 1770 wedges through the hub
    val star = (1L to 60L).map(i => (0L, i)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      LinkPredict.commonNeighbors(star, "a", "b", k = 5,
        maxWedgeEstimate = 1000L).collect()
    }
    assert(ex.getMessage.contains("maxWedgeEstimate"))
  }

  test("commonNeighborsCapped: completes where exact refuses; hub wedges dropped, true degrees kept") {
    import spark.implicits._
    // 60-leaf star (hub 0, deg 60) + a square 1-2-3-4 hanging off two
    // leaves: exact at cap 1000 refuses (1770 hub wedges); capped at
    // D=10 drops the hub as a CENTER, so candidates come only from the
    // square's wedges: (1,3) via center 2, (2,4) via centers 1? no —
    // square edges 1-2, 2-3, 3-4, 1-4: wedge centers 2 (pair 1,3),
    // 3 (pair 2,4), 4 (pair 1,3)? center 4 neighbors {3, 1, 0? no}.
    // Square: 1-2, 2-3, 3-4, 1-4. Center 2: {1,3} -> (1,3); center 3:
    // {2,4} -> (2,4); center 4: {1,3} -> (1,3); center 1: {2,4} AND the
    // hub 0 (leaves 1..60 all touch 0): center 1 neighbors {0,2,4}.
    val edges = ((1L to 60L).map(i => (0L, i)) ++
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))).toDF("a", "b")
    intercept[IllegalArgumentException] {
      LinkPredict.commonNeighbors(edges, "a", "b", k = 5,
        maxWedgeEstimate = 1000L).collect()
    }
    val got = LinkPredict.commonNeighborsCapped(edges, "a", "b",
      maxDegree = 10L, k = 5).collect()
    // REFINED counts are TRUE: (1,3) sees centers {2,4} AND hub 0
    // (both 1 and 3 are leaves) -> cn=3; (2,4) sees {1,3} and hub 0 ->
    // cn=3. True degrees: 1 and 3 have deg 3 (hub + two square edges).
    val asMap = got.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(asMap.keySet === Set((1L, 3L), (2L, 4L)))
    // jac = 3 / (3 + 3 - 3) = 1.0
    assert(asMap((1L, 3L)) === ((3L, 3L, 3L, 1000000L)))
    assert(asMap((2L, 4L)) === ((3L, 3L, 3L, 1000000L)))
  }

  test("commonNeighborsCapped: ids past 2^31 (struct pair key) give the shifted packed result") {
    import spark.implicits._
    // the sweep test's random graph: ties in the capped count make the
    // (ccn desc, key) candidate cut matter, and a shift keeps (u, v) order
    val rnd = new scala.util.Random(7)
    val base = (1 to 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val off = 1L << 32
    def run(edges: Seq[(Long, Long)]) = LinkPredict.commonNeighborsCapped(
      edges.toDF("a", "b"), "a", "b", maxDegree = 8L, k = 10, refineFactor = 3)
      .collect().map(r => (0 until 6).map(r.getLong)).toSeq
    val small = run(base)
    val big = run(base.map { case (a, b) => (a + off, b + off) })
    assert(small.nonEmpty)
    assert(big === small.map(r => Seq(r(0) + off, r(1) + off) ++ r.drop(2)))
  }

  test("commonNeighborsCapped: the g7b one-pass sweep equals per-D operator runs") {
    import spark.implicits._
    // pseudo-random sparse graph, no self-loops, a < b
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("a", "b")
    for (dcap <- Seq(4L, 8L, 16L)) {
      val op = LinkPredict.commonNeighborsCapped(edges, "a", "b",
        maxDegree = dcap, k = 10, refineFactor = 3)
        .select("a", "b", "cn").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // harness restatement: capped count as a conditional sum over the
      // center's degree (the g7b formulation), then generate/refine
      val e = edges
      val adj = e.select(col("a").as("c"), col("b").as("n"))
        .unionAll(e.select(col("b").as("c"), col("a").as("n")))
      val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("dg"))
      val l = adj.join(deg, "c").select(col("c"), col("n").as("u"), col("dg"))
      val r = adj.select(col("c"), col("n").as("v"))
      val scored = l.join(r, "c").filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(
          sum(when(col("dg") <= dcap, 1L).otherwise(0L)).as("ccn"),
          count(lit(1)).as("cn"))
        .join(e, col("u") === col("a") && col("v") === col("b"), "left_anti")
      val harness = scored.filter(col("ccn") > 0L)
        .orderBy(col("ccn").desc, col("u"), col("v")).limit(30)
        .orderBy(col("cn").desc, col("u"), col("v")).limit(10)
        .select("u", "v", "cn")
        .collect().map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2))).toSet
      assert(op === harness, s"sweep/operator divergence at D=$dcap")
    }
  }

  test("g7bx benchDef: per-cap candidate pools equal the gate's unfiltered capped counts") {
    // the production arm pre-filters centers at Dmax BEFORE the wedge
    // self-join; the gate counts conditionally over ALL centers. Pools
    // must be identical: a pair whose only wedges run through a
    // dropped center has ccn = 0 in the gate's table and is excluded
    // by its > 0 filter either way.
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.Relational.benchDefs("g7bx_capped_sweep_only")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val lo = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = lo.toDF("o", "p1").join(lo.toDF("o", "p2"), "o")
      .filter(col("p1") < col("p2"))
      .select(col("p1").as("a"), col("p2").as("b")).distinct()
    val adj = e.select(col("a").as("c"), col("b").as("n"))
      .unionAll(e.select(col("b").as("c"), col("a").as("n")))
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("dg"))
    val l = adj.join(deg, "c").select(col("c"), col("n").as("u"), col("dg"))
    val r = adj.select(col("c"), col("n").as("v"))
    val scored = l.join(r, "c").filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(
        sum(when(col("dg") <= 100L, 1L).otherwise(0L)).as("ccn100"),
        sum(when(col("dg") <= 140L, 1L).otherwise(0L)).as("ccn140"),
        sum(when(col("dg") <= 180L, 1L).otherwise(0L)).as("ccn180"))
      .join(e, col("u") === col("a") && col("v") === col("b"), "left_anti")
    val want = Seq(100L, 140L, 180L).flatMap { dcap =>
      scored.filter(col(s"ccn$dcap") > 0L)
        .orderBy(col(s"ccn$dcap").desc, col("u"), col("v")).limit(200)
        .select(col("u"), col("v"), col(s"ccn$dcap"))
        .collect()
        .map(r2 => (dcap, r2.getLong(0), r2.getLong(1), r2.getLong(2)))
    }.toSet
    assert(got === want)
  }
}
