package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Geo
import graft.operators.Search
import graft.operators.Search.{Point, SearchRequest}

/** Reference-parity tests for the search planner, cases from FIXTURES.md §A
  * (which mirror `backend/models.py` / `backend/app.py` behavior).
  */
class SearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val PolySanford = "POLYGON ((-81.4 28.7, -81.1 28.7, -81.1 28.9, -81.4 28.9, -81.4 28.7))"
  val PolyKelso = "POLYGON ((-123.0 46.0, -122.8 46.0, -122.8 46.25, -123.0 46.25, -123.0 46.0))"
  val PolyOrigin = "POLYGON ((-1 -1, 1 -1, 1 1, -1 1, -1 -1))"

  val schema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("type", StringType), StructField("description", StringType),
    StructField("url", StringType), StructField("metadata_text", StringType),
    StructField("embeddings", ArrayType(FloatType, containsNull = false)),
    StructField("geom", BinaryType)))

  private def wkb(wkt: String): Array[Byte] = Geo.toWkb(Geo.fromWkt(wkt))

  private def layer(id: String, typ: String, poly: String, emb: Array[Float]): Row =
    Row(id, s"name-$id", typ, s"desc-$id", s"http://x/$id", s"meta-$id", emb.toSeq, wkb(poly))

  lazy val layers: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(
      layer("L1", "Feature Layer", PolySanford, Array(1f, 0f, 0f, 0f)),
      layer("L2", "Feature Layer", PolySanford, Array(0.9f, 0.43588989f, 0f, 0f)),
      layer("L3", "Table",         PolyKelso,   Array(0f, 1f, 0f, 0f)),
      layer("L4", "feature layer", PolyKelso,   Array(0.8f, 0.6f, 0f, 0f)),
      layer("L5", "Raster Layer",  PolySanford, Array(-1f, 0f, 0f, 0f)),
      layer("L6", "Feature Layer", PolyOrigin,  Array(0.5f, 0.5f, 0.5f, 0.5f))),
    schema)

  val probe = Array(1f, 0f, 0f, 0f)

  private def ids(req: SearchRequest): Seq[String] = {
    val resp = Search.search(layers, req)
    assert(resp.error.isEmpty, s"unexpected error: ${resp.error}")
    resp.layers.get.map(_.id)
  }

  test("plain kNN: cosine ordering with deterministic result") {
    assert(ids(SearchRequest(probe, limit = 3)) === Seq("L1", "L2", "L4"))
  }

  test("result projection excludes embeddings/geom (reference TEXT_FIELDS)") {
    val df = Search.plan(layers, SearchRequest(probe, limit = 3))
    assert(df.columns.toSeq === Search.TextFields)
  }

  test("type filter: case-insensitive, empty strings dropped (reference P3)") {
    val got = ids(SearchRequest(probe,
      typeFilter = Some(Seq("Feature Layer", "")), limit = 10))
    // matches both "Feature Layer" and the lowercase "feature layer" row
    assert(got === Seq("L1", "L2", "L4", "L6"))
  }

  test("type filter of only empty strings is omitted entirely (no empty-in filter)") {
    val got = ids(SearchRequest(probe, typeFilter = Some(Seq("")), limit = 10))
    assert(got.size === 6) // clause omitted -> all rows ranked
  }

  test("point filter: ST_Intersects point-in-polygon (reference P4)") {
    val got = ids(SearchRequest(probe,
      inputPoint = Some(Point(-81.27, 28.80)), limit = 10))
    assert(got === Seq("L1", "L2", "L5")) // Sanford polygons only
  }

  test("combined type + point filter (the reference's canonical query)") {
    val got = ids(SearchRequest(probe,
      typeFilter = Some(Seq("FEATURE LAYER")),
      inputPoint = Some(Point(-81.27, 28.80)), limit = 5))
    assert(got === Seq("L1", "L2"))
  }

  test("reprojection: EPSG:3857 point is transformed to 4326 before filtering (reference F6)") {
    // (1 m, 2 m) in web mercator ~ (9e-6, 1.8e-5) degrees -> inside PolyOrigin
    val got = ids(SearchRequest(probe,
      inputPoint = Some(Point(1.0, 2.0, epsg = 3857)), limit = 10))
    assert(got === Seq("L6"))
  }

  test("reprojection: non-3857 EPSG (OSGB36 geographic) datum-shifts before filtering") {
    // pick OSGB36 coordinates whose WGS84 image is the canonical probe point
    // (-81.27, 28.80): search with them + epsg=4277 must equal the 4326 search
    val (rawLon, rawLat) = graft.functions.Geo.transformPoint(-81.27, 28.80, 4326, 4277)
    val expected = ids(SearchRequest(probe,
      inputPoint = Some(Point(-81.27, 28.80)), limit = 10))
    val got = ids(SearchRequest(probe,
      inputPoint = Some(Point(rawLon, rawLat, epsg = 4277)), limit = 10))
    assert(got === expected)
    assert(expected.nonEmpty)
  }

  test("validate-before-reproject quirk: raw 3857 coords beyond +-180/+-90 are rejected") {
    // Would reproject to a perfectly valid ~8.98 deg lon, but the reference
    // validates the RAW fields first (backend/models.py:45-64) -> error.
    intercept[IllegalArgumentException] {
      Search.search(layers, SearchRequest(probe,
        inputPoint = Some(Point(1000000.0, 0.0, epsg = 3857))))
    }
  }

  test("pagination tiles the ordering without gaps or overlaps (reference V3)") {
    val all = ids(SearchRequest(probe, limit = 6))
    val p1 = ids(SearchRequest(probe, skip = 0, limit = 3))
    val p2 = ids(SearchRequest(probe, skip = 3, limit = 3))
    assert(p1 ++ p2 === all)
  }

  test("deep-skip pagination (distributed ordinals) matches the offset path exactly") {
    import org.apache.spark.sql.functions._
    // 12k rows so skip=10000 is a real deep page; distances strictly
    // ordered by construction (emb = (1, i/20000)), ids tie-break-stable
    val wkbPoly = wkb(PolyOrigin)
    val big = spark.range(12000).selectExpr(
      "format_string('D%05d', id) AS id", "'n' AS name", "'Feature Layer' AS type",
      "'d' AS description", "'u' AS url", "'m' AS metadata_text",
      "array(CAST(1.0 AS FLOAT), CAST(id / 20000.0 AS FLOAT)) AS embeddings")
      .withColumn("geom", lit(wkbPoly))
    val probe2 = Array(1f, 0f)
    val deep = Search.search(big, SearchRequest(probe2, skip = 10000, limit = 5))
    assert(deep.error.isEmpty, s"deep page failed: ${deep.error}")
    // the offset formulation on the same ranking (ground truth)
    val expected = big
      .withColumn("dist", graft.functions.GraftFunctions.cosine_distance(
        col("embeddings"), graft.functions.GraftFunctions.vector_lit(probe2)))
      .orderBy(col("dist").asc, col("id").asc)
      .offset(10000).limit(5)
      .select(col("id")).collect().map(_.getString(0)).toSeq
    assert(deep.layers.get.map(_.id) === expected)
    assert(expected === (10000 until 10005).map(i => f"D$i%05d"))
  }

  test("bounds violations are request-level errors, not clamps (reference P6)") {
    intercept[IllegalArgumentException](Search.search(layers, SearchRequest(probe, limit = 0)))
    intercept[IllegalArgumentException](Search.search(layers, SearchRequest(probe, limit = 11)))
    intercept[IllegalArgumentException](Search.search(layers, SearchRequest(probe, skip = -1)))
    intercept[IllegalArgumentException] {
      Search.search(layers, SearchRequest(probe, inputPoint = Some(Point(181.0, 0.0))))
    }
    intercept[IllegalArgumentException] {
      Search.search(layers, SearchRequest(probe, inputPoint = Some(Point(0.0, 90.5))))
    }
  }

  test("execution errors land in the response envelope (reference app.py:49-53)") {
    val broken = layers.drop("embeddings")
    val resp = Search.search(broken, SearchRequest(probe))
    assert(resp.layers.isEmpty)
    assert(resp.error.isDefined)
  }

  // --- the driver path: small corpora answered without a Spark job ---

  private def req(limit: Int, skip: Int = 0) = SearchRequest(probe, limit = limit, skip = skip)

  test("driver path: a small cached corpus runs no Spark job per request after the first") {
    val cached = layers.repartition(2).cache()
    try {
      cached.count() // materializes the cache
      val first = Search.search(cached, req(limit = 3))
      assert(first.layers.get.map(_.id) === Seq("L1", "L2", "L4"))
      val jobs = SparkTestSession.jobsOf {
        for (k <- 1 to 5; skip <- Seq(0, 2))
          assert(Search.search(cached, req(limit = k, skip = skip)) ===
            Search.search(layers, req(limit = k, skip = skip)))
      }
      assert(jobs === 0)
    } finally cached.unpersist(blocking = true)
  }

  test("driver path: LocalRelation and materialized caches under the cap take it; unpersist drops it") {
    assert(Search.collectDriverCopy(layers)) // a createDataFrame LocalRelation
    val cached = layers.repartition(2).cache()
    assert(!Search.collectDriverCopy(cached), "an unmaterialized cache plans the job")
    cached.count()
    assert(Search.collectDriverCopy(cached))
    val plan = Search.plan(cached, req(limit = 2)).queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], plan.toString)
    cached.unpersist(blocking = true)
    assert(!Search.collectDriverCopy(cached))
    assert(Search.search(cached, req(limit = 3)).layers.get.map(_.id) === Seq("L1", "L2", "L4"))
  }

  test("driver path: a parquet-backed corpus still plans TakeOrderedAndProject") {
    val dir = java.nio.file.Files.createTempDirectory("graft-search-pq").resolve("layers").toString
    layers.write.parquet(dir)
    val pq = spark.read.parquet(dir)
    assert(!Search.collectDriverCopy(pq))
    val plan = Search.plan(pq, req(limit = 3, skip = 1)).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(Search.search(pq, req(limit = 3)).layers.get.map(_.id) === Seq("L1", "L2", "L4"))
  }

  test("driver path: an execution error still lands in the envelope") {
    // 3-dim probe vs the fixture's 4-dim rows, as in ServeSpec
    val bad = SearchRequest(Array(1f, 0f, 0f))
    val resp = Search.search(layers, bad)
    assert(resp.layers.isEmpty)
    assert(resp.error.exists(_.contains("dimension mismatch")), resp.error)
  }

  test("driver path: 8 threads get the pages a sequential run gets, on every variant") {
    // 400 rows over the three polygons and four types; each thread asks 50
    // requests mixing the four variants (type filter yes/no x point yes/no),
    // its points cycling through ones inside the polygons and ones outside
    // their envelopes (near, on a border line's extension, far)
    val rng = new scala.util.Random(11)
    val polys = Seq(PolySanford, PolyKelso, PolyOrigin)
    val kinds = Seq("Feature Layer", "Table", "Raster Layer", "feature layer")
    val rows = (0 until 400).map { i =>
      layer(f"C$i%03d", kinds(i % 4), polys(i % 3), Array.fill(4)(rng.nextInt(5) - 2f))
    }
    val corpus = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(2).cache()
    val inside = Seq(Point(-81.27, 28.80), Point(-122.9, 46.1), Point(0.0, 0.0))
    val outside = Seq(Point(-81.0, 28.80), Point(-122.8, 46.3), Point(50.0, -30.0))
    val points = inside.zip(outside).flatMap { case (a, b) => Seq(a, b) }
    val reqs = Vector.tabulate(8, 50) { (t, k) =>
      SearchRequest(Array.fill(4)(rng.nextInt(5) - 2f),
        typeFilter = if ((t + k) % 2 == 0) Some(Seq(kinds(rng.nextInt(4)).toUpperCase(java.util.Locale.ROOT))) else None,
        inputPoint = if ((t + k) / 2 % 2 == 0) Some(points((t + k) / 4 % points.size)) else None,
        skip = rng.nextInt(40), limit = 1 + rng.nextInt(Search.MaxLimit))
    }
    try {
      corpus.count()
      assert(Search.collectDriverCopy(corpus))
      // the threads meet the copy's shapes unprepared
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val concurrent = try {
        val futures = reqs.map(rs => pool.submit(new java.util.concurrent.Callable[Vector[Search.SearchResponse]] {
          def call(): Vector[Search.SearchResponse] = { start.await(); rs.map(Search.search(corpus, _)) }
        }))
        start.countDown()
        futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      val sequential = reqs.map(_.map(Search.search(corpus, _)))
      assert(sequential.flatten.forall(_.error.isEmpty))
      assert(sequential.flatten.exists(_.layers.get.nonEmpty))
      for (t <- 0 until 8; k <- 0 until 50 if reqs(t)(k).inputPoint.exists(outside.contains))
        assert(sequential(t)(k).layers.get.isEmpty, s"thread $t request $k: ${reqs(t)(k).inputPoint}")
      for (t <- 0 until 8)
        assert(reqs(t).flatMap(_.inputPoint).toSet === points.toSet, s"thread $t")
      for (t <- 0 until 8; k <- 0 until 50)
        assert(concurrent(t)(k) === sequential(t)(k), s"thread $t request $k: ${reqs(t)(k)}")
    } finally corpus.unpersist(blocking = true)
  }

  test("driver path: a wrong-width probe lands in the envelope on every variant") {
    for (typeFilter <- Seq(None, Some(Seq("feature layer")));
         point <- Seq(None, Some(Point(-81.27, 28.80)))) {
      // each variant keeps L1 at least, so the distance is evaluated
      val resp = Search.search(layers, SearchRequest(Array(1f, 0f, 0f), typeFilter, point))
      assert(resp.layers.isEmpty, s"$typeFilter $point")
      assert(resp.error.exists(_.contains("dimension mismatch")), s"$typeFilter $point: ${resp.error}")
    }
  }
}
