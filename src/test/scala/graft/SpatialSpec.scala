package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.functions.Geo

class SpatialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // POLY_SANFORD from FIXTURES.md: contains (-81.27, 28.80)
  val PolySanford =
    "POLYGON ((-81.4 28.7, -81.1 28.7, -81.1 28.9, -81.4 28.9, -81.4 28.7))"

  private def onePoint(lon: Double, lat: Double) = {
    import spark.implicits._
    Seq((lon, lat)).toDF("lon", "lat")
  }

  private def intersectsResult(lon: Double, lat: Double): Boolean =
    onePoint(lon, lat)
      .select(st_intersects(st_geomfromtext(lit(PolySanford)),
        st_point(col("lon"), col("lat"))).as("hit"))
      .head().getBoolean(0)

  test("st_point + st_astext round trip") {
    val wkt = onePoint(1.5, 2.5)
      .select(st_astext(st_point(col("lon"), col("lat")))).head().getString(0)
    assert(wkt === "POINT (1.5 2.5)")
  }

  test("point-in-polygon: inside, outside, boundary edge, vertex (OGC intersects is boundary-inclusive)") {
    assert(intersectsResult(-81.27, 28.80))        // inside (FIXTURES.md)
    assert(!intersectsResult(-122.90, 46.15))      // Kelso point, disjoint
    assert(intersectsResult(-81.25, 28.7))         // on an edge
    assert(intersectsResult(-81.4, 28.7))          // on a vertex
  }

  test("st_contains excludes the boundary; st_within is its converse") {
    import spark.implicits._
    val df = Seq((-81.27, 28.80), (-81.25, 28.7)).toDF("lon", "lat")
      .select(
        st_contains(st_geomfromtext(lit(PolySanford)), st_point(col("lon"), col("lat"))).as("c"),
        st_within(st_point(col("lon"), col("lat")), st_geomfromtext(lit(PolySanford))).as("w"))
      .collect()
    assert(df(0).getBoolean(0) && df(0).getBoolean(1))   // interior point
    assert(!df(1).getBoolean(0) && !df(1).getBoolean(1)) // boundary point
  }

  test("st_distance: 3-4-5 triangle") {
    val d = onePoint(3.0, 4.0)
      .select(st_distance(st_point(col("lon"), col("lat")), st_point(lit(0.0), lit(0.0))))
      .head().getDouble(0)
    assert(d === 5.0)
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val r = Seq((Option.empty[Double], 1.0)).toDF("lon", "lat")
      .select(st_intersects(st_geomfromtext(lit(PolySanford)),
        st_point(col("lon"), col("lat"))))
      .head()
    assert(r.isNullAt(0))
  }

  test("point predicates: a point outside the envelope answers false without encoding the point") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.types.{BinaryType, DoubleType}
    import graft.functions.{STIntersects, STPoint}
    val encoded = new java.util.concurrent.atomic.AtomicInteger
    // st_point that counts the WKB it builds
    class CountingPoint(x: Expression, y: Expression) extends STPoint(x, y) {
      override def nullSafeEval(lon: Any, lat: Any): Any = {
        encoded.incrementAndGet(); super.nullSafeEval(lon, lat)
      }
    }
    val pred = STIntersects(BoundReference(0, BinaryType, nullable = true), new CountingPoint(
      BoundReference(1, DoubleType, nullable = true), BoundReference(2, DoubleType, nullable = true)))
    val sanford = Geo.toWkb(Geo.fromWkt(PolySanford))
    assert(pred.eval(InternalRow(sanford, -122.9, 46.15)) == false) // Kelso: outside
    assert(encoded.get === 0)
    assert(pred.eval(InternalRow(sanford, -81.25, 28.7)) == true)   // on an edge: JTS decides
    assert(encoded.get === 1)
    assert(pred.eval(InternalRow(sanford, -81.1, 29.5)) == false)   // in x, above in y
    assert(encoded.get === 1)
  }

  test("point predicates: truncated WKB raises JTS's error with the point outside the envelope") {
    import spark.implicits._
    val whole = Geo.toWkb(Geo.fromWkt(PolySanford))
    val truncated = java.util.Arrays.copyOf(whole, whole.length - 8) // the last y
    val jts = intercept[Exception](Geo.fromWkb(truncated))
    val df = Seq((truncated, -122.9, 46.15)).toDF("geom", "lon", "lat")
    for (pred <- Seq(st_intersects(col("geom"), st_point(col("lon"), col("lat"))),
                     st_intersects(st_point(col("lon"), col("lat")), col("geom")),
                     st_within(st_point(col("lon"), col("lat")), col("geom")),
                     st_contains(col("geom"), st_point(lit(-122.9), lit(46.15))))) {
      val e = intercept[Exception](df.filter(pred).collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.getClass == jts.getClass), s"$pred: $e")
    }
  }

  test("CRS transform: 4326<->3857 known pair + round trip (reference F6)") {
    // Known published value: (1 deg lon, 0 lat) -> x = 111319.4908 m
    val (x, y) = Geo.transformPoint(1.0, 0.0, 4326, 3857)
    assert(math.abs(x - 111319.49079327358) < 1e-4)
    assert(math.abs(y) < 1e-9)
    val (lon, lat) = Geo.transformPoint(x, 222684.20850554405, 3857, 4326)
    assert(math.abs(lon - 1.0) < 1e-9)
    assert(math.abs(lat - 2.0) < 1e-9) // 2 deg lat <-> 222684.2085 m
    // identity
    assert(Geo.transformPoint(10.0, 20.0, 4326, 4326) === ((10.0, 20.0)))
    // unsupported code raises descriptively with the supported list
    val e = intercept[IllegalArgumentException](Geo.transformPoint(0, 0, 4326, 29902))
    assert(e.getMessage.contains("unsupported CRS"))
  }

  test("CRS transform: NAD27 Helmert approximation (EPSG:1173, ~10 m contract)") {
    // NAD27 geographic -> WGS84 over CONUS: the NADCON-exact shift is tens
    // of metres; the published single Helmert reproduces it to ~10 m. Pin
    // the magnitude envelope (never zero, never hundreds of metres) at
    // three well-separated CONUS points, and exact round-trips.
    for ((lon, lat) <- Seq((-75.0, 40.0), (-95.0, 38.0), (-120.0, 45.0))) {
      val (wlon, wlat) = Geo.transformPoint(lon, lat, 4267, 4326)
      val metres = math.hypot((wlon - lon) * 111320 * math.cos(math.toRadians(lat)),
        (wlat - lat) * 110574)
      assert(metres > 5 && metres < 300, s"NAD27 shift at ($lon,$lat): $metres m")
      val (blon, blat) = Geo.transformPoint(wlon, wlat, 4326, 4267)
      assert(math.abs(blon - lon) < 1e-7 && math.abs(blat - lat) < 1e-7)
    }
    // NAD27 UTM 14N (EPSG:26714) near its central meridian (99W): northing
    // close to the WGS84-UTM value (same TM geometry, Clarke 1866
    // ellipsoid + datum shift differences stay well under 400 m)
    val (e14, n14) = Geo.transformPoint(-99.0, 38.0, 4326, 26714)
    assert(math.abs(e14 - 500000.0) < 2000, s"UTM14N easting $e14")
    val (_, n84) = Geo.transformPoint(-99.0, 38.0, 4326, 32614)
    assert(math.abs(n14 - n84) < 400, s"NAD27 vs WGS84 UTM northing: $n14 vs $n84")
    // projected round trip
    val (rlon, rlat) = Geo.transformPoint(e14, n14, 26714, 4326)
    assert(math.abs(rlon - -99.0) < 1e-7 && math.abs(rlat - 38.0) < 1e-7)
  }

  test("CRS transform: Tokyo datum (~450 m offset) and JGD2000/JGD2011 null shift") {
    // The Tokyo-vs-WGS84 offset over Japan is famously ~400-500 m; pin the
    // envelope at Tokyo and Osaka plus exact round trips
    for ((lon, lat) <- Seq((139.77, 35.68), (135.50, 34.69))) {
      val (wlon, wlat) = Geo.transformPoint(lon, lat, 4301, 4326)
      val metres = math.hypot((wlon - lon) * 111320 * math.cos(math.toRadians(lat)),
        (wlat - lat) * 110574)
      assert(metres > 250 && metres < 700, s"Tokyo-datum shift at ($lon,$lat): $metres m")
      val (blon, blat) = Geo.transformPoint(wlon, wlat, 4326, 4301)
      assert(math.abs(blon - lon) < 1e-7 && math.abs(blat - lat) < 1e-7)
    }
    // JGD2000/JGD2011 are WGS84-coincident (null transformation)
    assert(Geo.transformPoint(139.77, 35.68, 4612, 4326) === ((139.77, 35.68)))
    assert(Geo.transformPoint(139.77, 35.68, 6668, 4326) === ((139.77, 35.68)))
  }

  test("st_setsrid/st_srid: EWKB SRID round trip; untagged reads engine default; geometry preserved") {
    import spark.implicits._
    // Spark 4.1 ships same-named built-ins for its native GEOMETRY type
    // (codec boundary only — no predicates); qualify ours, which run on
    // the engine's WKB binary representation.
    import graft.functions.GraftFunctions.{st_setsrid, st_srid}
    val df = Seq(("POINT (1.5 2.5)", 4326), ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 27700))
      .toDF("wkt", "srid")
      .select(st_geomfromtext(col("wkt")).as("g"), col("srid"))
    val tagged = df.select(
      st_srid(col("g")).as("before"),
      st_srid(st_setsrid(col("g"), col("srid"))).as("after"),
      st_astext(st_setsrid(col("g"), col("srid"))).as("wkt"))
      .collect()
    assert(tagged.map(_.getInt(0)).toSeq === Seq(4326, 4326))    // untagged -> engine default
    assert(tagged.map(_.getInt(1)).toSeq === Seq(4326, 27700))   // EWKB tag overrides
    assert(tagged.map(_.getString(2)).head === "POINT (1.5 2.5)") // geometry unchanged
    // spatial predicates still work on EWKB input (reference's
    // ST_Intersects(geom, ST_SetSRID(ST_MakePoint(...), 4326)) shape)
    val hit = df.limit(1).select(st_intersects(
      st_setsrid(st_point(lit(1.5), lit(2.5)), lit(4326)),
      st_geomfromtext(lit("POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))")))).head().getBoolean(0)
    assert(hit)
  }

  test("CRS transform: published known pairs for TM / LCC / UTM (reference F6, arbitrary EPSG)") {
    // Ordnance Survey worked example (OS guide Annex C / EPSG GN 7-2):
    // OSGB36 geographic 52deg39'27.2531"N 1deg43'4.5177"E -> British National
    // Grid E 651409.903 N 313177.270 (pure projection, no datum shift)
    val (e1, n1) = Geo.transformPoint(
      1 + 43.0 / 60 + 4.5177 / 3600, 52 + 39.0 / 60 + 27.2531 / 3600, 4277, 27700)
    assert(math.abs(e1 - 651409.903) < 0.005, s"OSGB E $e1")
    assert(math.abs(n1 - 313177.270) < 0.005, s"OSGB N $n1")
    // definitional anchors: projection natural/false origins map exactly
    val (le, ln) = Geo.transformPoint(3.0, 46.5, 4326, 2154) // Lambert-93 false origin
    assert(math.abs(le - 700000.0) < 1e-6 && math.abs(ln - 6600000.0) < 1e-6)
    val (e2, n2) = Geo.transformPoint(15.0, 0.0, 4326, 32633) // UTM 33N natural origin
    assert(math.abs(e2 - 500000.0) < 1e-6 && math.abs(n2) < 1e-6)
    // meridian arc pin: published WGS84 meridian distance at 45 deg is
    // 4984944.38 m; UTM northing = 0.9996 * that
    val (_, n3) = Geo.transformPoint(15.0, 45.0, 4326, 32633)
    assert(math.abs(n3 - 4984944.38 * 0.9996) < 0.05, s"UTM lat45 N $n3")
    // published UTM example (CN Tower, Wikipedia UTM article, 1 m rounding):
    // 43deg38'33.24"N 79deg23'13.7"W -> zone 17N E 630084 N 4833438
    val (e4, n4) = Geo.transformPoint(
      -(79 + 23.0 / 60 + 13.7 / 3600), 43 + 38.0 / 60 + 33.24 / 3600, 4326, 32617)
    assert(math.abs(e4 - 630084.0) < 1.0 && math.abs(n4 - 4833438.0) < 1.0,
      s"CN Tower ($e4, $n4)")
  }

  test("CRS transform: published known pairs for MGA (GDA94/GDA2020) and Swiss LV95/LV03") {
    // GDA94 Technical Manual worked examples (ICSM, MGA zone 55):
    // Flinders Peak -37deg57'03.72030" 144deg25'29.52440" ->
    //   E 273741.297 N 5796489.777
    val (fe, fn) = Geo.transformPoint(
      144 + 25.0 / 60 + 29.52440 / 3600, -(37 + 57.0 / 60 + 3.72030 / 3600), 4283, 28355)
    assert(math.abs(fe - 273741.297) < 0.01 && math.abs(fn - 5796489.777) < 0.01,
      s"Flinders Peak ($fe, $fn)")
    // Buninyong -37deg39'10.15610" 143deg55'35.38390" -> E 228854.052 N 5828259.038
    val (be, bn) = Geo.transformPoint(
      143 + 55.0 / 60 + 35.38390 / 3600, -(37 + 39.0 / 60 + 10.15610 / 3600), 4283, 28355)
    assert(math.abs(be - 228854.052) < 0.01 && math.abs(bn - 5828259.038) < 0.01,
      s"Buninyong ($be, $bn)")
    // MGA2020 zones share the projection (datum difference is inside the
    // EPSG-published null-transformation accuracy)
    val (ge, gn) = Geo.transformPoint(
      144 + 25.0 / 60 + 29.52440 / 3600, -(37 + 57.0 / 60 + 3.72030 / 3600), 7844, 7855)
    assert(math.abs(ge - fe) < 1e-6 && math.abs(gn - fn) < 1e-6)
    // Swiss definitional anchor: the projection centre (Bern old
    // observatory, CH1903+ 46deg57'08.66"N 7deg26'22.50"E) maps exactly to
    // LV95 (2600000, 1200000) / LV03 (600000, 200000)
    val (se, sn) = Geo.transformPoint(
      7 + 26.0 / 60 + 22.50 / 3600, 46 + 57.0 / 60 + 8.66 / 3600, 4150, 2056)
    assert(math.abs(se - 2600000.0) < 1e-6 && math.abs(sn - 1200000.0) < 1e-6,
      s"LV95 origin ($se, $sn)")
    val (oe, on) = Geo.transformPoint(
      7 + 26.0 / 60 + 22.50 / 3600, 46 + 57.0 / 60 + 8.66 / 3600, 4149, 21781)
    assert(math.abs(oe - 600000.0) < 1e-6 && math.abs(on - 200000.0) < 1e-6)
    // swisstopo publishes the LV95 origin in WGS84 as 46deg57'03.90"N
    // 7deg26'19.08"E — the full datum pipeline must land within ~1 m
    val (we, wn) = Geo.transformPoint(
      7 + 26.0 / 60 + 19.08 / 3600, 46 + 57.0 / 60 + 3.90 / 3600, 4326, 2056)
    assert(math.hypot(we - 2600000.0, wn - 1200000.0) < 1.0,
      s"LV95 origin from WGS84 ($we, $wn)")
  }

  test("st_area / st_centroid / st_buffer: known geometry, known values") {
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions.{col, lit}
    val df = spark.range(1).select(
      st_geomfromtext(lit("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))")).as("rect"),
      st_geomfromtext(lit("POINT (1 2)")).as("pt"))
    val row = df.select(
      st_area(col("rect")).as("area"),
      st_astext(st_centroid(col("rect"))).as("cent"),
      st_area(st_buffer(col("pt"), lit(2.0))).as("buf_area"),
      st_intersects(st_buffer(col("pt"), lit(2.0)),
        st_geomfromtext(lit("POINT (2.5 2)"))).as("near_in"),
      st_intersects(st_buffer(col("pt"), lit(2.0)),
        st_geomfromtext(lit("POINT (9 9)"))).as("far_in"))
      .head()
    assert(row.getDouble(0) === 12.0)
    assert(row.getString(1) === "POINT (2 1.5)")
    // JTS buffer approximates the circle with 8 segments/quadrant:
    // area slightly below pi*r^2, well above the inscribed square
    assert(row.getDouble(2) > 12.0 && row.getDouble(2) < math.Pi * 4.0 + 1e-9)
    assert(row.getBoolean(3) && !row.getBoolean(4))
    // SQL registration
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT st_area(st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'))")
      .head().getDouble(0)
    assert(viaSql === 4.0)
  }

  test("CRS transform: equal-area projections (LAEA Europe, Conus Albers)") {
    // EPSG GN 7-2 §3.1.2 worked example (ETRS89-LAEA Europe):
    // 50degN 5degE -> E 3962799.45 N 2999718.85
    val (ae, an) = Geo.transformPoint(5.0, 50.0, 4258, 3035)
    assert(math.abs(ae - 3962799.45) < 0.01 && math.abs(an - 2999718.85) < 0.01,
      s"LAEA worked example ($ae, $an)")
    // definitional anchors: projection origins map to the false origin
    val (le, ln) = Geo.transformPoint(10.0, 52.0, 4258, 3035)
    assert(math.abs(le - 4321000.0) < 1e-6 && math.abs(ln - 3210000.0) < 1e-6)
    val (ce, cn) = Geo.transformPoint(-96.0, 23.0, 4269, 5070)
    assert(math.abs(ce) < 1e-6 && math.abs(cn) < 1e-6)
    // Albers: northing increases with latitude, easting with longitude,
    // and points on the two standard parallels project distortion-free in
    // the north-south sense (monotone rho)
    val (_, n1) = Geo.transformPoint(-96.0, 29.5, 4269, 5070)
    val (_, n2) = Geo.transformPoint(-96.0, 45.5, 4269, 5070)
    assert(n2 > n1 && n1 > 0)
    // NZTM natural origin: 173E 0S -> (1600000, 10000000) exactly
    val (ze, zn) = Geo.transformPoint(173.0, 0.0, 4326, 2193)
    assert(math.abs(ze - 1600000.0) < 1e-6 && math.abs(zn - 10000000.0) < 1e-6)
  }

  test("CRS transform: round trips and datum-shift consistency across the registry") {
    val cases = Seq(
      3857 -> (12.49, 41.90), 32633 -> (12.49, 41.90), 32733 -> (17.1, -22.5),
      27700 -> (-3.19, 55.95), 2154 -> (2.35, 48.85), 25832 -> (9.0, 52.0),
      26917 -> (-79.4, 43.6), 2157 -> (-6.26, 53.35), 4258 -> (9.0, 52.0),
      4277 -> (-1.0, 52.0), 4230 -> (10.0, 50.0),
      28355 -> (144.96, -37.81), 7855 -> (144.96, -37.81), 4283 -> (133.0, -25.0),
      2056 -> (8.54, 47.38), 21781 -> (7.45, 46.95), 4150 -> (8.0, 46.8),
      3035 -> (15.0, 48.0), 5070 -> (-104.99, 39.74), 2193 -> (174.78, -41.29))
    for ((code, (lon, lat)) <- cases) {
      val (x, y) = Geo.transformPoint(lon, lat, 4326, code)
      val (lon2, lat2) = Geo.transformPoint(x, y, code, 4326)
      assert(math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7,
        s"round trip 4326<->$code drifted: ($lon2, $lat2) vs ($lon, $lat)")
    }
    // Helmert magnitude sanity: OSGB36 datum shift moves points by tens of
    // metres (~1e-3 deg), never zero, never kilometres
    val (dlon, dlat) = Geo.transformPoint(-1.0, 52.0, 4277, 4326)
    val shiftDeg = math.hypot(dlon - -1.0, dlat - 52.0)
    assert(shiftDeg > 1e-4 && shiftDeg < 0.01, s"OSGB36 shift $shiftDeg deg")
    // projected->projected across datums == going through 4326
    val (bx, by) = Geo.transformPoint(-0.1276, 51.5074, 4326, 27700)
    val direct = Geo.transformPoint(bx, by, 27700, 3857)
    val via = Geo.transformPoint(-0.1276, 51.5074, 4326, 3857)
    assert(math.hypot(direct._1 - via._1, direct._2 - via._2) < 0.01,
      s"cross-datum path divergence: $direct vs $via")
  }

  test("st_transform_point column expression") {
    val r = onePoint(1.0, 0.0)
      .select(st_transform_point(col("lon"), col("lat"), lit(4326), lit(3857)).as("p"))
      .select(col("p.x"), col("p.y")).head()
    assert(math.abs(r.getDouble(0) - 111319.49079327358) < 1e-4)
  }

  test("morton_code: interleave round trip and spatial locality") {
    import graft.functions.MortonCode
    // exact interleave on knowns: lon=-180,lat=-90 -> cell (0,0) -> 0
    assert(MortonCode.interleave(-180.0, -90.0) === 0L)
    // max corner: all 42 bits set
    assert(MortonCode.interleave(180.0, 90.0) === (1L << 42) - 1)
    // locality: near points share high bits; far points do not
    val a = MortonCode.interleave(10.0, 10.0)
    val b = MortonCode.interleave(10.001, 10.001)
    val c = MortonCode.interleave(-170.0, -80.0)
    def commonHighBits(x: Long, y: Long) = java.lang.Long.numberOfLeadingZeros(x ^ y)
    assert(commonHighBits(a, b) > commonHighBits(a, c))
  }

  test("spatial functions usable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val hit = spark.sql(
      s"SELECT st_intersects(st_geomfromtext('$PolySanford'), st_point(-81.27D, 28.80D))")
      .head().getBoolean(0)
    assert(hit)
  }

  test("gridBboxJoin equals the naive theta join and avoids the nested loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val pts = (1L to 500L).map(i =>
      (i, rnd.nextDouble() * 100 - 50, rnd.nextDouble() * 100 - 50))
      .toDF("pid", "x", "y").repartition(5)
    val rects = (1L to 60L).map { i =>
      val cx = rnd.nextDouble() * 90 - 45; val cy = rnd.nextDouble() * 90 - 45
      (i, cx - 3.0, cy - 2.0, cx + 3.0, cy + 2.0)
    }.toDF("rid", "minx", "miny", "maxx", "maxy").repartition(3)
    val grid = graft.operators.SpatialJoin.gridBboxJoin(
      pts, "x", "y", rects, "minx", "miny", "maxx", "maxy", 6.0, 4.0)
    val got = grid.select("pid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.join(rects,
      col("x").between(col("minx"), col("maxx")) &&
        col("y").between(col("miny"), col("maxy")))
      .select("pid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty)
    val plan = grid.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"grid join must not nest-loop:\n$plan")
  }

  test("gridBboxOverlapJoin equals the naive overlap theta join exactly once per pair; guards fire") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val lhs = (1L to 200L).map { i =>
      val cx = rnd.nextDouble() * 90 - 45; val cy = rnd.nextDouble() * 90 - 45
      (i, cx - 1.0, cy - 0.7, cx + 1.0, cy + 0.7)
    }.toDF("lid", "lminx", "lminy", "lmaxx", "lmaxy").repartition(5)
    val rhs = (1L to 60L).map { i =>
      val cx = rnd.nextDouble() * 90 - 45; val cy = rnd.nextDouble() * 90 - 45
      (i, cx - 3.0, cy - 2.0, cx + 3.0, cy + 2.0)
    }.toDF("rid", "minx", "miny", "maxx", "maxy").repartition(3)
    val grid = graft.operators.SpatialJoin.gridBboxOverlapJoin(
      lhs, "lminx", "lminy", "lmaxx", "lmaxy",
      rhs, "minx", "miny", "maxx", "maxy", 6.0, 4.0)
    // exactly once per pair: compare as a multiset, not a set — the
    // reporting-cell dedup must leave no duplicates for a distinct to hide
    val got = grid.select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = lhs.join(rhs,
      col("lminx") <= col("maxx") && col("minx") <= col("lmaxx") &&
        col("lminy") <= col("maxy") && col("miny") <= col("lmaxy"))
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === want)
    assert(want.nonEmpty)
    assert(want.distinct.size === want.size)
    val plan = grid.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"overlap grid join must not nest-loop:\n$plan")
    // boundary case: rectangles touching along an edge DO intersect (OGC)
    val a = Seq((1L, 0.0, 0.0, 2.0, 2.0)).toDF("lid", "lminx", "lminy", "lmaxx", "lmaxy")
    val b = Seq((9L, 2.0, 0.0, 4.0, 2.0)).toDF("rid", "minx", "miny", "maxx", "maxy")
    assert(graft.operators.SpatialJoin.gridBboxOverlapJoin(
      a, "lminx", "lminy", "lmaxx", "lmaxy",
      b, "minx", "miny", "maxx", "maxy", 6.0, 4.0).count() === 1L)
    // guards: oversized bbox; candidate blowup; colliding column names
    val huge = Seq((1L, -500.0, -500.0, 500.0, 500.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.gridBboxOverlapJoin(
        lhs, "lminx", "lminy", "lmaxx", "lmaxy",
        huge, "minx", "miny", "maxx", "maxy", 6.0, 4.0)
    }
    assert(e1.getMessage.contains("grid cells"))
    val denseL = (1L to 200L).map(i => (i, 0.0, 0.0, 1.0, 1.0))
      .toDF("lid", "lminx", "lminy", "lmaxx", "lmaxy")
    val denseR = (1L to 200L).map(i => (i, 0.0, 0.0, 1.0, 1.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.gridBboxOverlapJoin(
        denseL, "lminx", "lminy", "lmaxx", "lmaxy",
        denseR, "minx", "miny", "maxx", "maxy", 6.0, 4.0, maxCandidates = 1000L)
    }
    assert(e2.getMessage.contains("candidate pairs"))
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.gridBboxOverlapJoin(
        denseR, "minx", "miny", "maxx", "maxy",
        denseR, "minx", "miny", "maxx", "maxy", 6.0, 4.0)
    }
    assert(e3.getMessage.contains("disjoint"))
  }

  test("gridBboxOverlapJoin refine: rotated polygons whose bboxes overlap but shapes do not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{st_geomfromtext, st_intersects}
    // two thin diagonal slivers in the same bbox neighborhood: bboxes
    // overlap (candidate survives the filter stage) but the polygons
    // themselves are parallel and disjoint -> refine must drop the pair;
    // a third sliver crossing the first must survive
    val lhs = Seq(
      (1L, "POLYGON ((0 0, 10 10, 10 9, 0 -1, 0 0))", 0.0, -1.0, 10.0, 10.0))
      .toDF("lid", "lwkt", "lminx", "lminy", "lmaxx", "lmaxy")
    val rhs = Seq(
      (1L, "POLYGON ((0 5, 10 15, 10 14, 0 4, 0 5))", 0.0, 4.0, 10.0, 15.0),   // parallel, disjoint
      (2L, "POLYGON ((0 10, 10 0, 10 1, 0 11, 0 10))", 0.0, 0.0, 10.0, 11.0))  // crossing
      .toDF("rid", "rwkt", "rminx", "rminy", "rmaxx", "rmaxy")
    val refined = graft.operators.SpatialJoin.gridBboxOverlapJoin(
      lhs, "lminx", "lminy", "lmaxx", "lmaxy",
      rhs, "rminx", "rminy", "rmaxx", "rmaxy", 16.0, 16.0,
      refine = Some(st_intersects(st_geomfromtext(col("lwkt")),
        st_geomfromtext(col("rwkt")))))
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined === Set((1L, 2L)))
    // without refine, the bbox stage alone reports both candidates
    val coarse = graft.operators.SpatialJoin.gridBboxOverlapJoin(
      lhs, "lminx", "lminy", "lmaxx", "lmaxy",
      rhs, "rminx", "rminy", "rmaxx", "rmaxy", 16.0, 16.0)
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(coarse === Set((1L, 1L), (1L, 2L)))
  }

  test("withinDistanceJoin equals the naive distance theta join; exact-radius boundary included; guard fires") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val pts = (1L to 400L).map(i =>
      (i, rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 60 - 30))
      .toDF("pid", "x", "y").repartition(5)
    val join = graft.operators.SpatialJoin.withinDistanceJoin(pts, "pid", "x", "y", 3.0)
    val got = join.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.select(col("pid").as("id1"), col("x").as("x1"), col("y").as("y1"))
      .crossJoin(pts.select(col("pid").as("id2"), col("x").as("x2"), col("y").as("y2")))
      .filter(col("id1") < col("id2"))
      .filter((col("x1") - col("x2")) * (col("x1") - col("x2")) +
        (col("y1") - col("y2")) * (col("y1") - col("y2")) <= 9.0)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // inclusive at exactly radius; the pair spans a cell boundary
    val exact = graft.operators.SpatialJoin.withinDistanceJoin(
      Seq((1L, 0.0, 0.0), (2L, 3.0, 0.0), (3L, 3.01, 3.0)).toDF("pid", "x", "y"),
      "pid", "x", "y", 3.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L)))
    // hot-cell refusal names the knobs
    val dense = (1L to 300L).map(i => (i, 0.1, 0.1)).toDF("pid", "x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.withinDistanceJoin(dense, "pid", "x", "y", 1.0,
        maxCandidates = 1000L)
    }
    assert(e.getMessage.contains("candidate pairs"))
  }

  test("gridBboxJoin refuses oversized rectangles, naming the cell knobs") {
    import spark.implicits._
    val pts = Seq((1L, 0.0, 0.0)).toDF("pid", "x", "y")
    val rects = Seq((1L, -500.0, -500.0, 500.0, 500.0))
      .toDF("rid", "minx", "miny", "maxx", "maxy")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.gridBboxJoin(
        pts, "x", "y", rects, "minx", "miny", "maxx", "maxy", 6.0, 4.0)
    }
    assert(e.getMessage.contains("grid cells"))
  }

  test("knnWithinJoin: hand fixture — ranks, radius cut, empty probes, tie-break") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val probes = Seq((1L, 0.0, 0.0), (2L, 100.0, 100.0)).toDF("pid", "x", "y")
    val corpus = Seq(
      (10L, 1.0, 0.0),   // d2=1
      (11L, 0.0, 2.0),   // d2=4
      (12L, 3.0, 0.0),   // d2=9
      (13L, 0.0, 4.0),   // d2=16 -> cut by k=3? no, by rank 4
      (14L, 30.0, 0.0),  // outside radius 5
      (15L, -1.0, 0.0)   // d2=1, ties with 10 -> cid order
    ).toDF("cid", "x", "y")
    val out = graft.operators.SpatialJoin.knnWithinJoin(
      probes, "pid", "x", "y", corpus, "cid", "x", "y", radius = 5.0, k = 3)
      .orderBy("pid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // probe 2 is far from everything -> absent entirely
    assert(out.map(_._1).toSet === Set(1L))
    assert(out.toSeq === Seq((1L, 1L, 10L, 1.0), (1L, 2L, 15L, 1.0), (1L, 3L, 11L, 4.0)))
  }

  test("knnWithinJoin: equals the brute-force rank on the gate corpus") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.customer(spark, "/root/testdata/sf0.001").select(col("c_custkey").as("cid"),
      ((col("c_custkey") * 7) % 360 - 180 + col("c_nationkey") / 100.0).as("x"),
      ((col("c_custkey") * 3) % 180 - 90 + col("c_nationkey") / 100.0).as("y"))
    val sup = Tables.supplier(spark, "/root/testdata/sf0.001").select(col("s_suppkey").as("pid"),
      ((col("s_suppkey") * 7) % 360 - 180 + col("s_nationkey") / 100.0).as("x"),
      ((col("s_suppkey") * 3) % 180 - 90 + col("s_nationkey") / 100.0).as("y"))
    val grid = graft.operators.SpatialJoin.knnWithinJoin(
      sup, "pid", "x", "y", cust.toDF("cid", "x", "y"), "cid", "x", "y",
      radius = 5.0, k = 3)
    val d2 = (col("px") - col("cx")) * (col("px") - col("cx")) +
      (col("py") - col("cy")) * (col("py") - col("cy"))
    val brute = sup.toDF("pid", "px", "py").crossJoin(cust.toDF("cid", "cx", "cy"))
      .withColumn("d2", d2).filter(col("d2") <= 25.0)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("pid").orderBy(col("d2").asc, col("cid").asc)).cast("long"))
      .filter(col("rnk") <= 3)
      .select("pid", "rnk", "cid", "d2")
    assert(grid.orderBy("pid", "rnk").collect().toSeq ===
      brute.orderBy("pid", "rnk").collect().toSeq)
  }

  test("knnWithinJoin: the candidate guard refuses hot grids loudly") {
    import spark.implicits._
    val dense = (1L to 600L).map(i => (i, 0.001 * i, 0.0)).toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.knnWithinJoin(
        dense, "id", "x", "y", dense.toDF("id", "x", "y"), "id", "x", "y",
        radius = 10.0, k = 2, maxCandidates = 1000L)
    }
    assert(e.getMessage.contains("candidate pairs"))
  }

  test("st_distance_sphere: known pairs, symmetry, clamp at antipodes, point contract") {
    import graft.functions.STDistanceSphere.haversineMeters
    // one equatorial degree of longitude = pi/180 * R = 111195.08 m
    assert(math.abs(haversineMeters(0, 0, 1, 0) - math.Pi / 180 * 6371008.8) < 1e-6)
    // Paris (2.3522, 48.8566) -> London (-0.1276, 51.5072): ~343.5 km
    val pl = haversineMeters(2.3522, 48.8566, -0.1276, 51.5072)
    assert(pl > 343000 && pl < 344600, s"Paris-London got $pl")
    // symmetry and zero
    assert(haversineMeters(2.3522, 48.8566, -0.1276, 51.5072) ===
      haversineMeters(-0.1276, 51.5072, 2.3522, 48.8566))
    assert(haversineMeters(10, 20, 10, 20) === 0.0)
    // antipodal: exactly pi * R, the asin clamp keeping sqrt(h) <= 1
    val anti = haversineMeters(0, 0, 180, 0)
    assert(math.abs(anti - math.Pi * 6371008.8) < 1e-3)

    // the expression path: meters through WKB points, and the geodesic
    // ordering genuinely differs from s4's planar one across longitude
    // compression at high latitude
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val rows = Seq((1L, 10.0, 80.0), (2L, 0.0, 70.5)).toDF("id", "x", "y")
    val got = rows.select(col("id"),
        st_distance_sphere(st_point(col("x"), col("y")),
          st_point(lit(0.0), lit(80.0))).as("g"),
        st_distance(st_point(col("x"), col("y")),
          st_point(lit(0.0), lit(80.0))).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // planar: 10 deg of lon (= 10) > 9.5 deg of lat (= 9.5) -> 2 nearer;
    // geodesic: 10 deg of lon at lat 80 is ~193 km, 9.5 deg of lat is
    // ~1056 km -> 1 nearer. The orderings disagree, by design.
    assert(got(1L)._2 > got(2L)._2 && got(1L)._1 < got(2L)._1)
    // non-point input is a contract error, not a wrong number
    val e = intercept[Exception] {
      rows.select(st_distance_sphere(
        st_geomfromtext(lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")),
        st_point(lit(0.0), lit(0.0)))).collect()
    }
    assert(e.getMessage.contains("POINT"))
  }
}
