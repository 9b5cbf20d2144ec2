package graft.functions

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JTS-backed spatial expressions — the engine's replacement for the
  * PostGIS functions the reference emits (`backend/models.py:167-174`:
  * `ST_Intersects(geom, ST_SetSRID(ST_MakePoint(lon, lat), 4326))`).
  *
  * Geometry representation: WKB bytes in a `BinaryType` column, SRID fixed
  * to 4326 (the reference's only SRID on the SQL side — SURVEY.md §2.7 F3;
  * GeoParquet also stores WKB, so scans need no conversion). Expressions
  * are CodegenFallback — JTS objects don't codegen — but constant operands
  * (the probe point / query polygon) are parsed once per expression
  * instance, not per row, which is what matters for scan-shaped predicates.
  *
  * CRS transforms ([[Geo.transformPoint]]) delegate to [[Crs]]: Web
  * Mercator, Transverse Mercator (UTM zones, British/Irish national
  * grids), Lambert-93, and Helmert datum shifts, implemented natively
  * from the public EPSG Guidance Note 7-2 formulas — the same coverage a
  * grid-less pyproj gives the reference (`backend/models.py:37-42`);
  * unmodeled codes raise.
  */
private[graft] object Geo {
  val SRID = 4326
  private val factory = new GeometryFactory(new PrecisionModel(), SRID)

  // JTS readers/writers are not thread-safe; executors run many tasks.
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())

  private val ewkbWriter = ThreadLocal.withInitial[WKBWriter](
    () => new WKBWriter(2, true)) // includeSRID -> EWKB

  def fromWkb(b: Array[Byte]): Geometry = wkbReader.get().read(b)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get().write(g)
  def toEwkb(g: Geometry): Array[Byte] = ewkbWriter.get().write(g)
  def fromWkt(s: String): Geometry = wktReader.get().read(s)
  def toWkt(g: Geometry): String = wktWriter.get().write(g)
  def point(lon: Double, lat: Double): Geometry =
    factory.createPoint(new Coordinate(lon, lat))

  /** Point CRS transform across the common EPSG codes (see [[Crs]] for the
    * registry, formulas, and accuracy contract).
    */
  def transformPoint(x: Double, y: Double, srcEpsg: Int, dstEpsg: Int): (Double, Double) =
    Crs.transform(x, y, srcEpsg, dstEpsg)
}

/** Whether a point lies outside a WKB geometry's envelope, read from the
  * bytes without building the geometry: the filter step of a point
  * predicate (PostGIS tests the bounding box before the exact test).
  *
  * The walk reads what JTS's `WKBReader` (non-strict, as [[Geo]] uses it)
  * reads: either byte order per (sub)geometry, the EWKB SRID, Z and M flags
  * and the ISO Z/M type codes, and every type, Multi* and
  * GeometryCollection members included. It vouches for an envelope only
  * when that reader would build the geometry from the bytes and the
  * geometry's coordinates are exactly the x/y pairs walked; so it gives up
  * (the caller then runs JTS, which raises or answers as before) on an
  * unknown byte order or type, a Multi* member of the wrong type, a count
  * out of the reader's range, a truncation, nesting deeper than
  * [[MaxDepth]], any empty part, or a NaN x or y. Trailing bytes are
  * ignored, as the reader ignores them. Allocates nothing.
  */
private[graft] object WkbEnvelope {
  private final val Fail = -1L
  /** The point lies in the envelope of one part's coordinates: the rest of
    * the bytes need not be read, since the answer (JTS) is the same. */
  private final val Inside = -2L
  /** The side bits of a point inside the envelope (see [[coords]]). */
  private final val AllSides = 15
  private final val MaxDepth = 32

  /** True when `(x, y)` lies outside the envelope of the geometry `wkb`
    * encodes; false when it lies inside or on the border, when either
    * coordinate is NaN, or when the walk gives up. */
  def excludes(wkb: Array[Byte], x: Double, y: Double): Boolean =
    !x.isNaN && !y.isNaN && {
      val r = geometry(wkb, 0, x, y, 0, 0)
      r >= 0 && (r >>> 32).toInt != AllSides
    }

  // A walk step returns the position after what it read (low 32 bits) and
  // the side bits of the coordinates it read (bits 32-35), or Fail or Inside.

  /** The geometry at `at`; `kind` is the WKB type a Multi* member must
    * have, 0 for any. */
  private def geometry(b: Array[Byte], at: Int, x: Double, y: Double, kind: Int, depth: Int): Long = {
    if (depth > MaxDepth || at > b.length - 5) return Fail
    val little = b(at) match {
      case 1 => true
      case 0 => false
      case _ => return Fail // the reader would keep the previous order
    }
    val t = int(b, at + 1, little)
    val code = t & 0xffff
    val iso = code / 1000
    val dim = 2 +
      (if ((t & 0x80000000) != 0 || iso == 1 || iso == 3) 1 else 0) +
      (if ((t & 0x40000000) != 0 || iso == 2 || iso == 3) 1 else 0)
    var p = at + 5
    if ((t & 0x20000000) != 0) { // EWKB SRID
      if (p > b.length - 4) return Fail
      p += 4
    }
    val k = code % 1000
    if (kind != 0 && k != kind) return Fail
    k match {
      case 1 => coords(b, p, 1, dim, little, x, y)
      case 2 =>
        val n = count(b, p, little)
        if (n == 0) Fail else coords(b, p + 4, n, dim, little, x, y)
      case 3 | 4 | 5 | 6 | 7 =>
        val n = count(b, p, little)
        if (n == 0) return Fail
        p += 4
        var sides = 0
        var i = 0
        while (i < n) {
          val r =
            if (k == 3) { // a ring
              val m = count(b, p, little)
              if (m == 0) Fail else coords(b, p + 4, m, dim, little, x, y)
            } else geometry(b, p, x, y, if (k == 7) 0 else k - 3, depth + 1)
          if (r < 0) return r
          sides |= (r >>> 32).toInt
          p = r.toInt
          i += 1
        }
        (sides.toLong << 32) | p
      case _ => Fail
    }
  }

  /** A count field: the reader refuses one below 0 or above a byte-length
    * eighth; 0 (an empty part) is refused here too. */
  private def count(b: Array[Byte], at: Int, little: Boolean): Int =
    if (at > b.length - 4) 0
    else {
      val n = int(b, at, little)
      if (n < 0 || n > b.length / 8) 0 else n
    }

  /** `n` coordinates of `dim` ordinates each. Side bits: 1 when some x <= the
    * point's x, 2 when some x >= it, 4 and 8 the same for y; all four are
    * set exactly when the point lies in the closed envelope. */
  private def coords(b: Array[Byte], at: Int, n: Int, dim: Int, little: Boolean,
                     x: Double, y: Double): Long = {
    val end = at.toLong + n.toLong * dim * 8
    if (end > b.length) return Fail
    var sides = 0
    var p = at
    while (p < end) {
      val cx = double(b, p, little)
      val cy = double(b, p + 8, little)
      if (cx.isNaN || cy.isNaN) return Fail
      if (cx <= x) sides |= 1
      if (cx >= x) sides |= 2
      if (cy <= y) sides |= 4
      if (cy >= y) sides |= 8
      if (sides == AllSides) return Inside
      p += dim * 8
    }
    (sides.toLong << 32) | end
  }

  private def int(b: Array[Byte], at: Int, little: Boolean): Int =
    if (little)
      (b(at) & 0xff) | (b(at + 1) & 0xff) << 8 | (b(at + 2) & 0xff) << 16 | b(at + 3) << 24
    else
      b(at) << 24 | (b(at + 1) & 0xff) << 16 | (b(at + 2) & 0xff) << 8 | (b(at + 3) & 0xff)

  private def double(b: Array[Byte], at: Int, little: Boolean): Double = {
    val hi = int(b, if (little) at + 4 else at, little)
    val lo = int(b, if (little) at else at + 4, little)
    java.lang.Double.longBitsToDouble(hi.toLong << 32 | (lo & 0xffffffffL))
  }
}

/** st_point(lon, lat) -> WKB point (reference F2: ST_MakePoint). */
case class STPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_point"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_point expects (double, double), got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(lon: Any, lat: Any): Any =
    Geo.toWkb(Geo.point(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_geomfromtext(wkt) -> WKB. */
case class STGeomFromText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_geomfromtext"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_geomfromtext expects string WKT, got ${child.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(wkt: Any): Any =
    Geo.toWkb(Geo.fromWkt(wkt.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_astext(wkb) -> WKT string. */
case class STAsText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_astext"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_astext expects binary WKB, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def nullSafeEval(wkb: Any): Any =
    UTF8String.fromString(Geo.toWkt(Geo.fromWkb(wkb.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_setsrid(wkb, srid) -> EWKB with the SRID flag set (reference F2/F3:
  * `ST_SetSRID(ST_MakePoint(lon, lat), 4326)`, `backend/models.py:173`).
  * PostGIS stores the SRID inside the geometry value; the EWKB encoding
  * (JTS WKBWriter includeSRID) carries it the same way, so round trips
  * through st_srid preserve it. Geometries without an EWKB tag read as
  * the engine default 4326 (the factory SRID — the reference's only SRID,
  * SURVEY §2.7 F3), not PostGIS's 0/unknown.
  */
case class STSetSrid(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_setsrid"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_setsrid expects (binary, int), got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(wkb: Any, srid: Any): Any = {
    val g = Geo.fromWkb(wkb.asInstanceOf[Array[Byte]])
    g.setSRID(srid.asInstanceOf[Int])
    Geo.toEwkb(g)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_srid(wkb) -> the geometry's SRID (engine default 4326 when no EWKB
  * tag is present; an EWKB tag overrides it).
  */
case class STSrid(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_srid"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_srid expects binary WKB, got ${child.dataType.simpleString}")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(wkb: Any): Any =
    Geo.fromWkb(wkb.asInstanceOf[Array[Byte]]).getSRID
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_geometrytype(wkb) -> JTS type name ("Polygon", "Point", ...) —
  * PostGIS ST_GeometryType analogue (sans the "ST_" prefix), used by
  * ingest validation to enforce the reference's `geometry(Polygon,4326)`
  * column constraint (`backend/load_data.py:78`).
  *
  * `failOnError = false` (st_try_geometrytype) returns null for bytes
  * that are not parseable WKB instead of raising — the quarantine path
  * needs malformed geometry to land in the rejected split, not abort the
  * job.
  */
case class STGeometryType(child: Expression, failOnError: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String =
    if (failOnError) "st_geometrytype" else "st_try_geometrytype"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary WKB, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = !failOnError || super.nullable
  override def nullSafeEval(wkb: Any): Any =
    try UTF8String.fromString(Geo.fromWkb(wkb.asInstanceOf[Array[Byte]]).getGeometryType)
    catch { case e: Exception => if (failOnError) throw e else null }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_envelope(geom): bounding box as [xmin, ymin, xmax, ymax] — the
  * building block for the GeoParquet footer bbox (spec §metadata, per-
  * column `bbox`) and any coarse spatial pre-filter. `failOnError=false`
  * quarantines unparseable WKB to NULL (the st_try_geometrytype
  * posture) so a metadata pass never fails a committed write.
  */
case class STEnvelope(child: Expression, failOnError: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String =
    if (failOnError) "st_envelope" else "st_try_envelope"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary WKB, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = !failOnError || super.nullable
  override def nullSafeEval(wkb: Any): Any =
    try {
      val e = Geo.fromWkb(wkb.asInstanceOf[Array[Byte]]).getEnvelopeInternal
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    } catch { case ex: Exception => if (failOnError) throw ex else null }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_area(geom): planar area in squared coordinate units (PostGIS
  * ST_Area on the raw coordinates; geodesic area needs a projected CRS —
  * compose with the CRS transforms).
  */
case class STArea(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_area"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary WKB, got ${child.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(wkb: Any): Any =
    Geo.fromWkb(wkb.asInstanceOf[Array[Byte]]).getArea
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_centroid(geom): centroid point as WKB. */
case class STCentroid(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_centroid"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary WKB, got ${child.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(wkb: Any): Any =
    Geo.toWkb(Geo.fromWkb(wkb.asInstanceOf[Array[Byte]]).getCentroid)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_buffer(geom, dist): JTS buffer polygon as WKB (planar units). */
case class STBuffer(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_buffer"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary WKB, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(wkb: Any, d: Any): Any =
    Geo.toWkb(Geo.fromWkb(wkb.asInstanceOf[Array[Byte]])
      .buffer(d.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Base for WKB x WKB -> T expressions with constant-operand caching. */
abstract class GeoBinaryExpression extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary, binary) WKB arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  // Parse foldable sides once per expression instance (e.g. the constant
  // query polygon in a scan predicate), not once per row.
  @transient private lazy val leftConst: Geometry =
    if (left.foldable) {
      val v = left.eval(null)
      if (v == null) null else Geo.fromWkb(v.asInstanceOf[Array[Byte]])
    } else null
  @transient private lazy val rightConst: Geometry =
    if (right.foldable) {
      val v = right.eval(null)
      if (v == null) null else Geo.fromWkb(v.asInstanceOf[Array[Byte]])
    } else null

  protected def compute(a: Geometry, b: Geometry): Any

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ga = if (leftConst != null) leftConst else Geo.fromWkb(a.asInstanceOf[Array[Byte]])
    val gb = if (rightConst != null) rightConst else Geo.fromWkb(b.asInstanceOf[Array[Byte]])
    compute(ga, gb)
  }
}

/** A predicate that is false whenever a point operand lies outside the
  * other operand's envelope: st_intersects either way round,
  * st_contains(geom, point) and st_within(point, geom). When the point is
  * an `st_point(x, y)` call and the other operand is not constant, x and y
  * are evaluated as doubles and never encoded, and the envelope is read
  * from the other operand's WKB bytes per row ([[WkbEnvelope]]). A point
  * outside answers false with no geometry built; a point inside, a NaN
  * coordinate, an empty geometry or bytes the walk gives up on run the JTS
  * evaluation as before, so every result and error is the old one (JTS
  * answers false on a disjoint envelope before any other work). A constant
  * point or a constant geometry runs JTS as before; for the latter,
  * `SpatialFilterPushdown` derives range conditions from its envelope.
  *
  * Holds no mutable state: a codegen'd predicate's `references` share one
  * instance among all the threads that evaluate it.
  */
abstract class GeoPointPredicate extends GeoBinaryExpression {
  override def dataType: DataType = BooleanType

  /** Whether the point may be the left operand, and the right one. */
  protected def pointMayBeLeft: Boolean
  protected def pointMayBeRight: Boolean

  // the st_point operand facing a non-constant one: 1 left, 2 right, 0 none
  // (JTS as before)
  @transient private lazy val pointSide: Int =
    if (pointMayBeRight && right.isInstanceOf[STPoint] && !left.foldable) 2
    else if (pointMayBeLeft && left.isInstanceOf[STPoint] && !right.foldable) 1
    else 0
  @transient private lazy val pointCall: STPoint = pointSide match {
    case 1 => left.asInstanceOf[STPoint]
    case 2 => right.asInstanceOf[STPoint]
    case _ => null
  }

  /** With an `st_point` operand: the operands in BinaryExpression's order
    * and null rule, the point's coordinates without its WKB. */
  override def eval(input: InternalRow): Any = {
    if (pointCall == null) return super.eval(input)
    var other: Any = null
    if (pointSide == 2) {
      other = left.eval(input)
      if (other == null) return null
    }
    val xv = pointCall.left.eval(input)
    if (xv == null) return null
    val yv = pointCall.right.eval(input)
    if (yv == null) return null
    if (pointSide == 1) {
      other = right.eval(input)
      if (other == null) return null
    }
    val x = xv.asInstanceOf[Double]
    val y = yv.asInstanceOf[Double]
    if (WkbEnvelope.excludes(other.asInstanceOf[Array[Byte]], x, y)) false
    else {
      val point = pointCall.nullSafeEval(xv, yv)
      if (pointSide == 1) nullSafeEval(point, other) else nullSafeEval(other, point)
    }
  }
}

/** OGC intersects — boundary-inclusive (reference P4/F4). */
case class STIntersects(left: Expression, right: Expression) extends GeoPointPredicate {
  override def prettyName: String = "st_intersects"
  protected def pointMayBeLeft: Boolean = true
  protected def pointMayBeRight: Boolean = true
  protected def compute(a: Geometry, b: Geometry): Any = a.intersects(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** OGC contains: a contains b. */
case class STContains(left: Expression, right: Expression) extends GeoPointPredicate {
  override def prettyName: String = "st_contains"
  protected def pointMayBeLeft: Boolean = false
  protected def pointMayBeRight: Boolean = true
  protected def compute(a: Geometry, b: Geometry): Any = a.contains(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** OGC within: a within b. */
case class STWithin(left: Expression, right: Expression) extends GeoPointPredicate {
  override def prettyName: String = "st_within"
  protected def pointMayBeLeft: Boolean = true
  protected def pointMayBeRight: Boolean = false
  protected def compute(a: Geometry, b: Geometry): Any = a.within(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean distance in coordinate units (PostGIS ST_Distance on 4326). */
case class STDistance(left: Expression, right: Expression) extends GeoBinaryExpression {
  override def prettyName: String = "st_distance"
  override def dataType: DataType = DoubleType
  protected def compute(a: Geometry, b: Geometry): Any = a.distance(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_distance_sphere(a, b) -> meters along the great circle between two
  * POINT geometries' lon/lat coordinates (PostGIS ST_DistanceSphere):
  * the haversine form — numerically stable at small angles where the
  * spherical law of cosines loses precision — on the IUGG mean Earth
  * radius 6 371 008.8 m. Non-point inputs are a contract error (the
  * PostGIS function also requires points for the sphere path).
  * Determinism note: libm sin/cos may differ in the last ulp across
  * engines, so oracle comparisons go through ORDERING over candidate
  * sets with meter-scale gaps (the v1 argument), never raw doubles.
  */
case class STDistanceSphere(left: Expression, right: Expression) extends GeoBinaryExpression {
  override def prettyName: String = "st_distance_sphere"
  override def dataType: DataType = DoubleType
  protected def compute(a: Geometry, b: Geometry): Any = {
    require(a.getGeometryType == "Point" && b.getGeometryType == "Point",
      s"st_distance_sphere expects POINT geometries, got " +
        s"${a.getGeometryType}/${b.getGeometryType}")
    val (lon1, lat1) = (a.getCoordinate.x, a.getCoordinate.y)
    val (lon2, lat2) = (b.getCoordinate.x, b.getCoordinate.y)
    STDistanceSphere.haversineMeters(lon1, lat1, lon2, lat2)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object STDistanceSphere {
  val EarthRadiusM = 6371008.8 // IUGG mean radius

  def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
    val sp = math.sin(dp / 2); val sl = math.sin(dl / 2)
    val h = sp * sp + math.cos(p1) * math.cos(p2) * sl * sl
    2.0 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(h)))
  }
}

/** st_transform_point(x, y, src_epsg, dst_epsg) -> struct(x, y)
  * (reference F6: pyproj point reprojection, `backend/models.py:37-42`).
  */
case class STTransformPoint(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 4, "st_transform_point(x, y, src_epsg, dst_epsg)")
  override def prettyName: String = "st_transform_point"
  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(DoubleType, DoubleType, IntegerType, IntegerType)
    if (children.map(_.dataType) == expected) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_transform_point expects (double, double, int, int), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
  override def dataType: DataType =
    new StructType().add("x", DoubleType, nullable = false).add("y", DoubleType, nullable = false)
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val (x, y) = Geo.transformPoint(
        vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
        vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Int])
      org.apache.spark.sql.catalyst.InternalRow(x, y)
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}
