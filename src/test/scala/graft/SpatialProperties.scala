package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.types.{BinaryType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.rng.Seed

import graft.functions.{Geo, STContains, STIntersects, STPoint, STWithin}

/** The point predicates' envelope reject (`GeoPointPredicate`) answers
  * what plain JTS answers. Each case encodes a random geometry as WKB with
  * a header drawn per (sub)geometry — either byte order, Z and M as EWKB
  * flags or ISO type codes, an EWKB SRID — over polygons with holes,
  * unclosed and short rings, linestrings, points, Multi* and nested
  * collections, with empty parts, wrong Multi* members and NaN ordinates
  * among them; some cases truncate the bytes. The probe point sits on a
  * vertex, an edge, the envelope's border, inside, outside, or has a NaN
  * coordinate, and any input may be null. st_intersects, st_contains and
  * st_within are evaluated in both argument orders and in the three shapes
  * a plan gives them (the point an `st_point` over columns or a constant,
  * the geometry a column or a constant; only the first pair takes the
  * envelope reject), and each answer — value, null or exception class —
  * must be JTS's over the bytes `st_point` and the column hold.
  */
object SpatialProperties extends Properties("graft.spatial") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3000).withWorkers(1).withInitialSeed(Seed(20231112L))

  /** A geometry as its WKB says it: coordinates and counts, valid or not. */
  private sealed trait G
  private case class Pt(x: Double, y: Double) extends G
  private case class Line(xy: Seq[(Double, Double)]) extends G
  private case class Poly(rings: Seq[Seq[(Double, Double)]]) extends G
  /** kind 4-6 (Multi*) or 7 (GeometryCollection). */
  private case class Coll(kind: Int, members: Seq[G]) extends G

  private case class Header(little: Boolean, z: Boolean, m: Boolean, iso: Boolean, srid: Boolean)

  private def coordsOf(g: G): Seq[(Double, Double)] = g match {
    case Pt(x, y) => Seq((x, y))
    case Line(xy) => xy
    case Poly(rings) => rings.flatten
    case Coll(_, ms) => ms.flatMap(coordsOf)
  }

  /** Encode `g`, drawing each (sub)geometry's header from `headers`; Z
    * and M ordinates are grid values from `rnd`, so a reader that takes
    * them for x or y finds a wrong envelope. */
  private def wkb(g: G, headers: Iterator[Header], rnd: scala.util.Random): Array[Byte] = {
    val buf = ByteBuffer.allocate(1 << 16)
    def put(g: G): Unit = {
      val h = headers.next()
      buf.order(if (h.little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      buf.put((if (h.little) 1 else 0).toByte)
      val kind = g match {
        case _: Pt => 1
        case _: Line => 2
        case _: Poly => 3
        case Coll(k, _) => k
      }
      val t =
        if (h.iso) kind + (if (h.z && h.m) 3000 else if (h.m) 2000 else if (h.z) 1000 else 0)
        else kind | (if (h.z) 0x80000000 else 0) | (if (h.m) 0x40000000 else 0)
      buf.putInt(if (h.srid) t | 0x20000000 else t)
      if (h.srid) buf.putInt(4326)
      def coord(xy: (Double, Double)): Unit = {
        buf.putDouble(xy._1).putDouble(xy._2)
        if (h.z) buf.putDouble(rnd.between(-8, 9) / 2.0)
        if (h.m) buf.putDouble(rnd.between(-8, 9) / 2.0)
      }
      g match {
        case Pt(x, y) => coord((x, y))
        case Line(xy) => buf.putInt(xy.size); xy.foreach(coord)
        case Poly(rings) =>
          buf.putInt(rings.size)
          rings.foreach { r => buf.putInt(r.size); r.foreach(coord) }
        case Coll(_, ms) => buf.putInt(ms.size); ms.foreach(put)
      }
    }
    put(g)
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  // a half-unit grid, so vertices, edges and borders are hit exactly
  private val genXY: Gen[(Double, Double)] =
    Gen.zip(Gen.choose(-8, 8).map(_ / 2.0), Gen.choose(-8, 8).map(_ / 2.0))

  /** A rectangle, optionally with a rectangular hole strictly inside. */
  private val genBox: Gen[Poly] = for {
    (x, y) <- genXY
    w <- Gen.choose(1, 6); h <- Gen.choose(1, 6)
    hole <- Gen.oneOf(true, false)
  } yield {
    val (x1, y1) = (x + w, y + h)
    val shell = Seq((x, y), (x1, y), (x1, y1), (x, y1), (x, y))
    if (hole && w > 2 && h > 2)
      Poly(Seq(shell, Seq((x + 1, y + 1), (x + 1, y1 - 1), (x1 - 1, y1 - 1), (x1 - 1, y + 1), (x + 1, y + 1))))
    else Poly(Seq(shell))
  }

  /** A ring of random vertices: closed, unclosed or short (the reader
    * closes and pads rings), or empty. */
  private val genRing: Gen[Seq[(Double, Double)]] = Gen.frequency(
    6 -> Gen.choose(3, 6).flatMap(Gen.listOfN(_, genXY)).map(r => r :+ r.head),
    2 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, genXY)),
    1 -> Gen.const(Nil))

  private val genPoint: Gen[G] = Gen.frequency(
    8 -> genXY.map { case (x, y) => Pt(x, y) },
    1 -> Gen.oneOf(Pt(Double.NaN, Double.NaN), Pt(Double.NaN, 1.0), Pt(1.0, Double.NaN)))

  private val genLine: Gen[G] = Gen.frequency(
    8 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, genXY)).map(Line(_)),
    1 -> Gen.const(Line(Nil)),
    1 -> Gen.const(Line(Seq((0.0, 0.0), (Double.NaN, 1.0)))))

  private val genPoly: Gen[G] = Gen.frequency(
    6 -> genBox,
    3 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, genRing)).map(Poly(_)),
    1 -> Gen.const(Poly(Nil)))

  private def genGeom(depth: Int): Gen[G] = {
    val leaf = Gen.oneOf(genPoint, genLine, genPoly)
    if (depth >= 2) leaf
    else Gen.frequency(
      6 -> leaf,
      1 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, genPoint)).map(Coll(4, _)),
      1 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, genLine)).map(Coll(5, _)),
      2 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, genPoly)).map(Coll(6, _)),
      2 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, genGeom(depth + 1))).map(Coll(7, _)),
      // a Multi* holding a member of another type: the reader refuses it
      1 -> Gen.zip(Gen.choose(4, 6), Gen.listOfN(2, leaf)).map { case (k, ms) => Coll(k, ms) })
  }

  private val genHeader: Gen[Header] = for {
    little <- Gen.oneOf(true, false)
    z <- Gen.frequency(3 -> false, 1 -> true)
    m <- Gen.frequency(5 -> false, 1 -> true)
    iso <- Gen.oneOf(true, false)
    srid <- Gen.frequency(3 -> false, 1 -> true)
  } yield Header(little, z, m, iso, srid)

  /** A probe against the geometry's coordinates: a vertex, an edge
    * midpoint, the envelope's border or corners, a point just outside,
    * anywhere on the grid, or a NaN coordinate. */
  private def genProbe(cs: Seq[(Double, Double)]): Gen[(Double, Double)] = {
    val finite = cs.filter { case (x, y) => !x.isNaN && !y.isNaN }
    val any = Gen.frequency(
      3 -> genXY,
      1 -> Gen.oneOf((Double.NaN, 0.0), (0.0, Double.NaN), (Double.NaN, Double.NaN)))
    if (finite.isEmpty) any
    else {
      val (x0, x1) = (finite.map(_._1).min, finite.map(_._1).max)
      val (y0, y1) = (finite.map(_._2).min, finite.map(_._2).max)
      val inX = Gen.choose(x0, x1); val inY = Gen.choose(y0, y1)
      Gen.frequency(
        3 -> Gen.oneOf(finite),
        3 -> Gen.zip(Gen.oneOf(finite), Gen.oneOf(finite))
          .map { case ((ax, ay), (bx, by)) => ((ax + bx) / 2, (ay + by) / 2) },
        3 -> Gen.oneOf(inY.map((x0, _)), inY.map((x1, _)), inX.map((_, y0)), inX.map((_, y1))),
        1 -> Gen.oneOf((x0, y0), (x0, y1), (x1, y0), (x1, y1)),
        3 -> Gen.oneOf(inY.map((math.nextDown(x0), _)), inY.map((x1 + 0.25, _)),
          inX.map((_, y0 - 0.5)), inX.map((_, math.nextUp(y1))), Gen.const((x1 + 1, y1 + 1))),
        3 -> any)
    }
  }

  private case class Case(g: G, bytes: Array[Byte], x: Option[Double], y: Option[Double],
                          geomNull: Boolean) {
    override def toString: String =
      s"$g bytes=${bytes.map("%02x".format(_)).mkString} x=$x y=$y geomNull=$geomNull"
  }

  private val genCase: Gen[Case] = for {
    g <- genGeom(0)
    headers <- Gen.listOfN(64, genHeader)
    seed <- Gen.long
    full = wkb(g, Iterator.continually(headers).flatten, new scala.util.Random(seed))
    // a truncated copy keeps the probe off the full geometry's envelope
    cut <- Gen.frequency(8 -> Gen.const(full.length), 1 -> Gen.choose(0, full.length - 1))
    cs = coordsOf(g)
    probe <- if (cut < full.length) genProbe(cs).map { case (x, y) =>
      val xs = cs.map(_._1).filterNot(_.isNaN)
      (if (xs.isEmpty) x else xs.max + 3.0, y) } else genProbe(cs)
    nulls <- Gen.frequency(12 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
  } yield Case(g, java.util.Arrays.copyOf(full, cut),
    if (nulls == 2) None else Some(probe._1), if (nulls == 3) None else Some(probe._2),
    geomNull = nulls == 1)

  /** A value, a null, or the class of what was thrown. */
  private def outcome(f: => Any): Any =
    try Option(f) catch { case e: Throwable if !e.isInstanceOf[VirtualMachineError] => e.getClass }

  private val ops: Seq[(String, (Expression, Expression) => Expression,
      (org.locationtech.jts.geom.Geometry, org.locationtech.jts.geom.Geometry) => Boolean)] = Seq(
    ("st_intersects", STIntersects, _.intersects(_)),
    ("st_contains", STContains, _.contains(_)),
    ("st_within", STWithin, _.within(_)))

  property("point predicates answer as JTS does: values, nulls and errors, every shape") =
    forAllNoShrink(genCase) { c =>
      val row = InternalRow(if (c.geomNull) null else c.bytes,
        c.x.getOrElse(null), c.y.getOrElse(null))
      val geomCol = BoundReference(0, BinaryType, nullable = true)
      val pointCall = STPoint(BoundReference(1, DoubleType, nullable = true),
        BoundReference(2, DoubleType, nullable = true))
      // the bytes st_point gives the probe, as every row evaluated them before
      val pointBytes = for (x <- c.x; y <- c.y) yield Geo.toWkb(Geo.point(x, y))
      val geomConst = Literal.create(if (c.geomNull) null else c.bytes, BinaryType)
      val shapes: Seq[(String, Expression, Expression)] =
        Seq(("column, st_point", geomCol, pointCall), ("constant, st_point", geomConst, pointCall)) ++
          pointBytes.map(b => ("column, constant point", geomCol, Literal.create(b, BinaryType)))
      val checks = for {
        (shape, geom, point) <- shapes
        (name, op, jts) <- ops
        pointFirst <- Seq(false, true)
      } yield {
        val (a, b) = if (pointFirst) (point, geom) else (geom, point)
        val got = outcome(op(a, b).eval(row))
        val want = outcome(
          if (c.geomNull || pointBytes.isEmpty) null
          else {
            val (ga, gb) = (Geo.fromWkb(c.bytes), Geo.fromWkb(pointBytes.get))
            if (pointFirst) jts(gb, ga) else jts(ga, gb)
          })
        (got == want) :| s"$name(${if (pointFirst) "point, geom" else "geom, point"}) [$shape]: got $got, JTS $want"
      }
      checks.reduce[Prop](_ && _) :| c.toString
    }
}
