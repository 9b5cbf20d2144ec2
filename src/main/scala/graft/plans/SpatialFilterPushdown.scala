package graft.plans

import org.locationtech.jts.geom.{Envelope, Point}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.{Geo, STContains, STDistance, STIntersects, STPoint, STWithin}

/** Optimizer rule: derive sargable bounding-box conjuncts from spatial
  * predicates over JTS expressions — the Spark analogue of the reference's
  * GiST index use (`backend/load_data.py:89-99`; SURVEY.md §4 "bbox-based
  * spatial file skipping").
  *
  *   st_distance(st_point(x, y), CONST_POINT) < r
  *     ==>  x >= cx-r AND x <= cx+r AND y >= cy-r AND y <= cy+r AND ...
  *   st_intersects(CONST_GEOM, st_point(x, y))   (and contains / within)
  *     ==>  x/y within CONST_GEOM's envelope AND ...
  *
  * Both derivations are necessary conditions of the original predicate
  * (a point farther than r, or outside the envelope, cannot satisfy it),
  * so the rewrite is purely row-reducing, never semantics-changing.
  *
  * The JTS expressions are CodegenFallback and opaque to Parquet
  * pushdown; the derived range conjuncts are plain comparisons, so (a)
  * when x/y are scan columns they reach PushedFilters and skip row groups
  * on min/max stats, and (b) either way they come first in the Filter, so
  * a row outside the box is dropped before the geometry path parses
  * anything (PostGIS's bbox-then-refine order). Bounds are widened one
  * ulp so boundary rounding can never drop a qualifying row; the original
  * predicate stays in place after them.
  */
object SpatialFilterPushdown extends Rule[LogicalPlan] {

  /** (cx, cy) if `e` is a foldable point (STPoint literal or WKB bytes). */
  private def constPoint(e: Expression): Option[(Double, Double)] = {
    if (!e.foldable) return None
    e.eval(null) match {
      case wkb: Array[Byte] =>
        try Geo.fromWkb(wkb) match {
          case p: Point => Some((p.getX, p.getY))
          case _ => None
        } catch { case _: Exception => None }
      case _ => None
    }
  }

  /** Extract (xExpr, yExpr, cx, cy, r) from a supported radius predicate. */
  private def radiusPredicate(e: Expression): Option[(Expression, Expression, Double, Double, Double)] = {
    def dist(d: Expression): Option[(Expression, Expression, Double, Double)] = d match {
      case STDistance(STPoint(x, y), c) => constPoint(c).map { case (cx, cy) => (x, y, cx, cy) }
      case STDistance(c, STPoint(x, y)) => constPoint(c).map { case (cx, cy) => (x, y, cx, cy) }
      case _ => None
    }
    e match {
      case LessThan(d, Literal(r: Double, DoubleType)) =>
        dist(d).map { case (x, y, cx, cy) => (x, y, cx, cy, r) }
      case LessThanOrEqual(d, Literal(r: Double, DoubleType)) =>
        dist(d).map { case (x, y, cx, cy) => (x, y, cx, cy, r) }
      case GreaterThan(Literal(r: Double, DoubleType), d) =>
        dist(d).map { case (x, y, cx, cy) => (x, y, cx, cy, r) }
      case GreaterThanOrEqual(Literal(r: Double, DoubleType), d) =>
        dist(d).map { case (x, y, cx, cy) => (x, y, cx, cy, r) }
      case _ => None
    }
  }

  private def bboxConjuncts(x: Expression, y: Expression,
                            cx: Double, cy: Double, r: Double): Seq[Expression] = Seq(
    GreaterThanOrEqual(x, Literal(math.nextDown(cx - r))),
    LessThanOrEqual(x, Literal(math.nextUp(cx + r))),
    GreaterThanOrEqual(y, Literal(math.nextDown(cy - r))),
    LessThanOrEqual(y, Literal(math.nextUp(cy + r))))

  /** Envelope of a foldable geometry operand. */
  private def constEnvelope(e: Expression): Option[Envelope] = {
    if (!e.foldable) return None
    e.eval(null) match {
      case wkb: Array[Byte] =>
        try Some(Geo.fromWkb(wkb).getEnvelopeInternal)
        catch { case _: Exception => None }
      case _ => None
    }
  }

  /** Extract (xExpr, yExpr, envelope) from a point-vs-constant-geometry
    * containment/intersection predicate (either operand order for the
    * symmetric intersects).
    */
  private def envelopePredicate(e: Expression): Option[(Expression, Expression, Envelope)] =
    e match {
      case STIntersects(c, STPoint(x, y)) => constEnvelope(c).map((x, y, _))
      case STIntersects(STPoint(x, y), c) => constEnvelope(c).map((x, y, _))
      case STContains(c, STPoint(x, y))   => constEnvelope(c).map((x, y, _))
      case STWithin(STPoint(x, y), c)     => constEnvelope(c).map((x, y, _))
      case _ => None
    }

  private def envelopeConjuncts(x: Expression, y: Expression, env: Envelope): Seq[Expression] = Seq(
    GreaterThanOrEqual(x, Literal(math.nextDown(env.getMinX))),
    LessThanOrEqual(x, Literal(math.nextUp(env.getMaxX))),
    GreaterThanOrEqual(y, Literal(math.nextDown(env.getMinY))),
    LessThanOrEqual(y, Literal(math.nextUp(env.getMaxY))))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val existing = splitConjuncts(cond)
      val extra = existing
        .flatMap { p =>
          radiusPredicate(p)
            .map { case (x, y, cx, cy, r) => bboxConjuncts(x, y, cx, cy, r) }
            .orElse(envelopePredicate(p)
              .map { case (x, y, env) => envelopeConjuncts(x, y, env) })
            .getOrElse(Nil)
        }
        // fixpoint safety: never add a conjunct already present
        .filterNot(p => existing.exists(_.semanticEquals(p)))
      if (extra.isEmpty) f
      else Filter((extra ++ existing).reduceLeft(And), child)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
