package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** morton_code(lon, lat): Z-order curve key — interleaves the bits of the
  * two coordinates quantized to 2^21 cells per axis over the WGS84
  * extent. Sorting (or range-partitioning) a table by this key clusters
  * spatially-near rows into the same files/row groups, so per-file
  * coordinate min/max statistics become tight and bbox predicates (see
  * [[graft.plans.SpatialFilterPushdown]]) skip most of the data — the
  * engine's physical-design analogue of the reference's GiST index
  * (`backend/load_data.py:89-99`, SURVEY.md §2.1 S5). Codegen-friendly:
  * pure integer math.
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryKernel("morton_code", KernelInput.Double.as("double lon"),
      KernelInput.Double.as("double lat"), LongType, "MortonCode.interleave", quarantines = false) {
  override def nullSafeEval(lonV: Any, latV: Any): Any =
    MortonCode.interleave(lonV.asInstanceOf[Double], latV.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object MortonCode {
  final val Bits = 21 // 21+21 = 42 bits < 63

  private def quantize(v: Double, min: Double, max: Double): Long = {
    val clamped = math.min(math.max(v, min), max)
    val cells = (1L << Bits) - 1
    math.round((clamped - min) / (max - min) * cells)
  }

  /** Standard 2D bit spread (interleave-ready): one zero bit between
    * each of the low 32 bits (we use 21).
    */
  private def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8))  & 0x00ff00ff00ff00ffL
    v = (v | (v << 4))  & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  def interleave(lon: Double, lat: Double): Long = {
    val x = spread(quantize(lon, -180.0, 180.0))
    val y = spread(quantize(lat, -90.0, 90.0))
    x | (y << 1)
  }
}
