package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Little-endian fixed-width hex rendering of an integral value —
  * `le_hex(v, width)` emits `width` bytes of `v` least-significant-first
  * as 2·width uppercase hex chars (the ZIP/RIFF/XZ/WAV wire convention).
  *
  * This exists for CODE SIZE as much as convenience: the container-
  * construction gates spell every length/offset/CRC field as a
  * `format_string("%02X%02X…", pmod(v,256), pmod(v/256,…))` tree — ~1 KB
  * of generated Java per field, four such fields per ZIP header. Whole-
  * stage codegen inlines every projection of a stage into ONE method
  * and cannot split over deferred local variables, so eighteen headers'
  * worth blew janino's 64 KB limit on x25 (BASELINE.md round-17/18
  * notes). A native expression generates one static call per field —
  * two orders of magnitude less code — and skips java.util.Formatter
  * per row. Negative inputs take their two's-complement low bytes
  * (width 8 = the full long), matching what the format_string+pmod
  * spelling produced for non-negative values, which is all the gates
  * emit.
  */
case class LeHex(child: Expression, width: Int)
    extends UnaryKernel("le_hex", KernelInput.Integral, StringType, "LeHex.render",
      quarantines = false) {
  override def checkInputDataTypes(): TypeCheckResult =
    if (width < 1 || width > 8)
      TypeCheckResult.TypeCheckFailure(s"$prettyName width must be 1..8, got $width")
    else super.checkInputDataTypes()
  override def nullSafeEval(v: Any): Any =
    LeHex.render(v.asInstanceOf[Number].longValue(), width)
  override protected def kernelArgs: Seq[Any] = Seq(width)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LeHex {
  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")

  def render(v: Long, width: Int): UTF8String = {
    val out = new Array[Byte](2 * width)
    var i = 0
    while (i < width) {
      val b = ((v >>> (8 * i)) & 0xFF).toInt
      out(2 * i) = Hex(b >>> 4)
      out(2 * i + 1) = Hex(b & 0xF)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
