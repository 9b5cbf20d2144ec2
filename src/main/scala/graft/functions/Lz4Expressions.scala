package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.BinaryType

/** LZ4 frame inflation — the fifth member of the mirror-encoding
  * family: `.lz4` is the speed-first format fast mirrors and log
  * shippers emit (the lz4 frame spec, magic 0x184D2204 LE). The
  * decoder is lz4-java, which Spark ships on its runtime classpath
  * (it is Spark's own shuffle/broadcast codec), so this adds no
  * dependency.
  *
  * Same posture as its siblings: whole-blob NULL on bad magic, torn
  * frame, or checksum mismatch (the library verifies the descriptor
  * HC byte and, when the frame carries them, xxhash32 block/content
  * checksums); NULL past the 256 MB inflation cap. Concatenated
  * frames inflate to the concatenated payloads and skippable frames
  * (magic 0x184D2A5x) are skipped, per the frame spec's
  * "concatenation" rule, matching the gzip/zstd/xz contracts.
  *
  * The frame format HAS uncompressed blocks (block size with the
  * high bit set carries raw bytes), so gate fixtures ARE
  * column-constructible like zstd stored frames — the descriptor HC
  * byte is a plan-time constant for a fixed FLG/BD pair.
  */
case class Zunlz4(child: Expression)
    extends UnaryKernel("zunlz4", KernelInput.Binary, BinaryType, "Zunlz4.inflate",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Zunlz4.inflate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Zunlz4 {
  private def isFrameMagic(b: Array[Byte], p: Int): Boolean =
    p + 4 <= b.length &&
      (b(p) & 0xFF) == 0x04 && (b(p + 1) & 0xFF) == 0x22 &&
      (b(p + 2) & 0xFF) == 0x4D && (b(p + 3) & 0xFF) == 0x18

  private def isSkippableMagic(b: Array[Byte], p: Int): Boolean =
    p + 4 <= b.length &&
      ((b(p) & 0xFF) >= 0x50 && (b(p) & 0xFF) <= 0x5F) &&
      (b(p + 1) & 0xFF) == 0x2A && (b(p + 2) & 0xFF) == 0x4D &&
      (b(p + 3) & 0xFF) == 0x18

  def inflate(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 7) return null
    if (!isFrameMagic(b, 0) && !isSkippableMagic(b, 0)) return null
    try {
      // lz4-java's frame reader decodes concatenated + skippable
      // frames to EOF; it throws on torn input, trailing garbage,
      // and any HC/xxhash32 mismatch — the arbiter of validity
      val in = new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(b))
      Inflation.readCapped(in, b.length)
    } catch {
      case _: java.io.IOException => null // torn / checksum / garbage
      // lz4-java raises LZ4Exception (a RuntimeException) when block
      // DATA is malformed behind a valid magic/HC header — it must
      // land in the same whole-blob-NULL quarantine, not escape and
      // fail the task (r18 ADVICE)
      case _: net.jpountz.lz4.LZ4Exception => null
    }
  }
}
