package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.BinaryType

/** BZIP2 inflation — the fourth member of the mirror-encoding family
  * ([[Gunzip]]/[[Zunstd]]/[[Zunxz]]): `.tar.bz2` is the CLASSIC
  * software/dataset mirror format (kernel.org and Debian archives
  * shipped it for a decade before xz). The decoder is Apache
  * commons-compress, which Spark ships on its runtime classpath
  * (`/opt/spark/jars/commons-compress-*.jar`), so this adds no
  * dependency.
  *
  * Same posture as its siblings: whole-blob NULL on bad magic
  * (`BZh` + block-size digit 1..9), torn stream, or a combined/block
  * CRC mismatch (commons-compress verifies both); NULL past the
  * 256 MB inflation cap. Concatenated streams inflate to the
  * concatenated payloads (`decompressConcatenated = true`), matching
  * the multi-member gzip contract. Unlike gzip/zstd/xz there is NO
  * stored/uncompressed mode in bzip2 — every stream goes through
  * BWT+MTF+Huffman — so gate fixtures use [[Bzip2Deflate]] rather
  * than column arithmetic, and decoder independence is carried by the
  * Bzip2Spec differential against the host `bzip2` binary.
  */
case class Zunbz2(child: Expression)
    extends UnaryKernel("zunbz2", KernelInput.Binary, BinaryType, "Zunbz2.inflate",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Zunbz2.inflate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Zunbz2 {
  private def hasMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
      b(3) >= '1' && b(3) <= '9'

  def inflate(b: Array[Byte]): Array[Byte] = {
    if (b == null || !hasMagic(b)) return null
    try {
      val in = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(
          new java.io.ByteArrayInputStream(b), /* decompressConcatenated = */ true)
      Inflation.readCapped(in, b.length)
    } catch {
      case _: java.io.IOException => null // torn / CRC mismatch / garbage
      // commons-compress bzip2 has historically thrown RuntimeExceptions
      // (IndexOutOfBounds and friends) on crafted streams behind a valid
      // "BZh" magic; those belong in the same quarantine (r18 ADVICE)
      case _: RuntimeException => null
    }
  }
}

/** BZIP2 compression — the write seam the mirror pipeline needs to
  * EMIT `.tar.bz2` (and the fixture seam the m29/x20d gates use,
  * playing the role `ogg_crc` plays for the OGG fixtures: bzip2 has
  * no stored mode, so streams cannot be assembled in column
  * arithmetic). commons-compress encodes deterministically for a
  * given input and block size, so fixtures are stable across
  * sessions and partitions. NULL in, NULL out; inputs past the
  * inflation cap refuse (an engine that won't inflate >256 MB must
  * not emit what it can't read back).
  *
  * Block size is the SMALLEST that holds the input in one block
  * (ceil(len/100k), capped at the CLI-default 9) rather than a flat
  * 9: the encoder's working set is ~blockSize x 800 KB ALLOCATED PER
  * STREAM, and at corpus row counts a flat 9 is ~7.6 MB of zeroed
  * arrays per row — the per-row-overhead class again (first measured
  * here: m29 17.9 s -> 2-3 s at sf0.1). Identical compressed content
  * for inputs <= 100 KB either way (one block is one block); the
  * derivation is a pure function of the input so determinism holds.
  */
case class Bzip2Deflate(child: Expression)
    extends UnaryKernel("bzip2_deflate", KernelInput.Binary, BinaryType, "Bzip2Deflate.deflate",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Bzip2Deflate.deflate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Bzip2Deflate {
  def deflate(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length > Inflation.MaxBytes) return null
    try {
      val blockSize = math.max(1, math.min(9, (b.length + 99999) / 100000))
      val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val out = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos, blockSize)
      out.write(b)
      out.close()
      bos.toByteArray
    } catch {
      case _: java.io.IOException => null
    }
  }
}
