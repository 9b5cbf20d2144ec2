package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.BinaryType

/** XZ/LZMA2 inflation as a scan-fused expression — the third member of
  * the [[Gunzip]]/[[Zunstd]] mirror-encoding family: the long tail of
  * dataset and software mirrors (GNU, kernel.org, Debian-era dumps)
  * ships `.tar.xz`. The decoder is the org.tukaani `xz` library Spark
  * itself ships on its runtime classpath (`/opt/spark/jars/xz-*.jar`,
  * how Spark reads xz-compressed text sources), so this adds no
  * dependency.
  *
  * Same posture as its siblings: whole-blob NULL on any malformation
  * (bad magic `FD 37 7A 58 5A 00`, torn stream, CRC32/CRC64/SHA-256
  * check mismatch — the library verifies whichever check the stream
  * header declares), NULL past the 256 MB inflation cap and NULL when
  * the declared LZMA2 dictionary alone exceeds the same budget (a
  * decompression bomb in a scan task is an attack, not data).
  * Concatenated streams (with optional 4-byte-aligned stream padding,
  * xz(1) §"Concatenation") inflate to the concatenated payloads via
  * `XZInputStream`'s native multi-stream mode, matching the
  * multi-member gzip and multi-frame zstd contracts. Per-row, no
  * shuffle — at 100 TB this is one more fused stage between the binary
  * column and `tar_entries`. Unlike zstd there is no JNI context here
  * (pure Java), so the stream path carries no per-blob native-allocation
  * overhead class.
  */
case class Zunxz(child: Expression)
    extends UnaryKernel("zunxz", KernelInput.Binary, BinaryType, "Zunxz.inflate",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Zunxz.inflate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Zunxz {
  /** Decoder memory budget in KiB: refuses streams whose declared
    * dictionary alone would out-allocate the inflation cap (mirrors
    * write <= 64 MiB dictionaries; xz -9 is 64 MiB).
    */
  private val MemLimitKiB: Int = 256 * 1024

  private val Magic = Array[Int](0xFD, '7', 'z', 'X', 'Z', 0x00)

  private def hasMagic(b: Array[Byte]): Boolean = {
    if (b.length < Magic.length) return false
    var i = 0
    while (i < Magic.length) {
      if ((b(i) & 0xFF) != Magic(i)) return false
      i += 1
    }
    true
  }

  def inflate(b: Array[Byte]): Array[Byte] = {
    if (b == null || !hasMagic(b)) return null
    try {
      // multi-stream mode: decodes concatenated streams + stream
      // padding, and REFUSES trailing garbage (CorruptedInputException)
      // — the arbiter of validity, like Zunstd's stream path
      val in = new org.tukaani.xz.XZInputStream(
        new java.io.ByteArrayInputStream(b), MemLimitKiB)
      Inflation.readCapped(in, b.length)
    } catch {
      // torn stream (EOFException), check mismatch / garbage
      // (CorruptedInputException), declared-dictionary bomb
      // (MemoryLimitException), unsupported options — all IOExceptions
      case _: java.io.IOException => null
    }
  }
}
