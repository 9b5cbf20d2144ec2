package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.BinaryType

/** GZIP inflation as a scan-fused expression — the decompression step
  * between a crawl's wire format and [[WarcRecords]]: Common Crawl
  * ships `.warc.gz` with EACH record in its own gzip member, and the
  * multi-member stream inflates to exactly the concatenated WARC bytes
  * the record splitter takes (RFC 1952 says a compliant reader
  * processes concatenated members; the JDK's GZIPInputStream does).
  *
  * Posture: the m5-m8 torn-blob contract — any malformed byte (bad
  * magic, corrupt deflate stream, CRC mismatch, trailing garbage)
  * quarantines the WHOLE blob to NULL; a decompression BOMB (output
  * past [[Inflation.MaxBytes]]) also refuses, because a 4 GB inflation in
  * a scan task is an attack, not data. Per-row, no shuffle; at 100 TB
  * the segment files arrive as a binary column and this is just another
  * fused stage before `warc_records` + posexplode.
  */
case class Gunzip(child: Expression)
    extends UnaryKernel("gunzip", KernelInput.Binary, BinaryType, "Gunzip.inflate",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Gunzip.inflate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Gunzip {
  def inflate(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 18) return null // header + empty deflate + trailer
    if ((b(0) & 0xFF) != 0x1F || (b(1) & 0xFF) != 0x8B) return null
    try {
      Inflation.readCapped(
        new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b)), b.length)
    } catch {
      case _: java.io.IOException => null // bad magic/deflate/CRC/truncation
    }
  }
}
