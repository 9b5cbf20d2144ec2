package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.BinaryType

/** Zstandard inflation as a scan-fused expression — [[Gunzip]]'s
  * sibling for the encoding dataset mirrors are migrating to: `.tar.zst`
  * archives and `Content-Encoding: zstd` payloads (RFC 8878). The
  * decoder is the zstd-jni library Spark itself ships on its runtime
  * classpath (it is how Spark reads zstd parquet/shuffle blocks), so
  * this adds no dependency.
  *
  * Same posture as [[Gunzip]]: whole-blob NULL on any malformation
  * (bad magic, torn frame, content-size lie, xxhash64 checksum
  * mismatch — the native decoder verifies when the frame carries one),
  * NULL past the 256 MB inflation cap (a decompression bomb in a scan
  * task is an attack, not data). Concatenated frames inflate to the
  * concatenated payloads (RFC 8878 §3: a stream may be a sequence of
  * frames), matching the multi-member gzip contract; skippable frames
  * (magic 0x184D2A5x) are skipped per the RFC. Per-row, no shuffle —
  * at 100 TB this is one more fused stage between the binary column
  * and `tar_entries`.
  */
case class Zunstd(child: Expression)
    extends UnaryKernel("zunstd", KernelInput.Binary, BinaryType, "Zunstd.inflate",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Zunstd.inflate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Zunstd {
  private def isFrameMagic(b: Array[Byte], p: Int): Boolean =
    p + 4 <= b.length &&
      (b(p) & 0xFF) == 0x28 && (b(p + 1) & 0xFF) == 0xB5 &&
      (b(p + 2) & 0xFF) == 0x2F && (b(p + 3) & 0xFF) == 0xFD

  private def isSkippableMagic(b: Array[Byte], p: Int): Boolean =
    p + 4 <= b.length &&
      ((b(p) & 0xFF) >= 0x50 && (b(p) & 0xFF) <= 0x5F) &&
      (b(p + 1) & 0xFF) == 0x2A && (b(p + 2) & 0xFF) == 0x4D &&
      (b(p + 3) & 0xFF) == 0x18

  def inflate(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) return null
    if (!isFrameMagic(b, 0) && !isSkippableMagic(b, 0)) return null
    // FAST PATH — the 100 TB shape: one frame with a declared content
    // size (what the zstd CLI and every file-at-rest writer emits) gets
    // ONE native call, no per-blob stream context (the stream path's
    // JNI context allocation dominated the x22 sf10 measurement).
    // Multi-frame blobs, streaming-written frames (no FCS), and
    // anything the one-shot decoder rejects fall through to the stream
    // path, which is the arbiter of validity.
    if (isFrameMagic(b, 0)) {
      try {
        val cs = com.github.luben.zstd.Zstd.getFrameContentSize(b)
        if (cs >= 0 && cs <= Inflation.MaxBytes) {
          val out = new Array[Byte](cs.toInt)
          val n = com.github.luben.zstd.Zstd.decompress(out, b)
          if (n == cs) return out
        } else if (cs > Inflation.MaxBytes) return null // declared bomb: refuse
      } catch {
        case _: com.github.luben.zstd.ZstdException => () // stream decides
      }
    }
    try {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(b))
      // NOT continuous: continuous mode exists to tolerate unfinished
      // frames (chunked arrival) and would turn a TORN blob into a
      // silent short read; the default throws on a truncated source,
      // which is exactly the quarantine this contract needs
      Inflation.readCapped(in, b.length)
    } catch {
      case _: java.io.IOException => null // torn frame / checksum / garbage
    }
  }
}
