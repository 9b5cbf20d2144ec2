package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** FLAC STREAMINFO walk (m25) — the lossless-audio metadata the m2/m22
  * WAV/MP3 pair still lacked: real speech corpora (LibriSpeech-style)
  * ship FLAC, and routing them needs sample rate / channels / bit depth
  * / total samples — plus the STREAMINFO's unencoded-PCM MD5, which is
  * exactly the keep-first dedup key x19 uses for WAV (two FLACs of the
  * same recording share it regardless of encoder settings).
  *
  * Format from the public FLAC spec (RFC 9639): `fLaC` magic, then
  * metadata blocks — 1-byte header (bit 7 last-block flag, bits 0-6
  * type), 24-bit big-endian length — where the FIRST block MUST be
  * STREAMINFO (type 0, 34 bytes): min/max blocksize (16b each), min/max
  * framesize (24b), then sample rate (20b), channels-1 (3b),
  * bits-per-sample-1 (5b), total samples (36b) bit-packed, then the
  * 128-bit MD5 of the unencoded audio.
  *
  * Strict scope (m5-m8 posture, whole-blob NULL): magic must match,
  * the first block must be STREAMINFO of length exactly 34, every
  * block must fit the blob, min blocksize >= 16 and sample rate != 0
  * (both invalid-for-audio per the spec), and when total_samples > 0
  * the bytes after the last metadata block must start with a FLAC
  * frame sync (0xFF 0xF8-0xF9) — a stream that claims samples but has
  * no first frame is torn. Audio frames themselves are opaque (the
  * header-walk posture: routing facts without a decode).
  */
case class FlacStreaminfo(child: Expression)
    extends UnaryKernel("flac_streaminfo", KernelInput.Binary, FlacStreaminfo.Schema,
      "FlacStreaminfo.walk", quarantines = true) {
  override def nullSafeEval(v: Any): Any = FlacStreaminfo.walk(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FlacStreaminfo {
  val Schema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("total_samples", LongType),
    StructField("md5", StringType),
    StructField("n_meta_blocks", IntegerType)))

  private def u8(b: Array[Byte], p: Int): Int = b(p) & 0xFF
  private def u16(b: Array[Byte], p: Int): Int = (u8(b, p) << 8) | u8(b, p + 1)
  private def u24(b: Array[Byte], p: Int): Int =
    (u8(b, p) << 16) | (u8(b, p + 1) << 8) | u8(b, p + 2)

  def walk(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 42) return null // magic + hdr + 34
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return null
    // first block: STREAMINFO, not last-flagged checked generically below
    if ((u8(b, 4) & 0x7F) != 0) return null
    if (u24(b, 5) != 34) return null
    val minBlock = u16(b, 8)
    if (minBlock < 16) return null // invalid per spec
    // bytes 18-25 of the block (abs 18+8=26): rate/ch/bps/total packing
    val rate = (u8(b, 18) << 12) | (u8(b, 19) << 4) | (u8(b, 20) >> 4)
    if (rate == 0) return null // 0 is invalid for audio streams
    val channels = ((u8(b, 20) >> 1) & 0x7) + 1
    val bps = (((u8(b, 20) & 0x1) << 4) | (u8(b, 21) >> 4)) + 1
    val total = ((u8(b, 21) & 0xFL) << 32) | ((u8(b, 22) & 0xFFL) << 24) |
      ((u8(b, 23) & 0xFFL) << 16) | ((u8(b, 24) & 0xFFL) << 8) | (u8(b, 25) & 0xFFL)
    val md5 = {
      val sb = new java.lang.StringBuilder(32)
      var i = 26
      while (i < 42) { sb.append(f"${u8(b, i)}%02x"); i += 1 }
      sb.toString
    }
    // walk ALL metadata blocks (framing must verify even for types we
    // route past: padding, vorbis comment, seektable, ...)
    var p = 4
    var blocks = 0
    var last = false
    while (!last) {
      if (p + 4 > b.length) return null
      val hdr = u8(b, p)
      last = (hdr & 0x80) != 0
      if ((hdr & 0x7F) == 127) return null // forbidden type per spec
      val len = u24(b, p + 1)
      if (p + 4 + len > b.length) return null // torn block
      p += 4 + len
      blocks += 1
      if (blocks > 4096) return null
    }
    if (total > 0) {
      // the first audio frame must start right here: 14-bit sync + a
      // blocking-strategy bit -> 0xFF then 0xF8 or 0xF9
      if (p + 2 > b.length) return null
      if (u8(b, p) != 0xFF || (u8(b, p + 1) & 0xFE) != 0xF8) return null
    }
    new GenericInternalRow(Array[Any](
      rate, channels, bps, total, UTF8String.fromString(md5), blocks))
  }
}
