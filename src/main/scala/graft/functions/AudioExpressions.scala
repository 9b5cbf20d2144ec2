package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** audio_meta(binary) -> struct(format, channels, sample_rate, bits,
  * kbps) — audio-container header parser, the WAV/MP3 sibling of
  * [[ImageMeta]] (same 100 TB posture: a codegen'd expression reads the
  * leading bytes, the projection drops the payload, stragglers NULL out
  * instead of poisoning the scan):
  *
  *  - WAV (RIFF, Microsoft/IBM 1991 spec): "RIFF" | LE32 size | "WAVE",
  *    then word-aligned chunks walked to "fmt " — format code LE16
  *    (PCM 1 / IEEE-float 3 accepted), channels LE16, sample rate LE32,
  *    byte rate LE32, block align LE16, bits-per-sample LE16. kbps is
  *    derived from the byte-rate FIELD (byte_rate * 8 / 1000, integer),
  *    not recomputed, so a lying header surfaces as-is for quarantine
  *    rules to catch.
  *  - MP3 (ISO/IEC 11172-3 §2.4.1.3 frame header): 11-bit sync, then
  *    version/layer — MPEG-1 Layer III only (the "MP3" regime; other
  *    version x layer grids have different bitrate tables and NULL out),
  *    bitrate index -> the public 14-entry kbps table, sample-rate index
  *    -> {44100, 48000, 32000}, channel mode 3 (single) -> 1 channel,
  *    else 2. bits = 0: not a PCM container, bit depth is undefined.
  *
  * Free-format (bitrate index 0), `bad` (15), reserved sample-rate index
  * 3, truncated chunks, and unknown containers all yield NULL.
  */
case class AudioMeta(child: Expression)
    extends UnaryKernel("audio_meta", KernelInput.Binary, AudioMeta.Schema, "AudioMeta.parse",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = AudioMeta.parse(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AudioMeta {
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits", IntegerType),
    StructField("kbps", IntegerType)))

  /** MPEG-1 Layer III bitrates (kbps) by bitrate index 1-14
    * (ISO/IEC 11172-3 table B.2; index 0 = free, 15 = forbidden).
    */
  val Mp3Kbps: Array[Int] =
    Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample rates (Hz) by sample-rate index 0-2 (index 3 reserved). */
  val Mp3SampleRates: Array[Int] = Array(44100, 48000, 32000)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  private def row(format: String, ch: Int, sr: Long, bits: Int, kbps: Long): InternalRow =
    if (ch <= 0 || sr <= 0 || sr > Int.MaxValue || kbps < 0 || kbps > Int.MaxValue) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(format), ch, sr.toInt, bits, kbps.toInt))

  /** Shared eval/codegen kernel; null for anything unrecognized. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // WAV: RIFF container, chunk walk to "fmt "
    if (b.length >= 12 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
          if (size < 16 || i + 8 + 16 > b.length) return null
          val fmtCode = le16(b, i + 8)
          if (fmtCode != 1 && fmtCode != 3) return null // PCM / IEEE float
          val ch = le16(b, i + 10)
          val sr = le32(b, i + 12)
          val byteRate = le32(b, i + 16)
          val bits = le16(b, i + 22)
          return row("wav", ch, sr, bits, byteRate * 8 / 1000)
        }
        if (size > Int.MaxValue - 9) return null
        // chunks are word-aligned: odd sizes carry a pad byte (RIFF spec)
        i += 8 + size.toInt + (size.toInt & 1)
      }
      return null
    }
    // MP3: 11-bit frame sync, MPEG-1 (version bits 11) Layer III (01)
    if (b.length >= 4 && u8(b, 0) == 0xff && (u8(b, 1) & 0xe0) == 0xe0) {
      val version = (u8(b, 1) >> 3) & 3
      val layer = (u8(b, 1) >> 1) & 3
      if (version != 3 || layer != 1) return null
      val bitrateIdx = (u8(b, 2) >> 4) & 0xf
      val srIdx = (u8(b, 2) >> 2) & 3
      if (bitrateIdx == 0 || bitrateIdx == 15 || srIdx == 3) return null
      val mode = (u8(b, 3) >> 6) & 3
      return row("mp3", if (mode == 3) 1 else 2, Mp3SampleRates(srIdx),
        0, Mp3Kbps(bitrateIdx - 1))
    }
    null
  }
}

/** audio_pcm_stats(binary) -> struct(n_samples, sum_amp, min_amp,
  * max_amp) — PAYLOAD-level WAV decode: walks the RIFF chunks to
  * "fmt " AND "data", then decodes every little-endian int16 PCM
  * sample in the data chunk and aggregates exact integer statistics.
  * This is the real sample decode the m-family's header parsers stop
  * short of — no library needed, PCM16 is bytes-to-shorts by spec
  * (Microsoft/IBM RIFF WAVE, 1991).
  *
  * Integer-exact by construction: n_samples and min/max are integers,
  * sum_amp is a Long (2^47 samples of full-scale amplitude before
  * overflow) — so the output is engine-portable and oracle-checkable
  * with no float anywhere. Callers derive mean/energy downstream at
  * whatever precision they choose.
  *
  * Quarantine posture (same as [[AudioMeta]]): anything that is not a
  * well-formed PCM16 WAV NULLs out instead of poisoning the scan —
  * non-RIFF bytes, a missing/short fmt or data chunk, a non-PCM or
  * non-16-bit format, an odd-sized or TRUNCATED data chunk (declared
  * size past the buffer end — the torn-blob case), or zero samples.
  */
case class AudioPcmStats(child: Expression)
    extends UnaryKernel("audio_pcm_stats", KernelInput.Binary, AudioPcmStats.Schema,
      "AudioPcmStats.decode", quarantines = true) {
  override def nullSafeEval(v: Any): Any = AudioPcmStats.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AudioPcmStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("sum_amp", LongType),
    StructField("min_amp", IntegerType),
    StructField("max_amp", IntegerType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** Shared eval/codegen kernel; null for anything not PCM16-decodable. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12 ||
        b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var fmtOk = false
    var dataOff = -1
    var dataLen = -1
    var i = 12
    while (i + 8 <= b.length && dataLen < 0) {
      val size = le32(b, i + 4)
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
        if (size < 16 || i + 8 + 16 > b.length) return null
        if (le16(b, i + 8) != 1 || le16(b, i + 22) != 16) return null // PCM16 only
        fmtOk = true
      } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
        // truncated (declared size past the buffer) or odd-sized -> torn blob
        if (size > b.length - i - 8 || (size & 1) == 1) return null
        dataOff = i + 8
        dataLen = size.toInt
      }
      if (size > Int.MaxValue - 9) return null
      i += 8 + size.toInt + (size.toInt & 1)
    }
    if (!fmtOk || dataLen <= 0) return null
    val n = dataLen / 2
    var sum = 0L
    var min = Int.MaxValue
    var max = Int.MinValue
    var k = 0
    while (k < n) {
      val s = le16(b, dataOff + 2 * k).toShort.toInt
      sum += s
      if (s < min) min = s
      if (s > max) max = s
      k += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, sum, min, max))
  }
}

/** mp3_frames(binary) -> struct(n_frames, sample_rate, n_samples,
  * duration_ms) — the FULL frame walk [[AudioMeta]]'s first-header
  * parse stops short of: real MP3s are VBR, so duration is only
  * knowable by walking every frame (each MPEG-1 Layer III frame is
  * floor(144 * bitrate / sample_rate) + padding bytes and carries
  * exactly 1152 samples — ISO/IEC 11172-3 §2.4). Header-only: the walk
  * jumps by computed frame lengths and never reads audio data, so a
  * long file costs its frame COUNT, not its bytes.
  *
  * Strict scope (the m-family refuse-loudly posture): MPEG-1 Layer III
  * only, every frame must parse (sync, version, layer, valid
  * bitrate/sample-rate indices), the sample rate must be CONSTANT
  * across frames (bitrate may vary — that is VBR), and frames must
  * exactly cover the blob between the tags. Tags (round 16): a leading
  * ID3v2 container is skipped by its syncsafe declared length (id3.org
  * v2.3/2.4 header; a declared length past the blob is torn) and a
  * trailing 128-byte ID3v1 "TAG" block is excluded from frame
  * coverage — the two layouts real MP3s ship with. Anything else
  * between or after frames refuses.
  */
case class Mp3Frames(child: Expression)
    extends UnaryKernel("mp3_frames", KernelInput.Binary, Mp3Frames.Schema, "Mp3Frames.decode",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Mp3Frames.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Mp3Frames {
  val Schema: StructType = StructType(Seq(
    StructField("n_frames", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_ms", LongType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** Shared eval/codegen kernel; null on ANY malformation. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    var pos = 0
    var end = b.length
    // leading ID3v2: "ID3" + version(2) + flags + 4-byte SYNCSAFE size
    // of the tag body (header's 10 bytes excluded)
    if (u8(b, 0) == 'I' && u8(b, 1) == 'D' && u8(b, 2) == '3') {
      if (b.length < 10) return null
      var sz = 0L
      var i = 6
      while (i < 10) {
        val v = u8(b, i)
        if ((v & 0x80) != 0) return null // non-syncsafe size byte: torn
        sz = (sz << 7) | v
        i += 1
      }
      if (10 + sz >= end) return null // tag swallows the blob: torn
      pos = (10 + sz).toInt
    }
    // trailing ID3v1: exactly 128 bytes starting "TAG"
    if (end - pos >= 128 && u8(b, end - 128) == 'T' &&
        u8(b, end - 127) == 'A' && u8(b, end - 126) == 'G')
      end -= 128
    var frames = 0L
    var sr0 = -1
    while (pos < end) {
      if (pos + 4 > end) return null // torn header
      if (u8(b, pos) != 0xff || (u8(b, pos + 1) & 0xe0) != 0xe0) return null
      val version = (u8(b, pos + 1) >> 3) & 3
      val layer = (u8(b, pos + 1) >> 1) & 3
      if (version != 3 || layer != 1) return null // MPEG-1 Layer III only
      val bitrateIdx = (u8(b, pos + 2) >> 4) & 0xf
      val srIdx = (u8(b, pos + 2) >> 2) & 3
      if (bitrateIdx == 0 || bitrateIdx == 15 || srIdx == 3) return null
      val sr = AudioMeta.Mp3SampleRates(srIdx)
      if (sr0 < 0) sr0 = sr
      else if (sr != sr0) return null // sample rate must be constant
      val pad = (u8(b, pos + 2) >> 1) & 1
      val flen = 144 * AudioMeta.Mp3Kbps(bitrateIdx - 1) * 1000 / sr + pad
      if (flen < 4 || pos + flen > end) return null // torn frame
      pos += flen
      frames += 1
    }
    if (frames == 0) return null
    val samples = frames * 1152L
    new GenericInternalRow(Array[Any](
      frames, sr0, samples, samples * 1000L / sr0))
  }
}
