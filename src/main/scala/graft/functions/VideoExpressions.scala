package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** video_meta(binary) -> struct(format, width, height, duration_ms,
  * tracks) — video-container header parser, completing the multimodal
  * metadata family beside [[ImageMeta]] and [[AudioMeta]] (same 100 TB
  * posture: a codegen'd expression reads the leading bytes, the
  * projection never carries the payload past the scan, malformed blobs
  * NULL out for quarantine rules instead of failing the job):
  *
  *  - MP4 (ISO/IEC 14496-12 ISO base media file format): recognized by a
  *    leading `ftyp` box; top-level [size BE32 | type 4cc] box walk
  *    (size==1 -> 64-bit largesize follows, size==0 -> box runs to EOF)
  *    to `moov`, whose children give
  *      - `mvhd` (version 0 or 1): movie timescale (units/s) + duration
  *        (units) -> duration_ms = duration * 1000 / timescale,
  *      - `trak` count -> tracks, and the first `tkhd` carrying a
  *        nonzero 16.16 fixed-point width x height -> the visual
  *        dimensions (audio-only traks store zero there — ISO 14496-12
  *        §8.3.2).
  *  - AVI (RIFF, Microsoft/IBM 1991 spec, same chunk walk as
  *    [[AudioMeta]]'s WAV): "RIFF" | LE32 | "AVI ", word-aligned chunks
  *    to LIST/hdrl, then inside it to `avih` — dwMicroSecPerFrame,
  *    dwTotalFrames, dwStreams, dwWidth, dwHeight (all LE32) ->
  *    duration_ms = frames * usPerFrame / 1000, tracks = dwStreams.
  *
  * Truncated boxes, size fields that overrun the blob, a zero movie
  * timescale, and unknown containers all yield NULL.
  */
case class VideoMeta(child: Expression)
    extends UnaryKernel("video_meta", KernelInput.Binary, VideoMeta.Schema, "VideoMeta.parse",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = VideoMeta.parse(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VideoMeta {
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("tracks", IntegerType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def is4cc(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  private def row(format: String, w: Long, h: Long, durMs: Long, tracks: Int): InternalRow =
    if (w < 0 || w > Int.MaxValue || h < 0 || h > Int.MaxValue ||
        durMs < 0 || tracks < 0) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(format), w.toInt, h.toInt, durMs, tracks))

  /** Box length at offset i within [i, end); -1 when malformed. Returns
    * (headerLen, totalLen) packed as (hdr << 56 | total) is avoidable —
    * use a tiny result holder instead for clarity.
    */
  private def boxLen(b: Array[Byte], i: Int, end: Int): (Int, Long) = {
    if (i + 8 > end) return (-1, -1L)
    val s = be32(b, i)
    if (s == 1L) {
      if (i + 16 > end) return (-1, -1L)
      (16, be64(b, i + 8))
    } else if (s == 0L) (8, (end - i).toLong)
    else (8, s)
  }

  /** Shared eval/codegen kernel; null for anything unrecognized. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null

    // MP4 / ISO-BMFF: leading ftyp box, then a top-level walk to moov
    if (b.length >= 12 && is4cc(b, 4, "ftyp")) {
      var i = 0
      var moovOff = -1
      var moovEnd = -1
      while (i + 8 <= b.length && moovOff < 0) {
        val (hdr, total) = boxLen(b, i, b.length)
        if (hdr < 0 || total < hdr || i + total > b.length) return null
        if (is4cc(b, i + 4, "moov")) { moovOff = i + hdr; moovEnd = i + total.toInt }
        i += total.toInt
      }
      if (moovOff < 0) return null
      var timescale = -1L
      var duration = -1L
      var tracks = 0
      var w = 0L
      var h = 0L
      var j = moovOff
      while (j + 8 <= moovEnd) {
        val (hdr, total) = boxLen(b, j, moovEnd)
        if (hdr < 0 || total < hdr || j + total > moovEnd) return null
        val p = j + hdr // payload start
        if (is4cc(b, j + 4, "mvhd")) {
          val ver = u8(b, p)
          if (ver == 0) {
            if (p + 20 > moovEnd) return null
            timescale = be32(b, p + 12); duration = be32(b, p + 16)
          } else if (ver == 1) {
            if (p + 32 > moovEnd) return null
            timescale = be32(b, p + 20); duration = be64(b, p + 24)
          } else return null
        } else if (is4cc(b, j + 4, "trak")) {
          tracks += 1
          // children of trak: find tkhd; keep the first nonzero w x h
          var k = p
          val trakEnd = j + total.toInt
          while (k + 8 <= trakEnd) {
            val (h2, t2) = boxLen(b, k, trakEnd)
            if (h2 < 0 || t2 < h2 || k + t2 > trakEnd) return null
            if (is4cc(b, k + 4, "tkhd")) {
              val q = k + h2
              val ver = u8(b, q)
              // width/height: 16.16 fixed point at payload offset 76
              // (version 0) / 88 (version 1) — ISO 14496-12 §8.3.2
              val off = if (ver == 0) 76 else if (ver == 1) 88 else -1
              if (off < 0 || q + off + 8 > trakEnd) return null
              if (w == 0L && h == 0L) {
                w = be32(b, q + off) >> 16
                h = be32(b, q + off + 4) >> 16
              }
            }
            k += t2.toInt
          }
        }
        j += total.toInt
      }
      if (timescale <= 0 || duration < 0) return null
      return row("mp4", w, h, duration * 1000L / timescale, tracks)
    }

    // AVI: RIFF container with form type "AVI ", chunk walk to LIST/hdrl,
    // then inside it to avih (word-aligned, as in AudioMeta's WAV walk)
    if (b.length >= 12 && is4cc(b, 0, "RIFF") && is4cc(b, 8, "AVI ")) {
      // All offset advances computed in Long: a corrupt size near Int.MaxValue
      // must quarantine to NULL, never wrap negative into a live array index.
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (is4cc(b, i, "LIST") && i + 12 <= b.length && is4cc(b, i + 8, "hdrl")) {
          val listEnd = math.min(b.length.toLong, i.toLong + 8 + size).toInt
          var k = i + 12
          while (k + 8 <= listEnd) {
            val s2 = le32(b, k + 4)
            if (is4cc(b, k, "avih")) {
              if (s2 < 40 || k + 8 + 40 > listEnd) return null
              val p = k + 8
              val usPerFrame = le32(b, p)
              val frames = le32(b, p + 16)
              val streams = le32(b, p + 24)
              if (streams > Int.MaxValue) return null
              return row("avi", le32(b, p + 32), le32(b, p + 36),
                frames * usPerFrame / 1000L, streams.toInt)
            }
            val nextK = k.toLong + 8 + s2 + (s2 & 1)
            if (nextK <= k || nextK > listEnd) return null
            k = nextK.toInt
          }
          return null
        }
        val next = i.toLong + 8 + size + (size & 1)
        if (next <= i || next > b.length) return null
        i = next.toInt
      }
      return null
    }
    null
  }
}

/** avi_frames(binary) -> array<binary> — the MJPEG frame payloads out
  * of an AVI container (m26): m3's [[VideoMeta]] walk routes the
  * container, this walk hands each `00dc` chunk's bytes to
  * [[JpegPixelStats]] (MJPEG frames are baseline JPEGs), giving video
  * the pixel-level curation signal images got in x18 — via
  * posexplode + a per-ROW decode, never a per-element lambda.
  *
  * Strict scope (refuse-loudly, whole-blob NULL): RIFF/AVI framing
  * with word alignment throughout; the FIRST stream header must be
  * `vids` with handler `MJPG` (this is the MJPEG walk, not a general
  * demuxer); exactly one stream; inside `movi` only `00dc`/`00db`
  * video chunks (no interleaved audio in scope); the collected frame
  * count must EQUAL avih's dwTotalFrames (a container that lies about
  * its frame count is torn); `idx1` and standard `JUNK` padding are
  * skipped unread. Caps: 4096 frames, 256 MB total payload.
  */
case class AviFrames(child: Expression)
    extends UnaryKernel("avi_frames", KernelInput.Binary, ArrayType(BinaryType), "AviFrames.frames",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = AviFrames.frames(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AviFrames {
  private val MaxFrames = 4096
  private val MaxBytes = 256L * 1024 * 1024

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def is4cc(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  def frames(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (b == null || b.length < 12) return null
    if (!is4cc(b, 0, "RIFF") || !is4cc(b, 8, "AVI ")) return null
    var totalFrames = -1L
    var mjpeg = false
    var out: scala.collection.mutable.ArrayBuffer[Array[Byte]] = null
    var i = 12
    while (i + 8 <= b.length) {
      val size = le32(b, i + 4)
      if (is4cc(b, i, "LIST") && i + 12 <= b.length) {
        val listEnd = i.toLong + 8 + size
        if (listEnd > b.length) return null
        if (is4cc(b, i + 8, "hdrl")) {
          var k = i + 12
          while (k + 8 <= listEnd) {
            val s2 = le32(b, k + 4)
            if (is4cc(b, k, "avih")) {
              if (s2 < 40 || k + 8 + 40 > listEnd) return null
              totalFrames = le32(b, k + 8 + 16)
              if (le32(b, k + 8 + 24) != 1L) return null // exactly one stream
            } else if (is4cc(b, k, "LIST") && k + 12 <= listEnd &&
                is4cc(b, k + 8, "strl")) {
              // first child must be strh: fccType vids, handler MJPG
              val p = k + 12
              if (p + 16 > listEnd || !is4cc(b, p, "strh")) return null
              if (!is4cc(b, p + 8, "vids") || !is4cc(b, p + 12, "MJPG")) return null
              mjpeg = true
            }
            val nk = k.toLong + 8 + s2 + (s2 & 1)
            if (nk <= k || nk > listEnd) return null
            k = nk.toInt
          }
        } else if (is4cc(b, i + 8, "movi")) {
          if (totalFrames < 0 || !mjpeg) return null // hdrl must precede
          out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          var total = 0L
          var k = i + 12
          var lastOdd = false
          while (k + 8 <= listEnd) {
            val s2 = le32(b, k + 4)
            if (!is4cc(b, k, "00dc") && !is4cc(b, k, "00db")) return null
            if (k.toLong + 8 + s2 > listEnd) return null // torn chunk
            if (out.size >= MaxFrames) return null
            total += s2
            if (total > MaxBytes) return null
            out += java.util.Arrays.copyOfRange(b, k + 8, (k + 8 + s2).toInt)
            lastOdd = (s2 & 1) == 1
            val nk = k.toLong + 8 + s2 + (s2 & 1)
            if (nk <= k) return null
            k = nk.toInt
          }
          // the cursor must land EXACTLY on the declared LIST end; the
          // one-byte overrun some writers produce (final chunk's pad
          // byte not counted in the LIST size) is accepted ONLY when
          // the final chunk was odd-sized — keyed on that chunk's own
          // pad, never on the parity of the end offset
          if (k.toLong != listEnd && !(lastOdd && k.toLong == listEnd + 1)) return null
        }
      } else if (!is4cc(b, i, "idx1") && !is4cc(b, i, "JUNK"))
        return null // only the index and standard JUNK padding may appear
      val next = i.toLong + 8 + size + (size & 1)
      if (next <= i || next > b.length) return null
      i = next.toInt
    }
    if (out == null) return null // no movi list
    if (out.size.toLong != totalFrames) return null // frame-count lie
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray[Any])
  }
}
