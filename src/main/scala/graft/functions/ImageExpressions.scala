package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** image_meta(binary) -> struct(format, width, height, channels) — a REAL
  * image-container header parser (no stub): PNG (ISO/IEC 15948 §11.2.2
  * IHDR), JPEG/JFIF (ITU-T T.81 §B.2.2 SOFn frame headers), and GIF
  * (GIF87a/89a Logical Screen Descriptor). Pure header arithmetic over
  * the leading bytes — no image library, no pixel decode — which is
  * exactly the metadata-extraction shape a 100 TB media pipeline wants:
  * a codegen'd expression that reads a few hundred bytes per blob and
  * lets the projection drop the payload immediately (see
  * [[graft.operators.Multimodal]] for the operator-level plumbing).
  *
  * Unrecognized or truncated containers yield NULL (quarantine-friendly),
  * not an error: media corpora always carry stragglers, and a poison blob
  * must not kill a scan.
  */
case class ImageMeta(child: Expression)
    extends UnaryKernel("image_meta", KernelInput.Binary, ImageMeta.Schema, "ImageMeta.parse",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = ImageMeta.parse(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ImageMeta {
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  private def row(format: String, w: Long, h: Long, channels: Int): InternalRow = {
    // dimensions above Int.MaxValue (PNG allows 2^31-1 max anyway) -> null
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(format), w.toInt, h.toInt, channels))
  }

  /** Shared eval/codegen kernel; null for anything unrecognized. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // PNG: 8-byte signature, then the IHDR chunk (must be first):
    // 4B length | "IHDR" | width BE32 | height BE32 | bit depth | color type
    if (b.length >= 26 &&
        u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val channels = u8(b, 25) match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolour
        case 3 => 1 // indexed
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolour + alpha
        case _ => return null
      }
      return row("png", be32(b, 16), be32(b, 20), channels)
    }
    // JPEG: SOI then marker segments; walk to the first SOFn (C0-CF less
    // C4/C8/CC) and read precision | height BE16 | width BE16 | nComp
    if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return null // desynced marker stream
        var m = u8(b, i + 1)
        // fill bytes: consecutive FFs before the marker id
        var j = i + 1
        while (m == 0xff && j + 1 < b.length) { j += 1; m = u8(b, j) }
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          val seg = j + 1
          if (seg + 7 >= b.length) return null
          return row("jpeg", be16(b, seg + 5), be16(b, seg + 3), u8(b, seg + 7))
        }
        if (m == 0xd9 || m == 0xda) return null // EOI/SOS before any SOF
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          // TEM/RSTn are STANDALONE (ITU-T T.81 §B.1.1.3: no length
          // field); treating them as length-prefixed desynced the walk
          i = j + 1
        } else {
          if (seg0len(b, j + 1) < 2) return null
          i = j + 1 + seg0len(b, j + 1)
        }
      }
      return null
    }
    // GIF: "GIF87a"/"GIF89a" then the Logical Screen Descriptor (LE16 x2);
    // palette-indexed pixels render to RGB -> 3 channels
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      return row("gif", le16(b, 6), le16(b, 8), 3)
    }
    // WebP (Google WebP container spec / RFC 9649): RIFF | size | "WEBP",
    // then the first chunk decides the flavor:
    //  - "VP8 " lossy: 3-byte frame tag, keyframe start code 9D 01 2A,
    //    then LE16 width/height with 14 value bits (top 2 are scale)
    //  - "VP8L" lossless: 0x2F signature, then 28 bits LE packing
    //    (width-1 | height-1 << 14), bit 28 = alpha-is-used
    //  - "VP8X" extended: flags byte (bit 4 = alpha), 3 reserved bytes,
    //    then 24-bit LE canvas width-1 / height-1
    if (b.length >= 16 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == ' ') {
        if (b.length < 30) return null
        if (u8(b, 23) != 0x9d || u8(b, 24) != 0x01 || u8(b, 25) != 0x2a)
          return null // interframe or corrupt: no dimensions to read
        return row("webp", le16(b, 26) & 0x3fff, le16(b, 28) & 0x3fff, 3)
      }
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'L') {
        if (b.length < 25 || u8(b, 20) != 0x2f) return null
        val bits = u8(b, 21).toLong | (u8(b, 22).toLong << 8) |
          (u8(b, 23).toLong << 16) | (u8(b, 24).toLong << 24)
        val alpha = ((bits >>> 28) & 1L) == 1L
        return row("webp", 1L + (bits & 0x3fff), 1L + ((bits >>> 14) & 0x3fff),
          if (alpha) 4 else 3)
      }
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'X') {
        if (b.length < 30) return null
        val alpha = (u8(b, 20) & 0x10) != 0
        val w = 1L + (u8(b, 24) | (u8(b, 25) << 8) | (u8(b, 26) << 16))
        val h = 1L + (u8(b, 27) | (u8(b, 28) << 8) | (u8(b, 29) << 16))
        return row("webp", w, h, if (alpha) 4 else 3)
      }
      return null // a RIFF/WEBP container with an unknown first chunk
    }
    // TIFF (Adobe TIFF 6.0 §2): "II"+42LE or "MM"+42BE, 4-byte IFD0
    // offset, then 12-byte IFD entries: tag | type | count | value.
    // Inline values are LEFT-JUSTIFIED in the 4-byte value field and
    // byte-ordered by the file (so SHORT reads the first two bytes in
    // the file's order). Tags read: 256 ImageWidth, 257 ImageLength,
    // 277 SamplesPerPixel (TIFF default 1). Anything structurally off
    // (IFD out of bounds, missing dims) -> NULL quarantine, not a throw.
    if (b.length >= 8 &&
        ((b(0) == 'I' && b(1) == 'I' && u8(b, 2) == 0x2a && u8(b, 3) == 0) ||
         (b(0) == 'M' && b(1) == 'M' && u8(b, 2) == 0 && u8(b, 3) == 0x2a))) {
      val le = b(0) == 'I'
      def rd16(i: Int): Int = if (le) le16(b, i) else be16(b, i)
      def rd32(i: Int): Long = if (le) le32(b, i) else be32(b, i)
      val ifd = rd32(4)
      if (ifd < 8 || ifd + 2 > b.length) return null
      val n = rd16(ifd.toInt)
      if (ifd + 2 + 12L * n > b.length) return null
      var w = -1L; var h = -1L; var spp = 1
      var k = 0
      while (k < n) {
        val o = ifd.toInt + 2 + 12 * k
        val tag = rd16(o)
        val v: Long = rd16(o + 2) match {
          case 3 => rd16(o + 8) // SHORT, left-justified inline
          case 4 => rd32(o + 8) // LONG
          case _ => -1L         // other types carry no dims we read
        }
        tag match {
          case 256 => w = v
          case 257 => h = v
          case 277 => if (v > 0 && v <= 16) spp = v.toInt
          case _ => ()
        }
        k += 1
      }
      return row("tiff", w, h, spp)
    }
    null
  }

  private def seg0len(b: Array[Byte], i: Int): Int =
    if (i + 1 >= b.length) -1 else be16(b, i)
}

/** image_pixel_stats(binary) -> struct(width, height, channels,
  * n_pixels, pixel_sum, pixel_min, pixel_max) — REAL PNG pixel decode,
  * library-free: signature + chunk walk, IDAT streams inflated with the
  * JDK's zlib (`java.util.zip.Inflater` — in every JVM by spec), all
  * five scanline filters reconstructed per ISO/IEC 15948 §9 (None /
  * Sub / Up / Average / Paeth), exact integer statistics folded over
  * every reconstructed sample. The audio sibling is
  * [[AudioPcmStats]]; together they retire the "payload decode is
  * stubbed" caveat for one format per modality.
  *
  * Scope: 8-bit depth, greyscale (colour type 0, 1 channel) and
  * truecolour (type 2, 3 channels); both progressive layouts — method
  * 0 (sequential) and method 1 (Adam7 interlace, round 16: the raw
  * stream is the concatenation of 7 sub-images at the spec's pass
  * offsets, each filter-reconstructed independently; statistics are
  * order-free, so no deinterlace placement is needed — but the pass
  * DIMENSIONS must be exactly right or the stream length mismatches
  * and the decode refuses). Palette/alpha/16-bit NULL out (quarantine,
  * not error), as do: bad signature, missing/short IHDR, zero/negative
  * dimensions, a decoded size past the 64 MiB zip-bomb guard (a 100 TB
  * scan must bound hostile blobs BEFORE inflating), inflate failures
  * (including a wrong adler32 — the zlib checksum IS verified), a
  * stream that finishes short/long, and an out-of-range filter byte.
  * Chunk CRC32s are NOT verified (the adler covers the pixel payload;
  * skipping CRCs is the standard fast-path decoder trade, and a
  * corrupted header surfaces as a structural failure anyway).
  */
case class ImagePixelStats(child: Expression)
    extends UnaryKernel("image_pixel_stats", KernelInput.Binary, ImagePixelStats.Schema,
      "ImagePixelStats.decode", quarantines = true) {
  override def nullSafeEval(v: Any): Any = ImagePixelStats.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ImagePixelStats {
  val Schema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_pixels", LongType),
    StructField("pixel_sum", LongType),
    StructField("pixel_min", IntegerType),
    StructField("pixel_max", IntegerType)))

  /** Decoded-size cap: refuse before inflating anything larger. */
  val MaxDecodedBytes: Long = 64L * 1024 * 1024

  private val Signature =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def isType(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  /** Shared eval/codegen kernel; null for anything not decodable. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 8 + 25) return null
    var i = 0
    while (i < 8) { if (b(i) != Signature(i)) return null; i += 1 }
    // IHDR must be the first chunk (spec §11.2.2)
    if (be32(b, 8) != 13L || !isType(b, 12, "IHDR")) return null
    val w = be32(b, 16)
    val h = be32(b, 20)
    val bitDepth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    // dimension sanity BEFORE any size arithmetic: keeps the
    // (rowBytes + 1) * h product far from Long overflow
    if (w <= 0 || h <= 0 || w > (1 << 24) || h > (1 << 24) ||
      bitDepth != 8 || interlace > 1) return null
    val channels = colorType match {
      case 0 => 1 // greyscale
      case 2 => 3 // truecolour
      case _ => return null
    }
    // pass geometry: one full-frame pass sequential, the 7 Adam7
    // sub-images interlaced (spec §8.2); empty passes contribute
    // NO scanlines (not even filter bytes)
    val passes: Array[(Long, Long)] =
      if (interlace == 0) Array((w, h))
      else Adam7.map { case (x0, y0, dx, dy) =>
        (math.max(0L, (w - x0 + dx - 1) / dx),
          math.max(0L, (h - y0 + dy - 1) / dy))
      }.filter(p => p._1 > 0 && p._2 > 0)
    val total = passes.map { case (pw, ph) => (pw * channels + 1) * ph }.sum
    if (total > MaxDecodedBytes) return null
    // chunk walk: concatenate IDAT payloads, stop at IEND / end of blob
    val idat = new java.io.ByteArrayOutputStream()
    var off = 8 + 25 // past IHDR (len 4 + type 4 + data 13 + crc 4)
    var done = false
    while (!done && off + 8 <= b.length) {
      val len = be32(b, off)
      if (len > Int.MaxValue - 12 || off + 12 + len > b.length) return null
      if (isType(b, off + 4, "IDAT")) idat.write(b, off + 8, len.toInt)
      else if (isType(b, off + 4, "IEND")) done = true
      off += 12 + len.toInt
    }
    if (idat.size() == 0) return null
    // inflate: the zlib wrapper verifies adler32 over the scanline bytes
    val raw = new Array[Byte](total.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      var progress = true
      while (progress && got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        got += n
        progress = n > 0
      }
      // a final zero-length call lets the Inflater consume the trailing
      // adler32 and flip finished() (it reports the last data bytes and
      // the checksum verification in separate steps)
      if (!inf.finished()) inf.inflate(raw, 0, 0)
      if (!inf.finished() || got != raw.length) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    // filter reconstruction, spec §9 (bpp = channels at bit depth 8),
    // one independent sub-image per pass
    var sum = 0L
    var min = 256
    var max = -1
    var base = 0
    var pi = 0
    while (pi < passes.length) {
      val (pw, ph) = passes(pi)
      val stride = (pw * channels).toInt
      val recon = new Array[Int](stride) // current row, reconstructed
      val prior = new Array[Int](stride) // previous row, reconstructed
      var y = 0
      while (y < ph) {
        val f = raw(base) & 0xff
        if (f > 4) return null
        var x = 0
        while (x < stride) {
          val rw = raw(base + 1 + x) & 0xff
          val a = if (x >= channels) recon(x - channels) else 0
          val up = prior(x)
          val c = if (x >= channels && y > 0) prior(x - channels) else 0
          val v = f match {
            case 0 => rw
            case 1 => rw + a
            case 2 => rw + (if (y > 0) up else 0)
            case 3 => rw + (a + (if (y > 0) up else 0)) / 2
            case 4 =>
              val bb = if (y > 0) up else 0
              rw + paeth(a, bb, c)
          }
          recon(x) = v & 0xff
          sum += recon(x)
          if (recon(x) < min) min = recon(x)
          if (recon(x) > max) max = recon(x)
          x += 1
        }
        System.arraycopy(recon, 0, prior, 0, stride)
        base += stride + 1
        y += 1
      }
      pi += 1
    }
    new GenericInternalRow(Array[Any](
      w.toInt, h.toInt, channels, w * h, sum, min, max))
  }

  /** Adam7 pass offsets/increments (x0, y0, dx, dy) — spec §8.2. */
  private val Adam7: Array[(Long, Long, Long, Long)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }
}

/** gif_pixel_stats(binary) -> struct(width, height, n_pixels, idx_sum,
  * idx_min, idx_max) — REAL GIF pixel decode, library-free: header +
  * Logical Screen Descriptor walk, extension blocks skipped, the FIRST
  * image's LZW stream (GIF89a spec Appendix F; Welch 1984) decoded with
  * the full variable-width dictionary algorithm (KwKwK case, code-width
  * growth to 12 bits, deferred-clear regime where a full table stops
  * growing until the next Clear). Statistics are over the palette
  * INDICES — the decoded sample stream itself — so no color table is
  * required or read; interlacing only permutes rows and sum/min/max are
  * order-independent, so interlaced images decode identically.
  *
  * NULL quarantine (torn-blob posture, like [[ImagePixelStats]]): bad
  * signature, truncated descriptor/sub-block (a declared sub-block
  * length overrunning the buffer), zero dimensions, a pixel count past
  * the 64M guard, an out-of-order code, a stream ending before the
  * pixel count is met or carrying pixels past it, or a missing
  * End-Of-Information code.
  */
case class GifPixelStats(child: Expression)
    extends UnaryKernel("gif_pixel_stats", KernelInput.Binary, GifPixelStats.Schema,
      "GifPixelStats.decode", quarantines = true) {
  override def nullSafeEval(v: Any): Any = GifPixelStats.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GifPixelStats {
  val Schema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_pixels", LongType),
    StructField("idx_sum", LongType),
    StructField("idx_min", IntegerType),
    StructField("idx_max", IntegerType)))

  /** Pixel-count cap: refuse before allocating anything larger. */
  val MaxPixels: Long = 64L * 1024 * 1024

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Shared eval/codegen kernel; null for anything not decodable. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 14) return null
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return null
    val gflags = b(10) & 0xff
    var off = 13
    if ((gflags & 0x80) != 0) off += 3 * (1 << ((gflags & 7) + 1))
    // block walk to the first image descriptor
    var w = -1
    var h = -1
    var found = false
    while (!found) {
      if (off >= b.length) return null
      (b(off) & 0xff) match {
        case 0x2c =>
          if (off + 10 > b.length) return null
          w = le16(b, off + 5); h = le16(b, off + 7)
          val iflags = b(off + 9) & 0xff
          off += 10
          if ((iflags & 0x80) != 0) off += 3 * (1 << ((iflags & 7) + 1))
          found = true
        case 0x21 => // extension: introducer + label, then sub-blocks
          off += 2
          var bs = 1
          while (bs != 0) {
            if (off >= b.length) return null
            bs = b(off) & 0xff; off += 1
            if (off + bs > b.length) return null
            off += bs
          }
        case _ => return null // trailer before any image, or junk
      }
    }
    if (w <= 0 || h <= 0) return null
    val nPix = w.toLong * h.toLong
    if (nPix > MaxPixels) return null
    if (off >= b.length) return null
    val minCode = b(off) & 0xff
    off += 1
    if (minCode < 2 || minCode > 8) return null
    // concatenate the LZW sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var bs = 1
    while (bs != 0) {
      if (off >= b.length) return null
      bs = b(off) & 0xff; off += 1
      if (off + bs > b.length) return null
      data.write(b, off, bs); off += bs
    }
    val d = data.toByteArray
    // LZW decode (prefix/suffix/first-char tables; chains are acyclic
    // because prefix(n) < n by construction, so no cycle guard needed)
    val Clear = 1 << minCode
    val Eoi = Clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val firstCh = new Array[Int](4096)
    var i = 0
    while (i < Clear) { prefix(i) = -1; suffix(i) = i; firstCh(i) = i; i += 1 }
    var nextCode = Eoi + 1
    var codeSize = minCode + 1
    var bitPos = 0L
    val totalBits = d.length.toLong * 8
    var prev = -1
    var produced = 0L
    var sum = 0L
    var mn = 256
    var mx = -1
    val stack = new Array[Int](4097)
    var eoiSeen = false
    var bad = false
    var done = false
    while (!done) {
      // read one LSB-first code of the current width
      if (bitPos + codeSize > totalBits) { bad = true; done = true }
      else {
        var code = 0
        var k = 0
        while (k < codeSize) {
          val gi = bitPos + k
          if ((d((gi >> 3).toInt) & (1 << (gi & 7).toInt)) != 0) code |= 1 << k
          k += 1
        }
        bitPos += codeSize
        if (code == Clear) {
          nextCode = Eoi + 1; codeSize = minCode + 1; prev = -1
        } else if (code == Eoi) {
          eoiSeen = true; done = true
        } else {
          var emit = code
          var sp = 0
          if (code >= nextCode) {
            // KwKwK: only the very next unassigned code is legal
            if (code != nextCode || prev < 0) { bad = true; done = true }
            else { stack(sp) = firstCh(prev); sp += 1; emit = prev }
          }
          if (!done) {
            var cc = emit
            while (cc >= Clear + 2) { stack(sp) = suffix(cc); sp += 1; cc = prefix(cc) }
            stack(sp) = suffix(cc); sp += 1
            produced += sp
            if (produced > nPix) { bad = true; done = true }
            else {
              val first = stack(sp - 1) // first char of this output string
              var j = sp - 1
              while (j >= 0) {
                val px = stack(j)
                sum += px
                if (px < mn) mn = px
                if (px > mx) mx = px
                j -= 1
              }
              if (prev >= 0 && nextCode < 4096) {
                prefix(nextCode) = prev
                suffix(nextCode) = first
                firstCh(nextCode) = firstCh(prev)
                nextCode += 1
                if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
              }
              prev = code
            }
          }
        }
      }
    }
    if (bad || !eoiSeen || produced != nPix) return null
    new GenericInternalRow(Array[Any](w, h, nPix, sum, mn, mx))
  }
}

/** bmp_pixel_stats(binary) -> struct(width, height, n_pixels, sum_b,
  * sum_g, sum_r, pixel_min, pixel_max) — a REAL Windows BMP payload
  * decoder (ISO-documented BITMAPINFOHEADER layout, public): 24-bit
  * uncompressed BI_RGB only, the dominant interchange shape. Parses the
  * 14-byte file header + 40-byte DIB header, walks the 4-byte-aligned
  * scanlines (bottom-up for positive heights, top-down for negative —
  * stats are row-order invariant but the stride/padding walk is not),
  * and folds exact integer per-channel sums plus a global min/max over
  * the pixel bytes, SKIPPING the padding. Everything else — wrong
  * magic, planes != 1, bpp != 24, any compression, a data offset or
  * pixel array that overruns the blob, absurd dimensions — quarantines
  * to NULL (the m-family posture: a poison blob must not kill a scan).
  */
case class BmpPixelStats(child: Expression)
    extends UnaryKernel("bmp_pixel_stats", KernelInput.Binary, BmpPixelStats.Schema,
      "BmpPixelStats.decode", quarantines = true) {
  override def nullSafeEval(v: Any): Any = BmpPixelStats.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BmpPixelStats {
  val Schema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_pixels", LongType),
    StructField("sum_b", LongType),
    StructField("sum_g", LongType),
    StructField("sum_r", LongType),
    StructField("pixel_min", IntegerType),
    StructField("pixel_max", IntegerType)))

  /** Pixel-array cap — same refuse-before-walking posture as the PNG
    * inflater's 64 MiB bound.
    */
  val MaxPixelBytes: Long = 64L * 1024 * 1024

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Shared eval/codegen kernel; null for anything not decodable. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 54) return null
    if (b(0) != 'B' || b(1) != 'M') return null
    val dataOffset = le32(b, 10)
    val dibSize = le32(b, 14)
    if (dibSize < 40) return null // BITMAPCOREHEADER et al. out of scope
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val planes = le16(b, 26)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (w <= 0 || hRaw == 0 || w > (1 << 20)) return null
    val h = math.abs(hRaw)
    if (h > (1 << 20)) return null
    if (planes != 1 || bpp != 24 || compression != 0) return null
    val stride = ((w * 3L + 3L) / 4L) * 4L
    val total = stride * h
    if (total > MaxPixelBytes) return null
    if (dataOffset < 54 || dataOffset.toLong + total > b.length) return null
    var sb = 0L; var sg = 0L; var sr = 0L
    var mn = 256; var mx = -1
    var row = 0
    while (row < h) {
      var base = dataOffset + row * stride
      var x = 0
      while (x < w) {
        val vb = b(base.toInt) & 0xff
        val vg = b(base.toInt + 1) & 0xff
        val vr = b(base.toInt + 2) & 0xff
        sb += vb; sg += vg; sr += vr
        if (vb < mn) mn = vb; if (vg < mn) mn = vg; if (vr < mn) mn = vr
        if (vb > mx) mx = vb; if (vg > mx) mx = vg; if (vr > mx) mx = vr
        base += 3
        x += 1
      }
      row += 1
    }
    new GenericInternalRow(Array[Any](w, h, w.toLong * h, sb, sg, sr, mn, mx))
  }
}

/** bmp_ahash(binary) -> bigint — a PERCEPTUAL average-hash over the
  * same 24-bit BI_RGB BMP payload [[BmpPixelStats]] walks (the classic
  * aHash construction, public: downsample to an 8x8 grid, threshold
  * each cell against the global mean, pack 64 bits) — the image
  * counterpart of the text SimHash: near-identical images differ in a
  * few bits, so the d4 chunk-blocking + hamming verify turns a media
  * corpus into near-dup pairs without any pairwise pixel diff.
  *
  * Exact-integer construction (both engines must agree bit-for-bit):
  * per pixel the grayscale proxy is the raw CHANNEL SUM b+g+r (a
  * monotone stand-in for the mean — thresholding is scale-free); cell
  * (cy, cx) of the 8x8 grid collects storage row r into cy = r*8 div h
  * and column x into cx = x*8 div w (integer floors; cells are
  * non-empty iff w, h >= 8 — smaller images quarantine to NULL);
  * bit(cy, cx) = 1 iff cellSum * nTotal > totalSum * nCell (the
  * cross-multiplied strict mean comparison — no division anywhere).
  * Cells index bit cy*8+cx of the result. Geometry is over STORAGE
  * rows (the hash is a function of the bytes, not the display
  * orientation; same-pipeline images share orientation, which is the
  * near-dup use case). Every [[BmpPixelStats]] quarantine rule applies
  * unchanged.
  */
case class BmpAhash(child: Expression)
    extends UnaryKernel("bmp_ahash", KernelInput.Binary, LongType, "BmpAhash.hash64",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = BmpAhash.hash64(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BmpAhash {

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Shared eval/codegen kernel; null for anything not decodable or
    * smaller than the 8x8 grid.
    */
  def hash64(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 54) return null
    if (b(0) != 'B' || b(1) != 'M') return null
    val dataOffset = le32(b, 10)
    val dibSize = le32(b, 14)
    if (dibSize < 40) return null
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val planes = le16(b, 26)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (w < 8 || hRaw == 0 || w > (1 << 20)) return null
    val h = math.abs(hRaw)
    if (h < 8 || h > (1 << 20)) return null
    if (planes != 1 || bpp != 24 || compression != 0) return null
    val stride = ((w * 3L + 3L) / 4L) * 4L
    val total = stride * h
    if (total > BmpPixelStats.MaxPixelBytes) return null
    if (dataOffset < 54 || dataOffset.toLong + total > b.length) return null
    val cellSum = new Array[Long](64)
    val cellN = new Array[Long](64)
    var totalSum = 0L
    var row = 0
    while (row < h) {
      val cy = row * 8 / h
      var base = dataOffset + row * stride
      var x = 0
      while (x < w) {
        val g = (b(base.toInt) & 0xff) + (b(base.toInt + 1) & 0xff) +
          (b(base.toInt + 2) & 0xff)
        val cell = cy * 8 + x * 8 / w
        cellSum(cell) += g
        cellN(cell) += 1L
        totalSum += g
        base += 3
        x += 1
      }
      row += 1
    }
    val nTotal = w.toLong * h
    var hash = 0L
    var cell = 0
    while (cell < 64) {
      // strict cross-multiplied mean comparison — division-free, exact
      if (cellSum(cell) * nTotal > totalSum * cellN(cell))
        hash |= (1L << cell)
      cell += 1
    }
    java.lang.Long.valueOf(hash)
  }
}

/** gif_frames(binary) -> struct(n_frames, total_delay_cs, width,
  * height) — the ANIMATED-GIF walk [[GifPixelStats]]'s first-image
  * decode stops short of: frame count and total duration are the
  * routing facts an animation needs, and they come from walking every
  * block to the trailer — image descriptors counted (local color
  * tables and LZW sub-blocks SKIPPED by length, never decoded, so a
  * 10k-frame GIF costs its block count, not its pixels), Graphic
  * Control Extension delays (GIF89a spec §23, centiseconds) summed.
  *
  * Strict scope (refuse-loudly): valid header + LSD, every block
  * well-formed, a 0x3B trailer present with NOTHING after it (exact
  * cover), at least one frame, GCE data sub-block exactly 4 bytes.
  */
case class GifFrames(child: Expression)
    extends UnaryKernel("gif_frames", KernelInput.Binary, GifFrames.Schema, "GifFrames.decode",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = GifFrames.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GifFrames {
  val Schema: StructType = StructType(Seq(
    StructField("n_frames", LongType),
    StructField("total_delay_cs", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Skip a sub-block chain; returns the offset past the 0x00
    * terminator, or -1 if torn.
    */
  private def skipSubBlocks(b: Array[Byte], start: Int): Int = {
    var off = start
    var bs = 1
    while (bs != 0) {
      if (off >= b.length) return -1
      bs = b(off) & 0xff; off += 1
      if (off + bs > b.length) return -1
      off += bs
    }
    off
  }

  /** Shared eval/codegen kernel; null on ANY malformation. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 14) return null
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return null
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w <= 0 || h <= 0) return null
    val gflags = b(10) & 0xff
    var off = 13
    if ((gflags & 0x80) != 0) off += 3 * (1 << ((gflags & 7) + 1))
    var frames = 0L
    var delay = 0L
    while (true) {
      if (off >= b.length) return null // fell off without a trailer
      (b(off) & 0xff) match {
        case 0x3b => // trailer: exact cover
          if (off + 1 != b.length || frames == 0) return null
          return new GenericInternalRow(Array[Any](frames, delay, w, h))
        case 0x2c => // image descriptor: count, skip LCT + LZW data
          if (off + 10 > b.length) return null
          val iflags = b(off + 9) & 0xff
          off += 10
          if ((iflags & 0x80) != 0) off += 3 * (1 << ((iflags & 7) + 1))
          if (off >= b.length) return null
          off += 1 // LZW minimum code size
          off = skipSubBlocks(b, off)
          if (off < 0) return null
          frames += 1
        case 0x21 => // extension
          if (off + 2 > b.length) return null
          val label = b(off + 1) & 0xff
          if (label == 0xf9) {
            // GCE: exactly one 4-byte data sub-block, delay at bytes 1-2
            if (off + 7 > b.length || (b(off + 2) & 0xff) != 4) return null
            delay += le16(b, off + 4)
          }
          off = skipSubBlocks(b, off + 2)
          if (off < 0) return null
        case _ => return null // junk block introducer
      }
    }
    null // unreachable
  }
}
