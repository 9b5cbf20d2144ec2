package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OGG container walk (m27) — the other half of the round-16 "what's
  * missing" lossless/compressed-audio line beside [[FlacStreaminfo]]:
  * podcast and speech corpora ship Opus-in-OGG (and legacy Vorbis).
  * `ogg_meta` walks EVERY page per RFC 3533 — capture pattern,
  * version 0, the page CRC (poly 0x04C11DB7, init 0, unreflected —
  * NOT zlib's crc32) verified with the checksum field zeroed, lacing
  * tables bounds-checked, exact cover to the blob end — and reads the
  * first packet's identification header: `OpusHead` (RFC 7845 §5.1:
  * version, channels, pre-skip, input sample rate) or `\x01vorbis`
  * (Vorbis I §4.2.2: version 0, channels, rate). Audio packets are
  * never decoded (the header-walk posture).
  *
  * UNITS (RFC 7845 §4 vs Vorbis I §A.2): `total_samples` is the EOS
  * granule position AS STORED. For Opus that is in 48 kHz units and
  * INCLUDES `pre_skip` (also surfaced, 48 kHz units), regardless of
  * the input `sample_rate` — duration_sec = (total_samples −
  * pre_skip) / 48000.0. For Vorbis the granule counts samples at
  * `sample_rate` and `pre_skip` is 0 — duration_sec = total_samples /
  * sample_rate. Downstream duration math must branch on `codec`.
  *
  * Strict scope (whole-blob NULL): first page must carry BOS and the
  * whole ID header; last page must carry EOS with a real granule
  * position (total samples); ONE logical bitstream only (a second
  * serial — multiplexed — refuses); version != 0, CRC mismatch, torn
  * lacing/payload, unknown codec all refuse. Caps: 65536 pages.
  *
  * [[OggCrc]] exposes the page CRC so fixtures (and any OGG writer
  * built on the engine) can splice real checksums — the same role the
  * built-in crc32 plays for the gzip gates.
  */
case class OggMeta(child: Expression)
    extends UnaryKernel("ogg_meta", KernelInput.Binary, OggMeta.Schema, "OggMeta.walk",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = OggMeta.walk(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class OggCrc(child: Expression)
    extends UnaryExpression {
  override def prettyName: String = "ogg_crc"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    OggMeta.crc(v.asInstanceOf[Array[Byte]], 0, v.asInstanceOf[Array[Byte]].length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.OggMeta.crc($c, 0, $c.length);
      ${ev.isNull} = false;
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object OggMeta {
  val Schema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("pre_skip", IntegerType),
    StructField("total_samples", LongType),
    StructField("n_pages", IntegerType)))

  private val MaxPages = 65536

  /** RFC 3533 page CRC: poly 0x04C11DB7, init 0, no reflection, no
    * final xor (deliberately NOT java.util.zip.CRC32).
    */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04C11DB7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  def crc(b: Array[Byte], off: Int, len: Int): Long = {
    var c = 0
    var i = off
    val end = off + len
    while (i < end) {
      c = (c << 8) ^ CrcTable(((c >>> 24) ^ (b(i) & 0xFF)) & 0xFF)
      i += 1
    }
    c & 0xFFFFFFFFL
  }

  private def u8(b: Array[Byte], p: Int): Int = b(p) & 0xFF
  private def le16(b: Array[Byte], p: Int): Int = u8(b, p) | (u8(b, p + 1) << 8)
  private def le32(b: Array[Byte], p: Int): Long =
    (u8(b, p) | (u8(b, p + 1) << 8) | (u8(b, p + 2) << 16)).toLong |
      ((u8(b, p + 3) & 0xFFL) << 24)
  private def le64(b: Array[Byte], p: Int): Long =
    le32(b, p) | (le32(b, p + 4) << 32)

  def walk(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 28) return null
    var p = 0
    var pages = 0
    var serial = -1L
    var lastGranule = -1L
    var sawBos = false
    var sawEos = false
    var codec: String = null
    var channels = -1
    var rate = -1L
    var preSkip = 0
    while (p < b.length) {
      if (p + 27 > b.length) return null
      if (b(p) != 'O' || b(p + 1) != 'g' || b(p + 2) != 'g' || b(p + 3) != 'S')
        return null
      if (u8(b, p + 4) != 0) return null // stream structure version
      val hdrType = u8(b, p + 5)
      val granule = le64(b, p + 6)
      val ser = le32(b, p + 14)
      val nSegs = u8(b, p + 26)
      if (p + 27 + nSegs > b.length) return null
      var payload = 0
      var i = 0
      while (i < nSegs) { payload += u8(b, p + 27 + i); i += 1 }
      val pageLen = 27 + nSegs + payload
      if (p + pageLen > b.length) return null // torn payload
      // CRC over the page with the checksum field read as zero
      var c = 0L
      c = crcZeroed(b, p, pageLen)
      if (c != le32(b, p + 22)) return null // corrupt page: refuse whole
      if (pages == 0) {
        if ((hdrType & 0x02) == 0) return null // first page must be BOS
        if ((hdrType & 0x01) != 0) return null // ...and not a continuation
        serial = ser
        sawBos = true
        // identification header = the first page's whole payload
        val q = p + 27 + nSegs
        if (payload >= 19 && b(q) == 'O' && b(q + 1) == 'p' && b(q + 2) == 'u' &&
            b(q + 3) == 's' && b(q + 4) == 'H' && b(q + 5) == 'e' &&
            b(q + 6) == 'a' && b(q + 7) == 'd') {
          if (u8(b, q + 8) != 1) return null // OpusHead version
          codec = "opus"
          channels = u8(b, q + 9)
          preSkip = le16(b, q + 10) // RFC 7845 §5.1: 48 kHz samples
          rate = le32(b, q + 12) // input sample rate
        } else if (payload >= 30 && u8(b, q) == 0x01 && b(q + 1) == 'v' &&
            b(q + 2) == 'o' && b(q + 3) == 'r' && b(q + 4) == 'b' &&
            b(q + 5) == 'i' && b(q + 6) == 's') {
          if (le32(b, q + 7) != 0L) return null // vorbis_version
          codec = "vorbis"
          channels = u8(b, q + 11)
          rate = le32(b, q + 12)
          if (u8(b, q + 29) == 0 && payload == 30) return null // framing bit
        } else return null // unknown codec: out of scope
        if (channels < 1 || rate <= 0 || rate > Int.MaxValue) return null
      } else {
        if (ser != serial) return null // multiplexed: out of scope
        if ((hdrType & 0x02) != 0) return null // a second BOS is torn
      }
      if ((hdrType & 0x04) != 0) {
        sawEos = true
        if (granule < 0) return null // EOS must state the total
        lastGranule = granule
        if (p + pageLen != b.length) return null // bytes after EOS
      }
      pages += 1
      if (pages > MaxPages) return null
      p += pageLen
    }
    if (!sawBos || !sawEos) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(codec), channels, rate.toInt, preSkip,
      lastGranule, pages))
  }

  /** Page CRC with bytes 22-25 (the stored checksum) read as zero. */
  private def crcZeroed(b: Array[Byte], off: Int, len: Int): Long = {
    var c = 0
    var i = 0
    while (i < len) {
      val v = if (i >= 22 && i < 26) 0 else b(off + i) & 0xFF
      c = (c << 8) ^ CrcTable(((c >>> 24) ^ v) & 0xFF)
      i += 1
    }
    c & 0xFFFFFFFFL
  }
}
