package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.operators.Multimodal.{FakeCodec, MediaRow}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def blob(kind: String, w: Int, h: Int, frames: Int, seed: Byte) =
    FakeCodec.encode(kind, w, h, frames,
      Array.tabulate(w * h * math.max(1, frames))(i => ((i + seed) % 251).toByte))

  private def mediaDs = {
    import spark.implicits._
    Seq(
      MediaRow(1L, blob("image", 64, 48, 1, 1)),
      MediaRow(2L, blob("audio", 16000, 1, 1, 2)),
      MediaRow(3L, blob("video", 32, 24, 10, 3)),
      MediaRow(4L, blob("image", 64, 48, 1, 1))) // exact dup of 1
      .toDS()
  }

  test("decodeMeta extracts typed metadata and payload size") {
    val rows = Multimodal.decodeMeta(mediaDs).collect().sortBy(_.media_id)
    assert(rows.map(r => (r.media_id, r.kind, r.width, r.height, r.nFrames)) ===
      Array((1L, "image", 64, 48, 1), (2L, "audio", 16000, 1, 1),
        (3L, "video", 32, 24, 10), (4L, "image", 64, 48, 1)))
    assert(rows.forall(_.payload_size > 0))
  }

  test("feature extraction is deterministic and unit-norm; dup blobs -> identical vectors") {
    val f1 = Multimodal.extractFeatures(mediaDs, 16).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(mediaDs, 16).collect().sortBy(_.media_id)
    assert(f1.map(_.features.toSeq) === f2.map(_.features.toSeq))
    assert(f1(0).features.toSeq === f1(3).features.toSeq) // ids 1 and 4 are dups
    val norm = math.sqrt(f1.head.features.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("resize rewrites dimensions and scales payload") {
    val out = Multimodal.resize(mediaDs, 32, 24).collect().sortBy(_.media_id)
    val metas = out.map(r => FakeCodec.decodeMeta(r.bytes))
    assert(metas.forall(m => m.width == 32 && m.height == 24))
    // image payload shrinks ~4x for the 64x48 -> 32x24 case
    val origLen = 64 * 48
    val newLen = FakeCodec.payload(out.head.bytes).length
    assert(newLen === origLen / 4)
  }

  test("frame sampling explodes videos into evenly-spaced image frames, passes others through") {
    val frames = Multimodal.sampleFrames(mediaDs, 4).collect()
    val byId = frames.groupBy(_.media_id)
    assert(byId(1L).length === 1 && byId(2L).length === 1)
    assert(byId(3L).length === 4)
    assert(byId(3L).map(_.frame_idx).sorted === Array(0, 2, 5, 7))
    byId(3L).foreach(f => assert(FakeCodec.decodeMeta(f.bytes).kind === "image"))
  }

  test("media near-dup via features + cosine pairs finds the planted dup only") {
    val pairs = Multimodal.nearDupMedia(mediaDs, 32, minSim = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs === Array((1L, 4L)))
  }

  // ---- REAL container headers (round 6): build a fully valid PNG with
  // java.util.zip (correct chunk CRCs + deflated IDAT — any viewer would
  // open it), a spec-shaped JPEG marker stream, and a GIF89a descriptor.

  /** A real (decodable) PNG: w x h, RGBA, all-gray pixels. */
  private def realPng(w: Int, h: Int): Array[Byte] = {
    import java.io.ByteArrayOutputStream
    import java.util.zip.{CRC32, Deflater}
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(tag: String, body: Array[Byte]): Unit = {
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(be32(body.length))
      val tb = tag.getBytes("US-ASCII")
      out.write(tb); out.write(body)
      val crc = new CRC32(); crc.update(tb); crc.update(body)
      out.write(be32(crc.getValue.toInt))
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(6.toByte) // bit depth 8, RGBA
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    chunk("IHDR", ihdr)
    // raw scanlines: filter byte 0 + w RGBA pixels per row
    val raw = new Array[Byte](h * (1 + 4 * w))
    var i = 0
    while (i < raw.length) { raw(i) = if (i % (1 + 4 * w) == 0) 0 else 127.toByte; i += 1 }
    val d = new Deflater(); d.setInput(raw); d.finish()
    val comp = new ByteArrayOutputStream()
    val buf = new Array[Byte](512)
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** JPEG marker stream: SOI, APP0 (JFIF), DQT filler, SOF0 frame header. */
  private def jpegHeader(w: Int, h: Int, comps: Int): Array[Byte] = {
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((body.length + 2) >>> 8).toByte, ((body.length + 2) & 0xff).toByte) ++ body
    val app0 = seg(0xe0, "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dqt = seg(0xdb, Array.fill[Byte](65)(1))
    val sofBody = Array[Byte](8,
      (h >>> 8).toByte, (h & 0xff).toByte, (w >>> 8).toByte, (w & 0xff).toByte,
      comps.toByte) ++ Array.fill[Byte](3 * comps)(0x11)
    Array(0xff.toByte, 0xd8.toByte) ++ app0 ++ dqt ++ seg(0xc0, sofBody)
  }

  private def gifHeader(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ Array[Byte](
      (w & 0xff).toByte, (w >>> 8).toByte, (h & 0xff).toByte, (h >>> 8).toByte,
      0, 0, 0)

  test("image_meta parses real PNG/JPEG/GIF headers; garbage and GRFT blobs yield NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, realPng(640, 480)),
      (2L, jpegHeader(1024, 768, 3)),
      (3L, gifHeader(320, 200)),
      (4L, blob("image", 64, 48, 1, 1)),           // GRFT: not a real container
      (5L, "not an image at all".getBytes("UTF-8")),
      (6L, realPng(1, 1).take(20)))                // truncated PNG
      .toDF("media_id", "bytes")
    val got = Multimodal.imageMeta(df, "media_id", "bytes")
      .selectExpr("media_id", "meta.format", "meta.width", "meta.height", "meta.channels")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got(1L) === ("png", 640, 480, 4))
    assert(got(2L) === ("jpeg", 1024, 768, 3))
    assert(got(3L) === ("gif", 320, 200, 3))
    assert(got(4L) === null)
    assert(got(5L) === null)
    assert(got(6L) === null)
    // the PNG really is a valid PNG: java's ImageIO-free sanity check —
    // IDAT inflates back to the exact scanline byte count
    val png = realPng(3, 2)
    val idatStart = {
      var i = 8
      while (!(png(i + 4) == 'I' && png(i + 5) == 'D' && png(i + 6) == 'A' && png(i + 7) == 'T'))
        i += 8 + ((png(i) & 0xff) << 24 | (png(i + 1) & 0xff) << 16 |
          (png(i + 2) & 0xff) << 8 | (png(i + 3) & 0xff)) + 4
      i
    }
    val idatLen = (png(idatStart) & 0xff) << 24 | (png(idatStart + 1) & 0xff) << 16 |
      (png(idatStart + 2) & 0xff) << 8 | (png(idatStart + 3) & 0xff)
    val inf = new java.util.zip.Inflater()
    inf.setInput(png, idatStart + 8, idatLen)
    val outBuf = new Array[Byte](1024)
    val n = inf.inflate(outBuf)
    assert(n === 2 * (1 + 4 * 3)) // h * (filter byte + w RGBA pixels)
  }

  /** RIFF/WAVE with a junk chunk BEFORE fmt (odd-sized, so the walk must
    * word-align) — exercises the chunk scan, not just a fixed layout.
    */
  private def wavHeader(ch: Int, sr: Int, bits: Int, junkLen: Int = 0): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    val byteRate = sr * ch * bits / 8
    val junk =
      if (junkLen == 0) Array.empty[Byte]
      else "JUNK".getBytes("US-ASCII") ++ le32(junkLen) ++
        Array.fill[Byte](junkLen + (junkLen & 1))(7) // pad byte when odd
    "RIFF".getBytes("US-ASCII") ++ le32(36) ++ "WAVE".getBytes("US-ASCII") ++
      junk ++ "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(ch) ++
      le32(sr) ++ le32(byteRate) ++ le16(ch * bits / 8) ++ le16(bits)
  }

  private def mp3Header(bitrateIdx: Int, srIdx: Int, mode: Int): Array[Byte] =
    Array(0xff.toByte, 0xfb.toByte,
      ((bitrateIdx << 4) | (srIdx << 2)).toByte, (mode << 6).toByte)

  test("image_meta parses all three WebP flavors; interframe/corrupt/truncated NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def riff(cc: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 0, 0) ++
        ("WEBP" + cc).getBytes("ISO-8859-1") ++
        Array[Byte]((payload.length & 0xff).toByte, 0, 0, 0) ++ payload
    def vp8Lossy(w: Int, h: Int): Array[Byte] =
      riff("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a,
        (w & 0xff).toByte, ((w >> 8) & 0x3f).toByte,
        (h & 0xff).toByte, ((h >> 8) & 0x3f).toByte))
    def vp8l(w: Int, h: Int, alpha: Boolean): Array[Byte] = {
      val bits = (w - 1) | ((h - 1) << 14) | (if (alpha) 1 << 28 else 0)
      riff("VP8L", Array[Byte](0x2f,
        (bits & 0xff).toByte, ((bits >> 8) & 0xff).toByte,
        ((bits >> 16) & 0xff).toByte, ((bits >> 24) & 0xff).toByte))
    }
    def vp8x(w: Int, h: Int, alpha: Boolean): Array[Byte] =
      riff("VP8X", Array[Byte]((if (alpha) 0x10 else 0).toByte, 0, 0, 0,
        ((w - 1) & 0xff).toByte, (((w - 1) >> 8) & 0xff).toByte, (((w - 1) >> 16) & 0xff).toByte,
        ((h - 1) & 0xff).toByte, (((h - 1) >> 8) & 0xff).toByte, (((h - 1) >> 16) & 0xff).toByte))
    val interframe = { // VP8 chunk whose start code is absent (not a keyframe)
      val b = vp8Lossy(10, 10); b(23) = 0x00; b
    }
    val badSig = { val b = vp8l(5, 5, alpha = false); b(20) = 0x30; b }
    val df = Seq(
      (1L, vp8Lossy(640, 480)),
      (2L, vp8l(999, 701, alpha = false)),
      (3L, vp8l(1, 1, alpha = true)),
      (4L, vp8x(70000, 3, alpha = true)), // 24-bit canvas beyond 16 bits
      (5L, interframe),
      (6L, badSig),
      (7L, vp8Lossy(640, 480).take(22))) // truncated
      .toDF("media_id", "bytes")
    val got = df.select(col("media_id"),
        graft.functions.GraftFunctions.image_meta(col("bytes")).as("m"))
      .selectExpr("media_id", "m.format", "m.width", "m.height", "m.channels")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got(1L) === ("webp", 640, 480, 3))
    assert(got(2L) === ("webp", 999, 701, 3))
    assert(got(3L) === ("webp", 1, 1, 4))
    assert(got(4L) === ("webp", 70000, 3, 4))
    assert(got(5L) === null)
    assert(got(6L) === null)
    assert(got(7L) === null)
    // triage routes the container before the parse
    val fmt = df.filter(col("media_id") === 1L)
      .select(Multimodal.media_format(col("bytes"))).head().getString(0)
    assert(fmt === "webp")
  }

  test("image_meta parses TIFF IFDs both endian; bounds violations and missing dims NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // hand-built IFD0: width (SHORT inline, left-justified), height
    // (LONG), SamplesPerPixel (SHORT); BOTH byte orders
    def entryLE(tag: Int, typ: Int, v: Long): Array[Byte] = Array[Byte](
      (tag & 0xff).toByte, ((tag >> 8) & 0xff).toByte,
      (typ & 0xff).toByte, 0, 1, 0, 0, 0,
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def entryBE(tag: Int, typ: Int, v: Long): Array[Byte] = {
      val value = if (typ == 3) Array[Byte](((v >> 8) & 0xff).toByte,
        (v & 0xff).toByte, 0, 0) // SHORT left-justified in file order
      else Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      Array[Byte](((tag >> 8) & 0xff).toByte, (tag & 0xff).toByte,
        0, (typ & 0xff).toByte, 0, 0, 0, 1) ++ value
    }
    def tiffLE(w: Int, h: Int, spp: Int): Array[Byte] =
      Array[Byte]('I', 'I', 0x2a, 0, 8, 0, 0, 0, 3, 0) ++
        entryLE(256, 3, w) ++ entryLE(257, 4, h) ++ entryLE(277, 3, spp) ++
        Array[Byte](0, 0, 0, 0)
    def tiffBE(w: Int, h: Int, spp: Int): Array[Byte] =
      Array[Byte]('M', 'M', 0, 0x2a, 0, 0, 0, 8, 0, 3) ++
        entryBE(256, 4, w) ++ entryBE(257, 4, h) ++ entryBE(277, 3, spp) ++
        Array[Byte](0, 0, 0, 0) // width LONG (99999 > SHORT), spp SHORT left-justified
    val oob = { val b = tiffLE(4, 4, 1); b(4) = 100 ; b } // IFD offset out of bounds
    val noDims = Array[Byte]('I', 'I', 0x2a, 0, 8, 0, 0, 0, 1, 0) ++
      entryLE(277, 3, 3) ++ Array[Byte](0, 0, 0, 0) // SPP only, no w/h
    val df = Seq(
      (1L, tiffLE(640, 480, 3)),
      (2L, tiffBE(99999, 70000, 1)), // LONG dims past 16 bits
      (3L, tiffBE(7, 5, 4)),
      (4L, oob),
      (5L, noDims),
      (6L, tiffLE(640, 480, 3).take(20))) // truncated mid-IFD
      .toDF("media_id", "bytes")
    val got = df.select(col("media_id"),
        graft.functions.GraftFunctions.image_meta(col("bytes")).as("m"))
      .selectExpr("media_id", "m.format", "m.width", "m.height", "m.channels")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got(1L) === ("tiff", 640, 480, 3))
    assert(got(2L) === ("tiff", 99999, 70000, 1))
    assert(got(3L) === ("tiff", 7, 5, 4))
    assert(got(4L) === null)
    assert(got(5L) === null)
    assert(got(6L) === null)
    val fmts = df.filter(col("media_id") <= 2L)
      .select(Multimodal.media_format(col("bytes"))).collect().map(_.getString(0))
    assert(fmts.toSet === Set("tiff"))
  }

  test("audio_meta parses WAV (chunk walk, odd-pad) and MP3 headers; stragglers NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, wavHeader(2, 44100, 16)),
      (2L, wavHeader(1, 22050, 8, junkLen = 11)),   // fmt behind an odd junk chunk
      (3L, mp3Header(9, 0, 0)),                     // 128 kbps, 44100, stereo
      (4L, mp3Header(14, 2, 3)),                    // 320 kbps, 32000, mono
      (5L, mp3Header(0, 0, 0)),                     // free-format -> quarantine
      (6L, Array(0xff.toByte, 0xf3.toByte, 0x90.toByte, 0x00.toByte)), // MPEG-2 -> null
      (7L, wavHeader(2, 44100, 16).take(20)),       // truncated before fmt body
      (8L, "not audio".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    val got = df.select(col("media_id"),
        graft.functions.GraftFunctions.audio_meta(col("bytes")).as("a"))
      .selectExpr("media_id", "a.format", "a.channels", "a.sample_rate", "a.bits", "a.kbps")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    assert(got(1L) === ("wav", 2, 44100, 16, 1411))  // 176400 B/s * 8 / 1000
    assert(got(2L) === ("wav", 1, 22050, 8, 176))
    assert(got(3L) === ("mp3", 2, 44100, 0, 128))
    assert(got(4L) === ("mp3", 1, 32000, 0, 320))
    assert(got(5L) === null)
    assert(got(6L) === null)
    assert(got(7L) === null)
    assert(got(8L) === null)
  }

  test("image_meta JPEG walk skips standalone TEM/RST markers (no length field)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // SOI, TEM (standalone), RST0 (standalone), then a normal SOF0 —
    // the old walk read a phantom length from the next marker's bytes
    val tail = jpegHeader(77, 55, 3).drop(2) // strip SOI, keep segments
    val withStandalone = Array(0xff.toByte, 0xd8.toByte, // SOI
      0xff.toByte, 0x01.toByte,                          // TEM
      0xff.toByte, 0xd0.toByte) ++ tail                  // RST0
    val got = Seq((1L, withStandalone)).toDF("id", "bytes")
      .select(graft.functions.GraftFunctions.image_meta(col("bytes")).as("m"))
      .selectExpr("m.format", "m.width", "m.height").head()
    assert((got.getString(0), got.getInt(1), got.getInt(2)) === ("jpeg", 77, 55))
  }

  // ---- video containers (round 8): spec-shaped ISO-BMFF box trees and
  // RIFF/AVI headers, built byte-by-byte per ISO 14496-12 / the 1991
  // RIFF spec so the parser is exercised on real structure, not fixed
  // offsets.

  private def vbe32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
    (v >>> 8).toByte, v.toByte)
  private def vbe64(v: Long) = vbe32((v >>> 32).toInt) ++ vbe32(v.toInt)
  private def mbox(tag: String, body: Array[Byte]): Array[Byte] =
    vbe32(body.length + 8) ++ tag.getBytes("US-ASCII") ++ body
  private def ftypBox = mbox("ftyp", "isom".getBytes("US-ASCII") ++ vbe32(0))
  private def mvhdV0(ts: Int, dur: Int) =
    mbox("mvhd", Array[Byte](0, 0, 0, 0) ++ vbe32(0) ++ vbe32(0) ++ vbe32(ts) ++ vbe32(dur))
  private def mvhdV1(ts: Int, dur: Long) =
    mbox("mvhd", Array[Byte](1, 0, 0, 0) ++ vbe64(0) ++ vbe64(0) ++ vbe32(ts) ++ vbe64(dur))
  private def trakV0(w: Int, h: Int) = mbox("trak",
    mbox("tkhd", Array[Byte](0, 0, 0, 0) ++ Array.fill[Byte](72)(0) ++
      vbe32(w << 16) ++ vbe32(h << 16)))
  private def trakV1(w: Int, h: Int) = mbox("trak",
    mbox("tkhd", Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](84)(0) ++
      vbe32(w << 16) ++ vbe32(h << 16)))

  private def aviHeader(mspf: Int, frames: Int, streams: Int, w: Int, h: Int,
                        junkLen: Int = 0): Array[Byte] = {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    val avih = "avih".getBytes("US-ASCII") ++ le32(56) ++
      le32(mspf) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(frames) ++ le32(0) ++
      le32(streams) ++ le32(0) ++ le32(w) ++ le32(h) ++ Array.fill[Byte](16)(0)
    val list = "LIST".getBytes("US-ASCII") ++ le32(4 + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    val junk =
      if (junkLen == 0) Array.empty[Byte]
      else "JUNK".getBytes("US-ASCII") ++ le32(junkLen) ++
        Array.fill[Byte](junkLen + (junkLen & 1))(7)
    "RIFF".getBytes("US-ASCII") ++ le32(4 + junk.length + list.length) ++
      "AVI ".getBytes("US-ASCII") ++ junk ++ list
  }

  test("video_meta parses MP4 box trees (v0/v1, largesize, to-EOF) and AVI; stragglers NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // audio-only trak first (zero w x h), video trak second: dimensions
    // must come from the video trak, tracks counts both
    val plain = ftypBox ++ mbox("moov", mvhdV0(600, 1234) ++ trakV0(0, 0) ++ trakV0(640, 480))
    val v1 = ftypBox ++ mbox("moov", mvhdV1(90000, 270000L) ++ trakV1(1920, 1080))
    // 64-bit largesize on moov (size == 1) and a to-EOF moov (size == 0)
    val moovBody = mvhdV0(1000, 5000) ++ trakV0(320, 240)
    val largesize = ftypBox ++ vbe32(1) ++ "moov".getBytes("US-ASCII") ++
      vbe64(16L + moovBody.length) ++ moovBody
    val toEof = ftypBox ++ vbe32(0) ++ "moov".getBytes("US-ASCII") ++ moovBody
    val df = Seq(
      (1L, plain),
      (2L, v1),
      (3L, largesize),
      (4L, toEof),
      (5L, aviHeader(33333, 900, 2, 720, 576)),
      (6L, aviHeader(40000, 250, 1, 320, 240, junkLen = 11)), // odd junk pad
      (7L, ftypBox ++ mbox("moov", mvhdV0(0, 100) ++ trakV0(1, 1))), // timescale 0
      (8L, plain.take(40)),                                   // truncated mid-moov
      (9L, "not a video".getBytes("UTF-8")),
      // corrupt chunk sizes near Int.MaxValue: the offset advance must
      // not wrap negative into a live array index (quarantine to NULL)
      (10L, "RIFF".getBytes("US-ASCII") ++
        Array[Byte](16, 0, 0, 0) ++ "AVI ".getBytes("US-ASCII") ++
        "JUNK".getBytes("US-ASCII") ++
        Array[Byte](0xf6.toByte, 0xff.toByte, 0xff.toByte, 0x7f) ++
        Array.fill[Byte](4)(0)),
      (11L, "RIFF".getBytes("US-ASCII") ++
        Array[Byte](32, 0, 0, 0) ++ "AVI ".getBytes("US-ASCII") ++
        "LIST".getBytes("US-ASCII") ++
        Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f) ++
        "hdrl".getBytes("US-ASCII") ++ "strl".getBytes("US-ASCII") ++
        Array[Byte](0xf6.toByte, 0xff.toByte, 0xff.toByte, 0x7f) ++
        Array.fill[Byte](8)(0)))
      .toDF("media_id", "bytes")
    val got = df.select(col("media_id"),
        graft.functions.GraftFunctions.video_meta(col("bytes")).as("v"))
      .selectExpr("media_id", "v.format", "v.width", "v.height", "v.duration_ms", "v.tracks")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5))))
      .toMap
    assert(got(1L) === ("mp4", 640, 480, 2056L, 2)) // 1234 * 1000 / 600
    assert(got(2L) === ("mp4", 1920, 1080, 3000L, 1))
    assert(got(3L) === ("mp4", 320, 240, 5000L, 1))
    assert(got(4L) === ("mp4", 320, 240, 5000L, 1))
    assert(got(5L) === ("avi", 720, 576, 29999L, 2)) // 900 * 33333 / 1000
    assert(got(6L) === ("avi", 320, 240, 10000L, 1))
    assert(got(7L) === null)
    assert(got(8L) === null)
    assert(got(9L) === null)
    assert(got(10L) === null) // outer chunk-size overflow
    assert(got(11L) === null) // inner hdrl chunk-size overflow
  }

  test("media_format triages every container family; truncation and junk go to 'unknown', NULL passes through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val rows: Seq[(Long, Array[Byte])] = Seq(
      (1L, b(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)),
      (2L, "GIF87a".getBytes("ISO-8859-1")),
      (3L, b(0xFF, 0xD8, 0xFF, 0xE1)),
      (4L, "RIFF0000WAVEfmt ".getBytes("ISO-8859-1")),
      (5L, "RIFF0000AVI LIST".getBytes("ISO-8859-1")),
      (6L, b(0, 0, 0, 24) ++ "ftypmp42".getBytes("ISO-8859-1")),
      (7L, "ID3\u0003\u0000".getBytes("ISO-8859-1")),
      (8L, b(0xFF, 0xFB, 0x90, 0x00)),              // bare MP3 frame sync
      (9L, "RIFF0000XXXX".getBytes("ISO-8859-1")),  // RIFF but unknown subtype
      (10L, "GIF".getBytes("ISO-8859-1")),          // truncated magic
      (11L, "plain old text".getBytes("UTF-8")),
      (12L, null),
      // round 17: the archive/document families the engine's walks parse
      (13L, b(0x1F, 0x8B, 0x08, 0x00)),
      (14L, b(0x28, 0xB5, 0x2F, 0xFD, 0x20)),
      (15L, "PK".getBytes("ISO-8859-1") ++ b(3, 4)),
      (16L, "PK".getBytes("ISO-8859-1") ++ b(5, 6)), // empty-archive EOCD
      (17L, "%PDF-1.7\n".getBytes("ISO-8859-1")),
      (18L, "fLaC ".getBytes("ISO-8859-1")),
      (19L, "WARC/1.0\r\n".getBytes("ISO-8859-1")),
      (20L, new Array[Byte](257) ++ "ustar".getBytes("ISO-8859-1")),
      (21L, new Array[Byte](257) ++ "notar".getBytes("ISO-8859-1")),
      // round 18: xz and ogg; brotli's NAMED refusal — a valid raw
      // brotli stream (the 1-byte empty stream 0x3B) has no magic and
      // MUST land in 'unknown': br is undetectable by construction
      (22L, b(0xFD, '7', 'z', 'X', 'Z', 0x00)),
      (23L, "OggS ".getBytes("ISO-8859-1")),
      (24L, b(0x3B)),
      (25L, "BZh91AY&SY".getBytes("ISO-8859-1")),
      (26L, "BZh0".getBytes("ISO-8859-1")), // block-size digit out of range
      (27L, b(0x04, 0x22, 0x4D, 0x18, 0x60, 0x40)),
      // recognized-but-refused names: magic present, decoder absent
      (28L, "Rar!".getBytes("ISO-8859-1") ++ b(0x1A, 0x07, 0x01, 0x00)),
      (29L, "Rar!".getBytes("ISO-8859-1") ++ b(0x1A, 0x07, 0x00)),
      (30L, b(0x37, 0x7A, 0xBC, 0xAF, 0x27, 0x1C))
    )
    val got = rows.toDF("id", "blob")
      .select(col("id"), Multimodal.media_format(col("blob")).as("fmt"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(got === Map(1L -> "png", 2L -> "gif", 3L -> "jpeg", 4L -> "wav",
      5L -> "avi", 6L -> "mp4", 7L -> "mp3", 8L -> "mp3", 9L -> "unknown",
      10L -> "unknown", 11L -> "unknown", 12L -> null,
      13L -> "gzip", 14L -> "zstd", 15L -> "zip", 16L -> "zip",
      17L -> "pdf", 18L -> "flac", 19L -> "warc", 20L -> "tar",
      21L -> "unknown",
      22L -> "xz", 23L -> "ogg", 24L -> "unknown",
      25L -> "bzip2", 26L -> "unknown", 27L -> "lz4",
      28L -> "rar", 29L -> "rar", 30L -> "7z"))
  }

  /** PCM16 WAV with real samples (optionally a junk chunk before fmt). */
  private def wavPcm(samples: Array[Short], junkLen: Int = 0,
                     declaredExtra: Int = 0): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    val junk =
      if (junkLen == 0) Array.empty[Byte]
      else "JUNK".getBytes("US-ASCII") ++ le32(junkLen) ++
        Array.fill[Byte](junkLen + (junkLen & 1))(7)
    val data = samples.flatMap(v => le16(v & 0xffff))
    "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++ junk ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length + declaredExtra) ++ data
  }

  test("audio_pcm_stats decodes PCM16 samples exactly; torn/odd/non-PCM16 quarantine to NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, wavPcm(Array[Short](100, -200, 32767, -32768, 0))),
      (2L, wavPcm(Array[Short](5, 5, 5), junkLen = 11)),   // data behind odd junk chunk
      (3L, wavPcm(Array[Short](1, 2), declaredExtra = 4)), // torn: declared size overruns
      (4L, wavPcm(Array.empty[Short])),                    // zero samples -> NULL
      (5L, wavHeader(1, 8000, 16)),                        // fmt but no data chunk
      (6L, wavHeader(1, 8000, 8)),                         // 8-bit: not PCM16
      (7L, "not audio".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    val got = df.select(col("media_id"),
        graft.functions.GraftFunctions.audio_pcm_stats(col("bytes")).as("p"))
      .selectExpr("media_id", "p.n_samples", "p.sum_amp", "p.min_amp", "p.max_amp")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got(1L) === ((5L, 100L - 200L + 32767L - 32768L + 0L, -32768, 32767)))
    assert(got(2L) === ((3L, 15L, 5, 5)))
    assert(got(3L) === null)
    assert(got(4L) === null)
    assert(got(5L) === null)
    assert(got(6L) === null)
    assert(got(7L) === null)
  }

  /** Real PNG encoder for the decoder tests: per-row filter types,
    * Deflater-compressed IDAT (optionally split across chunks), real
    * CRC32s. samples is row-major, `channels` interleaved, 0..255.
    */
  private def pngEncode(w: Int, h: Int, channels: Int, samples: Array[Int],
                        filters: Array[Int], idatSplit: Int = 1,
                        corruptAdler: Boolean = false): Array[Byte] = {
    require(samples.length == w * h * channels && filters.length == h)
    val stride = w * channels
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val f = filters(y)
      raw.write(f)
      for (x <- 0 until stride) {
        val orig = samples(y * stride + x)
        val a = if (x >= channels) samples(y * stride + x - channels) else 0
        val b = if (y > 0) samples((y - 1) * stride + x) else 0
        val c = if (x >= channels && y > 0) samples((y - 1) * stride + x - channels) else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw.write((orig - pred) & 0xff)
      }
    }
    val rawBytes = raw.toByteArray
    val defl = new java.util.zip.Deflater()
    defl.setInput(rawBytes); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val z = zout.toByteArray
    if (corruptAdler) z(z.length - 1) = (z(z.length - 1) ^ 1).toByte
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(crc.getValue)
    }
    val colorType = if (channels == 1) 0 else 2
    val ihdr = be32(w) ++ be32(h) ++ Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val parts = z.grouped(math.max(1, (z.length + idatSplit - 1) / idatSplit)).toSeq
    sig ++ chunk("IHDR", ihdr) ++
      parts.flatMap(p => chunk("IDAT", p)) ++ chunk("IEND", Array.empty[Byte])
  }

  test("image_pixel_stats: real inflate + all five filters reconstruct exactly; stragglers NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    // grey 5x5, one row per filter type — reconstruction must invert
    // the encoder's filtering exactly
    val g = Array.fill(25)(rnd.nextInt(256))
    val grey = pngEncode(5, 5, 1, g, Array(0, 1, 2, 3, 4))
    // RGB 4x3, Paeth everywhere, zlib split across three IDAT chunks
    val r3 = Array.fill(36)(rnd.nextInt(256))
    val rgb = pngEncode(4, 3, 3, r3, Array(4, 4, 4), idatSplit = 3)
    val df = Seq(
      (1L, grey),
      (2L, rgb),
      (3L, pngEncode(5, 5, 1, g, Array(0, 1, 2, 3, 4), corruptAdler = true),
      ),
      (4L, pngEncode(5, 5, 1, g, Array(0, 1, 2, 3, 4)).dropRight(40)), // truncated IDAT
      (5L, realPng(12, 34)),                 // header-only fixture: no IDAT
      (6L, "not a png".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    val got = df.select(col("media_id"),
        graft.functions.GraftFunctions.image_pixel_stats(col("bytes")).as("p"))
      .selectExpr("media_id", "p.width", "p.height", "p.channels",
        "p.n_pixels", "p.pixel_sum", "p.pixel_min", "p.pixel_max")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4),
           r.getLong(5), r.getInt(6), r.getInt(7))))
      .toMap
    assert(got(1L) === ((5, 5, 1, 25L, g.map(_.toLong).sum, g.min, g.max)))
    assert(got(2L) === ((4, 3, 3, 12L, r3.map(_.toLong).sum, r3.min, r3.max)))
    assert(got(3L) === null, "corrupted adler32 must quarantine")
    assert(got(4L) === null, "truncated IDAT must quarantine")
    assert(got(5L) === null)
    assert(got(6L) === null)
  }

  test("image_pixel_stats: Adam7 interlaced PNGs — ImageIO-encoded (independent encoder) decode exactly") {
    // the JDK PNG writer emits real Adam7 streams under progressive
    // mode; our pass-geometry walk must fold the same stats the
    // source raster carries — exact, not an envelope (PNG is lossless)
    val rnd = new scala.util.Random(41)
    for ((w, h) <- Seq((1, 1), (2, 3), (7, 5), (8, 8), (9, 4), (16, 11))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val vals = Array.fill(w * h)(rnd.nextInt(256))
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, vals(y * w + x))
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT) // Adam7
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      val bytes = bos.toByteArray
      // confirm the fixture really is interlaced (IHDR byte 28)
      assert((bytes(8 + 4 + 4 + 13 - 1) & 0xFF) === 1, s"${w}x$h not Adam7")
      val row = graft.functions.ImagePixelStats.decode(bytes)
      assert(row !== null, s"refused the JDK's ${w}x$h Adam7 file")
      assert(row.getInt(0) === w)
      assert(row.getInt(1) === h)
      assert(row.getLong(4) === vals.map(_.toLong).sum, s"${w}x$h sum")
      assert(row.getInt(5) === vals.min)
      assert(row.getInt(6) === vals.max)
    }
  }

  test("gif_frames: JDK-written animated GIFs (independent encoder) — frames counted, delays summed") {
    import javax.imageio.metadata.IIOMetadataNode
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val delays = Seq(10, 25, 7, 40)
    for ((d, f) <- delays.zipWithIndex) {
      val img = new java.awt.image.BufferedImage(4, 3,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
      for (y <- 0 until 3; x <- 0 until 4)
        img.setRGB(x, y, (x * 40 + y * 70 + f * 30) << 8)
      val spec = new javax.imageio.ImageTypeSpecifier(img)
      val meta = writer.getDefaultImageMetadata(spec, writer.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = new IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", d.toString)
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      meta.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val bytes = bos.toByteArray
    val row = graft.functions.GifFrames.decode(bytes)
    assert(row !== null, "refused the JDK's animated GIF")
    assert(row.getLong(0) === delays.length.toLong)
    assert(row.getLong(1) === delays.sum.toLong)
    assert(row.getInt(2) === 4)
    assert(row.getInt(3) === 3)
    // torn: trailer lost
    assert(graft.functions.GifFrames.decode(bytes.dropRight(1)) === null)
    // trailing garbage after the trailer refuses (exact cover)
    assert(graft.functions.GifFrames.decode(bytes ++ Array[Byte](0)) === null)
    // a single-frame still (the m7 fixture path) walks as one frame
    val still = graft.functions.GifFrames.decode(imageIoGif(5, 4, 3)._1)
    assert(still !== null)
    assert(still.getLong(0) === 1L)
  }

  test("mp3_frames: VBR frame walk — per-frame lengths, padding, constant-rate contract, torn refusal") {
    import graft.functions.Mp3Frames
    val kbpsTable = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    def frame(bitrateIdx: Int, srIdx: Int, pad: Int): Array[Byte] = {
      val sr = Array(44100, 48000, 32000)(srIdx)
      val flen = 144 * kbpsTable(bitrateIdx - 1) * 1000 / sr + pad
      val b = new Array[Byte](flen)
      b(0) = 0xFF.toByte; b(1) = 0xFB.toByte
      b(2) = ((bitrateIdx << 4) | (srIdx << 2) | (pad << 1)).toByte
      b
    }
    // three VBR frames at 44.1 kHz with mixed padding
    val blob = frame(1, 0, 0) ++ frame(9, 0, 1) ++ frame(14, 0, 0)
    val row = Mp3Frames.decode(blob)
    assert(row !== null)
    assert(row.getLong(0) === 3L)
    assert(row.getInt(1) === 44100)
    assert(row.getLong(2) === 3456L)
    assert(row.getLong(3) === 3456L * 1000 / 44100)
    // a 48 kHz frame in a 44.1 kHz stream breaks the constant-rate contract
    assert(Mp3Frames.decode(frame(5, 0, 0) ++ frame(5, 1, 0)) === null)
    // torn: last frame loses a byte
    assert(Mp3Frames.decode(blob.dropRight(1)) === null)
    // trailing garbage refuses (exact cover)
    assert(Mp3Frames.decode(blob ++ Array[Byte](0x54, 0x41, 0x47)) === null)
    // free/forbidden bitrate indices and reserved sample-rate index refuse
    val badIdx = frame(5, 0, 0); badIdx(2) = 0x00
    assert(Mp3Frames.decode(badIdx) === null)
    assert(Mp3Frames.decode(Array[Byte]()) === null)
    assert(Mp3Frames.decode(null) === null)
    // leading ID3v2 (syncsafe size) and trailing 128-byte ID3v1 are the
    // two tag layouts real MP3s ship with — both skipped, frames exact
    val id3v2 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 1, 5) ++
      new Array[Byte](133) // size = (1<<7)|5 = 133 body bytes
    val id3v1 = Array[Byte]('T', 'A', 'G') ++ new Array[Byte](125)
    val tagged = id3v2 ++ blob ++ id3v1
    val rt = Mp3Frames.decode(tagged)
    assert(rt !== null)
    assert(rt.getLong(0) === 3L)
    // a lying ID3v2 size (past the blob) is torn
    val lying = Array[Byte]('I', 'D', '3', 3, 0, 0, 0x7F, 0x7F, 0x7F, 0x7F) ++ blob
    assert(Mp3Frames.decode(lying) === null)
    // a non-syncsafe size byte is torn
    val nonSync = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0x80.toByte, 0) ++ blob
    assert(Mp3Frames.decode(nonSync) === null)
  }

  test("image_meta SQL registration + codegen/interpreted agreement") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, realPng(12, 34)), (2L, gifHeader(5, 6))).toDF("id", "bytes")
    df.createOrReplaceTempView("media_tmp")
    def run(): Seq[String] =
      spark.sql("SELECT id, image_meta(bytes) AS m FROM media_tmp ORDER BY id")
        .collect().map(_.toString).toSeq
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "NO_CODEGEN")
      val interp = run()
      spark.conf.set(key, "CODEGEN_ONLY")
      val gen = run()
      assert(interp === gen)
      assert(interp.head.contains("png") && interp.head.contains("12"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Real GIF89a encoder for the decoder tests: genuine compressing LZW
    * (dictionary, variable code width with the standard +1 growth
    * convention, Clear emitted when the table fills), sub-blocks split
    * at 255 bytes, optional GCT/extension/interlace plumbing, and
    * torn-blob knobs.
    */
  private def gifEncode(w: Int, h: Int, pixels: Array[Int], minCode: Int = 8,
                        gct: Boolean = false, ext: Boolean = false,
                        interlace: Boolean = false, subOverrun: Int = 0,
                        dropEoi: Boolean = false, truncate: Int = 0): Array[Byte] = {
    val Clear = 1 << minCode; val Eoi = Clear + 1
    val lzw = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0; var codeSize = minCode + 1
    def put(code: Int): Unit = {
      cur |= code.toLong << nbits; nbits += codeSize
      while (nbits >= 8) { lzw.write((cur & 0xff).toInt); cur >>= 8; nbits -= 8 }
    }
    var dict = scala.collection.mutable.HashMap[(Int, Int), Int]()
    var nextCode = Eoi + 1
    put(Clear)
    var prev = -1
    for (px <- pixels) {
      if (prev < 0) prev = px
      else dict.get((prev, px)) match {
        case Some(c) => prev = c
        case None =>
          put(prev)
          if (nextCode < 4096) {
            dict((prev, px)) = nextCode
            nextCode += 1
            if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          } else { // table full: reset, matching the decoder's Clear path
            put(Clear)
            dict = scala.collection.mutable.HashMap[(Int, Int), Int]()
            nextCode = Eoi + 1; codeSize = minCode + 1
          }
          prev = px
      }
    }
    if (prev >= 0) put(prev)
    if (!dropEoi) put(Eoi)
    if (nbits > 0) lzw.write((cur & 0xff).toInt)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(w); le16(h)
    out.write(if (gct) 0x81 else 0x00) // GCT: 2^(1+1)=4 entries
    out.write(0); out.write(0)
    if (gct) for (_ <- 0 until 4 * 3) out.write(0x33)
    if (ext) { out.write(0x21); out.write(0xfe); out.write(3)
      out.write("abc".getBytes("US-ASCII")); out.write(0) }
    out.write(0x2c); le16(0); le16(0); le16(w); le16(h)
    out.write(if (interlace) 0x40 else 0x00)
    out.write(minCode)
    val d = lzw.toByteArray
    val groups = d.grouped(255).toArray
    for ((g, gi) <- groups.zipWithIndex) {
      out.write(g.length + (if (gi == 0) subOverrun else 0))
      out.write(g)
    }
    out.write(0); out.write(0x3b)
    val all = out.toByteArray
    if (truncate > 0) all.dropRight(truncate) else all
  }

  private def gifStats(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Int, Int)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = Seq(Tuple1(bytes)).toDF("bytes")
      .select(graft.functions.GraftFunctions.gif_pixel_stats(col("bytes")).as("p"))
      .select("p.width", "p.height", "p.n_pixels", "p.idx_sum", "p.idx_min", "p.idx_max")
      .collect().head
    if (r.isNullAt(0)) None
    else Some((r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5)))
  }

  private def expectStats(w: Int, h: Int, px: Array[Int]) =
    Some((w, h, px.length.toLong, px.map(_.toLong).sum, px.min, px.max))

  test("gif_pixel_stats: LZW round-trip — random, constant (KwKwK), narrow palette with width growth") {
    val rnd = new scala.util.Random(11)
    val p1 = Array.fill(7 * 5)(rnd.nextInt(256))
    assert(gifStats(gifEncode(7, 5, p1)) === expectStats(7, 5, p1))
    // constant image: encoder output is dominated by KwKwK codes
    val p2 = Array.fill(6 * 6)(129)
    assert(gifStats(gifEncode(6, 6, p2)) === expectStats(6, 6, p2))
    // 2-bit palette: code width grows 3 -> 4 -> 5 ... within 300 pixels
    val p3 = Array.fill(30 * 10)(rnd.nextInt(4))
    assert(gifStats(gifEncode(30, 10, p3, minCode = 2)) === expectStats(30, 10, p3))
  }

  test("gif_pixel_stats: table-full Clear reset + multi-sub-block streams decode exactly") {
    val rnd = new scala.util.Random(13)
    val p = Array.fill(100 * 100)(rnd.nextInt(256)) // >4096 dict entries -> Clear mid-stream
    assert(gifStats(gifEncode(100, 100, p)) === expectStats(100, 100, p))
  }

  test("gif_pixel_stats: GCT/extension blocks are skipped; interlace flag changes nothing (order-free stats)") {
    val rnd = new scala.util.Random(17)
    val p = Array.fill(9 * 4)(rnd.nextInt(256))
    val plain = gifStats(gifEncode(9, 4, p))
    assert(plain === expectStats(9, 4, p))
    assert(gifStats(gifEncode(9, 4, p, gct = true, ext = true)) === plain)
    assert(gifStats(gifEncode(9, 4, p, interlace = true)) === plain)
  }

  /** Independent-encoder fixture: the JDK's own GIF writer (javax.imageio,
    * in every JVM). Ground-truth indices come from reading the bytes BACK
    * with ImageIO — immune to any palette reordering the writer does.
    */
  private def imageIoGif(w: Int, h: Int, seed: Int): (Array[Byte], Array[Int]) = {
    val grey = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grey, grey, grey)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    val rnd = new scala.util.Random(seed)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val bytes = bos.toByteArray
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val px = (for (y <- 0 until h; x <- 0 until w)
      yield back.getRaster.getSample(x, y, 0)).toArray
    (bytes, px)
  }

  test("gif_pixel_stats: differential vs the JDK's own GIF codec (independent encoder)") {
    for ((w, h, seed) <- Seq((20, 13, 42), (80, 60, 7), (3, 1, 1))) {
      val (bytes, px) = imageIoGif(w, h, seed)
      assert(gifStats(bytes) === expectStats(w, h, px), s"dims ${w}x$h")
    }
  }

  test("gif_pixel_stats: torn blobs quarantine to NULL") {
    val rnd = new scala.util.Random(19)
    val p = Array.fill(8 * 8)(rnd.nextInt(256))
    assert(gifStats(gifEncode(8, 8, p, subOverrun = 3)) === None)   // declared len overruns
    assert(gifStats(gifEncode(8, 8, p, truncate = 6)) === None)     // truncated stream
    assert(gifStats(gifEncode(8, 8, p, dropEoi = true)) === None)   // missing EOI
    assert(gifStats(gifEncode(8, 8, p.dropRight(5))) === None)      // fewer pixels than w*h
    assert(gifStats(gifEncode(8, 8, p ++ Array(1, 2, 3))) === None) // more pixels than w*h
    assert(gifStats("GIF89a then junk".getBytes("UTF-8")) === None)
    assert(gifStats(Array[Byte](1, 2, 3)) === None)
  }

  test("round-10 expressions run identically under CODEGEN_ONLY and NO_CODEGEN") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(41)
    val px = Array.fill(6 * 4)(rnd.nextInt(256))
    val mp3 = Seq.fill(3)(mp3Header(9, 0, 0) ++ new Array[Byte](413)).reduce(_ ++ _)
    val jpeg = imageIoJpeg(8, 8, 3)
    val png = pngEncode(2, 2, 1, Array(0, 64, 128, 255), Array(0, 1))
    // one blob per format, then the same blobs torn, then junk, then NULL
    val blobs = Seq(gifEncode(6, 4, px), wavHeader(2, 44100, 16),
      wavPcm(Array[Short](1, -2, 300)), mp3, aviHeader(40000, 10, 1, 32, 24),
      mjpegAvi(Seq(jpeg), 40000), png, imageIoGif(4, 3, 5)._1, jpeg)
    val torn = gifEncode(6, 4, px, truncate = 5) +: blobs.tail.map(_.dropRight(3))
    val junk = blobs.map(_ => "junk".getBytes("UTF-8"))
    val cols = Seq("gif", "wav", "pcm", "mp3", "avi", "mjpeg", "png", "agif", "jpeg")
    def row(id: Long, text: String, bs: Seq[Array[Byte]]) = (id, text, bs)
    val df = Seq(
      row(1L, "alpha beta gamma delta epsilon zeta", blobs),
      row(2L, "  ", torn),
      row(3L, "one two three four five six seven eight", junk),
      row(4L, null, blobs.map(_ => null)))
      .toDF("id", "text", "bs")
      .select(($"id" +: $"text" +: cols.indices.map(i => $"bs"(i).as(cols(i)))): _*)
    graft.functions.GraftFunctions.register(spark)
    val (interp, gen) = CodegenParity.rows(df, Seq("id", "fnv64(text)",
      "cdc_chunks(text, 4)", "gif_pixel_stats(gif)", "audio_meta(wav)",
      "audio_pcm_stats(pcm)", "mp3_frames(mp3)", "video_meta(avi)", "avi_frames(mjpeg)",
      "image_meta(png)", "image_pixel_stats(png)", "gif_frames(agif)",
      "jpeg_pixel_stats(jpeg)", "jpeg_rgb_stats(jpeg)").map(expr): _*)
    assert(interp === gen)
    assert(interp.head.nonEmpty)
  }

  /** Full MJPEG AVI: hand-built RIFF framing (independent offset
    * bookkeeping) around REAL baseline JPEGs written by ImageIO — the
    * independent-encoder differential for [[graft.functions.AviFrames]].
    */
  private def mjpegAvi(jpegs: Seq[Array[Byte]], mspf: Int,
                       frameCountLie: Int = 0,
                       handler: String = "MJPG",
                       dropFinalPad: Boolean = false): Array[Byte] = {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    def fcc(s: String) = s.getBytes("US-ASCII")
    val avih = fcc("avih") ++ le32(56) ++
      le32(mspf) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(jpegs.size + frameCountLie) ++ le32(0) ++
      le32(1) ++ le32(0) ++ le32(8) ++ le32(8) ++ Array.fill[Byte](16)(0)
    val strh = fcc("strh") ++ le32(56) ++ fcc("vids") ++ fcc(handler) ++
      Array.fill[Byte](48)(0)
    val strl = fcc("LIST") ++ le32(4 + strh.length) ++ fcc("strl") ++ strh
    val hdrl = fcc("LIST") ++ le32(4 + avih.length + strl.length) ++
      fcc("hdrl") ++ avih ++ strl
    val chunksFull = jpegs.flatMap { j =>
      fcc("00dc") ++ le32(j.length) ++ j ++
        (if (j.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    }.toArray
    // some writers leave the FINAL chunk's pad byte out of the movi
    // LIST's declared size (the quirk the end check must key on the
    // chunk's own parity, not the list end's)
    val chunks = if (dropFinalPad && jpegs.nonEmpty && jpegs.last.length % 2 == 1)
      chunksFull.dropRight(1) else chunksFull
    val movi = fcc("LIST") ++ le32(4 + chunks.length) ++ fcc("movi") ++ chunks ++
      (if (chunks.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    fcc("RIFF") ++ le32(4 + hdrl.length + movi.length) ++ fcc("AVI ") ++
      hdrl ++ movi
  }

  private def imageIoJpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (seed + x * 7 + y * 13) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  test("avi_frames: ImageIO-encoded MJPEG frames extract byte-exact and decode like ImageIO") {
    import graft.functions.{AviFrames, JpegPixelStats}
    val jpegs = (0 until 3).map(i => imageIoJpeg(16, 8, 40 + i * 50))
    val avi = mjpegAvi(jpegs, mspf = 33333)
    val arr = AviFrames.frames(avi)
    assert(arr !== null, "refused a well-formed MJPEG AVI")
    assert(arr.numElements() === 3)
    for (i <- 0 until 3) {
      val got = arr.getBinary(i)
      assert(got.toSeq === jpegs(i).toSeq, s"frame $i bytes differ")
      // and the per-frame decode agrees with ImageIO on the same bytes
      val stats = JpegPixelStats.decodeStats(got)
      assert(stats !== null, s"frame $i did not decode")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpegs(i)))
      var sum = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        sum += img.getRaster.getSample(x, y, 0)
      val n = img.getWidth * img.getHeight
      // JpegSpec's ImageIO convention: IDCT rounding differs by <= 2
      // per pixel on lossy data (byte-exact is the EXTRACTION contract)
      assert(math.abs(stats.getLong(3) - sum) <= 2L * n,
        s"frame $i pixel_sum vs ImageIO: ${stats.getLong(3)} vs $sum")
    }
    // video_meta routes the same container (the m3 walk is untouched)
    val meta = graft.functions.VideoMeta.parse(avi)
    assert(meta !== null)
    assert(meta.getInt(4) === 1)
  }

  test("avi_frames refusals: frame-count lie, non-MJPEG handler, torn chunk, foreign chunks") {
    import graft.functions.AviFrames
    val jpegs = (0 until 2).map(i => imageIoJpeg(8, 8, 10 + i))
    val good = mjpegAvi(jpegs, 33333)
    assert(AviFrames.frames(good) !== null)
    // avih claims one more frame than movi carries
    assert(AviFrames.frames(mjpegAvi(jpegs, 33333, frameCountLie = 1)) === null)
    // stream handler is not MJPG
    assert(AviFrames.frames(mjpegAvi(jpegs, 33333, handler = "H264")) === null)
    // torn: cut into the last chunk
    assert(AviFrames.frames(good.dropRight(10)) === null)
    // an audio chunk inside movi is out of the MJPEG walk's scope
    val audio = {
      val s = new String(good, "ISO-8859-1")
      val at = s.indexOf("00dc")
      val bad = good.clone(); bad(at + 2) = 'w'; bad(at + 3) = 'b'
      bad
    }
    assert(AviFrames.frames(audio) === null)
    // not an AVI at all
    assert(AviFrames.frames("RIFFxxxxWAVEfmt ".getBytes) === null)
  }

  test("movi end: a final odd chunk's dropped pad is keyed on the CHUNK's parity, not the list end's") {
    import graft.functions.AviFrames
    def blob(n: Int) = Array.tabulate(n)(i => (i * 31 + 7).toByte)
    // odd final chunk, pad left out of the declared movi size — both
    // list-end parities must accept (the old end-offset-parity check
    // refused one of them and would have accepted a stray byte after an
    // even final chunk on the other)
    for (first <- Seq(4, 5)) {
      val a = mjpegAvi(Seq(blob(first), blob(7)), 33333, dropFinalPad = true)
      val fa = AviFrames.frames(a)
      assert(fa !== null, s"first=$first: dropped final pad wrongly refused")
      assert(fa.numElements() === 2)
      assert(fa.getBinary(1).toSeq === blob(7).toSeq)
      // pads included → exact landing still accepted
      assert(AviFrames.frames(mjpegAvi(Seq(blob(first), blob(7)), 33333)) !== null)
    }
  }

}
