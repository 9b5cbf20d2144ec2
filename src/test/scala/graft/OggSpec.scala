package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.OggMeta

/** [[OggMeta]] (m27): straight-line page builder with an INDEPENDENT
  * bit-by-bit CRC implementation (the engine's is table-driven — two
  * derivations of RFC 3533's unreflected 0x04C11DB7), Opus and Vorbis
  * identification headers, multi-page streams, and the refusal matrix.
  */
class OggSpec extends AnyFunSuite {

  /** Bit-by-bit RFC 3533 CRC — deliberately NOT the engine's table. */
  private def crcRef(b: Array[Byte]): Long = {
    var c = 0L
    for (x <- b) {
      c ^= (x & 0xFFL) << 24
      for (_ <- 0 until 8)
        c = if ((c & 0x80000000L) != 0) ((c << 1) ^ 0x04C11DB7L) & 0xFFFFFFFFL
            else (c << 1) & 0xFFFFFFFFL
    }
    c
  }

  private def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xFF).toByte)

  private def page(hdrType: Int, granule: Long, serial: Long, seq: Long,
                   payload: Array[Byte], breakCrc: Boolean = false): Array[Byte] = {
    require(payload.length < 255 * 255)
    val segs = {
      val full = payload.length / 255
      val lacing = Array.fill(full)(255.toByte) :+ (payload.length % 255).toByte
      lacing
    }
    val head = "OggS".getBytes("US-ASCII") ++ Array[Byte](0, hdrType.toByte) ++
      le(granule, 8) ++ le(serial, 4) ++ le(seq, 4) ++ le(0, 4) ++
      Array(segs.length.toByte) ++ segs
    val whole = head ++ payload
    val c = crcRef(whole)
    val out = whole.clone()
    System.arraycopy(le(if (breakCrc) c ^ 1 else c, 4), 0, out, 22, 4)
    out
  }

  private def opusHead(channels: Int, rate: Int, preskip: Int = 312): Array[Byte] =
    "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1, channels.toByte) ++
      le(preskip, 2) ++ le(rate, 4) ++ le(0, 2) ++ Array[Byte](0)

  private def vorbisId(channels: Int, rate: Int): Array[Byte] =
    Array[Byte](1) ++ "vorbis".getBytes("US-ASCII") ++ le(0, 4) ++
      Array(channels.toByte) ++ le(rate, 4) ++
      le(0, 4) ++ le(0, 4) ++ le(0, 4) ++ Array[Byte](0x66.toByte, 1)

  private def walk(b: Array[Byte]) =
    Option(OggMeta.walk(b)).map(r => (r.getUTF8String(0).toString,
      r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5)))

  test("Opus and Vorbis streams: ID header fields, page count, EOS granule as total") {
    for ((ch, rate, total) <- Seq((1, 16000, 48000L), (2, 48000, 960L),
        (8, 8000, (1L << 40)))) {
      val opus = page(0x02, 0, 7, 0, opusHead(ch, rate)) ++
        page(0x00, total / 2, 7, 1, Array.fill(40)(9: Byte)) ++
        page(0x04, total, 7, 2, Array.fill(10)(3: Byte))
      assert(walk(opus) === Some(("opus", ch, rate, 312, total, 3)),
        s"opus ch=$ch rate=$rate")
      val vorb = page(0x02, 0, 9, 0, vorbisId(ch, rate)) ++
        page(0x04, total, 9, 1, Array.fill(5)(2: Byte))
      assert(walk(vorb) === Some(("vorbis", ch, rate, 0, total, 2)),
        s"vorbis ch=$ch rate=$rate")
    }
  }

  test("multi-lacing payloads (>255 bytes) walk exactly") {
    val big = Array.tabulate(700)(i => (i % 251).toByte)
    val ogg = page(0x02, 0, 5, 0, opusHead(2, 48000)) ++
      page(0x04, 1920, 5, 1, big)
    assert(walk(ogg) === Some(("opus", 2, 48000, 312, 1920L, 2)))
  }

  test("Opus pre_skip surfaced in 48 kHz units; vorbis pre_skip is 0 (RFC 7845 §4)") {
    // total_samples is the EOS granule AS STORED — for Opus, 48 kHz
    // units INCLUDING pre_skip; duration = (total - pre_skip) / 48000
    val opus = page(0x02, 0, 3, 0, opusHead(1, 16000, preskip = 3840)) ++
      page(0x04, 3840 + 96000, 3, 1, Array.fill(6)(1: Byte))
    val Some((codec, _, rate, pre, total, _)) = walk(opus)
    assert(codec === "opus" && rate === 16000 && pre === 3840)
    assert((total - pre).toDouble / 48000.0 === 2.0) // NOT total/rate
    val vorb = page(0x02, 0, 4, 0, vorbisId(2, 44100)) ++
      page(0x04, 44100, 4, 1, Array.fill(6)(1: Byte))
    assert(walk(vorb).map(_._4) === Some(0))
  }

  test("refusal matrix: CRC, version, BOS/EOS rules, multiplexing, torn, unknown codec") {
    val good = page(0x02, 0, 7, 0, opusHead(2, 48000)) ++
      page(0x04, 960, 7, 1, Array.fill(10)(3: Byte))
    assert(walk(good).nonEmpty)
    // CRC flip on either page refuses the WHOLE blob
    assert(walk(page(0x02, 0, 7, 0, opusHead(2, 48000), breakCrc = true) ++
      page(0x04, 960, 7, 1, Array.fill(10)(3: Byte))) === None)
    // a payload byte flipped without updating the CRC refuses
    val flipped = good.clone()
    flipped(good.length - 1) = (flipped(good.length - 1) ^ 0x10).toByte
    assert(walk(flipped) === None)
    // stream structure version != 0
    val badVer = good.clone(); badVer(4) = 1
    assert(walk(badVer) === None)
    // first page without BOS
    assert(walk(page(0x00, 0, 7, 0, opusHead(2, 48000)) ++
      page(0x04, 960, 7, 1, Array.fill(10)(3: Byte))) === None)
    // no EOS page
    assert(walk(page(0x02, 0, 7, 0, opusHead(2, 48000))) === None)
    // multiplexed: a second serial refuses
    assert(walk(page(0x02, 0, 7, 0, opusHead(2, 48000)) ++
      page(0x04, 960, 8, 1, Array.fill(10)(3: Byte))) === None)
    // torn: cut into the last payload
    assert(walk(good.dropRight(4)) === None)
    // unknown first packet
    assert(walk(page(0x02, 0, 7, 0, "FLACmaybe?".getBytes) ++
      page(0x04, 960, 7, 1, Array.fill(10)(3: Byte))) === None)
    // trailing garbage after the EOS page
    assert(walk(good ++ Array[Byte](1, 2, 3)) === None)
    // not OGG at all
    assert(walk("RIFFxxxxWAVE".getBytes) === None)
  }

  test("engine table CRC equals the bit-by-bit reference on random byte runs") {
    val rnd = new scala.util.Random(20260816)
    for (len <- Seq(0, 1, 27, 300, 4096)) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      assert(OggMeta.crc(b, 0, b.length) === crcRef(b), s"len=$len")
    }
  }

  test("ogg_meta: codegen/interpreted agreement") {
    import CodegenParity.{column, input}
    val spark = SparkTestSession.spark
    import spark.implicits._
    val ogg = page(0x02, 0, 9, 0, vorbisId(2, 44100)) ++
      page(0x04, 960, 9, 1, Array.fill(5)(2: Byte))
    val df = Seq(Tuple1(ogg), Tuple1(ogg.dropRight(3)), Tuple1(null)).toDF("ogg")
    val (interp, gen) = CodegenParity.rows(df, column(OggMeta(input("ogg"))))
    assert(interp === gen)
    assert(interp.map(_ == "[null]") === Seq(false, true, true))
  }
}
