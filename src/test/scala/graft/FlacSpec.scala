package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FlacStreaminfo

/** [[FlacStreaminfo]] (m25): straight-line builder with its own
  * bit-packing bookkeeping (no FLAC encoder ships on this host — the
  * fixture-writer differential, as for the formats where ImageIO/tar
  * had no counterpart), randomized field sweep, and the refusal matrix.
  */
class FlacSpec extends AnyFunSuite {

  /** Independent STREAMINFO packer: writes field-by-field with shifts
    * derived directly from the RFC 9639 bit layout table.
    */
  private def flacOf(rate: Int, channels: Int, bps: Int, total: Long,
                     md5: Array[Byte], extraBlocks: Seq[(Int, Array[Byte])] = Nil,
                     withFrame: Boolean = true): Array[Byte] = {
    require(md5.length == 16)
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val lastFlag = if (extraBlocks.isEmpty) 0x80 else 0x00
    out.write(lastFlag | 0) // STREAMINFO
    out.write(0); out.write(0); out.write(34)
    // min/max blocksize 4096, min/max framesize 0 (unknown)
    out.write(0x10); out.write(0x00); out.write(0x10); out.write(0x00)
    (1 to 6).foreach(_ => out.write(0))
    out.write((rate >> 12) & 0xFF)
    out.write((rate >> 4) & 0xFF)
    out.write(((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bps - 1) >> 4))
    out.write(((bps - 1) & 0xF) << 4 | ((total >> 32) & 0xF).toInt)
    out.write(((total >> 24) & 0xFF).toInt)
    out.write(((total >> 16) & 0xFF).toInt)
    out.write(((total >> 8) & 0xFF).toInt)
    out.write((total & 0xFF).toInt)
    out.write(md5)
    extraBlocks.zipWithIndex.foreach { case ((ty, data), i) =>
      val last = if (i == extraBlocks.size - 1) 0x80 else 0x00
      out.write(last | ty)
      out.write((data.length >> 16) & 0xFF)
      out.write((data.length >> 8) & 0xFF)
      out.write(data.length & 0xFF)
      out.write(data)
    }
    if (withFrame && total > 0) {
      out.write(0xFF); out.write(0xF8) // fixed-blocksize frame sync
      out.write(Array[Byte](0x69, 0x10, 0x00)) // opaque frame bytes
    }
    out.toByteArray
  }

  private def walk(b: Array[Byte]) =
    Option(FlacStreaminfo.walk(b)).map(r => (r.getInt(0), r.getInt(1),
      r.getInt(2), r.getLong(3), r.getUTF8String(4).toString, r.getInt(5)))

  test("field sweep: every rate/channels/bps/total combination round-trips the packing") {
    val md5 = Array.tabulate(16)(i => (i * 17 + 3).toByte)
    val md5Hex = md5.map(x => f"${x & 0xFF}%02x").mkString
    for {
      rate <- Seq(1, 8000, 44100, 48000, 655350)
      ch <- Seq(1, 2, 8)
      bps <- Seq(4, 16, 24, 32)
      total <- Seq(0L, 1L, 44100L, (1L << 36) - 1)
    } {
      val got = walk(flacOf(rate, ch, bps, total, md5))
      assert(got === Some((rate, ch, bps, total, md5Hex, 1)),
        s"rate=$rate ch=$ch bps=$bps total=$total")
    }
  }

  test("multi-block framing: padding + vorbis-comment-shaped blocks walk, counted") {
    val md5 = new Array[Byte](16)
    val blocks = Seq(4 -> "vendor junk the walk must route past".getBytes("UTF-8"),
      1 -> new Array[Byte](64))
    val got = walk(flacOf(22050, 2, 16, 1000L, md5, blocks))
    assert(got.map(_._6) === Some(3))
    assert(got.map(_._1) === Some(22050))
  }

  test("refusals: magic, first-block rule, torn blocks, invalid fields, missing first frame") {
    val md5 = new Array[Byte](16)
    val good = flacOf(44100, 2, 16, 1234L, md5)
    assert(walk(good).nonEmpty)
    // magic
    assert(walk("OggS not a flac".getBytes) === None)
    // first block not STREAMINFO: patch the type bits
    val notFirst = good.clone(); notFirst(4) = (notFirst(4) | 0x01).toByte
    assert(walk(notFirst) === None)
    // STREAMINFO length lie
    val lenLie = good.clone(); lenLie(7) = 33
    assert(walk(lenLie) === None)
    // torn: a later block's declared length overruns the blob
    val torn = flacOf(44100, 2, 16, 1234L, md5,
      extraBlocks = Seq(1 -> new Array[Byte](64))).dropRight(40)
    assert(walk(torn) === None)
    // sample rate 0 is invalid for audio
    assert(walk(flacOf(0, 2, 16, 10L, md5)) === None)
    // min blocksize < 16 is invalid
    val smallBlock = good.clone(); smallBlock(8) = 0; smallBlock(9) = 8
    assert(walk(smallBlock) === None)
    // total_samples > 0 but no frame sync after the metadata
    assert(walk(flacOf(44100, 2, 16, 10L, md5, withFrame = false)) === None)
    // ...while total == 0 legitimately has no frames
    assert(walk(flacOf(44100, 2, 16, 0L, md5, withFrame = false)).nonEmpty)
  }

  test("flac_streaminfo: codegen/interpreted agreement") {
    import CodegenParity.{column, input}
    val spark = SparkTestSession.spark
    import spark.implicits._
    val flac = flacOf(44100, 2, 16, 44100L, Array.tabulate(16)(_.toByte))
    val df = Seq(Tuple1(flac), Tuple1(flac.take(20)), Tuple1(null)).toDF("flac")
    val (interp, gen) = CodegenParity.rows(df, column(FlacStreaminfo(input("flac"))))
    assert(interp === gen)
    assert(interp.map(_ == "[null]") === Seq(false, true, true))
  }
}
