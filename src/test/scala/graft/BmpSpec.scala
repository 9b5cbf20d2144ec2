package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BmpPixelStats

class BmpSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Build a 24-bit BI_RGB BMP: pixels(row)(x) = (b, g, r), row 0 being
    * the FIRST stored scanline (bottom of the image when topDown=false).
    */
  private def bmp(w: Int, h: Int, pixels: (Int, Int) => (Int, Int, Int),
                  topDown: Boolean = false, bpp: Int = 24,
                  compression: Int = 0, dibSize: Int = 40,
                  dataOffset: Int = 54): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val buf = ByteBuffer.allocate(54 + stride * h).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h)
      .putInt(0).putInt(dataOffset)
    buf.putInt(dibSize).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(bpp.toShort).putInt(compression)
      .putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (row <- 0 until h) {
      for (x <- 0 until w) {
        val (b, g, r) = pixels(row, x)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- w * 3 until stride) buf.put(0x5A.toByte) // NON-zero padding
    }
    buf.array()
  }

  private def statsOf(bytes: Array[Byte]) =
    Option(BmpPixelStats.decode(bytes)).map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getInt(6), r.getInt(7)))

  test("hand-computed 2x2 decode: per-channel sums exact, padding excluded") {
    // pixels: (b,g,r) laid out so every channel sum is distinct
    val px = Map((0, 0) -> (10, 20, 30), (0, 1) -> (40, 50, 60),
      (1, 0) -> (70, 80, 90), (1, 1) -> (100, 110, 255))
    val got = statsOf(bmp(2, 2, (r, x) => px((r, x))))
    // stride = 8 -> two 0x5A pad bytes per row that must NOT enter stats
    assert(got === Some((2, 2, 4L, 220L, 260L, 435L, 10, 255)))
  }

  test("top-down (negative height) carries the same stats") {
    val f = (r: Int, x: Int) => (r * 16 + x, 2 * r + x, 200 - r - x)
    assert(statsOf(bmp(3, 2, f, topDown = true)) === statsOf(bmp(3, 2, f)))
  }

  test("stragglers quarantine to NULL, never throw") {
    val ok = bmp(2, 2, (_, _) => (1, 2, 3))
    assert(statsOf(ok).isDefined)
    val wrongMagic = ok.clone(); wrongMagic(0) = 'X'.toByte
    assert(statsOf(wrongMagic).isEmpty)
    assert(statsOf(bmp(2, 2, (_, _) => (1, 2, 3), bpp = 32)).isEmpty)
    assert(statsOf(bmp(2, 2, (_, _) => (1, 2, 3), compression = 1)).isEmpty)
    assert(statsOf(bmp(2, 2, (_, _) => (1, 2, 3), dibSize = 12)).isEmpty)
    assert(statsOf(ok.dropRight(1)).isEmpty)               // torn pixel array
    assert(statsOf(bmp(2, 2, (_, _) => (1, 2, 3), dataOffset = 1000)).isEmpty)
    assert(statsOf(Array[Byte]('B', 'M', 1, 2)).isEmpty)   // truncated header
  }

  test("bmp_pixel_stats: codegen/interpreted agreement through SQL registration") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val blob = bmp(3, 3, (r, x) => (r * 20 + x, x * 30, 255 - r * x))
    val df = Seq((1L, blob), (2L, blob.dropRight(1)), (3L, null)).toDF("id", "blob")
    graft.functions.GraftFunctions.register(spark)
    val (interp, gen) = CodegenParity.rows(df,
      Seq("id", "bmp_pixel_stats(blob)", "bmp_ahash(blob)").map(expr): _*)
    assert(gen === interp)
    assert(interp(1) === "[2,null,null]") // the torn row quarantined
    assert(interp(2) === "[3,null,null]")
  }
}
