package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BmpAhash

class BmpAhashSpec extends AnyFunSuite {

  /** Build a 24-bit bottom-up BMP from a pixel function over STORAGE
    * coordinates (r = storage row, x = column, c = channel b/g/r).
    */
  private def bmp(w: Int, h: Int, px: (Int, Int, Int) => Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val n = stride * h
    val b = new Array[Byte](54 + n)
    def le32(i: Int, v: Int): Unit = {
      b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
      b(i + 2) = ((v >> 16) & 0xff).toByte; b(i + 3) = ((v >> 24) & 0xff).toByte
    }
    b(0) = 'B'; b(1) = 'M'; le32(2, 54 + n); le32(10, 54); le32(14, 40)
    le32(18, w); le32(22, h); b(26) = 1; b(28) = 24; le32(30, 0); le32(34, n)
    for (r <- 0 until h; x <- 0 until w; c <- 0 until 3)
      b(54 + r * stride + x * 3 + c) = (px(r, x, c) & 0xff).toByte
    b
  }

  test("hash64 matches a JDK-ImageIO differential implementation") {
    // independent reimplementation: read the SAME bytes through
    // javax.imageio, recover storage rows (bottom-up BMPs display
    // flipped), and apply the documented cell/threshold rule
    def reference(bytes: Array[Byte]): Long = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val w = img.getWidth; val h = img.getHeight
      val cellSum = new Array[Long](64); val cellN = new Array[Long](64)
      var total = 0L
      for (r <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, h - 1 - r) // display row -> storage row
        val g = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val cell = (r * 8 / h) * 8 + (x * 8 / w)
        cellSum(cell) += g; cellN(cell) += 1; total += g
      }
      val nT = w.toLong * h
      (0 until 64).foldLeft(0L) { (acc, cell) =>
        if (cellSum(cell) * nT > total * cellN(cell)) acc | (1L << cell) else acc
      }
    }
    for ((w, h, seed) <- Seq((8, 8, 1), (11, 9, 2), (16, 12, 3), (40, 25, 4))) {
      val img = bmp(w, h, (r, x, c) => (seed * 37 + r * 11 + x * 5 + x * r * 3 + c * 7) % 256)
      val got = BmpAhash.hash64(img)
      assert(got !== null, s"${w}x$h decoded to null")
      assert(got.longValue === reference(img), s"differential mismatch at ${w}x$h")
    }
  }

  test("perceptual behavior: identical images equal, one-pixel edit is near, different images far") {
    val base = bmp(12, 10, (r, x, c) => (r * 17 + x * 9 + x * r * 5 + c * 7) % 256)
    val same = bmp(12, 10, (r, x, c) => (r * 17 + x * 9 + x * r * 5 + c * 7) % 256)
    val near = bmp(12, 10, (r, x, c) =>
      if (r == 0 && x == 0 && c == 0) 250 else (r * 17 + x * 9 + x * r * 5 + c * 7) % 256)
    val far = bmp(12, 10, (r, x, c) => (r * 5 + x * 23 + x * r * 13 + c * 7 + 90) % 256)
    val hb = BmpAhash.hash64(base).longValue
    assert(BmpAhash.hash64(same).longValue === hb)
    val dNear = java.lang.Long.bitCount(hb ^ BmpAhash.hash64(near).longValue)
    val dFar = java.lang.Long.bitCount(hb ^ BmpAhash.hash64(far).longValue)
    assert(dNear <= 3, s"one-pixel edit moved $dNear bits")
    assert(dFar > 10, s"different image only $dFar bits away")
  }

  test("BmpFixture: sidecar blobs are byte-identical to inline synthesis and built once") {
    val spark = SparkTestSession.spark
    val d = "/root/testdata/sf0.001"
    val inline = graft.sources.BmpFixture.synthesize(spark, d)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val sidecar = graft.sources.BmpFixture.blobs(spark, d)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(sidecar === inline)
    // second call reuses the materialized copy (no rewrite: _SUCCESS mtime stable)
    val marker = new java.io.File(graft.sources.BmpFixture.sidecarDir(d), "_SUCCESS")
    assert(marker.isFile)
    val m0 = marker.lastModified
    graft.sources.BmpFixture.blobs(spark, d).count()
    assert(marker.lastModified === m0, "sidecar was rebuilt on a warm call")
  }

  test("quarantine: sub-8x8, torn, and non-BMP blobs hash to null") {
    assert(BmpAhash.hash64(bmp(7, 8, (_, _, _) => 0)) === null)
    assert(BmpAhash.hash64(bmp(8, 7, (_, _, _) => 0)) === null)
    val torn = bmp(8, 8, (_, _, _) => 1).dropRight(2)
    assert(BmpAhash.hash64(torn) === null)
    assert(BmpAhash.hash64("notabmp".getBytes) === null)
    assert(BmpAhash.hash64(null) === null)
  }
}
