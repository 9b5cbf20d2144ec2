package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Baseline-JPEG (SOF0) GRAYSCALE pixel decode — the last multimodal
  * decode gap (m1 stops at SOFn metadata; PNG/GIF/BMP/PCM decode
  * pixels): a complete entropy-to-samples walk of the dominant crawl
  * format, implemented from the public ITU-T T.81 spec — DQT/DHT/SOF0/
  * SOS segment parse, canonical Huffman DECODE (the spec's
  * mincode/maxcode/valptr procedure), DC prediction + receive/extend,
  * AC run-length with ZRL/EOB, dequantization, zigzag, and a
  * double-precision separable 2-D IDCT (the reference formulation;
  * IEEE-strict on JDK 17, so bit-deterministic) with level shift and
  * clamp.
  *
  * Scope is the LUMA path the m-family needs: single-component (8-bit
  * grayscale), baseline sequential AND progressive (SOF2 — the
  * multi-scan web-optimized class; see [[ProgState]]), restart
  * intervals included (DRI + the cycling RSTn markers with
  * per-interval DC predictor resets and byte re-alignment — what
  * camera firmware emits for error resilience) — anything else
  * quarantines to NULL (the m5-m8 torn-blob posture: refuse loudly
  * per row, never crash the job). Color JPEG decode
  * (including 4:2:0/4:2:2 chroma subsampling) is the same machinery
  * times three components plus box chroma upsampling — the
  * [[JpegRgbStats]] surface; the seam stays per-row scan-fused either
  * way.
  *
  * Output is the m8 stats shape (width, height, n_pixels, pixel_sum,
  * pixel_min, pixel_max) — the decoder proves itself by INVERSION
  * (the gate constructs JPEGs arithmetically and the oracle states the
  * expected stats) and by a JDK-ImageIO DIFFERENTIAL (JpegSpec decodes
  * ImageIO-encoded full-AC images within the ±1/sample envelope IEEE
  * 1180 grants different conforming IDCTs).
  */
case class JpegPixelStats(child: Expression)
    extends UnaryKernel("jpeg_pixel_stats", KernelInput.Binary, JpegPixelStats.Schema,
      "JpegPixelStats.decodeStats", quarantines = true) {
  override def nullSafeEval(v: Any): Any = JpegPixelStats.decodeStats(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** COLOR (YCbCr) baseline-JPEG decode to RGB stats — the m12/m13
  * surface on the same decode core: interleaved three-component MCUs
  * generic over the full legal T.81 sampling-factor range 1-4 (4:4:4,
  * 4:2:2, 4:4:0, the dominant real-crawl class 4:2:0, and the DV-class
  * 4:1:1 at factor 4 — per-component quant/Huffman selectors, DC
  * predictors, and rasters at component resolution),
  * chroma box-replicated to full resolution (sample replication, the
  * libjpeg -nosmooth upsampler — a pure selection, chosen over the
  * triangular filter precisely so inversion oracles can state every
  * sample exactly; on a CONSTANT chroma plane every conforming
  * upsampler agrees, which is what the ImageIO differential pins), then
  * the standard 16-bit fixed-point CCIR 601 color conversion (exact
  * integer arithmetic — see [[JpegPixelStats.decodeRgb]]). Grayscale
  * files pass through as R = G = B.
  */
case class JpegRgbStats(child: Expression)
    extends UnaryKernel("jpeg_rgb_stats", KernelInput.Binary, JpegRgbStats.Schema,
      "JpegPixelStats.decodeRgbStats", quarantines = true) {
  override def nullSafeEval(v: Any): Any =
    JpegPixelStats.decodeRgbStats(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object JpegRgbStats {
  val Schema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_pixels", LongType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("pixel_min", IntegerType),
    StructField("pixel_max", IntegerType)))
}

object JpegPixelStats {
  val Schema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_pixels", LongType),
    StructField("pixel_sum", LongType),
    StructField("pixel_min", IntegerType),
    StructField("pixel_max", IntegerType)))

  /** Refuse-before-walking bound (the BMP/PNG posture). */
  val MaxPixels: Long = 64L * 1024 * 1024

  /** The T.81 zigzag order: zigzag(k) = natural index of the k-th
    * coefficient in scan order.
    */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1) u pi / 16) * C(u) table for the separable IDCT. */
  private val CosT: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Canonical Huffman table in the spec's DECODE representation. */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (counts(l - 1) == 0) maxCode(l) = -1
        else {
          valPtr(l) = k
          minCode(l) = code
          code += counts(l - 1); k += counts(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def symbol(i: Int): Int = symbols(i)
  }

  /** Entropy-segment bit reader with 0xFF00 unstuffing; a marker byte
    * (0xFF followed by anything but 0x00) or running off the buffer
    * raises — callers translate to NULL.
    */
  private final class Bits(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= b.length) throw Torn
        var v = b(pos) & 0xFF; pos += 1
        if (v == 0xFF) {
          if (pos >= b.length) throw Torn
          val m = b(pos) & 0xFF; pos += 1
          // a marker inside a coefficient read is a torn stream — RSTn
          // markers are only legal at the interval boundaries the walk
          // consumes explicitly via restart()
          if (m != 0x00) throw Torn
          v = 0xFF
        }
        acc = v; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def bits(k: Int): Int = {
      var v = 0; var i = 0
      while (i < k) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decode(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.symbol(h.valPtr(l) + code - h.minCode(l))
        code = (code << 1) | bit()
        l += 1
      }
      throw Torn // code longer than any table entry
    }
    /** Consume the RSTn marker at a restart boundary: discard any
      * buffered padding bits (byte-align — T.81 pads with 1-bits before
      * a marker), then require the exact cycling marker index. A wrong
      * or absent marker is a torn stream.
      */
    def restart(expectedIdx: Int): Unit = {
      n = 0 // drop padding bits; markers are byte-aligned
      if (pos + 1 >= b.length) throw Torn
      if ((b(pos) & 0xFF) != 0xFF ||
          (b(pos + 1) & 0xFF) != (0xD0 | (expectedIdx & 7))) throw Torn
      pos += 2
    }
  }

  private object Torn extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  /** T.81 EXTEND: map an s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode to per-component sample rasters (1 = grayscale, 3 = YCbCr
    * at 4:4:4); null on anything outside the supported envelope or any
    * torn/invalid stream.
    */
  def decodeComponents(b: Array[Byte]): Array[Array[Array[Int]]] = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null // SOI
    val qt = Array.ofDim[Int](4, 64)
    val qtSeen = new Array[Boolean](4)
    val dcT = new Array[Huff](4); val acT = new Array[Huff](4)
    var w = 0; var h = 0
    var ncomp = 0
    val compId = new Array[Int](3)
    val compQ = new Array[Int](3)
    val compH = new Array[Int](3)
    val compV = new Array[Int](3)
    val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    var restartInterval = 0
    var progressive = false
    var prog: ProgState = null
    var pos = 2
    try {
      while (true) {
        if (pos + 1 >= b.length) return null
        if ((b(pos) & 0xFF) != 0xFF) return null
        val marker = b(pos + 1) & 0xFF; pos += 2
        marker match {
          case 0xD8 => () // stray SOI: tolerate
          case 0xD9 => // EOI: the legal end of a progressive stream
            if (!progressive || prog == null) return null // EOI before SOS
            return prog.finish(w, h, compQ, qt, qtSeen)
          case sof @ (0xC0 | 0xC2) => // SOF0 baseline / SOF2 progressive
            val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
            if (pos + len > b.length) return null
            val precision = b(pos + 2) & 0xFF
            h = ((b(pos + 3) & 0xFF) << 8) | (b(pos + 4) & 0xFF)
            w = ((b(pos + 5) & 0xFF) << 8) | (b(pos + 6) & 0xFF)
            val nc = b(pos + 7) & 0xFF
            if (precision != 8 || (nc != 1 && nc != 3)) return null
            if (len < 8 + 3 * nc) return null
            if (ncomp != 0) return null // two frames: torn
            ncomp = nc
            progressive = sof == 0xC2
            var ci = 0
            while (ci < nc) {
              compId(ci) = b(pos + 8 + 3 * ci) & 0xFF
              // the full legal T.81 factor range 1-4: factors 1-2 cover
              // 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0, factor 4 is the DV-class
              // 4:1:1 (round 16 — the MCU walk and box replication are
              // sampling-generic, so the widening is just this bound)
              val hv = b(pos + 9 + 3 * ci) & 0xFF
              compH(ci) = hv >> 4; compV(ci) = hv & 0x0F
              if (compH(ci) < 1 || compH(ci) > 4 ||
                  compV(ci) < 1 || compV(ci) > 4) return null
              compQ(ci) = b(pos + 10 + 3 * ci) & 0xFF
              if (compQ(ci) > 3) return null
              ci += 1
            }
            if (progressive) {
              if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return null
              prog = new ProgState(w, h, ncomp, compH, compV)
            }
            pos += len
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return null // non-baseline, non-progressive SOF: out of scope
          case 0xDB => // DQT
            val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
            if (pos + len > b.length) return null
            var p = pos + 2
            while (p < pos + len) {
              val pq = (b(p) & 0xFF) >> 4; val tq = b(p) & 0x0F
              if (pq != 0 || tq > 3) return null // 8-bit tables only
              if (p + 65 > pos + len) return null
              var i = 0
              while (i < 64) { qt(tq)(Zigzag(i)) = b(p + 1 + i) & 0xFF; i += 1 }
              qtSeen(tq) = true
              p += 65
            }
            pos += len
          case 0xC4 => // DHT
            val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
            if (pos + len > b.length) return null
            var p = pos + 2
            while (p < pos + len) {
              val tc = (b(p) & 0xFF) >> 4; val th = b(p) & 0x0F
              if (tc > 1 || th > 3) return null
              if (p + 17 > pos + len) return null
              val counts = Array.tabulate(16)(i => b(p + 1 + i) & 0xFF)
              val nsym = counts.sum
              if (p + 17 + nsym > pos + len || nsym > 256) return null
              val syms = Array.tabulate(nsym)(i => b(p + 17 + i) & 0xFF)
              val huff = new Huff(counts, syms)
              if (tc == 0) dcT(th) = huff else acT(th) = huff
              p += 17 + nsym
            }
            pos += len
          case 0xDD => // DRI: restart interval in MCUs (0 disables)
            val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
            if (len != 4 || pos + len > b.length) return null
            restartInterval = ((b(pos + 2) & 0xFF) << 8) | (b(pos + 3) & 0xFF)
            pos += len
          case 0xDA => // SOS — entropy data follows
            val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
            if (pos + len > b.length) return null
            val ns = b(pos + 2) & 0xFF
            if (ncomp == 0 || len < 6 + 2 * ns) return null
            if (progressive) {
              // progressive scan: 1..ncomp components, any spectral band
              if (ns < 1 || ns > ncomp) return null
              val scomp = new Array[Int](ns)
              val sdc = new Array[Int](ns); val sac = new Array[Int](ns)
              var ci = 0
              var lastIdx = -1
              while (ci < ns) {
                val id = b(pos + 3 + 2 * ci) & 0xFF
                var idx = -1
                var j = 0
                while (j < ncomp) { if (compId(j) == id) idx = j; j += 1 }
                if (idx < 0 || idx <= lastIdx) return null // unknown / out of frame order
                lastIdx = idx
                scomp(ci) = idx
                sdc(ci) = (b(pos + 4 + 2 * ci) & 0xFF) >> 4
                sac(ci) = b(pos + 4 + 2 * ci) & 0x0F
                if (sdc(ci) > 3 || sac(ci) > 3) return null
                ci += 1
              }
              val ss = b(pos + 3 + 2 * ns) & 0xFF
              val se = b(pos + 4 + 2 * ns) & 0xFF
              val ahAl = b(pos + 5 + 2 * ns) & 0xFF
              val ah = ahAl >> 4; val al = ahAl & 0x0F
              pos += len
              pos = prog.scan(b, pos, scomp, sdc, sac, ss, se, ah, al,
                dcT, acT, restartInterval)
            } else {
              if (ns != ncomp) return null
              var ci = 0
              while (ci < ns) {
                // scan components must arrive in frame order (interleave rule)
                if ((b(pos + 3 + 2 * ci) & 0xFF) != compId(ci)) return null
                compDc(ci) = (b(pos + 4 + 2 * ci) & 0xFF) >> 4
                compAc(ci) = b(pos + 4 + 2 * ci) & 0x0F
                if (compDc(ci) > 3 || compAc(ci) > 3) return null
                ci += 1
              }
              val (ss, se) = (b(pos + 3 + 2 * ns) & 0xFF, b(pos + 4 + 2 * ns) & 0xFF)
              if (ss != 0 || se != 63) return null // baseline full scan
              pos += len
              val qs = Array.tabulate(ncomp) { c =>
                if (!qtSeen(compQ(c))) return null; qt(compQ(c))
              }
              val dcs = Array.tabulate(ncomp)(c => dcT(compDc(c)))
              val acs = Array.tabulate(ncomp)(c => acT(compAc(c)))
              return entropyDecode(b, pos, w, h, compH, compV, qs, dcs, acs,
                restartInterval)
            }
          case m if m >= 0xD0 && m <= 0xD7 => return null // stray RST
          case 0x01 => () // TEM, standalone
          case _ => // APPn/COM/other: length-prefixed skip
            if (pos + 1 >= b.length) return null
            val len = ((b(pos) & 0xFF) << 8) | (b(pos + 1) & 0xFF)
            if (len < 2 || pos + len > b.length) return null
            pos += len
        }
      }
      null
    } catch { case Torn => null }
  }

  /** Interleaved-MCU entropy decode, general over sampling factors: an
    * MCU holds Hi x Vi blocks per component in frame order (u fastest,
    * then v — T.81 A.2.3), each component carrying its own DC predictor
    * and table selectors at its OWN (possibly subsampled) resolution.
    * Single-component scans are non-interleaved per the spec: one block
    * per MCU walking ceil(w/8) x ceil(h/8), whatever the declared
    * factors. Subsampled components are box-replicated to full
    * resolution before returning (sample replication — libjpeg's
    * -nosmooth / int_upsample behavior: a pure SELECTION, no new sample
    * values, so inversion oracles can state every pixel arithmetically).
    * Returns one full-resolution raster per component.
    */
  private def entropyDecode(b: Array[Byte], start: Int, w: Int, h: Int,
                            hsRaw: Array[Int], vsRaw: Array[Int],
                            qs: Array[Array[Int]], dcs: Array[Huff],
                            acs: Array[Huff], ri: Int): Array[Array[Array[Int]]] = {
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return null
    val nc = qs.length
    var c0 = 0
    while (c0 < nc) {
      if (dcs(c0) == null || acs(c0) == null) return null
      c0 += 1
    }
    val eh = Array.tabulate(nc)(c => if (nc == 1) 1 else hsRaw(c))
    val ev = Array.tabulate(nc)(c => if (nc == 1) 1 else vsRaw(c))
    val hmax = eh.max; val vmax = ev.max
    // per-component dims (T.81 A.1.1): ceil(w * Hi / Hmax) etc.
    val cw = Array.tabulate(nc)(c => ((w.toLong * eh(c) + hmax - 1) / hmax).toInt)
    val ch = Array.tabulate(nc)(c => ((h.toLong * ev(c) + vmax - 1) / vmax).toInt)
    val mcx = (w + 8 * hmax - 1) / (8 * hmax)
    val mcy = (h + 8 * vmax - 1) / (8 * vmax)
    val sub = Array.tabulate(nc)(c => Array.ofDim[Int](ch(c), cw(c)))
    val bits = new Bits(b, start)
    val coef = new Array[Int](64)
    val tmp = Array.ofDim[Double](8, 8)
    val pred = new Array[Int](nc)
    try {
      // restart bookkeeping: after every `ri` MCUs (when ri > 0) the
      // stream byte-aligns, carries the cycling RSTn marker, and every
      // component's DC predictor resets (T.81 F.2.1.3.1)
      var mcuDone = 0
      var rstIdx = 0
      var my = 0
      while (my < mcy) {
        var mx = 0
        while (mx < mcx) {
          if (ri > 0 && mcuDone > 0 && mcuDone % ri == 0) {
            bits.restart(rstIdx)
            rstIdx = (rstIdx + 1) & 7
            java.util.Arrays.fill(pred, 0)
          }
          var c = 0
          while (c < nc) {
            val q = qs(c)
            var bv = 0
            while (bv < ev(c)) {
              var bu = 0
              while (bu < eh(c)) {
                java.util.Arrays.fill(coef, 0)
                // DC
                val t = bits.decode(dcs(c))
                if (t > 11) throw Torn
                pred(c) += extend(bits.bits(t), t)
                coef(0) = pred(c) * q(0)
                // AC
                var k = 1
                var eob = false
                while (k < 64 && !eob) {
                  val rs = bits.decode(acs(c))
                  val r = rs >> 4; val s = rs & 15
                  if (s == 0) {
                    if (r == 15) { // ZRL: 16 zero coefficients
                      k += 16
                      // overshoot past the block end is as malformed as a
                      // coefficient-run overshoot — refuse loudly (k == 64,
                      // exactly filling the block, is the legal boundary)
                      if (k > 64) throw Torn
                    } else eob = true
                  } else {
                    k += r
                    if (k > 63) throw Torn
                    coef(Zigzag(k)) = extend(bits.bits(s), s) * q(Zigzag(k))
                    k += 1
                  }
                }
                idctBlock(coef, tmp, sub(c),
                  (mx * eh(c) + bu) * 8, (my * ev(c) + bv) * 8, cw(c), ch(c))
                bu += 1
              }
              bv += 1
            }
            c += 1
          }
          mcuDone += 1
          mx += 1
        }
        my += 1
      }
      // box-replicate subsampled components to full resolution: the
      // source index y*Vi/Vmax stays in range because ch = ceil(h*Vi/Vmax)
      Array.tabulate(nc) { c =>
        if (cw(c) == w && ch(c) == h) sub(c)
        else {
          val full = Array.ofDim[Int](h, w)
          var y = 0
          while (y < h) {
            val sy = sub(c)(y * ev(c) / vmax)
            var x = 0
            while (x < w) { full(y)(x) = sy(x * eh(c) / hmax); x += 1 }
            y += 1
          }
          full
        }
      }
    } catch { case Torn => null }
  }

  /** Progressive (SOF2) decode state — T.81 Annex G: coefficients
    * accumulate across scans (spectral selection bands Ss..Se at
    * successive-approximation precision Ah/Al), then dequantize + IDCT
    * once at EOI. The four scan kinds:
    *   - DC first (Ss=Se=0, Ah=0): baseline DC differences, stored
    *     `<< Al`; interleaved (any frame-order component subset) or
    *     single-component.
    *   - DC refine (Ah>0): one raw bit per block, OR-ed in at `Al`.
    *   - AC first (Ss>0, Ah=0): run/size with the EOB-RUN extension
    *     ((1<<r)-1 + r extra bits of block skips); single-component
    *     only (the spec forbids interleaved progressive AC).
    *   - AC refine (Ss>0, Ah>0): the correction-bit walk — every
    *     nonzero-history coefficient crossed consumes one bit; new
    *     coefficients arrive as ±1<<Al (s != 1 is torn).
    * Sequencing is enforced per coefficient: first scan of a band needs
    * Ah=0; a refinement needs Ah = previous Al and Al = Ah-1; AC before
    * the component's DC is torn; a missing DC band at EOI is torn.
    * Restart intervals byte-align, consume the cycling RSTn, and reset
    * BOTH the DC predictors and the EOB run.
    */
  private final class ProgState(w: Int, h: Int, nc: Int,
                                hsRaw: Array[Int], vsRaw: Array[Int]) {
    private val eh = Array.tabulate(nc)(c => if (nc == 1) 1 else hsRaw(c))
    private val ev = Array.tabulate(nc)(c => if (nc == 1) 1 else vsRaw(c))
    private val hmax = eh.max; private val vmax = ev.max
    private val cw = Array.tabulate(nc)(c => ((w.toLong * eh(c) + hmax - 1) / hmax).toInt)
    private val ch = Array.tabulate(nc)(c => ((h.toLong * ev(c) + vmax - 1) / vmax).toInt)
    private val mcx = (w + 8 * hmax - 1) / (8 * hmax)
    private val mcy = (h + 8 * vmax - 1) / (8 * vmax)
    private val wB = Array.tabulate(nc)(c => mcx * eh(c))
    private val hB = Array.tabulate(nc)(c => mcy * ev(c))
    private val nbw = Array.tabulate(nc)(c => (cw(c) + 7) / 8)
    private val nbh = Array.tabulate(nc)(c => (ch(c) + 7) / 8)
    private val coefs = Array.tabulate(nc)(c => new Array[Int](wB(c) * hB(c) * 64))
    private val approx = Array.fill(nc, 64)(-1) // last Al per coefficient; -1 = unseen
    private var anyScan = false

    /** Decode one scan's entropy data; returns the position after it. */
    def scan(b: Array[Byte], start: Int, scomp: Array[Int], sdc: Array[Int],
             sac: Array[Int], ss: Int, se: Int, ah: Int, al: Int,
             dcT: Array[Huff], acT: Array[Huff], ri: Int): Int = {
      val ns = scomp.length
      if (ss > 63 || se > 63 || se < ss || al > 13 || ah > 13) throw Torn
      if (ss == 0 && se != 0) throw Torn // a DC band is exactly {0}
      if (ss > 0 && ns != 1) throw Torn  // no interleaved progressive AC
      var i = 0
      while (i < ns) {
        val c = scomp(i)
        if (ss > 0 && approx(c)(0) < 0) throw Torn // AC before the DC band
        var k = ss
        while (k <= se) {
          val prev = approx(c)(k)
          if (prev < 0) { if (ah != 0) throw Torn }
          else if (ah != prev || al != ah - 1) throw Torn
          approx(c)(k) = al
          k += 1
        }
        i += 1
      }
      anyScan = true
      val bits = new Bits(b, start)
      val pred = new Array[Int](ns)
      var eobrun = 0
      var rstIdx = 0
      var unitDone = 0
      def restartCheck(): Unit =
        if (ri > 0 && unitDone > 0 && unitDone % ri == 0) {
          bits.restart(rstIdx)
          rstIdx = (rstIdx + 1) & 7
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }

      if (ss == 0) {
        def dcBlock(cf: Array[Int], base: Int, tab: Huff, pi: Int): Unit =
          if (ah == 0) {
            val t = bits.decode(tab)
            if (t > 11) throw Torn
            pred(pi) += extend(bits.bits(t), t)
            cf(base) = pred(pi) << al
          } else if (bits.bit() == 1) cf(base) |= (1 << al)
        if (ns == 1) {
          val c = scomp(0)
          val tab = if (ah == 0) {
            val t = dcT(sdc(0)); if (t == null) throw Torn; t
          } else null
          var by = 0
          while (by < nbh(c)) {
            var bx = 0
            while (bx < nbw(c)) {
              restartCheck()
              dcBlock(coefs(c), (by * wB(c) + bx) * 64, tab, 0)
              unitDone += 1
              bx += 1
            }
            by += 1
          }
        } else {
          val tabs = Array.tabulate(ns) { j =>
            if (ah == 0) { val t = dcT(sdc(j)); if (t == null) throw Torn; t }
            else null
          }
          var my = 0
          while (my < mcy) {
            var mx = 0
            while (mx < mcx) {
              restartCheck()
              var j = 0
              while (j < ns) {
                val c = scomp(j)
                var bv = 0
                while (bv < ev(c)) {
                  var bu = 0
                  while (bu < eh(c)) {
                    dcBlock(coefs(c),
                      ((my * ev(c) + bv) * wB(c) + (mx * eh(c) + bu)) * 64,
                      tabs(j), j)
                    bu += 1
                  }
                  bv += 1
                }
                j += 1
              }
              unitDone += 1
              mx += 1
            }
            my += 1
          }
        }
      } else {
        // AC scans: single component, non-interleaved block walk
        val c = scomp(0)
        val acTab = acT(sac(0)); if (acTab == null) throw Torn
        val cf = coefs(c)
        val p1 = 1 << al; val mneg = -1 << al
        var by = 0
        while (by < nbh(c)) {
          var bx = 0
          while (bx < nbw(c)) {
            restartCheck()
            val base = (by * wB(c) + bx) * 64
            if (ah == 0) {
              // AC first
              if (eobrun > 0) eobrun -= 1
              else {
                var k = ss
                var done = false
                while (k <= se && !done) {
                  val rs = bits.decode(acTab)
                  val r = rs >> 4; val s = rs & 15
                  if (s == 0) {
                    if (r == 15) {
                      k += 16
                      if (k > se + 1) throw Torn // ZRL past the band end
                    } else {
                      eobrun = (1 << r) - 1
                      if (r > 0) eobrun += bits.bits(r)
                      done = true
                    }
                  } else {
                    k += r
                    if (k > se) throw Torn
                    cf(base + Zigzag(k)) = extend(bits.bits(s), s) << al
                    k += 1
                  }
                }
              }
            } else {
              // AC refine: the G.2 correction-bit walk
              var k = ss
              if (eobrun == 0) {
                var ended = false
                while (k <= se && !ended) {
                  val rs = bits.decode(acTab)
                  var r = rs >> 4; val s0 = rs & 15
                  var newVal = 0
                  if (s0 != 0) {
                    if (s0 != 1) throw Torn // refinement inserts only ±1<<Al
                    newVal = if (bits.bit() == 1) p1 else mneg
                  } else if (r != 15) {
                    // refine EOB runs INCLUDE the current block: its
                    // remaining band positions still drain correction
                    // bits in the eobrun tail below, which decrements
                    eobrun = 1 << r
                    if (r > 0) eobrun += bits.bits(r)
                    ended = true
                  } // r == 15, s == 0: ZRL — skip 16 zero-history positions
                  if (!ended) {
                    var advancing = true
                    while (advancing && k <= se) {
                      val z = base + Zigzag(k)
                      if (cf(z) != 0) {
                        if (bits.bit() == 1 && (cf(z) & p1) == 0)
                          cf(z) += (if (cf(z) >= 0) p1 else mneg)
                      } else {
                        r -= 1
                        if (r < 0) advancing = false // the target zero position
                      }
                      if (advancing) k += 1
                    }
                    if (newVal != 0) {
                      if (k > se) throw Torn
                      cf(base + Zigzag(k)) = newVal
                    }
                    k += 1
                  }
                }
              }
              if (eobrun > 0) {
                // inside an EOB run: correction bits for the rest of the band
                while (k <= se) {
                  val z = base + Zigzag(k)
                  if (cf(z) != 0) {
                    if (bits.bit() == 1 && (cf(z) & p1) == 0)
                      cf(z) += (if (cf(z) >= 0) p1 else mneg)
                  }
                  k += 1
                }
                eobrun -= 1
              }
            }
            unitDone += 1
            bx += 1
          }
          by += 1
        }
      }
      bits.pos
    }

    /** Dequantize + IDCT every real block, then box-replicate subsampled
      * components — the same output contract as the baseline path.
      */
    def finish(w: Int, h: Int, compQ: Array[Int], qt: Array[Array[Int]],
               qtSeen: Array[Boolean]): Array[Array[Array[Int]]] = {
      if (!anyScan) return null
      var c = 0
      while (c < nc) {
        if (approx(c)(0) < 0) return null // DC band never coded
        if (!qtSeen(compQ(c))) return null
        c += 1
      }
      val sub = Array.tabulate(nc)(c => Array.ofDim[Int](ch(c), cw(c)))
      val coefD = new Array[Int](64)
      val tmp = Array.ofDim[Double](8, 8)
      c = 0
      while (c < nc) {
        val q = qt(compQ(c))
        val cf = coefs(c)
        var by = 0
        while (by < nbh(c)) {
          var bx = 0
          while (bx < nbw(c)) {
            val base = (by * wB(c) + bx) * 64
            var i = 0
            while (i < 64) { coefD(i) = cf(base + i) * q(i); i += 1 }
            idctBlock(coefD, tmp, sub(c), bx * 8, by * 8, cw(c), ch(c))
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      Array.tabulate(nc) { c =>
        if (cw(c) == w && ch(c) == h) sub(c)
        else {
          val full = Array.ofDim[Int](h, w)
          var y = 0
          while (y < h) {
            val sy = sub(c)(y * ev(c) / vmax)
            var x = 0
            while (x < w) { full(y)(x) = sy(x * eh(c) / hmax); x += 1 }
            y += 1
          }
          full
        }
      }
    }
  }

  /** Separable double-precision IDCT + level shift + clamp, writing the
    * (possibly clipped) block into the raster.
    */
  private def idctBlock(coef: Array[Int], tmp: Array[Array[Double]],
                        out: Array[Array[Int]], x0: Int, y0: Int,
                        w: Int, h: Int): Unit = {
    // rows: for each coefficient row v, 1-D IDCT across u
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += CosT(u * 8 + x) * coef(v * 8 + u); u += 1 }
        tmp(v)(x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += CosT(vv * 8 + y) * tmp(vv)(x); vv += 1 }
        val px = x0 + x; val py = y0 + y
        if (px < w && py < h) {
          val sample = math.round(s / 4.0 + 128.0).toInt
          out(py)(px) = if (sample < 0) 0 else if (sample > 255) 255 else sample
        }
        x += 1
      }
      y += 1
    }
  }

  /** Grayscale raster — the m11 surface: single-component files only
    * (a color file under the GRAY gate is a caller error, not a luma
    * projection the caller never asked for).
    */
  def decodePixels(b: Array[Byte]): Array[Array[Int]] = {
    val comps = decodeComponents(b)
    if (comps == null || comps.length != 1) null else comps(0)
  }

  /** JFIF YCbCr -> RGB in the standard 16-bit fixed point (constants =
    * round(c * 65536) of the published CCIR 601 factors — the same
    * fixed-point formulation libjpeg documents):
    *   R = Y + (91881  * (Cr-128) + 32768 >> 16)
    *   G = Y - (22554  * (Cb-128) + 46802 * (Cr-128) + 32768 >> 16)
    *   B = Y + (116130 * (Cb-128) + 32768 >> 16)
    * Exact integer arithmetic, so the m12 oracle can state every sample.
    * Single-component input maps to R = G = B = Y. Returns [3][h][w].
    */
  def decodeRgb(b: Array[Byte]): Array[Array[Array[Int]]] = {
    val comps = decodeComponents(b)
    if (comps == null) return null
    if (comps.length == 1) return Array(comps(0), comps(0), comps(0))
    val Array(yp, cbp, crp) = comps
    val h = yp.length; val w = if (h == 0) 0 else yp(0).length
    val out = Array.fill(3)(Array.ofDim[Int](h, w))
    def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val yy = yp(y)(x)
        val cb = cbp(y)(x) - 128
        val cr = crp(y)(x) - 128
        out(0)(y)(x) = clamp(yy + ((91881 * cr + 32768) >> 16))
        out(1)(y)(x) = clamp(yy - ((22554 * cb + 46802 * cr + 32768) >> 16))
        out(2)(y)(x) = clamp(yy + ((116130 * cb + 32768) >> 16))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Shared eval/codegen kernel for the RGB stats shape (m8's columns:
    * per-channel sums, global min/max over every sample).
    */
  def decodeRgbStats(b: Array[Byte]): InternalRow = {
    val rgb = decodeRgb(b)
    if (rgb == null) return null
    val h = rgb(0).length; val w = if (h == 0) 0 else rgb(0)(0).length
    if (h == 0 || w == 0) return null
    val sums = new Array[Long](3)
    var mn = 256; var mx = -1
    var c = 0
    while (c < 3) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = rgb(c)(y)(x)
          sums(c) += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          x += 1
        }
        y += 1
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](w, h, w.toLong * h,
      sums(0), sums(1), sums(2), mn, mx))
  }

  /** Shared eval/codegen kernel: stats over the decoded raster. */
  def decodeStats(b: Array[Byte]): InternalRow = {
    val px = decodePixels(b)
    if (px == null) return null
    val h = px.length; val w = if (h == 0) 0 else px(0).length
    if (h == 0 || w == 0) return null
    var sum = 0L; var mn = 256; var mx = -1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = px(y)(x)
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](w, h, w.toLong * h, sum, mn, mx))
  }
}
