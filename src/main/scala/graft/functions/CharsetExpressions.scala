package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Charset sniffing + strict decode — the step between a crawl record's
  * payload BYTES ([[WarcRecords]] bodies, [[Gunzip]] output) and every
  * text operator in this engine: real web responses arrive in whatever
  * encoding the origin server chose, and feeding un-sniffed bytes to
  * tokenize/fingerprint/shingle kernels silently corrupts every
  * downstream hash. The reference never faces this because its corpus
  * is pre-decoded CSV (`backend/load_data.py:150` reads text columns
  * pandas-side); at 100 TB of crawl the decode IS an engine stage.
  *
  * Detection ([[CharsetDetect]]) is total and deterministic — the
  * WHATWG-style ladder every browser/crawler runs:
  *   1. BOM sniff: EF BB BF -> `utf-8-bom`; FF FE -> `utf-16le`;
  *      FE FF -> `utf-16be` (BOM outranks everything, per the Encoding
  *      Standard's "BOM sniff" step).
  *   2. Strict RFC 3629 UTF-8 scan: pure 7-bit -> `ascii`; valid
  *      multibyte -> `utf-8` (overlongs, surrogates, > U+10FFFF, and
  *      truncated tails all fail the scan — the DFA below).
  *   3. Fallback -> `windows-1252` (the HTML living standard's default
  *      for unlabeled legacy content; a total decode, so the ladder
  *      never dead-ends).
  *
  * Decode ([[CharsetDecode]]) follows the detected branch with the
  * m5-m8 refusal posture applied where the blob makes a CLAIM its body
  * breaks: a UTF-8 BOM followed by invalid UTF-8, or a UTF-16 BOM with
  * an odd-length body or an unpaired surrogate, is torn -> NULL (the
  * declared encoding lies; transcoding garbage would poison dedup
  * silently). The windows-1252 branch is total by design — bytes
  * 0x80-0x9F map per the WHATWG windows-1252 index (curly quotes, em
  * dash, euro...; the five unassigned slots 0x81/8D/8F/90/9D pass
  * through as C1 controls, exactly the standard's mapping), 0xA0-0xFF
  * are Latin-1 identity.
  *
  * Both are per-row scan-fused codegen expressions: zero shuffle, and
  * the UTF-8 happy path (virtually all real text) decodes with a
  * validating scan + zero-copy `UTF8String.fromBytes` — no transcode,
  * no allocation beyond the output slice.
  */
case class CharsetDetect(child: Expression)
    extends UnaryKernel("charset_detect", KernelInput.Binary, StringType, "Charsets.detect",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Charsets.detect(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** charset_decode_html(binary): the WHATWG "prescan the byte stream"
  * step composed into the m17 ladder — real HTML payloads DECLARE
  * their encoding in a `<meta charset=...>` or
  * `<meta http-equiv=content-type content="...charset=...">` tag, and
  * a crawl that ignores the declaration mis-decodes every legacy page
  * whose bytes happen to validate as something else. Ladder:
  *   1. BOM (outranks everything, as in [[CharsetDecode]]).
  *   2. Meta prescan over the first 1024 bytes (the standard's window):
  *      a declared `utf-8`/`us-ascii` body must VALIDATE (a meta that
  *      lies quarantines NULL — the BOM-lie posture); declared
  *      `windows-1252`/`iso-8859-1`/`latin1` decode via the WHATWG
  *      index (the standard maps them to the same decoder); any other
  *      or unparseable label falls through to step 3 (prescan is a
  *      hint, not a contract — unknown labels are not torn).
  *   3. The m17 content ladder (strict UTF-8 scan, CP1252 fallback).
  * Scope: ASCII-superset prescan (the standard's own assumption),
  * double/single-quoted or unquoted attribute values, attributes
  * in any order; `<!-- -->` comments skipped so a commented-out meta
  * never drives the decode.
  */
case class CharsetDecodeHtml(child: Expression)
    extends UnaryKernel("charset_decode_html", KernelInput.Binary, StringType,
      "Charsets.decodeHtml", quarantines = true) {
  override def nullSafeEval(v: Any): Any = Charsets.decodeHtml(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CharsetDecode(child: Expression)
    extends UnaryKernel("charset_decode", KernelInput.Binary, StringType, "Charsets.decode",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = Charsets.decode(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Charsets {

  private val Ascii = UTF8String.fromString("ascii")
  private val Utf8 = UTF8String.fromString("utf-8")
  private val Utf8Bom = UTF8String.fromString("utf-8-bom")
  private val Utf16Le = UTF8String.fromString("utf-16le")
  private val Utf16Be = UTF8String.fromString("utf-16be")
  private val Cp1252 = UTF8String.fromString("windows-1252")

  /** WHATWG windows-1252 index for 0x80-0x9F (0xA0-0xFF is identity). */
  private[functions] val Cp1252High: Array[Char] = Array(
    '\u20AC', '\u0081', '\u201A', '\u0192', '\u201E', '\u2026', '\u2020', '\u2021',
    '\u02C6', '\u2030', '\u0160', '\u2039', '\u0152', '\u008D', '\u017D', '\u008F',
    '\u0090', '\u2018', '\u2019', '\u201C', '\u201D', '\u2022', '\u2013', '\u2014',
    '\u02DC', '\u2122', '\u0161', '\u203A', '\u0153', '\u009D', '\u017E', '\u0178')

  private def hasBom(b: Array[Byte], x: Int, y: Int, z: Int): Boolean =
    b.length >= 3 && (b(0) & 0xFF) == x && (b(1) & 0xFF) == y && (b(2) & 0xFF) == z
  private def hasBom2(b: Array[Byte], x: Int, y: Int): Boolean =
    b.length >= 2 && (b(0) & 0xFF) == x && (b(1) & 0xFF) == y

  /** Strict RFC 3629 scan over b[from, b.length). Returns 0 if pure
    * 7-bit ASCII, 1 if valid UTF-8 with at least one multibyte
    * sequence, -1 if invalid (overlong, surrogate, > U+10FFFF,
    * stray/missing continuation, truncated tail).
    */
  private[functions] def utf8Class(b: Array[Byte], from: Int): Int = {
    var i = from
    var multi = false
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xFF
      if (c < 0x80) { i += 1 }
      else {
        multi = true
        val (need, lo2, hi2) =
          if (c >= 0xC2 && c <= 0xDF) (1, 0x80, 0xBF)
          else if (c == 0xE0) (2, 0xA0, 0xBF)        // no overlong 3-byte
          else if (c >= 0xE1 && c <= 0xEC) (2, 0x80, 0xBF)
          else if (c == 0xED) (2, 0x80, 0x9F)        // no surrogates
          else if (c == 0xEE || c == 0xEF) (2, 0x80, 0xBF)
          else if (c == 0xF0) (3, 0x90, 0xBF)        // no overlong 4-byte
          else if (c >= 0xF1 && c <= 0xF3) (3, 0x80, 0xBF)
          else if (c == 0xF4) (3, 0x80, 0x8F)        // cap at U+10FFFF
          else return -1                              // 0x80-0xC1, 0xF5-0xFF lead
        if (i + need > n - 1) return -1               // truncated tail
        val second = b(i + 1) & 0xFF
        if (second < lo2 || second > hi2) return -1
        var j = 2
        while (j <= need) {
          val cc = b(i + j) & 0xFF
          if (cc < 0x80 || cc > 0xBF) return -1
          j += 1
        }
        i += need + 1
      }
    }
    if (multi) 1 else 0
  }

  def detect(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    if (hasBom(b, 0xEF, 0xBB, 0xBF)) return Utf8Bom
    if (hasBom2(b, 0xFF, 0xFE)) return Utf16Le
    if (hasBom2(b, 0xFE, 0xFF)) return Utf16Be
    utf8Class(b, 0) match {
      case 0 => Ascii
      case 1 => Utf8
      case _ => Cp1252
    }
  }

  /** Strict UTF-16 decode of b[from, n) with the given endianness;
    * null on odd length or unpaired surrogate.
    */
  private def decodeUtf16(b: Array[Byte], from: Int, le: Boolean): UTF8String = {
    val n = b.length - from
    if (n % 2 != 0) return null // torn: a UTF-16 body is 2-byte units
    val units = n / 2
    val out = new Array[Char](units)
    var i = 0
    while (i < units) {
      val p = from + 2 * i
      val u =
        if (le) ((b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8))
        else (((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF))
      if (u >= 0xD800 && u <= 0xDBFF) {
        // high surrogate: the NEXT unit must be a low surrogate
        if (i + 1 >= units) return null
        val q = from + 2 * (i + 1)
        val v =
          if (le) ((b(q) & 0xFF) | ((b(q + 1) & 0xFF) << 8))
          else (((b(q) & 0xFF) << 8) | (b(q + 1) & 0xFF))
        if (v < 0xDC00 || v > 0xDFFF) return null
        out(i) = u.toChar; out(i + 1) = v.toChar
        i += 2
      } else if (u >= 0xDC00 && u <= 0xDFFF) {
        return null // lone low surrogate
      } else {
        out(i) = u.toChar
        i += 1
      }
    }
    UTF8String.fromString(new String(out))
  }

  /** Total windows-1252 decode (the WHATWG index; never fails). */
  private def decodeCp1252(b: Array[Byte]): UTF8String = {
    val out = new Array[Char](b.length)
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xFF
      out(i) =
        if (c < 0x80 || c >= 0xA0) c.toChar
        else Cp1252High(c - 0x80)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  private val AttrRe =
    """([a-z][a-z0-9\-]*)\s*=\s*("([^"]*)"|'([^']*)'|([^\s>"']+))""".r
  private val ContentCharsetRe =
    """charset\s*=\s*["']?\s*([a-z0-9_\-]+)""".r

  /** WHATWG-style meta prescan over the first 1024 bytes. Returns the
    * declared label lowercased, or null when no meta declares one.
    * ASCII-superset read (ISO-8859-1 view — the standard's own
    * assumption for the prescan), comments skipped.
    */
  private[functions] def metaCharset(b: Array[Byte]): String = {
    val n = math.min(b.length, 1024)
    val s = new String(b, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    var i = 0
    while (i < s.length) {
      if (s.startsWith("<!--", i)) {
        val end = s.indexOf("-->", i + 4)
        if (end < 0) return null // comment runs past the window: no signal
        i = end + 3
      } else if (s.startsWith("<meta", i) && i + 5 < s.length &&
                 " \t\n\r\f/".indexOf(s.charAt(i + 5)) >= 0) {
        val end = s.indexOf('>', i)
        val tag = if (end < 0) s.substring(i) else s.substring(i, end)
        val attrs = AttrRe.findAllMatchIn(tag).map { m =>
          val v = Option(m.group(3)).orElse(Option(m.group(4)))
            .getOrElse(m.group(5))
          m.group(1) -> v.trim
        }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }
        attrs.get("charset") match {
          case Some(c) if c.nonEmpty => return c
          case _ =>
            if (attrs.get("http-equiv").contains("content-type"))
              attrs.get("content").foreach { content =>
                ContentCharsetRe.findFirstMatchIn(content)
                  .foreach(m => return m.group(1))
              }
        }
        if (end < 0) return null
        i = end + 1
      } else i += 1
    }
    null
  }

  /** The HTML ladder: BOM, then the meta declaration (a lying utf-8
    * declaration quarantines; cp1252-family labels decode totally;
    * unknown labels fall through), then the content ladder.
    */
  def decodeHtml(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    if (hasBom(b, 0xEF, 0xBB, 0xBF) || hasBom2(b, 0xFF, 0xFE) ||
        hasBom2(b, 0xFE, 0xFF)) return decode(b)
    metaCharset(b) match {
      case "utf-8" | "utf8" =>
        if (utf8Class(b, 0) < 0) null // the declaration lies: torn
        else UTF8String.fromBytes(b, 0, b.length)
      case "windows-1252" | "iso-8859-1" | "iso8859-1" | "latin1" | "l1" |
           "cp1252" | "x-cp1252" | "iso_8859-1" | "us-ascii" | "ascii" =>
        // the WHATWG label table maps all of these (incl. us-ascii) to
        // windows-1252 — a us-ascii page with 0x80-0xFF bytes decodes
        // via the CP1252 index, it does not quarantine
        decodeCp1252(b)
      case _ => decode(b) // no/unknown label: the content ladder
    }
  }

  def decode(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    if (hasBom(b, 0xEF, 0xBB, 0xBF)) {
      // declared UTF-8: the body MUST validate, else the claim is torn
      if (utf8Class(b, 3) < 0) return null
      return UTF8String.fromBytes(b, 3, b.length - 3)
    }
    if (hasBom2(b, 0xFF, 0xFE)) return decodeUtf16(b, 2, le = true)
    if (hasBom2(b, 0xFE, 0xFF)) return decodeUtf16(b, 2, le = false)
    if (utf8Class(b, 0) >= 0) return UTF8String.fromBytes(b, 0, b.length)
    decodeCp1252(b)
  }
}
