package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PDF document walk (m24) — the one format a real corpus mirror or
  * crawl ships in bulk that the m-family still lacked: metadata
  * (version, page count, object count) and text extraction (the
  * Tj/TJ/'/" text-showing operators out of every page's content
  * stream), as scan-fused expressions with the m5-m8 torn-blob posture:
  * any malformation, unsupported construct, or resource bomb
  * quarantines the WHOLE blob to NULL — never a crash, never a partial
  * answer presented as complete.
  *
  * Format from the public ISO 32000 spec. Scope — wide enough that the
  * PDF 1.5+ files real documentation mirrors actually ship parse
  * end-to-end (both `/usr/share/doc` PDFs on this host do, differential
  * in PdfSpec):
  *  - classic `xref` tables AND cross-reference streams (/Type /XRef,
  *    /W field widths, /Index subsections, PNG predictors 10-15 on
  *    FlateDecode), /Prev chains, hybrid-reference /XRefStm;
  *  - object streams (/Type /ObjStm — where 1.5+ writers put every
  *    non-stream object, including the page tree);
  *  - stream filters: none or /FlateDecode (zlib via the same JDK
  *    Inflater seam as [[Gunzip]]); anything else refuses;
  *  - text: BT..ET blocks; Tj / ' / " show one string, TJ shows an
  *    array (numeric kerning adjustments below -150/1000 em render as
  *    one space); Td, TD, T*, ' and " start a new line, ET ends one. String
  *    bytes decode as Latin-1 (the StandardEncoding subset real text
  *    extraction degrades to without per-font /ToUnicode CMaps — the
  *    same honesty boundary as the reference's format triage, see
  *    `Multimodal.media_format` / SURVEY §2.9 m4). Inline images
  *    (BI..EI) are skipped by delimiter scan.
  *
  * Refusals (whole-blob NULL): no %PDF header, no/garbled startxref or
  * xref, /Encrypt in the trailer (encrypted documents are out of
  * scope), an unsupported filter, any object/offset out of bounds,
  * page-tree cycles, and the resource caps below (a 100 TB scan task
  * must bound its memory by construction, not by the data's honesty).
  *
  * Reference anchor: the multimodal triage posture of
  * joshuasundance-swca/govgis_nov2023-slim-spatial-server (metadata
  * routing before any heavy decode); the walk itself is from ISO 32000.
  */
case class PdfMeta(child: Expression)
    extends UnaryKernel("pdf_meta", KernelInput.Binary, PdfWalk.MetaSchema, "PdfWalk.meta",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = PdfWalk.meta(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class PdfText(child: Expression)
    extends UnaryKernel("pdf_text", KernelInput.Binary, StringType, "PdfWalk.text",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = PdfWalk.text(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** pdf_info(binary) -> the document-information dictionary (provenance
  * metadata a corpus pipeline routes and dedups on): /Title /Author
  * /Subject /Creator /Producer /CreationDate /ModDate, each null when
  * absent. Strings decode per ISO 32000 §7.9.2: a UTF-16BE BOM (FE FF)
  * selects UTF-16BE, anything else reads as the PDFDocEncoding
  * Latin-1 subset. A document that parses but has NO /Info yields an
  * all-null row (absence of metadata is a fact, not a malformation);
  * a torn or encrypted document yields NULL like [[PdfMeta]].
  */
case class PdfInfo(child: Expression)
    extends UnaryKernel("pdf_info", KernelInput.Binary, PdfWalk.InfoSchema, "PdfWalk.info",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = PdfWalk.info(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PdfWalk {
  val MetaSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("pages", IntegerType),
    StructField("objects", IntegerType)))

  val InfoSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("author", StringType),
    StructField("subject", StringType),
    StructField("creator", StringType),
    StructField("producer", StringType),
    StructField("creation_date", StringType),
    StructField("mod_date", StringType)))

  // Resource caps (refuse past any — scan-task memory is bounded by
  // construction): xref entries, page count, one inflated stream, the
  // assembled text, indirect-reference chains, tree/nesting depth,
  // /Prev chain length.
  private val MaxXref = 1 << 20
  private val MaxPages = 100000
  private val MaxStream = 64 * 1024 * 1024
  private val MaxText = 64 * 1024 * 1024
  private val MaxChain = 32
  private val MaxDepth = 64
  private val MaxPrev = 64

  /** Control-flow refusal: caught at the two entry points only. */
  private object Refused extends RuntimeException with scala.util.control.NoStackTrace

  private def refuse(): Nothing = throw Refused

  // ---- object model ----------------------------------------------------
  private sealed trait PObj
  private case class PInt(v: Long) extends PObj
  private case class PReal(v: Double) extends PObj
  private case class PStr(v: Array[Byte]) extends PObj
  private case class PName(v: String) extends PObj
  private case class PArr(v: Vector[PObj]) extends PObj
  private case class PDict(v: Map[String, PObj]) extends PObj
  private case class PRef(n: Long) extends PObj
  private case class PKw(v: String) extends PObj
  private case class PBool(v: Boolean) extends PObj
  private case object PNil extends PObj
  /** A stream object: its dict + the byte index of the `stream` keyword. */
  private case class PStream(dict: PDict, pos: Int) extends PObj

  /** Numeric-token scans — content streams carry millions of numeric
    * operands, so these replace regexes on the token hot path.
    */
  private[functions] def isIntTok(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = if (s.charAt(0) == '+' || s.charAt(0) == '-') 1 else 0
    if (i >= s.length) return false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      i += 1
    }
    true
  }
  private[functions] def isRealTok(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = if (s.charAt(0) == '+' || s.charAt(0) == '-') 1 else 0
    var digits = 0
    var dots = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') digits += 1
      else if (c == '.') dots += 1
      else return false
      i += 1
    }
    digits > 0 && dots == 1
  }

  private def isDelim(c: Int): Boolean = c match {
    case ' ' | '\t' | '\r' | '\n' | 0x0c | 0 => true
    case '/' | '[' | ']' | '<' | '>' | '(' | ')' | '{' | '}' | '%' => true
    case _ => false
  }
  private def isWs(c: Int): Boolean = c match {
    case ' ' | '\t' | '\r' | '\n' | 0x0c | 0 => true
    case _ => false
  }

  // ---- lexer -------------------------------------------------------------
  private final class Lexer(val b: Array[Byte], var p: Int) {
    private def at(i: Int): Int = { if (i >= b.length || i < 0) refuse(); b(i) & 0xFF }

    def ws(): Unit = {
      var cont = true
      while (cont && p < b.length) {
        val c = b(p) & 0xFF
        if (isWs(c)) p += 1
        else if (c == '%') { while (p < b.length && b(p) != '\r' && b(p) != '\n') p += 1 }
        else cont = false
      }
    }

    def peekKw(kw: String): Boolean = {
      ws()
      p + kw.length <= b.length &&
        new String(b, p, kw.length, java.nio.charset.StandardCharsets.ISO_8859_1) == kw
    }

    private def hexVal(c: Int): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else refuse()

    def token(depth: Int = 0): PObj = {
      if (depth > MaxDepth) refuse()
      ws()
      if (p >= b.length) refuse()
      val c = at(p)
      if (c == '<' && p + 1 < b.length && (b(p + 1) & 0xFF) == '<') { // dict
        p += 2
        var d = Map.empty[String, PObj]
        var open = true
        while (open) {
          ws()
          if (p + 1 < b.length && at(p) == '>' && at(p + 1) == '>') { p += 2; open = false }
          else token(depth + 1) match {
            case PName(k) => d = d.updated("/" + k, token(depth + 1))
            case _ => refuse()
          }
        }
        return PDict(d)
      }
      if (c == '<') { // hex string
        var i = p + 1
        val out = new java.io.ByteArrayOutputStream()
        var hi = -1
        while (at(i) != '>') {
          val h = at(i)
          if (!isWs(h)) {
            if (hi < 0) hi = hexVal(h)
            else { out.write((hi << 4) | hexVal(h)); hi = -1 }
          }
          i += 1
          if (out.size > MaxStream) refuse()
        }
        if (hi >= 0) out.write(hi << 4)
        p = i + 1
        return PStr(out.toByteArray)
      }
      if (c == '(') { // literal string with escapes and balanced parens
        var depthP = 1
        var i = p + 1
        val out = new java.io.ByteArrayOutputStream()
        while (depthP > 0) {
          val ch = at(i)
          if (ch == '\\') {
            val nx = at(i + 1)
            nx match {
              case 'n' => out.write(10); i += 2
              case 'r' => out.write(13); i += 2
              case 't' => out.write(9); i += 2
              case 'b' => out.write(8); i += 2
              case 'f' => out.write(12); i += 2
              case '(' => out.write('('); i += 2
              case ')' => out.write(')'); i += 2
              case '\\' => out.write('\\'); i += 2
              case d if d >= '0' && d <= '7' =>
                var j = i + 1; var o = 0; var k = 0
                while (k < 3 && j < b.length && at(j) >= '0' && at(j) <= '7') {
                  o = o * 8 + (at(j) - '0'); j += 1; k += 1
                }
                out.write(o & 0xFF); i = j
              case '\r' =>
                i += 2; if (i < b.length && at(i) == '\n') i += 1
              case '\n' => i += 2
              case other => out.write(other); i += 2
            }
          } else if (ch == '(') { depthP += 1; out.write(ch); i += 1 }
          else if (ch == ')') { depthP -= 1; if (depthP > 0) out.write(ch); i += 1 }
          else { out.write(ch); i += 1 }
          if (out.size > MaxStream) refuse()
        }
        p = i
        return PStr(out.toByteArray)
      }
      if (c == '/') { // name
        var i = p + 1
        while (i < b.length && !isDelim(b(i) & 0xFF)) i += 1
        val s = new String(b, p + 1, i - p - 1, java.nio.charset.StandardCharsets.ISO_8859_1)
        p = i
        return PName(s)
      }
      if (c == '[') { // array
        p += 1
        val buf = Vector.newBuilder[PObj]
        var n = 0
        var open = true
        while (open) {
          ws()
          if (p < b.length && at(p) == ']') { p += 1; open = false }
          else {
            buf += token(depth + 1); n += 1
            if (n > (1 << 20)) refuse()
          }
        }
        return PArr(buf.result())
      }
      if (c == ']' || c == '>' || c == ')' || c == '{' || c == '}') refuse()
      // number / ref / keyword
      var i = p
      while (i < b.length && !isDelim(b(i) & 0xFF)) i += 1
      if (i == p) refuse()
      val tok = new String(b, p, i - p, java.nio.charset.StandardCharsets.ISO_8859_1)
      p = i
      tok match {
        case "true" => PBool(true)
        case "false" => PBool(false)
        case "null" => PNil
        case _ if PdfWalk.isIntTok(tok) =>
          val n = try tok.toLong catch { case _: NumberFormatException => refuse() }
          // lookahead: "n g R" is an indirect reference
          if (n >= 0) {
            val save = p
            ws()
            var j = p
            while (j < b.length && (b(j) & 0xFF) >= '0' && (b(j) & 0xFF) <= '9') j += 1
            if (j > p && j - p <= 10) {
              var q = j
              while (q < b.length && isWs(b(q) & 0xFF)) q += 1
              if (q < b.length && at(q) == 'R' &&
                  (q + 1 >= b.length || isDelim(b(q + 1) & 0xFF))) {
                p = q + 1
                return PRef(n)
              }
            }
            p = save
          }
          PInt(n)
        case _ if PdfWalk.isRealTok(tok) =>
          PReal(tok.toDouble)
        case _ => PKw(tok)
      }
    }
  }

  // ---- document ----------------------------------------------------------
  /** Xref entry: offset >= 0 for an in-file object; for a compressed
    * (type-2) object, stm holds the container's number and idx its index.
    */
  private final case class XEntry(offset: Long, stm: Long, idx: Int)

  private final class Doc(val b: Array[Byte]) {
    val xref = new scala.collection.mutable.LongMap[XEntry]()
    var trailer: Map[String, PObj] = Map.empty
    private val objStmCache = new scala.collection.mutable.LongMap[Map[Long, PObj]]()

    loadXref()
    if (trailer.contains("/Encrypt")) refuse() // encrypted: out of scope

    private def trailerMerge(d: Map[String, PObj]): Unit =
      for ((k, v) <- d if !trailer.contains(k)) trailer = trailer.updated(k, v)

    private def loadXref(): Unit = {
      val t = lastIndexOf(b, "startxref")
      if (t < 0) refuse()
      val lx0 = new Lexer(b, t + 9)
      val first = lx0.token() match { case PInt(v) => v; case _ => refuse() }
      var queue = List(first)
      var seen = Set.empty[Long]
      var rounds = 0
      while (queue.nonEmpty) {
        rounds += 1
        if (rounds > MaxPrev) refuse()
        val off = queue.head; queue = queue.tail
        if (!seen.contains(off)) {
          seen += off
          if (off < 0 || off >= b.length) refuse()
          val lx = new Lexer(b, off.toInt)
          if (lx.peekKw("xref")) queue = loadClassic(lx) ::: queue
          else queue = loadXrefStream(lx) ::: queue
        }
      }
      if (!trailer.contains("/Root")) refuse()
    }

    /** Classic table: subsections of 20-byte entries, then `trailer`.
      * Returns the follow-up offsets (/Prev chain + hybrid /XRefStm).
      */
    private def loadClassic(lx: Lexer): List[Long] = {
      lx.p += 4
      var out = List.empty[Long]
      var open = true
      while (open) {
        if (lx.peekKw("trailer")) {
          lx.p += 7
          val tr = lx.token() match { case PDict(d) => d; case _ => refuse() }
          trailerMerge(tr)
          // hybrid-reference files: the /XRefStm supplements THIS section
          // and must be read before any /Prev (first-writer-wins entries)
          tr.get("/Prev").foreach { case PInt(v) => out ::= v; case _ => refuse() }
          tr.get("/XRefStm").foreach { case PInt(v) => out ::= v; case _ => refuse() }
          open = false
        } else {
          val start = lx.token() match { case PInt(v) => v; case _ => refuse() }
          val count = lx.token() match { case PInt(v) => v; case _ => refuse() }
          if (start < 0 || count < 0 || count > MaxXref) refuse()
          lx.ws()
          var i = 0L
          while (i < count) {
            if (lx.p + 20 > b.length) refuse()
            val e = new String(b, lx.p, 20, java.nio.charset.StandardCharsets.ISO_8859_1)
            lx.p += 20
            val off = try e.substring(0, 10).trim.toLong
              catch { case _: NumberFormatException => refuse() }
            val ty = e.charAt(17)
            if (ty == 'n') put(start + i, XEntry(off, -1, -1))
            else if (ty != 'f') refuse()
            i += 1
          }
        }
      }
      out
    }

    /** Cross-reference stream (/Type /XRef). Returns follow-up offsets. */
    private def loadXrefStream(lx: Lexer): List[Long] = {
      (lx.token(), lx.token(), lx.token()) match {
        case (PInt(_), PInt(_), PKw("obj")) => ()
        case _ => refuse()
      }
      val d = lx.token() match { case PDict(m) => m; case _ => refuse() }
      if (!d.get("/Type").contains(PName("XRef"))) refuse()
      if (!lx.peekKw("stream")) refuse()
      val data = streamData(PStream(PDict(d), lx.p), this)
      val w = d.get("/W") match {
        case Some(PArr(a)) => a.map { case PInt(v) if v >= 0 && v <= 8 => v.toInt; case _ => refuse() }
        case _ => refuse()
      }
      if (w.size != 3) refuse()
      val size = d.get("/Size") match { case Some(PInt(v)) => v; case _ => refuse() }
      val idx: Vector[Long] = d.get("/Index") match {
        case Some(PArr(a)) => a.map { case PInt(v) => v; case _ => refuse() }
        case None => Vector(0L, size)
        case _ => refuse()
      }
      if (idx.size % 2 != 0) refuse()
      val rowLen = w.sum
      if (rowLen <= 0) refuse()
      var pos = 0
      idx.grouped(2).foreach { pair =>
        val start = pair(0); val count = pair(1)
        if (start < 0 || count < 0 || count > MaxXref) refuse()
        var i = 0L
        while (i < count) {
          if (pos + rowLen > data.length) refuse()
          var q = pos
          val f = new Array[Long](3)
          var k = 0
          while (k < 3) {
            var v = 0L
            var j = 0
            while (j < w(k)) { v = (v << 8) | (data(q) & 0xFFL); q += 1; j += 1 }
            f(k) = v
            k += 1
          }
          pos += rowLen
          val ty = if (w(0) == 0) 1L else f(0) // default type 1 per spec
          if (ty == 1L) put(start + i, XEntry(f(1), -1, -1))
          else if (ty == 2L) put(start + i, XEntry(-1, f(1), f(2).toInt))
          // type 0 (free) and unknown types: ignored per spec
          i += 1
        }
      }
      for (k <- Seq("/Root", "/Size", "/Info", "/ID"); v <- d.get(k))
        trailerMerge(Map(k -> v))
      if (d.contains("/Encrypt")) trailerMerge(Map("/Encrypt" -> d("/Encrypt")))
      d.get("/Prev") match {
        case Some(PInt(v)) => List(v)
        case None => Nil
        case _ => refuse()
      }
    }

    private def put(n: Long, e: XEntry): Unit = {
      if (xref.size > MaxXref) refuse()
      // first writer wins: the startxref-most-recent section is read first
      if (!xref.contains(n)) xref(n) = e
    }

    def getObj(n: Long, depth: Int): PObj = {
      if (depth > MaxChain) refuse()
      xref.get(n) match {
        case None => PNil // a dangling ref reads as null per spec
        case Some(XEntry(off, -1, -1)) =>
          if (off < 0 || off >= b.length) refuse()
          val lx = new Lexer(b, off.toInt)
          (lx.token(), lx.token(), lx.token()) match {
            case (PInt(num), PInt(_), PKw("obj")) =>
              if (num != n) refuse() // the xref lied about what lives here
              val obj = lx.token()
              lx.ws()
              if (lx.peekKw("stream")) obj match {
                case d: PDict => PStream(d, lx.p)
                case _ => refuse()
              } else obj
            case _ => refuse()
          }
        case Some(XEntry(_, stm, idx)) =>
          val objs = objStmCache.getOrElseUpdate(stm, loadObjStm(stm, depth))
          objs.getOrElse(n, PNil)
      }
    }

    private def loadObjStm(stm: Long, depth: Int): Map[Long, PObj] = {
      if (objStmCache.size > 4096) refuse()
      val st = getObj(stm, depth + 1) match {
        case s: PStream => s
        case _ => refuse() // an ObjStm can never itself be compressed
      }
      if (!st.dict.v.get("/Type").contains(PName("ObjStm"))) refuse()
      val data = streamData(st, this)
      val n = resolve(st.dict.v.getOrElse("/N", refuse()), 0) match {
        case PInt(v) if v >= 0 && v <= MaxXref => v.toInt; case _ => refuse()
      }
      val first = resolve(st.dict.v.getOrElse("/First", refuse()), 0) match {
        case PInt(v) if v >= 0 && v <= data.length => v.toInt; case _ => refuse()
      }
      val hl = new Lexer(data, 0)
      val pairs = (0 until n).map { _ =>
        (hl.token(), hl.token()) match {
          case (PInt(num), PInt(off)) if off >= 0 => (num, off)
          case _ => refuse()
        }
      }
      pairs.map { case (num, off) =>
        if (first + off > data.length) refuse()
        val ol = new Lexer(data, (first + off).toInt)
        num -> ol.token()
      }.toMap
    }

    def resolve(o: PObj, depth: Int): PObj = o match {
      case PRef(n) =>
        if (depth > MaxChain) refuse()
        resolve(getObj(n, depth + 1), depth + 1)
      case other => other
    }
  }

  private def lastIndexOf(b: Array[Byte], s: String): Int = {
    val pat = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var i = b.length - pat.length
    while (i >= 0) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i -= 1
    }
    -1
  }

  // ---- streams -------------------------------------------------------------
  /** Decode a stream object's data: locate the bytes after the `stream`
    * keyword (+EOL), take /Length (possibly indirect), apply filters
    * (none or FlateDecode, single or 1-element array) and PNG predictors.
    */
  private def streamData(st: PStream, doc: Doc): Array[Byte] = {
    val b = doc.b
    var q = st.pos + 6 // past "stream"
    if (q < b.length && b(q) == '\r') q += 1
    if (q < b.length && b(q) == '\n') q += 1
    val len = doc.resolve(st.dict.v.getOrElse("/Length", refuse()), 0) match {
      case PInt(v) if v >= 0 && v <= MaxStream => v.toInt
      case _ => refuse()
    }
    if (q.toLong + len > b.length) refuse()
    val raw = java.util.Arrays.copyOfRange(b, q, q + len)
    val filters: Seq[PObj] = doc.resolve(st.dict.v.getOrElse("/Filter", PNil), 0) match {
      case PNil => Nil
      case n: PName => Seq(n)
      case PArr(a) => a
      case _ => refuse()
    }
    val parms: Seq[PObj] = doc.resolve(st.dict.v.getOrElse("/DecodeParms", PNil), 0) match {
      case PNil => Nil
      case d: PDict => Seq(d)
      case PArr(a) => a
      case _ => refuse()
    }
    var data = raw
    filters.zipWithIndex.foreach {
      case (PName("FlateDecode"), i) =>
        data = inflateZlib(data)
        val pm = if (i < parms.size) doc.resolve(parms(i), 0) else PNil
        pm match {
          case PDict(m) =>
            val pred = doc.resolve(m.getOrElse("/Predictor", PInt(1)), 0) match {
              case PInt(v) => v.toInt; case _ => refuse()
            }
            if (pred >= 10) {
              val cols = doc.resolve(m.getOrElse("/Columns", PInt(1)), 0) match {
                case PInt(v) if v > 0 && v <= (1 << 16) => v.toInt; case _ => refuse()
              }
              data = unpredictPng(data, cols)
            } else if (pred != 1) refuse() // TIFF predictor: out of scope
          case PNil => ()
          case _ => refuse()
        }
      case _ => refuse() // any other filter: out of scope, refuse loudly
    }
    data
  }

  /** zlib (RFC 1950) inflation with the [[Gunzip]] bomb posture. */
  private def inflateZlib(raw: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream(math.min(raw.length * 4, 1 << 20))
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n = try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => refuse() }
        if (n == 0 && !inf.finished()) refuse() // truncated/needs-dict
        if (out.size().toLong + n > MaxStream) refuse()
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  /** PNG row predictors (10-15 → per-row filter byte, types 0-4),
    * 8-bit single-component rows as xref streams use them.
    */
  private def unpredictPng(data: Array[Byte], cols: Int): Array[Byte] = {
    val row = cols + 1
    if (data.length % row != 0) refuse()
    val rows = data.length / row
    val out = new Array[Byte](rows * cols)
    val prev = new Array[Int](cols)
    var r = 0
    while (r < rows) {
      val ft = data(r * row) & 0xFF
      var i = 0
      while (i < cols) {
        val x = data(r * row + 1 + i) & 0xFF
        val left = if (i > 0) out(r * cols + i - 1) & 0xFF else 0
        val up = prev(i)
        val ul = if (i > 0) prev(i - 1) else 0
        val v = ft match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case 4 =>
            val p0 = left + up - ul
            val pa = math.abs(p0 - left); val pb = math.abs(p0 - up); val pc = math.abs(p0 - ul)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => refuse()
        }
        out(r * cols + i) = (v & 0xFF).toByte
        i += 1
      }
      var j = 0
      while (j < cols) { prev(j) = out(r * cols + j) & 0xFF; j += 1 }
      r += 1
    }
    out
  }

  // ---- pages + text ---------------------------------------------------------
  private def pages(doc: Doc): Vector[PDict] = {
    val root = doc.resolve(doc.trailer.getOrElse("/Root", refuse()), 0) match {
      case d: PDict => d; case _ => refuse()
    }
    val out = Vector.newBuilder[PDict]
    var count = 0
    var visiting = Set.empty[PObj]
    def walk(node0: PObj, depth: Int): Unit = {
      if (depth > MaxDepth) refuse()
      if (visiting.contains(node0)) refuse() // page-tree cycle
      visiting += node0
      val node = doc.resolve(node0, 0) match {
        case d: PDict => d
        case PStream(d, _) => d
        case _ => refuse()
      }
      node.v.get("/Type") match {
        case Some(PName("Pages")) =>
          doc.resolve(node.v.getOrElse("/Kids", PArr(Vector.empty)), 0) match {
            case PArr(kids) => kids.foreach(walk(_, depth + 1))
            case _ => refuse()
          }
        case Some(PName("Page")) =>
          count += 1
          if (count > MaxPages) refuse()
          out += node
        case _ => () // intermediate nodes of other types: skip
      }
    }
    walk(root.v.getOrElse("/Pages", refuse()), 0)
    out.result()
  }

  private def pageStreams(doc: Doc, page: PDict): Array[Byte] = {
    val conts = doc.resolve(page.v.getOrElse("/Contents", PNil), 0) match {
      case PNil => Vector.empty[PObj]
      case s: PStream => Vector(s)
      case PArr(a) => a
      case _ => refuse()
    }
    val out = new java.io.ByteArrayOutputStream()
    conts.foreach { c =>
      val st = doc.resolve(c, 0) match { case s: PStream => s; case _ => refuse() }
      val d = streamData(st, doc)
      if (out.size().toLong + d.length + 1 > MaxStream) refuse()
      out.write(d)
      out.write('\n')
    }
    out.toByteArray
  }

  /** Text-showing walk over one (concatenated) content stream. The
    * contract in the class doc: Tj/'/" show their string, TJ shows its
    * array (kerning < -150 → one space), Td, TD, T*, ' and " break the line,
    * ET ends one; bytes decode as Latin-1.
    */
  private def contentText(data: Array[Byte], out: java.lang.StringBuilder): Unit = {
    val lx = new Lexer(data, 0)
    var inText = false
    var stack = List.empty[PObj]
    def lastStr: Option[Array[Byte]] =
      stack.collectFirst { case PStr(s) => s }
    def emit(s: Array[Byte]): Unit = {
      if (out.length().toLong + s.length > MaxText) refuse()
      var i = 0
      while (i < s.length) { out.append((s(i) & 0xFF).toChar); i += 1 }
    }
    while ({ lx.ws(); lx.p < data.length }) {
      lx.token() match {
        case PKw(k) =>
          k match {
            case "BT" => inText = true; stack = Nil
            case "ET" => inText = false; out.append('\n'); stack = Nil
            case "Td" | "TD" | "T*" if inText => out.append('\n'); stack = Nil
            case "'" | "\"" if inText =>
              out.append('\n'); lastStr.foreach(emit); stack = Nil
            case "Tj" if inText => lastStr.foreach(emit); stack = Nil
            case "TJ" if inText =>
              stack.headOption match {
                case Some(PArr(a)) => a.foreach {
                  case PStr(s) => emit(s)
                  case PInt(v) if v < -150 => out.append(' ')
                  case PReal(v) if v < -150 => out.append(' ')
                  case _ => ()
                }
                case _ => ()
              }
              stack = Nil
            case "BI" =>
              // inline image (ISO 32000 §8.9.7): parse the BI..ID dict
              // with the real lexer — /L (PDF 2.0: /Length) gives the
              // EXACT encoded-data byte count, making the skip
              // deterministic. Without it, fall back to scanning for a
              // whitespace-framed EI, but VALIDATE each candidate by
              // dry-lexing the resume point: raw image bytes can contain
              // " EI " by chance, and resuming there would silently
              // garble the extracted text — a partial answer, against
              // the whole-blob-or-nothing posture. A candidate whose
              // resume doesn't tokenize is skipped as a false match; no
              // clean candidate at all refuses. Residual (documented)
              // risk: a false EI whose following image bytes ALSO lex
              // cleanly for the lookahead window is indistinguishable
              // from the real delimiter without decoding the image.
              var imgLen = -1L
              var sawId = false
              while (!sawId) {
                lx.token() match {
                  case PKw("ID") => sawId = true
                  case PName(k) =>
                    val v = lx.token()
                    if (k == "L" || k == "Length") v match {
                      case PInt(n) if n >= 0 => imgLen = n
                      case _ => refuse()
                    }
                  case _ => refuse() // dict keys must be names
                }
              }
              // exactly one whitespace byte separates ID from the data
              if (lx.p >= data.length || !isWs(data(lx.p) & 0xFF)) refuse()
              val dataStart = lx.p + 1
              if (imgLen >= 0) {
                val end = dataStart.toLong + imgLen
                if (end > data.length) refuse()
                var j = end.toInt
                while (j < data.length && isWs(data(j) & 0xFF)) j += 1
                if (j + 2 > data.length || data(j) != 'E' || data(j + 1) != 'I' ||
                    (j + 2 < data.length && !isWs(data(j + 2) & 0xFF))) refuse()
                lx.p = j + 2
              } else {
                var i = dataStart
                var found = -1
                while (found < 0 && i + 2 < data.length) {
                  if (isWs(data(i) & 0xFF) && data(i + 1) == 'E' && data(i + 2) == 'I' &&
                      (i + 3 >= data.length || isWs(data(i + 3) & 0xFF)) &&
                      lexesCleanly(data, i + 3)) found = i + 3
                  i += 1
                }
                if (found < 0) refuse()
                lx.p = found
              }
              stack = Nil
            case _ => stack = Nil // any other operator clears its operands
          }
        case operand => stack ::= operand
      }
    }
  }

  /** Dry-run lex from `from`: the next up-to-8 tokens must parse without
    * refusal (running off the end cleanly counts as clean). Guards the
    * EI fallback scan against false matches inside raw image bytes.
    */
  private def lexesCleanly(data: Array[Byte], from: Int): Boolean =
    try {
      val t = new Lexer(data, from)
      var k = 0
      while (k < 8) {
        t.ws()
        if (t.p >= data.length) return true
        t.token()
        k += 1
      }
      true
    } catch { case Refused => false }

  // ---- public entry points ---------------------------------------------------
  private def open(b: Array[Byte]): Doc = {
    if (b == null || b.length < 32) refuse()
    // header: %PDF-M.N within the first 1024 bytes is the spec's own rule,
    // but real writers put it at 0 — require it at 0 (strict)
    if (!(b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' && b(4) == '-')) refuse()
    new Doc(b)
  }

  private def version(b: Array[Byte]): String = {
    var i = 5
    while (i < b.length && i < 13 && !isWs(b(i) & 0xFF)) i += 1
    new String(b, 5, i - 5, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  def meta(b: Array[Byte]): GenericInternalRow =
    try {
      val doc = open(b)
      val pgs = pages(doc)
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(version(b)), pgs.size, doc.xref.size))
    } catch {
      case Refused => null
      case scala.util.control.NonFatal(_) => null
    }

  /** ISO 32000 §7.9.2 text-string decode: UTF-16BE when BOM'd, else
    * the PDFDocEncoding Latin-1 subset.
    */
  private def textString(s: Array[Byte]): UTF8String =
    if (s.length >= 2 && (s(0) & 0xFF) == 0xFE && (s(1) & 0xFF) == 0xFF)
      UTF8String.fromString(new String(s, 2, s.length - 2,
        java.nio.charset.StandardCharsets.UTF_16BE))
    else UTF8String.fromString(new String(s,
      java.nio.charset.StandardCharsets.ISO_8859_1))

  def info(b: Array[Byte]): GenericInternalRow =
    try {
      val doc = open(b)
      val fields = Array("/Title", "/Author", "/Subject", "/Creator",
        "/Producer", "/CreationDate", "/ModDate")
      doc.trailer.get("/Info").map(doc.resolve(_, 0)) match {
        case Some(PDict(m)) =>
          new GenericInternalRow(fields.map[Any] { k =>
            m.get(k).map(doc.resolve(_, 0)) match {
              case Some(PStr(s)) => textString(s)
              case _ => null // absent or a non-string value: null field
            }
          })
        case _ => // parses, but carries no information dictionary
          new GenericInternalRow(new Array[Any](fields.length))
      }
    } catch {
      case Refused => null
      case scala.util.control.NonFatal(_) => null
    }

  def text(b: Array[Byte]): UTF8String =
    try {
      val doc = open(b)
      val out = new java.lang.StringBuilder()
      pages(doc).foreach { pg => contentText(pageStreams(doc, pg), out) }
      UTF8String.fromString(out.toString)
    } catch {
      case Refused => null
      case scala.util.control.NonFatal(_) => null
    }
}
