package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PdfWalk

/** PDF walk (m24) differentials.
  *
  * Real-file arm: the two PDFs shipped in this host's /usr/share/doc —
  * both written by independent toolchains (pdfTeX and a DocBook chain),
  * both PDF 1.5 with cross-reference streams and object streams, i.e.
  * they exercise exactly the constructs a hand-built fixture tends to
  * get subtly right-by-construction. Assertions pin structural facts
  * (version from the raw header, page walk) and text CONTENT the
  * documents are publicly known to contain.
  *
  * Hand-built arm: a classic-xref PDF assembled by straight-line
  * builder code (offset bookkeeping independent of the parser), pinning
  * the exact text contract; plus FlateDecode via the JDK Deflater (the
  * independent compressor), string escapes, hex strings, and the
  * refusal matrix.
  */
class PdfSpec extends AnyFunSuite {

  private def metaOf(b: Array[Byte]): Option[(String, Int, Int)] =
    Option(PdfWalk.meta(b)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2)))

  private def textOf(b: Array[Byte]): String = {
    val t = PdfWalk.text(b)
    assert(t !== null, "text extraction refused a well-formed document")
    t.toString
  }

  // ---- real files ----------------------------------------------------------

  private def realFile(p: String): Option[Array[Byte]] = {
    val f = new java.io.File(p)
    if (f.isFile) Some(java.nio.file.Files.readAllBytes(f.toPath)) else None
  }

  test("real PDF 1.5 (pdfTeX, xref streams + ObjStm): pages walk, text is the document's") {
    realFile("/usr/share/doc/libtasn1-doc/libtasn1.pdf") match {
      case None => cancel("host fixture not present")
      case Some(b) =>
        val Some((version, pages, objects)) = metaOf(b)
        assert(version === "1.5")
        assert(pages === 36)
        assert(objects > 300, s"suspiciously few objects: $objects")
        val txt = textOf(b)
        // content this public GNU manual is known to carry, extracted
        // through xref streams, object streams, FlateDecode and predictors
        assert(txt.contains("Abstract Syntax Notation One (ASN.1) library"))
        assert(txt.contains("Distinguished Encoding Rules (DER)"))
        assert(txt.contains("GNU Free Documentation License"))
    }
  }

  test("real PDF 1.5 (DocBook chain): second independent writer parses end-to-end") {
    realFile("/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf") match {
      case None => cancel("host fixture not present")
      case Some(b) =>
        val Some((version, pages, _)) = metaOf(b)
        assert(version === "1.5")
        assert(pages === 17)
        val txt = textOf(b)
        assert(txt.contains("Shared MIME-info Database"))
        assert(txt.contains("freedesktop.org"))
    }
  }

  private def infoOf(b: Array[Byte]): Option[Seq[String]] =
    Option(PdfWalk.info(b)).map(r => (0 until 7).map(i =>
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString))

  test("pdf_info: real files' document-information dictionaries read exactly") {
    realFile("/usr/share/doc/libtasn1-doc/libtasn1.pdf") match {
      case None => cancel("host fixture not present")
      case Some(b) =>
        // pdfTeX wrote no Title/Author/Subject; the provenance fields are set
        val Some(Seq(title, author, subject, creator, producer, cdate, mdate)) = infoOf(b)
        assert(title === null && author === null && subject === null)
        assert(creator === "TeX")
        assert(producer === "pdfTeX-1.40.24")
        assert(cdate === "D:20250208122313Z")
        assert(mdate === "D:20250208122313Z")
    }
    realFile("/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf") match {
      case None => cancel("host fixture not present")
      case Some(b) =>
        // this writer emits EMPTY strings (present, not absent) for
        // Title/Author — the distinction the schema must carry
        val Some(Seq(title, author, _, creator, producer, _, _)) = infoOf(b)
        assert(title === "")
        assert(author === "")
        assert(creator === "LaTeX with hyperref")
        assert(producer === "pdfTeX-1.40.22")
    }
  }

  test("pdf_info: UTF-16BE BOM strings decode; missing /Info is all-null, torn is NULL") {
    val b = new Builder
    b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
    b.obj(2, "<</Type /Pages /Kids [] /Count 0>>")
    // UTF-16BE title with BOM; Latin-1 author with an escape
    val title16 = "FEFF" + "Título PDF".map(c => f"${c.toInt}%04X").mkString
    b.obj(3, s"<</Title <$title16> /Author (Ana \\(QA\\)) /Producer (graft)>>")
    val pdf = b.finish(" /Info 3 0 R")
    assert(infoOf(pdf) === Some(Seq("Título PDF", "Ana (QA)", null,
      null, "graft", null, null)))
    // no /Info: the doc parses, every field null
    val bare = {
      val b2 = new Builder
      b2.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
      b2.obj(2, "<</Type /Pages /Kids [] /Count 0>>")
      b2.finish()
    }
    assert(infoOf(bare) === Some(Seq(null, null, null, null, null, null, null)))
    // torn: same refusal as the other walks
    assert(PdfWalk.info(pdf.dropRight(20)) === null)
  }

  // ---- hand-built classic fixture -------------------------------------------

  /** Straight-line classic-xref builder: appends objects, records their
    * offsets as it goes — bookkeeping independent of the parser's.
    */
  private final class Builder {
    private val out = new java.io.ByteArrayOutputStream()
    private val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    out.write("%PDF-1.4\n".getBytes("ISO-8859-1"))
    def obj(n: Int, body: Array[Byte]): Unit = {
      assert(n == offsets.size + 1, "objects must be appended in order")
      offsets += out.size()
      out.write(s"$n 0 obj\n".getBytes("ISO-8859-1"))
      out.write(body)
      out.write("\nendobj\n".getBytes("ISO-8859-1"))
    }
    def obj(n: Int, body: String): Unit = obj(n, body.getBytes("ISO-8859-1"))
    def stream(n: Int, dict: String, data: Array[Byte]): Unit =
      obj(n, dict.getBytes("ISO-8859-1") ++
        "\nstream\n".getBytes("ISO-8859-1") ++ data ++
        "\nendstream".getBytes("ISO-8859-1"))
    def finish(trailerExtra: String = ""): Array[Byte] = {
      val xrefAt = out.size()
      val sb = new StringBuilder(s"xref\n0 ${offsets.size + 1}\n")
      sb.append("0000000000 65535 f \n")
      offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
      sb.append(s"trailer\n<</Size ${offsets.size + 1} /Root 1 0 R$trailerExtra>>\n")
      sb.append(s"startxref\n$xrefAt\n%%EOF\n")
      out.write(sb.toString.getBytes("ISO-8859-1"))
      out.toByteArray
    }
  }

  private def zlib(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  private def twoPagePdf(flateSecondPage: Boolean): Array[Byte] = {
    val b = new Builder
    b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
    b.obj(2, "<</Type /Pages /Kids [3 0 R 4 0 R] /Count 2>>")
    b.obj(3, "<</Type /Page /Parent 2 0 R /Contents 5 0 R>>")
    b.obj(4, "<</Type /Page /Parent 2 0 R /Contents 6 0 R>>")
    val c1 = "BT (hello \\(pdf\\) world) Tj ET BT [(kern)-200(ed)] TJ ET"
      .getBytes("ISO-8859-1")
    b.stream(5, s"<</Length ${c1.length}>>", c1)
    val c2 = "BT <68657821> Tj ET".getBytes("ISO-8859-1")
    if (flateSecondPage) {
      val z = zlib(c2)
      b.stream(6, s"<</Length ${z.length} /Filter /FlateDecode>>", z)
    } else b.stream(6, s"<</Length ${c2.length}>>", c2)
    b.finish()
  }

  test("hand-built classic xref: exact text contract (escapes, kerning space, hex strings)") {
    for (flate <- Seq(false, true)) {
      val pdf = twoPagePdf(flate)
      assert(metaOf(pdf) === Some(("1.4", 2, 6)), s"flate=$flate")
      // page 1: Tj shows the escaped string, ET breaks; TJ kerning of
      // -200 < -150 renders one space. page 2: hex string decodes.
      assert(textOf(pdf) === "hello (pdf) world\nkern ed\nhex!\n", s"flate=$flate")
    }
  }

  private def onePagePdf(content: String): Array[Byte] = {
    val b = new Builder
    b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
    b.obj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.obj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")
    val c = content.getBytes("ISO-8859-1")
    b.stream(4, s"<</Length ${c.length}>>", c)
    b.finish()
  }

  test("inline images: /L skips exactly over a false EI; no-/L scan validates the resume") {
    // /L-declared data CONTAINS a whitespace-framed " EI " — the exact
    // length makes the skip deterministic; the false match is never seen
    val data = "A EI B~!" // 8 bytes, " EI " ws-framed at offset 1
    val withL = onePagePdf(
      s"BT (before) Tj ET BI /W 2 /H 1 /BPC 8 /CS /G /L 8 ID $data EI BT (after) Tj ET")
    assert(textOf(withL) === "before\nafter\n")
    // no /L: the first ws-framed EI candidate sits inside the data and
    // its resume does NOT tokenize (a lone ')' refuses) — the scan must
    // reject that candidate and land on the real delimiter
    val noL = onePagePdf(
      "BI /W 1 /H 1 /BPC 8 /CS /G ID x EI ))) EI BT (clean) Tj ET")
    assert(textOf(noL) === "clean\n")
    // refusals, not partial answers: /L overrunning the stream; BI with
    // no EI at all; a non-name key inside the BI dict
    assert(PdfWalk.text(onePagePdf("BI /L 999 ID xx EI")) === null)
    assert(PdfWalk.text(onePagePdf("BT (t) Tj ET BI /W 1 ID xxxx")) === null)
    assert(PdfWalk.text(onePagePdf("BI 3 /W ID xx EI")) === null)
  }

  test("incremental-update /Prev chain: first-writer-wins picks the newest section") {
    // build a one-page doc, then append an update section that REPLACES
    // the content object and chains to the original xref via /Prev
    val b = new Builder
    b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
    b.obj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.obj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")
    val c0 = "BT (original) Tj ET".getBytes("ISO-8859-1")
    b.stream(4, s"<</Length ${c0.length}>>", c0)
    val base = b.finish()
    val xref0 = {
      val s = new String(base, "ISO-8859-1")
      "startxref\\n(\\d+)".r.findFirstMatchIn(s).get.group(1).toInt
    }
    val c1 = "BT (updated!) Tj ET".getBytes("ISO-8859-1")
    val upd = new java.io.ByteArrayOutputStream()
    upd.write(base)
    val obj4At = upd.size()
    upd.write((s"4 0 obj\n<</Length ${c1.length}>>\nstream\n").getBytes("ISO-8859-1"))
    upd.write(c1)
    upd.write("\nendstream\nendobj\n".getBytes("ISO-8859-1"))
    val xref1 = upd.size()
    upd.write((s"xref\n4 1\n${"%010d".format(obj4At)} 00000 n \n" +
      s"trailer\n<</Size 5 /Root 1 0 R /Prev $xref0>>\nstartxref\n$xref1\n%%EOF\n")
      .getBytes("ISO-8859-1"))
    assert(textOf(upd.toByteArray) === "updated!\n")
    assert(textOf(base) === "original\n") // the pre-update bytes still read
  }

  test("refusal matrix: torn, encrypted, bombs, unsupported filters, cycles") {
    val good = twoPagePdf(flateSecondPage = true)
    assert(metaOf(good).nonEmpty)
    // no header
    assert(PdfWalk.meta("not a pdf at all, just bytes".getBytes) === null)
    // torn tail: startxref number cut off
    assert(PdfWalk.meta(good.dropRight(20)) === null)
    assert(PdfWalk.text(good.dropRight(20)) === null)
    // corrupt zlib body on page 2: text refuses, META does not (the
    // routing walk never decodes content — m-family triage posture)
    val corrupt = good.clone()
    val zAt = {
      val s = new String(good, "ISO-8859-1"); s.indexOf("FlateDecode")
    }
    corrupt(zAt + 40) = (corrupt(zAt + 40) ^ 0x55).toByte
    assert(PdfWalk.text(corrupt) === null)
    assert(metaOf(corrupt).nonEmpty)
    // encrypted: /Encrypt in the trailer refuses everything
    val enc = {
      val b = new Builder
      b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
      b.obj(2, "<</Type /Pages /Kids [] /Count 0>>")
      b.finish(" /Encrypt 9 0 R")
    }
    assert(PdfWalk.meta(enc) === null)
    assert(PdfWalk.text(enc) === null)
    // unsupported filter refuses
    val lzw = {
      val b = new Builder
      b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
      b.obj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>")
      b.obj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")
      b.stream(4, "<</Length 4 /Filter /LZWDecode>>", Array[Byte](1, 2, 3, 4))
      b.finish()
    }
    assert(PdfWalk.text(lzw) === null)
    // declared /Length past the blob refuses
    val liar = {
      val b = new Builder
      b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
      b.obj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>")
      b.obj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")
      b.stream(4, "<</Length 99999999>>", "BT (x) Tj ET".getBytes("ISO-8859-1"))
      b.finish()
    }
    assert(PdfWalk.text(liar) === null)
    // page-tree cycle refuses (2 0 R lists itself as a kid)
    val cyc = {
      val b = new Builder
      b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
      b.obj(2, "<</Type /Pages /Kids [2 0 R] /Count 1>>")
      b.finish()
    }
    assert(PdfWalk.meta(cyc) === null)
    // decompression bomb: a tiny zlib stream inflating past the 64 MB
    // cap refuses (deflate of 80 MB of zeros is ~80 KB)
    val bomb = {
      val z = zlib(new Array[Byte](80 * 1024 * 1024))
      val b = new Builder
      b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
      b.obj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>")
      b.obj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")
      b.stream(4, s"<</Length ${z.length} /Filter /FlateDecode>>", z)
      b.finish()
    }
    assert(PdfWalk.text(bomb) === null)
  }

  test("pdf_meta, pdf_text, pdf_info: codegen/interpreted agreement") {
    import graft.functions.{PdfInfo, PdfMeta, PdfText}
    import CodegenParity.{column, input}
    val spark = SparkTestSession.spark
    import spark.implicits._
    val b = new Builder
    b.obj(1, "<</Type /Catalog /Pages 2 0 R>>")
    b.obj(2, "<</Type /Pages /Kids [] /Count 0>>")
    b.obj(3, "<</Title (t) /Producer (graft)>>")
    val pdf = b.finish(" /Info 3 0 R")
    val df = Seq(Tuple1(pdf), Tuple1(pdf.dropRight(20)), Tuple1(null)).toDF("pdf")
    val (interp, gen) = CodegenParity.rows(df, column(PdfMeta(input("pdf"))),
      column(PdfText(input("pdf"))), column(PdfInfo(input("pdf"))))
    assert(interp === gen)
    assert(interp(2) === "[null,null,null]")
  }
}
