package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CfbEntries, DocText, XlsCells}

/** [[CfbEntries]]/[[CfbExtract]] differentials against an INDEPENDENT
  * straight-line CFB writer (no real `.doc`/`.xls` ships on this host
  * and no OLE library is on the classpath, so the independent arm is
  * a from-the-spec writer, the XzSpec `handBuilt` posture): regular
  * FAT chains, mini streams, multi-sector directories, a DIFAT-bearing
  * file (>109 FAT sectors), v4 (4096-byte sectors), and the refusal
  * matrix. Plus [[DocText]] (piece-table text, both table streams,
  * both piece widths) and [[XlsCells]] (SST/BoundSheet8/cell records)
  * over workbooks the same writer assembles.
  */
class CfbSpec extends AnyFunSuite {

  // ---- independent CFB writer (v3/v4, minis + regulars + DIFAT) ----

  private val END = 0xFFFFFFFEL
  private val FREE = 0xFFFFFFFFL
  private val FATS = 0xFFFFFFFDL
  private val DIFS = 0xFFFFFFFCL

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Long): Array[Byte] =
    Array.tabulate(4)(i => ((v >> (8 * i)) & 0xFF).toByte)

  /** Build a CFB holding `streams` (name -> bytes); minis go in the
    * mini stream, >=4096 in regular sectors. Sector order: FAT, DIFAT,
    * directory, miniFAT, ministream, regular data.
    */
  private def build(streams: Seq[(String, Array[Byte])], major: Int = 3): Array[Byte] = {
    val ssz = if (major == 4) 4096 else 512
    val perSec = ssz / 4
    val minis = streams.filter(_._2.length < 4096)
    val regulars = streams.filter(_._2.length >= 4096)
    // ministream image: each mini stream padded to 64
    val miniImage = new java.io.ByteArrayOutputStream()
    val miniStarts = scala.collection.mutable.Map[String, Int]()
    for ((n, d) <- minis) {
      miniStarts(n) = miniImage.size() / 64
      miniImage.write(d)
      if (d.length % 64 != 0) miniImage.write(new Array[Byte](64 - d.length % 64))
    }
    val nMini = miniImage.size() / 64
    val miniStreamSecs = (miniImage.size() + ssz - 1) / ssz
    val miniFatSecs = if (nMini == 0) 0 else (nMini * 4 + ssz - 1) / ssz
    val nDirEntries = 1 + streams.size
    val dirSecs = (nDirEntries * 128 + ssz - 1) / ssz
    val regularSecs = regulars.map { case (_, d) => (d.length + ssz - 1) / ssz }.sum
    val dataSecs = dirSecs + miniFatSecs + miniStreamSecs + regularSecs
    // fixed point: nFat FAT sectors + nDif DIFAT sectors must be covered too
    var nFat = 1
    var nDif = 0
    var settled = false
    while (!settled) {
      val total = nFat + nDif + dataSecs
      val needFat = (total + perSec - 1) / perSec
      val needDif = if (needFat <= 109) 0
        else (needFat - 109 + perSec - 2) / (perSec - 1)
      if (needFat == nFat && needDif == nDif) settled = true
      else { nFat = needFat; nDif = needDif }
    }
    val nSect = nFat + nDif + dataSecs
    // sector ids
    val fatIds = 0 until nFat
    val difIds = nFat until (nFat + nDif)
    val dirFirst = nFat + nDif
    val miniFatFirst = dirFirst + dirSecs
    val miniStreamFirst = miniFatFirst + miniFatSecs
    var nextData = miniStreamFirst + miniStreamSecs
    val regStarts = scala.collection.mutable.Map[String, Int]()
    for ((n, d) <- regulars) {
      regStarts(n) = nextData
      nextData += (d.length + ssz - 1) / ssz
    }
    // FAT image
    val fat = Array.fill[Long](nFat * perSec)(FREE)
    fatIds.foreach(i => fat(i) = FATS)
    difIds.foreach(i => fat(i) = DIFS)
    def chainInto(first: Int, count: Int): Unit =
      for (i <- 0 until count)
        fat(first + i) = if (i == count - 1) END else first + i + 1L
    chainInto(dirFirst, dirSecs)
    if (miniFatSecs > 0) chainInto(miniFatFirst, miniFatSecs)
    if (miniStreamSecs > 0) chainInto(miniStreamFirst, miniStreamSecs)
    for ((n, d) <- regulars) chainInto(regStarts(n), (d.length + ssz - 1) / ssz)
    // directory image
    val dir = new java.io.ByteArrayOutputStream()
    def entry(name: String, typ: Int, start: Long, size: Long): Unit = {
      val nm = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      require(nm.length <= 62)
      dir.write(nm); dir.write(new Array[Byte](64 - nm.length))
      dir.write(le16(nm.length + 2))
      dir.write(typ); dir.write(1) // color: black
      dir.write(le32(FREE)); dir.write(le32(FREE)) // left, right
      dir.write(le32(if (typ == 5 && streams.nonEmpty) 1L else FREE)) // child
      dir.write(new Array[Byte](16 + 4 + 8 + 8)) // clsid, state, times
      dir.write(le32(start)); dir.write(le32(size)); dir.write(le32(size >> 32))
    }
    entry("Root Entry", 5,
      if (miniStreamSecs > 0) miniStreamFirst.toLong else END, miniImage.size().toLong)
    for ((n, d) <- streams)
      entry(n, 2,
        if (d.length < 4096) miniStarts(n).toLong else regStarts(n).toLong,
        d.length.toLong)
    while (dir.size() < dirSecs * ssz) dir.write(new Array[Byte](128))
    // miniFAT image
    val miniFatImg = new java.io.ByteArrayOutputStream()
    for ((n, d) <- minis) {
      val cnt = math.max(1, (d.length + 63) / 64)
      for (i <- 0 until cnt)
        miniFatImg.write(le32(if (i == cnt - 1) END else miniStarts(n) + i + 1L))
    }
    while (miniFatImg.size() < miniFatSecs * ssz) miniFatImg.write(le32(FREE))
    // header
    val h = new java.io.ByteArrayOutputStream()
    h.write(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    h.write(new Array[Byte](16)) // clsid
    h.write(le16(0x3E)); h.write(le16(major))
    h.write(le16(0xFFFE)) // byte order
    h.write(le16(if (major == 4) 12 else 9)); h.write(le16(6))
    h.write(new Array[Byte](6))
    h.write(le32(if (major == 4) dirSecs.toLong else 0L))
    h.write(le32(nFat.toLong)); h.write(le32(dirFirst.toLong))
    h.write(le32(0)); h.write(le32(4096))
    h.write(le32(if (miniFatSecs > 0) miniFatFirst.toLong else END))
    h.write(le32(miniFatSecs.toLong))
    h.write(le32(if (nDif > 0) difIds.head.toLong else END))
    h.write(le32(nDif.toLong))
    for (i <- 0 until 109)
      h.write(le32(if (i < math.min(nFat, 109)) i.toLong else FREE))
    if (major == 4) h.write(new Array[Byte](4096 - 512)) // v4 header pads to a sector
    // assemble
    val out = new java.io.ByteArrayOutputStream()
    out.write(h.toByteArray)
    for (i <- 0 until nFat * perSec) // FAT sectors
      out.write(le32(fat(i)))
    for (di <- 0 until nDif) { // DIFAT sectors
      for (j <- 0 until perSec - 1) {
        val idx = 109 + di * (perSec - 1) + j
        out.write(le32(if (idx < nFat) idx.toLong else FREE))
      }
      out.write(le32(if (di == nDif - 1) END else difIds(di) + 1L))
    }
    out.write(dir.toByteArray)
    out.write(miniFatImg.toByteArray)
    out.write(miniImage.toByteArray)
    if (miniImage.size() % ssz != 0)
      out.write(new Array[Byte](ssz - miniImage.size() % ssz))
    for ((_, d) <- regulars) {
      out.write(d)
      if (d.length % ssz != 0) out.write(new Array[Byte](ssz - d.length % ssz))
    }
    out.toByteArray
  }

  private def names(b: Array[Byte]): Seq[String] = {
    val arr = CfbEntries.list(b)
    assert(arr != null, "list refused")
    (0 until arr.numElements()).map(i =>
      arr.getStruct(i, 3).getUTF8String(0).toString)
  }

  // ---- container tests ----

  test("mini-stream round trip: list + extract both streams") {
    val meta = "meta content".getBytes("UTF-8")
    val body = ("body " * 30).getBytes("UTF-8") // 150 B: 3 minisectors
    val f = build(Seq("Meta" -> meta, "Body" -> body))
    assert(names(f) === Seq("Root Entry", "Meta", "Body"))
    assert(CfbEntries.extract(f, "Meta").toSeq === meta.toSeq)
    assert(CfbEntries.extract(f, "Body").toSeq === body.toSeq)
    assert(CfbEntries.extract(f, "Nope") === null)
  }

  test("regular-sector stream (>= 4096 B) round trip, v3 and v4") {
    val big = Array.tabulate(10000)(i => ((i * 31) % 251).toByte)
    val small = "tiny".getBytes("UTF-8")
    for (major <- Seq(3, 4)) {
      val f = build(Seq("Big" -> big, "Small" -> small), major)
      assert(CfbEntries.extract(f, "Big").toSeq === big.toSeq, s"v$major")
      assert(CfbEntries.extract(f, "Small").toSeq === small.toSeq, s"v$major")
    }
  }

  test("multi-sector directory (9 streams) lists every entry in chain order") {
    val ss = (1 to 9).map(i => s"Stream$i" -> s"content $i".getBytes("UTF-8"))
    val f = build(ss)
    assert(names(f) === "Root Entry" +: ss.map(_._1))
    for ((n, d) <- ss) assert(CfbEntries.extract(f, n).toSeq === d.toSeq, n)
  }

  test("DIFAT chain: a file needing > 109 FAT sectors still walks") {
    // 8 MB regular stream at v3: ~16k sectors, ~128 FAT sectors -> DIFAT
    val big = Array.tabulate(8 * 1024 * 1024)(i => (i % 251).toByte)
    val f = build(Seq("Huge" -> big))
    assert(names(f) === Seq("Root Entry", "Huge"))
    assert(java.util.Arrays.equals(CfbEntries.extract(f, "Huge"), big))
  }

  test("refusals: magic, byte order, version, torn, cyclic FAT, size past chain") {
    val good = build(Seq("S" -> "data".getBytes))
    assert(CfbEntries.list(good) != null)
    val badMagic = good.clone(); badMagic(0) = 0x00
    assert(CfbEntries.list(badMagic) === null)
    val badOrder = good.clone(); badOrder(28) = 0x00
    assert(CfbEntries.list(badOrder) === null)
    val badVer = good.clone(); badVer(26) = 5
    assert(CfbEntries.list(badVer) === null)
    assert(CfbEntries.list(good.dropRight(100)) === null) // not whole sectors
    // cyclic directory chain: FAT[dir] -> dir (first FAT sector holds it)
    val cyc = good.clone()
    val dirFirst = 1 // builder layout: FAT=0, dir=1
    val fatOff = 512 + 4 * dirFirst
    cyc(fatOff) = dirFirst.toByte; cyc(fatOff + 1) = 0; cyc(fatOff + 2) = 0; cyc(fatOff + 3) = 0
    assert(CfbEntries.list(cyc) === null)
    // declared stream size beyond its mini chain: bump the dir entry size
    val oversize = good.clone()
    // dir sector = 1 -> offset 512 + 512; entry 1 ("S") at +128; size at +120
    val sOff = 512 + 512 + 128 + 120
    oversize(sOff) = 0xFF.toByte; oversize(sOff + 1) = 0x0F
    assert(CfbEntries.extract(oversize, "S") === null)
  }

  // ---- DocText over writer-built .doc ----

  /** WordDocument + table stream for `pieces` of (text, compressed). */
  private def docStreams(pieces: Seq[(String, Boolean)], whichTbl: Int,
      encrypted: Boolean = false): Seq[(String, Array[Byte])] = {
    val fib = new Array[Byte](512)
    fib(0) = 0xEC.toByte; fib(1) = 0xA5.toByte // wIdent
    fib(2) = 0xC1.toByte; fib(3) = 0x00 // nFib: Word 97
    val flags = (if (whichTbl == 1) 0x0200 else 0) | (if (encrypted) 0x0100 else 0)
    fib(0x0A) = (flags & 0xFF).toByte; fib(0x0B) = ((flags >> 8) & 0xFF).toByte
    val body = new java.io.ByteArrayOutputStream()
    val pcds = pieces.map { case (txt, compressed) =>
      val off = 512 + body.size()
      val bytes = if (compressed) txt.getBytes("windows-1252")
        else txt.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      body.write(bytes)
      val fc = if (compressed) (2L * off) | 0x40000000L else off.toLong
      (txt.length, fc)
    }
    val plc = new java.io.ByteArrayOutputStream()
    var cp = 0L
    plc.write(le32(0))
    for ((nch, _) <- pcds) { cp += nch; plc.write(le32(cp)) }
    for ((_, fc) <- pcds) { plc.write(le16(0)); plc.write(le32(fc)); plc.write(le16(0)) }
    val clx = new java.io.ByteArrayOutputStream()
    clx.write(0x02); clx.write(le32(plc.size().toLong)); clx.write(plc.toByteArray)
    // fcClx = 0 in the table stream, lcbClx = clx length
    System.arraycopy(le32(0), 0, fib, 0x1A2, 4)
    System.arraycopy(le32(clx.size().toLong), 0, fib, 0x1A6, 4)
    val wd = fib ++ body.toByteArray
    Seq("WordDocument" -> wd, (if (whichTbl == 1) "1Table" else "0Table") -> clx.toByteArray)
  }

  test("doc_text: cp1252 + unicode pieces concatenate in CP order, both table streams") {
    val pieces = Seq(("Hello legacy Word.\r", true), ("uni piece ™é", false))
    for (tbl <- Seq(0, 1)) {
      val f = build(docStreams(pieces, tbl))
      val t = DocText.text(f)
      assert(t != null, s"table $tbl refused")
      assert(t.toString === "Hello legacy Word.\runi piece ™é", s"table $tbl")
    }
  }

  test("doc_text: piece order follows the piece table, not byte order") {
    // pieces stored in REVERSE byte order vs CP order (a fast-save shape)
    val a = "second in bytes, first in text. ".getBytes("windows-1252")
    val b = "first in bytes, second in text.".getBytes("windows-1252")
    val fib = new Array[Byte](512)
    fib(0) = 0xEC.toByte; fib(1) = 0xA5.toByte
    fib(0x0A) = 0x00; fib(0x0B) = 0x02 // 1Table
    val wd = fib ++ b ++ a
    val offA = 512 + b.length; val offB = 512
    val plc = new java.io.ByteArrayOutputStream()
    plc.write(le32(0)); plc.write(le32(a.length.toLong))
    plc.write(le32(a.length.toLong + b.length))
    for (off <- Seq(offA, offB)) {
      plc.write(le16(0)); plc.write(le32((2L * off) | 0x40000000L)); plc.write(le16(0))
    }
    val clx = new java.io.ByteArrayOutputStream()
    clx.write(0x02); clx.write(le32(plc.size().toLong)); clx.write(plc.toByteArray)
    System.arraycopy(le32(0), 0, wd, 0x1A2, 4)
    System.arraycopy(le32(clx.size().toLong), 0, wd, 0x1A6, 4)
    val f = build(Seq("WordDocument" -> wd, "1Table" -> clx.toByteArray))
    assert(DocText.text(f).toString ===
      "second in bytes, first in text. first in bytes, second in text.")
  }

  test("doc_text refusals: encrypted, bad ident, truncated FIB, CLX with Prc skipped") {
    val pieces = Seq(("plain text", true))
    assert(DocText.text(build(docStreams(pieces, 1, encrypted = true))) === null)
    val f = build(docStreams(pieces, 1))
    assert(DocText.text(f) != null)
    // bad wIdent: flip inside the extracted stream -> rebuild
    val streams = docStreams(pieces, 1)
    val wdBad = streams.head._2.clone(); wdBad(0) = 0x00
    assert(DocText.text(build(Seq("WordDocument" -> wdBad, streams(1)._1 -> streams(1)._2))) === null)
    // Prc block before the Pcdt is skipped per spec
    val tbl = streams(1)._2
    val prc = Array[Byte](0x01, 0x02, 0x00, 0x7F, 0x7F) // cbGrpprl = 2
    val tbl2 = prc ++ tbl
    val wd2 = streams.head._2.clone()
    System.arraycopy(le32(prc.length.toLong + tbl.length), 0, wd2, 0x1A6, 4)
    assert(DocText.text(build(Seq("WordDocument" -> wd2, "1Table" -> tbl2)))
      .toString === "plain text")
  }

  // ---- XlsCells over writer-built .xls ----

  private def rec(op: Int, payload: Array[Byte]): Array[Byte] =
    le16(op) ++ le16(payload.length) ++ payload

  private def bof(dt: Int): Array[Byte] =
    rec(0x0809, le16(0x0600) ++ le16(dt) ++ new Array[Byte](12))

  private def sstStr(s: String): Array[Byte] = {
    val wide = s.exists(_ > 0xFF)
    val chars = if (wide) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      else s.getBytes("ISO-8859-1")
    le16(s.length) ++ Array((if (wide) 1 else 0).toByte) ++ chars
  }

  private def buildXls(withFilePass: Boolean = false): Array[Byte] = {
    val sst = rec(0x00FC, le32(3) ++ le32(2) ++ sstStr("alpha") ++ sstStr("béta™"))
    val sheet1 = bof(0x0010) ++
      rec(0x00FD, le16(0) ++ le16(0) ++ le16(15) ++ le32(0)) ++ // A1 = alpha
      rec(0x0203, le16(0) ++ le16(1) ++ le16(15) ++ // B1 = 2.5
        le32(0x00000000L) ++ le32(0x40040000L)) ++
      rec(0x027E, le16(1) ++ le16(0) ++ le16(15) ++ le32((123L << 2) | 2)) ++ // A2 = 123
      rec(0x027E, le16(1) ++ le16(1) ++ le16(15) ++ le32((1250L << 2) | 3)) ++ // B2 = 12.5
      rec(0x000A, Array.emptyByteArray)
    val sheet2 = bof(0x0010) ++
      rec(0x00FD, le16(0) ++ le16(0) ++ le16(15) ++ le32(1)) ++ // A1 = béta™
      rec(0x000A, Array.emptyByteArray)
    def bs8(name: String, pos: Int): Array[Byte] =
      rec(0x0085, le32(pos.toLong) ++ le16(0) ++
        Array(name.length.toByte, 0.toByte) ++ name.getBytes("ISO-8859-1"))
    val fp = if (withFilePass) rec(0x002F, le16(1) ++ new Array[Byte](4)) else Array.emptyByteArray
    // globals length must be known to place the sheets: assemble twice
    def globals(p1: Int, p2: Int) =
      bof(0x0005) ++ fp ++ bs8("First", p1) ++ bs8("Second", p2) ++ sst ++
        rec(0x000A, Array.emptyByteArray)
    val gLen = globals(0, 0).length
    val wb = globals(gLen, gLen + sheet1.length) ++ sheet1 ++ sheet2
    build(Seq("Workbook" -> wb))
  }

  test("xls_cells: SST + both sheets + Number/RK decodes, record order") {
    val arr = XlsCells.cells(buildXls())
    assert(arr != null)
    val rows = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 4)
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2),
        r.getUTF8String(3).toString)
    }
    assert(rows === Seq(
      ("First", 0, 0, "alpha"),
      ("First", 0, 1, "2.5"),
      ("First", 1, 0, "123"),
      ("First", 1, 1, "12.5"),
      ("Second", 0, 0, "béta™")))
  }

  test("xls_cells refusals: FilePass, BIFF5 version, missing Workbook stream") {
    assert(XlsCells.cells(buildXls(withFilePass = true)) === null)
    val biff5 = build(Seq("Workbook" ->
      (rec(0x0809, le16(0x0500) ++ le16(0x0005) ++ new Array[Byte](12)) ++
        rec(0x000A, Array.emptyByteArray))))
    assert(XlsCells.cells(biff5) === null)
    val noWb = build(Seq("Book" -> bof(0x0005)))
    assert(XlsCells.cells(noWb) === null)
  }

  test("cfb_entries, cfb_extract, doc_text, xls_cells: codegen/interpreted agreement") {
    import graft.functions.CfbExtract
    import CodegenParity.{column, input}
    val spark = SparkTestSession.spark
    import spark.implicits._
    val doc = build(docStreams(Seq(("Hello legacy Word.\r", true)), 1))
    val xls = buildXls()
    val df = Seq((doc, xls), (doc.take(600), xls.take(600)), (null, null)).toDF("doc", "xls")
    val (interp, gen) = CodegenParity.rows(df, column(CfbEntries(input("doc"))),
      column(CfbExtract(input("doc"), org.apache.spark.sql.catalyst.expressions.Literal("1Table"))),
      column(DocText(input("doc"))), column(XlsCells(input("xls"))))
    assert(interp === gen)
    assert(!interp.head.contains("null"))
    assert(interp(2) === "[null,null,null,null]")
  }
}
