package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Legacy binary Word text extraction (`.doc`, the public [MS-DOC]
  * spec) over a CFB container — the pre-2007 half of the office
  * corpus (x24 covers DOCX). The text is NOT a byte range: the FIB in
  * the `WordDocument` stream points (fcClx/lcbClx) into a TABLE
  * stream (`0Table`/`1Table`, chosen by the FIB's fWhichTblStm bit)
  * whose CLX holds the PIECE TABLE — a PlcPcd mapping character
  * ranges to WordDocument offsets, each piece independently 8-bit
  * (cp1252, fc bit 30 set, byte offset = fc/2) or UTF-16LE. A reader
  * that ignores the piece table and scans bytes reads fast-saved
  * documents in the wrong ORDER and decodes half the corpus in the
  * wrong WIDTH.
  *
  * Strict scope, whole-doc NULL: wIdent must be 0xA5EC; ENCRYPTED
  * documents (FIB fEncrypted, flag bit 8) refuse honestly — the
  * content is ciphertext, extracting bytes would emit garbage as
  * data; CLX Prc blocks are skipped per spec, the Pcdt (0x02) is
  * required; CP array must be monotone from 0; every piece must sit
  * inside the WordDocument stream.
  */
case class DocText(child: Expression)
    extends UnaryKernel("doc_text", KernelInput.Binary, StringType, "DocText.text",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = DocText.text(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object DocText {
  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL)) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)

  def text(b: Array[Byte]): UTF8String = {
    val cfb = CfbEntries.parse(b)
    if (cfb == null) return null
    val wd = CfbEntries.extractFrom(cfb, b, "WordDocument")
    // FibRgFcLcb97.fcClx sits at 0x1A2 ([MS-DOC] 2.5.1); anything
    // shorter cannot hold a Word 97+ FIB
    if (wd == null || wd.length < 0x1AA) return null
    if (u16(wd, 0) != 0xA5EC) return null // wIdent
    val flags = u16(wd, 0x0A)
    if ((flags & 0x0100) != 0) return null // fEncrypted: honest refusal
    val tblName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val tbl = CfbEntries.extractFrom(cfb, b, tblName)
    if (tbl == null) return null
    val fcClx = u32(wd, 0x1A2)
    val lcbClx = u32(wd, 0x1A6)
    if (fcClx < 0 || lcbClx <= 0 || fcClx + lcbClx > tbl.length) return null
    // CLX = RgPrc (0x01 blocks, skipped) then Pcdt (0x02)
    var p = fcClx.toInt
    val end = (fcClx + lcbClx).toInt
    while (p < end && (tbl(p) & 0xFF) == 0x01) {
      if (p + 3 > end) return null
      p += 3 + u16(tbl, p + 1)
    }
    if (p + 5 > end || (tbl(p) & 0xFF) != 0x02) return null
    val lcbPlc = u32(tbl, p + 1)
    val plc = p + 5
    if (plc + lcbPlc != end) return null // Pcdt must exactly cover the CLX tail
    if (lcbPlc < 16 || (lcbPlc - 4) % 12 != 0) return null
    val n = ((lcbPlc - 4) / 12).toInt
    val cps = Array.tabulate(n + 1)(i => u32(tbl, plc + 4 * i))
    if (cps(0) != 0) return null
    var i = 0
    while (i < n) { if (cps(i + 1) <= cps(i)) return null; i += 1 }
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n) {
      val pcd = plc + 4 * (n + 1) + 8 * i
      val fc = u32(tbl, pcd + 2)
      val nch = (cps(i + 1) - cps(i)).toInt
      val compressed = (fc & 0x40000000L) != 0
      val off = (fc & 0x3FFFFFFFL) / (if (compressed) 2 else 1)
      if (compressed) {
        if (off + nch > wd.length) return null
        sb.append(new String(wd, off.toInt, nch, "windows-1252"))
      } else {
        if (off + 2L * nch > wd.length) return null
        sb.append(new String(wd, off.toInt, 2 * nch,
          java.nio.charset.StandardCharsets.UTF_16LE))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Legacy binary Excel cell extraction (`.xls`, the public [MS-XLS]
  * BIFF8 spec) over a CFB container — the pre-2007 sibling of x26's
  * XLSX path. The `Workbook` stream is a record stream (u16 opcode,
  * u16 length): the GLOBALS substream carries the shared string table
  * (SST, 0x00FC) and one BoundSheet8 (0x0085) per sheet naming it and
  * pointing (lbPlyPos) at its substream; each SHEET substream carries
  * the cells — LabelSst (0x00FD) resolving through the SST, Number
  * (0x0203, IEEE double), RK (0x027E, the packed 30-bit form with the
  * div-100 and integer flags). A reader that only greps one sheet or
  * skips the SST loses most of the corpus — the same split-across-
  * the-container lesson as XLSX, in 1990s framing.
  *
  * Strict scope, whole-doc NULL: BIFF8 only (BOF version 0x0600; the
  * BIFF5 `Book` stream refuses by absence of `Workbook`); a FilePass
  * record (0x002F, encryption) refuses the workbook honestly;
  * SST strings must be plain (rich-text / phonetic / Continue-spanning
  * strings refuse loudly rather than truncate silently); every record
  * must sit inside the stream.
  */
case class XlsCells(child: Expression)
    extends UnaryKernel("xls_cells", KernelInput.Binary, XlsCells.Schema, "XlsCells.cells",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = XlsCells.cells(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object XlsCells {
  val CellSchema: StructType = StructType(Seq(
    StructField("sheet", StringType),
    StructField("rw", IntegerType),
    StructField("col", IntegerType),
    StructField("value", StringType)))
  val Schema: DataType = ArrayType(CellSchema, containsNull = false)

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL)) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
  private def u64(b: Array[Byte], p: Int): Long =
    u32(b, p) | (u32(b, p + 4) << 32)

  /** Integers print bare, everything else via Java's shortest-exact
    * double form — the formatting contract the oracle restates.
    */
  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Decode one XLUnicodeRichExtendedString at `p`; returns (string,
    * next offset) or null on rich/ext/overrun (Continue spans land
    * here as overruns).
    */
  private def sstString(b: Array[Byte], p: Int, end: Int): (String, Int) = {
    if (p + 3 > end) return null
    val cch = u16(b, p)
    val grbit = b(p + 2) & 0xFF
    if ((grbit & 0x0C) != 0) return null // fRichSt / fExtSt out of scope
    val wide = (grbit & 0x01) != 0
    val nBytes = if (wide) 2 * cch else cch
    if (p + 3 + nBytes > end) return null
    val s =
      if (wide) new String(b, p + 3, nBytes, java.nio.charset.StandardCharsets.UTF_16LE)
      else new String(b, p + 3, nBytes, "ISO-8859-1") // BIFF8 compressed = latin-1 low bytes
    (s, p + 3 + nBytes)
  }

  private final case class Rec(op: Int, start: Int, len: Int)

  /** Record walk from `from` until the substream's EOF record (0x000A);
    * null on overrun or a missing EOF.
    */
  private def records(b: Array[Byte], from: Int): IndexedSeq[Rec] = {
    val out = IndexedSeq.newBuilder[Rec]
    var p = from
    while (true) {
      if (p + 4 > b.length) return null
      val op = u16(b, p)
      val len = u16(b, p + 2)
      if (p + 4 + len > b.length) return null
      out += Rec(op, p + 4, len)
      if (op == 0x000A) return out.result()
      p += 4 + len
    }
    null // unreachable
  }

  def cells(b: Array[Byte]): GenericArrayData = {
    val cfb = CfbEntries.parse(b)
    if (cfb == null) return null
    val wb = CfbEntries.extractFrom(cfb, b, "Workbook")
    if (wb == null) return null
    val globals = records(wb, 0)
    if (globals == null || globals.isEmpty) return null
    val bof = globals.head
    if (bof.op != 0x0809 || bof.len < 4) return null
    if (u16(wb, bof.start) != 0x0600) return null // BIFF8 only
    if (u16(wb, bof.start + 2) != 0x0005) return null // globals substream
    var sst: IndexedSeq[String] = null
    val sheets = IndexedSeq.newBuilder[(String, Long)]
    for (r <- globals) r.op match {
      case 0x002F => return null // FilePass: encrypted, honest refusal
      case 0x0085 => // BoundSheet8
        if (r.len < 8) return null
        val pos = u32(wb, r.start)
        val cch = wb(r.start + 6) & 0xFF
        val grbit = wb(r.start + 7) & 0xFF
        val nBytes = if ((grbit & 1) != 0) 2 * cch else cch
        if (8 + nBytes > r.len) return null
        val name =
          if ((grbit & 1) != 0)
            new String(wb, r.start + 8, nBytes, java.nio.charset.StandardCharsets.UTF_16LE)
          else new String(wb, r.start + 8, nBytes, "ISO-8859-1")
        sheets += ((name, pos))
      case 0x00FC => // SST
        if (r.len < 8) return null
        val cstUnique = u32(wb, r.start + 4)
        if (cstUnique > r.len) return null // cheap bound before the loop
        val ss = IndexedSeq.newBuilder[String]
        var p = r.start + 8
        var i = 0L
        while (i < cstUnique) {
          val sr = sstString(wb, p, r.start + r.len)
          if (sr == null) return null
          ss += sr._1
          p = sr._2
          i += 1
        }
        if (p != r.start + r.len) return null // SST exactly covers its record
        sst = ss.result()
      case _ => ()
    }
    val out = IndexedSeq.newBuilder[Any]
    for ((name, pos) <- sheets.result()) {
      if (pos < 0 || pos + 4 > wb.length) return null
      val rs = records(wb, pos.toInt)
      if (rs == null || rs.isEmpty) return null
      val sb = rs.head
      if (sb.op != 0x0809 || sb.len < 4 || u16(wb, sb.start) != 0x0600 ||
        u16(wb, sb.start + 2) != 0x0010) return null // worksheet substream
      val sheetName = UTF8String.fromString(name)
      for (r <- rs) r.op match {
        case 0x00FD => // LabelSst
          if (r.len != 10) return null
          val isst = u32(wb, r.start + 6)
          if (sst == null || isst >= sst.size) return null
          out += new GenericInternalRow(Array[Any](sheetName,
            u16(wb, r.start), u16(wb, r.start + 2),
            UTF8String.fromString(sst(isst.toInt))))
        case 0x0203 => // Number: IEEE 754 double LE
          if (r.len != 14) return null
          val v = java.lang.Double.longBitsToDouble(u64(wb, r.start + 6))
          out += new GenericInternalRow(Array[Any](sheetName,
            u16(wb, r.start), u16(wb, r.start + 2),
            UTF8String.fromString(fmt(v))))
        case 0x027E => // RK
          if (r.len != 10) return null
          val rk = u32(wb, r.start + 6)
          val base =
            if ((rk & 2) != 0) (rk.toInt >> 2).toDouble // signed 30-bit int
            else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
          val v = if ((rk & 1) != 0) base / 100.0 else base
          out += new GenericInternalRow(Array[Any](sheetName,
            u16(wb, r.start), u16(wb, r.start + 2),
            UTF8String.fromString(fmt(v))))
        case _ => ()
      }
    }
    new GenericArrayData(out.result().toArray)
  }
}
