package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP central-directory walk — the archive container documents travel
  * in on a real crawl (docx/xlsx/epub are all ZIP): list every entry's
  * routing fields without touching entry data, the m1/m4 header-walk
  * posture applied to the one container family still missing. Format
  * from the public PKWARE APPNOTE: EOCD record (sig 06054b50) at the
  * tail, central directory entries (sig 02014b50) with name, method,
  * compressed/uncompressed sizes, and local-header offsets.
  *
  * Strict scope (refuse-loudly, whole-blob NULL): no archive comment
  * (the EOCD must sit exactly at the tail — a comment makes the
  * backward scan ambiguous on adversarial bytes), no
  * encryption (general-purpose bit 0), entry counts and directory
  * size/offset must exactly cover the bytes, every listed local header
  * must exist at its offset with a matching name. Listing never reads
  * entry data, so a 10 GB member costs nothing to route past.
  *
  * ZIP64 (round 16 — any archive >4 GiB is ZIP64, the 100 TB norm):
  * the EOCD64 locator immediately before the EOCD routes to the ZIP64
  * EOCD record (counts/size/offset read 64-bit there; escaped EOCD
  * fields must MATCH it, non-escaped ones must agree), and
  * central-directory entries whose csize/usize/offset read 0xFFFFFFFF
  * pull the real values from the 0x0001 extra field (values present
  * exactly for the escaped fields, in APPNOTE order). Exact-cover
  * bookkeeping extends: directory abuts the ZIP64 EOCD record, which
  * abuts the locator, which abuts the EOCD; single-disk only; no
  * extensible data sector. Extraction keeps the 256 MB bound.
  */
case class ZipEntries(child: Expression)
    extends UnaryKernel("zip_entries", KernelInput.Binary, ZipEntries.Schema, "ZipEntries.list",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = ZipEntries.list(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Extract ONE named entry's bytes (stored or deflate), verifying the
  * central directory's CRC-32 — a silently corrupt member is worse
  * than a refused one. NULL on missing name, bad method, size or CRC
  * mismatch, or any structural malformation.
  */
case class ZipExtract(left: Expression, right: Expression)
    extends BinaryKernel("zip_extract", KernelInput.Binary, KernelInput.JavaString, BinaryType,
      "ZipEntries.extract", quarantines = true) {
  override def nullSafeEval(b: Any, n: Any): Any =
    ZipEntries.extract(b.asInstanceOf[Array[Byte]], n.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ZipEntries {
  val EntrySchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("method", IntegerType),
    StructField("csize", LongType),
    StructField("usize", LongType)))
  val Schema: DataType = ArrayType(EntrySchema, containsNull = false)

  private final case class Entry(name: String, method: Int, crc: Long,
                                 csize: Long, usize: Long, localOff: Long)

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL)) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
  private def u64(b: Array[Byte], p: Int): Long =
    u32(b, p) | (u32(b, p + 4) << 32)

  /** Walk the central directory; null on ANY malformation. */
  private def walk(b: Array[Byte]): Seq[Entry] = {
    if (b == null || b.length < 22) return null
    val eocd = b.length - 22 // no-comment contract: EOCD exactly at tail
    if (u32(b, eocd) != 0x06054b50L) return null
    var nHere: Long = u16(b, eocd + 8)
    var nTotal: Long = u16(b, eocd + 10)
    var cdSize: Long = u32(b, eocd + 12)
    var cdOff: Long = u32(b, eocd + 16)
    val comment = u16(b, eocd + 20)
    if (comment != 0) return null
    // ZIP64: the EOCD64 locator sits immediately before the EOCD; an
    // escaped EOCD field without a locator is torn
    val hasLocator = eocd >= 20 && u32(b, eocd - 20) == 0x07064b50L
    val escaped = nHere == 0xFFFFL || nTotal == 0xFFFFL ||
      cdSize == 0xFFFFFFFFL || cdOff == 0xFFFFFFFFL
    if (escaped && !hasLocator) return null
    var cdEnd: Long = eocd.toLong
    if (hasLocator) {
      val loc = eocd - 20
      if (u32(b, loc + 4) != 0L) return null // disk holding the ZIP64 EOCD
      if (u32(b, loc + 16) != 1L) return null // single-disk only
      val z64 = u64(b, loc + 8)
      // overflow-safe bound: z64 is attacker-controlled u64, so the
      // additive form (z64 + 56 > loc) wraps for values near Long.MAX
      // and would pass; loc is a small Int, the subtraction cannot wrap
      if (z64 < 0 || z64 > loc.toLong - 56) return null
      val zp = z64.toInt
      if (u32(b, zp) != 0x06064b50L) return null
      if (u64(b, zp + 4) != 44L) return null // no extensible data sector
      if (u32(b, zp + 16) != 0L || u32(b, zp + 20) != 0L) return null // disks
      val n64Here = u64(b, zp + 24)
      val n64Total = u64(b, zp + 32)
      val cd64Size = u64(b, zp + 40)
      val cd64Off = u64(b, zp + 48)
      // escaped EOCD fields defer to the ZIP64 record; non-escaped must agree
      if (nHere != 0xFFFFL && nHere != n64Here) return null
      if (nTotal != 0xFFFFL && nTotal != n64Total) return null
      if (cdSize != 0xFFFFFFFFL && cdSize != cd64Size) return null
      if (cdOff != 0xFFFFFFFFL && cdOff != cd64Off) return null
      if (zp + 56 != loc) return null // record must abut the locator
      nHere = n64Here; nTotal = n64Total; cdSize = cd64Size; cdOff = cd64Off
      cdEnd = z64 // directory must abut the ZIP64 EOCD record
    }
    if (nHere != nTotal) return null
    if (cdOff + cdSize != cdEnd) return null // exact cover
    if (cdOff < 0 || cdOff > b.length) return null
    var p = cdOff.toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var i = 0L
    while (i < nTotal) {
      if (p + 46 > cdEnd) return null
      if (u32(b, p) != 0x02014b50L) return null
      val flags = u16(b, p + 8)
      if ((flags & 0x1) != 0) return null // encrypted: out of scope
      val method = u16(b, p + 10)
      val crc = u32(b, p + 16)
      var csize = u32(b, p + 20)
      var usize = u32(b, p + 24)
      val nameLen = u16(b, p + 28)
      val extraLen = u16(b, p + 30)
      val commLen = u16(b, p + 32)
      val disk = u16(b, p + 34)
      var localOff = u32(b, p + 42)
      if (p + 46 + nameLen + extraLen + commLen > cdEnd) return null
      // ZIP64 escape values pull real 64-bit values from the 0x0001
      // extra field — present exactly for the escaped fields, in
      // APPNOTE order (usize, csize, offset, disk)
      if (csize == 0xFFFFFFFFL || usize == 0xFFFFFFFFL ||
          localOff == 0xFFFFFFFFL || disk == 0xFFFF) {
        var q = p + 46 + nameLen
        val qEnd = q + extraLen
        var found = false
        while (q + 4 <= qEnd && !found) {
          val hid = u16(b, q)
          val hsz = u16(b, q + 2)
          if (q + 4 + hsz > qEnd) return null
          if (hid == 0x0001) {
            var r = q + 4
            val fEnd = q + 4 + hsz
            if (usize == 0xFFFFFFFFL) {
              if (r + 8 > fEnd) return null; usize = u64(b, r); r += 8
            }
            if (csize == 0xFFFFFFFFL) {
              if (r + 8 > fEnd) return null; csize = u64(b, r); r += 8
            }
            if (localOff == 0xFFFFFFFFL) {
              if (r + 8 > fEnd) return null; localOff = u64(b, r); r += 8
            }
            if (disk == 0xFFFF) {
              if (r + 4 > fEnd) return null; if (u32(b, r) != 0L) return null; r += 4
            }
            if (r != fEnd) return null // strict: exactly the escaped fields
            found = true
          }
          q += 4 + hsz
        }
        if (!found) return null
        if (usize < 0 || csize < 0 || localOff < 0) return null
      }
      val name = new String(b, p + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      // the local header must exist at its offset with the same name
      // (subtractive bound — localOff may be a hostile u64 from the
      // 0x0001 extra, and localOff + 30 wraps negative near Long.MAX)
      if (localOff < 0 || localOff > b.length.toLong - 30) return null
      val lp = localOff.toInt
      if (u32(b, lp) != 0x04034b50L) return null
      val lNameLen = u16(b, lp + 26)
      val lExtraLen = u16(b, lp + 28)
      if (lp + 30 + lNameLen > b.length || lNameLen != nameLen ||
          new String(b, lp + 30, lNameLen,
            java.nio.charset.StandardCharsets.UTF_8) != name) return null
      // sizes above the blob itself are structurally absurd — reject
      // before the additive fits-check so a hostile ZIP64 csize/usize
      // near Long.MAX cannot wrap the sum past it (tar's 1 TiB posture)
      if (csize > b.length || usize < 0 || usize > (1L << 40)) return null
      if (lp.toLong + 30 + lNameLen + lExtraLen + csize > b.length) return null
      out += Entry(name, method, crc, csize, usize, localOff)
      p += 46 + nameLen + extraLen + commLen
      i += 1
    }
    if (p.toLong != cdEnd) return null // trailing directory garbage
    out.toSeq
  }

  def list(b: Array[Byte]): GenericArrayData = {
    val es = walk(b)
    if (es == null) return null
    new GenericArrayData(es.map { e =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.name), e.method, e.csize, e.usize)): Any
    }.toArray)
  }

  def extract(b: Array[Byte], name: String): Array[Byte] = {
    val es = walk(b)
    if (es == null) return null
    val e = es.find(_.name == name).getOrElse(return null)
    if (e.usize > Inflation.MaxBytes || e.csize > Inflation.MaxBytes) return null
    val lp = e.localOff.toInt
    val dataOff = lp + 30 + u16(b, lp + 26) + u16(b, lp + 28)
    if (dataOff + e.csize > b.length) return null
    val raw = java.util.Arrays.copyOfRange(b, dataOff, dataOff + e.csize.toInt)
    val out: Array[Byte] = e.method match {
      case 0 => // stored
        if (e.csize != e.usize) return null
        raw
      case 8 => // deflate
        try {
          val inf = new java.util.zip.Inflater(true)
          inf.setInput(raw)
          val buf = new Array[Byte](e.usize.toInt)
          val n = inf.inflate(buf)
          val fin = inf.finished()
          inf.end()
          if (!fin || n != e.usize.toInt) return null
          buf
        } catch { case _: java.util.zip.DataFormatException => return null }
      case _ => return null // other methods out of scope
    }
    val crc = new java.util.zip.CRC32()
    crc.update(out)
    if (crc.getValue != e.crc) return null // corrupt member: refuse
    out
  }
}
