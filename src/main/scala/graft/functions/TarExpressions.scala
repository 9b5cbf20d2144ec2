package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TAR (POSIX ustar) container walk — the LAST archive family a crawl
  * or dataset mirror ships that this engine's container matrix lacked
  * (ZIP = m16, per-member GZIP = the .warc.gz layout; `.tar.gz` is the
  * distribution format of most public corpora and composes here as
  * `tar_entries(gunzip(blob))`). Format from the public POSIX.1-1988 /
  * pax spec: 512-byte header blocks (name, octal size, checksum,
  * typeflag, ustar magic, prefix), data rounded up to 512-byte blocks,
  * terminated by two zero blocks.
  *
  * Strict scope (refuse-loudly, whole-blob NULL — the m5-m8 posture):
  * the header CHECKSUM must verify (unsigned byte sum with the checksum
  * field read as spaces), magic must be `ustar` (POSIX `ustar\0` or the
  * GNU old-format `ustar  `), octal fields must parse, every entry's
  * data must fit, the two-zero-block terminator must be present, and
  * anything after it must be zero padding (tar pads to its blocking
  * factor).
  *
  * Long names (round 16 — real tarballs carry these routinely):
  * GNU longname entries ('L': data = full name for the NEXT entry,
  * trailing NULs stripped) and pax extended headers ('x' per-file,
  * 'g' global defaults; strict "len keyword=value\n" record framing
  * per POSIX pax) are consumed as META entries — never listed. The
  * `path` keyword overrides the next entry's name ('x' beats 'L'
  * beats 'g' beats the split prefix/name fields) and the `size`
  * keyword overrides its data length (how pax stores >8 GiB members,
  * where the 12-char octal field cannot). Unknown pax keywords are
  * ignored per the spec's own rule; a MALFORMED pax record, a
  * non-terminated longname, or a meta entry with no following real
  * entry refuses the whole blob. GNU longlink ('K') is consumed and
  * discarded (linknames are not listed).
  *
  * Listing walks headers only — a 10 GB member is skipped by
  * arithmetic, never read. Extraction is a bounds-checked copy (tar has
  * no per-member CRC; the .tar.gz composition gets integrity from the
  * gzip member's CRC-32 via [[Gunzip]]).
  */
case class TarEntries(child: Expression)
    extends UnaryKernel("tar_entries", KernelInput.Binary, TarEntries.Schema, "TarEntries.list",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = TarEntries.list(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Extract ONE named regular file's bytes (typeflag '0'/NUL) by
  * bounds-checked copy. NULL on missing name, non-file type, or any
  * structural malformation of the archive.
  */
case class TarExtract(left: Expression, right: Expression)
    extends BinaryKernel("tar_extract", KernelInput.Binary, KernelInput.JavaString, BinaryType,
      "TarEntries.extract", quarantines = true) {
  override def nullSafeEval(b: Any, n: Any): Any =
    TarEntries.extract(b.asInstanceOf[Array[Byte]], n.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object TarEntries {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("typeflag", StringType),
    StructField("size", LongType),
    StructField("offset", LongType))), containsNull = false)

  private final case class Entry(name: String, typeflag: Char, size: Long, offset: Long)

  /** Octal field parse: leading spaces, >=1 octal digit, then only
    * NUL/space fill to the end. -1 on anything else (strict).
    */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && b(i) == ' '.toByte) i += 1
    if (i >= end) return -1
    var v = 0L
    var digits = 0
    while (i < end && b(i) >= '0'.toByte && b(i) <= '7'.toByte) {
      v = v * 8 + (b(i) - '0'.toByte); digits += 1; i += 1
      if (v > (1L << 40)) return -1 // 1 TiB member in one blob: refuse
    }
    if (digits == 0) return -1
    while (i < end) {
      if (b(i) != 0.toByte && b(i) != ' '.toByte) return -1
      i += 1
    }
    v
  }

  private def nulString(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val cap = off + len
    while (end < cap && b(end) != 0.toByte) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def zeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = off
    while (i < off + 512) { if (b(i) != 0.toByte) return false; i += 1 }
    true
  }

  /** Parse pax extended-header records ("%d keyword=value\n" where the
    * decimal length counts the WHOLE record incl. itself and the
    * newline). Returns (path, size) with null/-1 for absent; null pair
    * reference on malformation.
    */
  private def paxRecords(b: Array[Byte], off: Int, len: Int): (String, Long) = {
    var path: String = null
    var size = -1L
    var i = off
    val end = off + len
    while (i < end) {
      val recStart = i
      var recLen = 0L
      var digits = 0
      while (i < end && b(i) >= '0'.toByte && b(i) <= '9'.toByte) {
        recLen = recLen * 10 + (b(i) - '0'.toByte); digits += 1; i += 1
        if (recLen > len) return null
      }
      if (digits == 0 || i >= end || b(i) != ' '.toByte) return null
      i += 1
      val recEnd = recStart + recLen.toInt
      if (recEnd > end || recEnd <= i || b(recEnd - 1) != '\n'.toByte) return null
      val body = new String(b, i, recEnd - 1 - i, java.nio.charset.StandardCharsets.UTF_8)
      val eq = body.indexOf('=')
      if (eq <= 0) return null
      val keyword = body.substring(0, eq)
      val value = body.substring(eq + 1)
      keyword match {
        case "path" =>
          if (value.isEmpty) return null
          path = value
        case "size" =>
          if (value.isEmpty || value.length > 13 || !value.forall(_.isDigit)) return null
          val v = value.toLong
          if (v > (1L << 40)) return null // same 1 TiB refusal as octal()
          size = v
        case _ => // mtime/atime/ctime/uid/...: ignored per the pax spec
      }
      i = recEnd
    }
    (path, size)
  }

  private def parse(b: Array[Byte]): Seq[Entry] = {
    if (b == null || b.length < 1024 || b.length % 512 != 0) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var pos = 0
    // pax 'g' defaults + pending per-file overrides ('x' / 'L')
    var globalPath: String = null
    var globalSize = -1L
    var nextPaxPath: String = null
    var nextPaxSize = -1L
    var nextLongName: String = null
    var pendingMeta = false // an 'L'/'K'/'x' with no real entry yet
    while (pos + 512 <= b.length) {
      if (zeroBlock(b, pos)) {
        if (pendingMeta) return null // meta entry with nothing to apply to
        // terminator: a second zero block, then only zero padding
        if (pos + 1024 > b.length) return null
        var i = pos + 512
        while (i < b.length) { if (b(i) != 0.toByte) return null; i += 1 }
        return out.toSeq
      }
      // magic at 257: "ustar" + (NUL | ' ')
      if (b(pos + 257) != 'u'.toByte || b(pos + 258) != 's'.toByte ||
          b(pos + 259) != 't'.toByte || b(pos + 260) != 'a'.toByte ||
          b(pos + 261) != 'r'.toByte ||
          (b(pos + 262) != 0.toByte && b(pos + 262) != ' '.toByte)) return null
      // checksum: unsigned sum with bytes 148-155 read as spaces
      val stored = octal(b, pos + 148, 8)
      if (stored < 0) return null
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) 0x20 else b(pos + i) & 0xFF)
        i += 1
      }
      if (sum != stored) return null
      val size = octal(b, pos + 124, 12)
      if (size < 0) return null
      val tf0 = b(pos + 156).toChar
      val tf = if (tf0 == '\u0000') '0' else tf0 // old-format NUL = regular file
      val dataOffset = pos + 512L
      val dataBlocks = (size + 511) / 512
      val next = dataOffset + 512L * dataBlocks
      if (next > b.length) return null // torn: data does not fit
      tf match {
        case 'L' => // GNU longname: data = next entry's full name
          if (size <= 0 || size > (1L << 20)) return null
          var end = dataOffset.toInt + size.toInt
          while (end > dataOffset && b(end - 1) == 0.toByte) end -= 1
          if (end == dataOffset) return null // empty longname: torn
          nextLongName = new String(b, dataOffset.toInt, end - dataOffset.toInt,
            java.nio.charset.StandardCharsets.UTF_8)
          pendingMeta = true
          pos = next.toInt
        case 'K' => // GNU longlink: linknames are not listed — consume
          pendingMeta = true
          pos = next.toInt
        case 'x' =>
          val rec = paxRecords(b, dataOffset.toInt, size.toInt)
          if (rec == null) return null
          if (rec._1 != null) nextPaxPath = rec._1
          if (rec._2 >= 0) nextPaxSize = rec._2
          pendingMeta = true
          pos = next.toInt
        case 'g' =>
          val rec = paxRecords(b, dataOffset.toInt, size.toInt)
          if (rec == null) return null
          if (rec._1 != null) globalPath = rec._1
          if (rec._2 >= 0) globalSize = rec._2
          pendingMeta = true
          pos = next.toInt
        case _ =>
          val base = nulString(b, pos, 100)
          // POSIX prefix only under the NUL-terminated magic (GNU reuses the area)
          val headerName =
            if (base.isEmpty) null
            else {
              val prefix = if (b(pos + 262) == 0.toByte) nulString(b, pos + 345, 155) else ""
              if (prefix.isEmpty) base else prefix + "/" + base
            }
          // precedence: 'x' path > 'L' longname > header fields > 'g' default
          val name =
            if (nextPaxPath != null) nextPaxPath
            else if (nextLongName != null) nextLongName
            else if (headerName != null) headerName
            else if (globalPath != null) globalPath
            else return null
          // pax size overrides the octal field (the >8 GiB member path);
          // data consumption must follow the OVERRIDDEN size
          val effSize =
            if (nextPaxSize >= 0) nextPaxSize
            else if (globalSize >= 0) globalSize
            else size
          val effNext = dataOffset + 512L * ((effSize + 511) / 512)
          if (effNext > b.length) return null // torn under the pax size
          out += Entry(name, tf, effSize, dataOffset)
          nextPaxPath = null; nextPaxSize = -1L; nextLongName = null
          pendingMeta = false
          pos = effNext.toInt
      }
    }
    null // fell off the end without the two-zero-block terminator
  }

  def list(b: Array[Byte]): GenericArrayData = {
    val es = parse(b)
    if (es == null) return null
    new GenericArrayData(es.map { e =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.name), UTF8String.fromString(e.typeflag.toString),
        e.size, e.offset)): Any
    }.toArray)
  }

  def extract(b: Array[Byte], name: String): Array[Byte] = {
    val es = parse(b)
    if (es == null) return null
    // tar overwrite semantics: the LAST occurrence of a duplicate
    // member name is authoritative (later entries overwrite on unpack)
    es.reverseIterator.find(e => e.name == name && e.typeflag == '0') match {
      case Some(e) =>
        val out = new Array[Byte](e.size.toInt)
        System.arraycopy(b, e.offset.toInt, out, 0, e.size.toInt)
        out
      case None => null
    }
  }
}
