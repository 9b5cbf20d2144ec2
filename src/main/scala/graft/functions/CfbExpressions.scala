package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OLE2 / CFB compound-file walk (MS-CFB, the public [MS-CFB] spec) —
  * the container every pre-2007 Office document rides (`.doc`, `.xls`,
  * `.ppt`, plus MSI and Thumbs.db): the m1/m4/m16 header-walk posture
  * applied to the LEGACY half of the office corpus government data
  * mirrors ship in bulk (the reference's own domain is government GIS
  * layer metadata; see /root/reference/README.md:29-30 — those mirrors
  * carry decades of binary Office). Structure: 512-byte header
  * (magic D0 CF 11 E0 A1 B1 1A E1), a FAT of sector chains reached
  * through the DIFAT, a directory of 128-byte entries, and a MINI
  * stream (64-byte minisectors chained by the miniFAT) for streams
  * under the 4096-byte cutoff.
  *
  * Strict scope (refuse-loudly, whole-blob NULL): major version 3
  * (512-byte sectors) or 4 (4096), little-endian marker FFFE, mini
  * shift 6, mini cutoff exactly 4096 (all MUSTs in [MS-CFB] 2.2); the
  * file must be header + a whole number of sectors; every chain walk
  * is capped at the file's sector count, so a cyclic FAT refuses
  * instead of spinning; stream sizes must sit inside their chains.
  * The directory is listed by walking the directory-sector CHAIN and
  * reading every allocated 128-byte entry in order — the red-black
  * name tree is a lookup accelerator for writers, not part of what
  * the bytes store, and adversarial sibling pointers must not be able
  * to hide or duplicate an entry.
  */
case class CfbEntries(child: Expression)
    extends UnaryKernel("cfb_entries", KernelInput.Binary, CfbEntries.Schema, "CfbEntries.list",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = CfbEntries.list(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Extract ONE named stream's bytes — regular-sector chain at or above
  * the mini cutoff, miniFAT chain through the root's mini stream
  * below it. NULL on a missing name, a chain that doesn't cover the
  * declared size, or any structural malformation.
  */
case class CfbExtract(left: Expression, right: Expression)
    extends BinaryKernel("cfb_extract", KernelInput.Binary, KernelInput.JavaString, BinaryType,
      "CfbEntries.extract", quarantines = true) {
  override def nullSafeEval(b: Any, n: Any): Any =
    CfbEntries.extract(b.asInstanceOf[Array[Byte]], n.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CfbEntries {
  val EntrySchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("type", IntegerType),
    StructField("size", LongType)))
  val Schema: DataType = ArrayType(EntrySchema, containsNull = false)

  private val EndOfChain = 0xFFFFFFFEL
  private val FreeSect = 0xFFFFFFFFL
  private val FatSect = 0xFFFFFFFDL
  private val DifSect = 0xFFFFFFFCL

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL)) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)

  /** Parsed container: directory entries in chain order + the pieces
    * extraction needs (FAT, miniFAT, mini-stream bytes).
    */
  private[functions] final case class Entry(name: String, typ: Int,
      startSect: Long, size: Long)
  private[functions] final case class Cfb(ssz: Int, nSect: Int,
      fat: Array[Long], entries: IndexedSeq[Entry],
      miniFat: Array[Long], miniStream: Array[Byte])

  // sector 0 begins one FULL sector after the file start ([MS-CFB]
  // 2.2): offset 512 for v3 — but 4096 for v4, whose 512-byte header
  // pads out its first sector
  private def sectorOff(id: Long, ssz: Int): Long = (id + 1) * ssz

  /** Follow a FAT chain from `start`, refusing loops (cap = nSect) and
    * out-of-range ids; null on malformation.
    */
  private def chain(fat: Array[Long], start: Long, nSect: Int): IndexedSeq[Long] = {
    val out = IndexedSeq.newBuilder[Long]
    var cur = start
    var steps = 0
    while (cur != EndOfChain) {
      if (cur < 0 || cur >= nSect || steps > nSect) return null
      out += cur
      cur = fat(cur.toInt)
      steps += 1
    }
    out.result()
  }

  private[functions] def parse(b: Array[Byte]): Cfb = {
    if (b == null || b.length < 512 + 512) return null // header + >=1 sector
    // magic D0 CF 11 E0 A1 B1 1A E1
    if ((b(0) & 0xFF) != 0xD0 || (b(1) & 0xFF) != 0xCF ||
        (b(2) & 0xFF) != 0x11 || (b(3) & 0xFF) != 0xE0 ||
        (b(4) & 0xFF) != 0xA1 || (b(5) & 0xFF) != 0xB1 ||
        (b(6) & 0xFF) != 0x1A || (b(7) & 0xFF) != 0xE1) return null
    val major = u16(b, 26)
    val byteOrder = u16(b, 28)
    val shift = u16(b, 30)
    val miniShift = u16(b, 32)
    if (byteOrder != 0xFFFE) return null // little-endian marker ([MS-CFB] 2.2)
    if (!(major == 3 && shift == 9) && !(major == 4 && shift == 12)) return null
    if (miniShift != 6) return null
    val ssz = 1 << shift
    if (b.length % ssz != 0 || b.length < 2 * ssz) return null // whole sectors, exact cover
    val nSect = (b.length / ssz - 1).toInt
    val numFat = u32(b, 44)
    val firstDir = u32(b, 48)
    val miniCutoff = u32(b, 56)
    val firstMiniFat = u32(b, 60)
    val numMiniFat = u32(b, 64)
    val firstDifat = u32(b, 68)
    val numDifat = u32(b, 72)
    if (miniCutoff != 4096) return null // MUST per [MS-CFB] 2.2
    // DIFAT: 109 header entries, then the DIFAT sector chain (each
    // holds ssz/4 - 1 FAT sector ids + a next pointer in its last slot)
    val fatSecs = IndexedSeq.newBuilder[Long]
    var i = 0
    var done = false
    while (i < 109 && !done) {
      val v = u32(b, 76 + 4 * i)
      if (v == FreeSect || v == EndOfChain) done = true else fatSecs += v
      i += 1
    }
    var difCur = firstDifat
    var difSteps = 0L
    while (difCur != EndOfChain && difCur != FreeSect) {
      if (difCur < 0 || difCur >= nSect || difSteps > numDifat) return null
      val off = sectorOff(difCur, ssz).toInt
      var j = 0
      var stop = false
      while (j < ssz / 4 - 1 && !stop) {
        val v = u32(b, off + 4 * j)
        if (v == FreeSect) stop = true else fatSecs += v
        j += 1
      }
      difCur = u32(b, off + ssz - 4)
      difSteps += 1
    }
    val fatSecIds = fatSecs.result()
    if (fatSecIds.size != numFat) return null // count must match the header
    // read the FAT: one Long per sector id
    val perSec = ssz / 4
    if (fatSecIds.size.toLong * perSec < nSect) return null // FAT must cover the file
    val fat = new Array[Long](nSect)
    var k = 0
    while (k < nSect) {
      val fs = fatSecIds(k / perSec)
      if (fs < 0 || fs >= nSect) return null
      fat(k) = u32(b, (sectorOff(fs, ssz) + 4 * (k % perSec)).toInt)
      k += 1
    }
    // self-consistency: every FAT sector marks itself FATSECT, every
    // DIFAT sector DIFSECT (cheap, catches a FAT pointed into data)
    for (fs <- fatSecIds) {
      if (fs < 0 || fs >= nSect || fat(fs.toInt) != FatSect) return null
    }
    var dc = firstDifat
    var ds = 0
    while (dc != EndOfChain && dc != FreeSect && ds <= nSect) {
      if (dc < 0 || dc >= nSect || fat(dc.toInt) != DifSect) return null
      dc = u32(b, (sectorOff(dc, ssz) + ssz - 4).toInt)
      ds += 1
    }
    // directory chain -> entries in chain order
    val dirSecs = chain(fat, firstDir, nSect)
    if (dirSecs == null || dirSecs.isEmpty) return null
    val entries = IndexedSeq.newBuilder[Entry]
    for (sec <- dirSecs; e <- 0 until ssz / 128) {
      val off = (sectorOff(sec, ssz) + 128 * e).toInt
      val nameLen = u16(b, off + 64)
      val typ = b(off + 66) & 0xFF
      if (typ != 0) { // 0 = unallocated
        if (nameLen < 2 || nameLen > 64 || nameLen % 2 != 0) return null
        if (typ != 1 && typ != 2 && typ != 5) return null
        val name = new String(b, off, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
        val start = u32(b, off + 116)
        val sizeLo = u32(b, off + 120)
        val sizeHi = u32(b, off + 124)
        // v3: only the low 32 bits are meaningful and the high MUST be
        // 0 for well-formed writers; v4 allows the full 64. Either way
        // a size past the cap refuses at extraction, not here.
        if (major == 3 && sizeHi != 0) return null
        entries += Entry(name, typ, start, sizeLo | (sizeHi << 32))
      }
    }
    val es = entries.result()
    if (es.isEmpty || es.head.typ != 5) return null // first entry is the root
    // mini stream: the ROOT entry's regular chain; miniFAT: its own chain
    val root = es.head
    val miniBytes = root.size
    if (miniBytes % 64 != 0 || miniBytes > Inflation.MaxBytes) return null
    val mini = new Array[Byte](miniBytes.toInt)
    if (miniBytes > 0) {
      val msecs = chain(fat, root.startSect, nSect)
      if (msecs == null || msecs.size.toLong * ssz < miniBytes) return null
      var p = 0
      for (sec <- msecs) {
        val n = math.min(ssz.toLong, miniBytes - p).toInt
        if (n > 0) {
          val so = sectorOff(sec, ssz)
          if (so + n > b.length) return null
          System.arraycopy(b, so.toInt, mini, p, n)
          p += n
        }
      }
    }
    val miniFat: Array[Long] =
      if (numMiniFat == 0) Array.emptyLongArray
      else {
        val mfSecs = chain(fat, firstMiniFat, nSect)
        if (mfSecs == null || mfSecs.size.toLong != numMiniFat) return null
        val mf = new Array[Long](mfSecs.size * perSec)
        var q = 0
        for (sec <- mfSecs; j <- 0 until perSec) {
          mf(q) = u32(b, (sectorOff(sec, ssz) + 4 * j).toInt)
          q += 1
        }
        mf
      }
    Cfb(ssz, nSect, fat, es, miniFat, mini)
  }

  def list(b: Array[Byte]): GenericArrayData = {
    val cfb = parse(b)
    if (cfb == null) return null
    new GenericArrayData(cfb.entries.map { e =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.name), e.typ, e.size)): Any
    }.toArray)
  }

  private[functions] def extractFrom(cfb: Cfb, b: Array[Byte], name: String): Array[Byte] = {
    val e = cfb.entries.find(x => x.typ == 2 && x.name == name).getOrElse(return null)
    if (e.size > Inflation.MaxBytes) return null
    val size = e.size.toInt
    val out = new Array[Byte](size)
    if (size == 0) return out
    if (e.size >= 4096) {
      val secs = chain(cfb.fat, e.startSect, cfb.nSect)
      if (secs == null || secs.size.toLong !=
        (e.size + cfb.ssz - 1) / cfb.ssz) return null // chain covers size exactly
      var p = 0
      for (sec <- secs) {
        val n = math.min(cfb.ssz, size - p)
        if (n > 0) {
          val so = sectorOff(sec, cfb.ssz)
          if (so + n > b.length) return null
          System.arraycopy(b, so.toInt, out, p, n)
          p += n
        }
      }
      out
    } else {
      // mini chain through the root's mini stream
      val nMini = cfb.miniStream.length / 64
      var cur = e.startSect
      var p = 0
      var steps = 0
      while (p < size) {
        if (cur < 0 || cur >= nMini || cur >= cfb.miniFat.length ||
          steps > nMini) return null
        val n = math.min(64, size - p)
        System.arraycopy(cfb.miniStream, cur.toInt * 64, out, p, n)
        p += n
        cur = cfb.miniFat(cur.toInt)
        steps += 1
      }
      if (cur != EndOfChain) return null // chain must end where the size does
      out
    }
  }

  def extract(b: Array[Byte], name: String): Array[Byte] = {
    val cfb = parse(b)
    if (cfb == null) return null
    extractFrom(cfb, b, name)
  }
}
