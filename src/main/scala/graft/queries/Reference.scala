package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.{Knn, Search}
import graft.operators.Search.{Point, SearchRequest}

/** The reference's canonical query (`backend/models.py:186-191`) run
  * END-TO-END through the Search planner and checked against the DuckDB
  * oracle: case-insensitive type filter (client-lowered, empty probe
  * dropped) AND point-in-polygon filter AND cosine-distance ordering AND
  * offset/limit pagination AND text-field projection — every clause of
  * the reference's one query shape in a single gate-checked query.
  *
  * The layers table is synthesized deterministically from the driver's
  * tables: documents ⋈ embeddings supplies the text + vector columns;
  * each row gets a ±45-degree square polygon centered at integer
  * coordinates derived from doc_id. The polygons are real WKB geometry on
  * the Spark side (built with st_geomfromtext, filtered with JTS
  * st_intersects); the oracle states the identical predicate as integer
  * interval arithmetic — exact for axis-aligned squares.
  */
object Reference extends QueryPack {

  private val HalfW = 45L

  private def layersFrom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val embs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // integer rect center per doc; corners as strings -> WKT -> WKB
    val xi = col("doc_id") * 7 % 360 - 180
    val yi = col("doc_id") * 3 % 180 - 90
    val wkt = concat(
      lit("POLYGON (("),
      (xi - HalfW).cast("string"), lit(" "), (yi - HalfW).cast("string"), lit(", "),
      (xi + HalfW).cast("string"), lit(" "), (yi - HalfW).cast("string"), lit(", "),
      (xi + HalfW).cast("string"), lit(" "), (yi + HalfW).cast("string"), lit(", "),
      (xi - HalfW).cast("string"), lit(" "), (yi + HalfW).cast("string"), lit(", "),
      (xi - HalfW).cast("string"), lit(" "), (yi - HalfW).cast("string"), lit("))"))
    docs.join(embs, col("doc_id") === col("vec_id"))
      .select(
        col("doc_id").cast("string").as("id"),
        col("source").as("name"),
        col("lang").as("type"),
        col("text").as("description"),
        concat(lit("doc://"), col("doc_id").cast("string")).as("url"),
        col("text").as("metadata_text"),
        col("embedding").as("embeddings"),
        st_geomfromtext(wkt).as("geom"))
  }

  private def probe(s: SparkSession, d: String): Array[Float] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** The committed GeoParquet golden fixture (real geo footer, WKB
    * Polygon geometry, 8-dim embeddings — see FIXTURES.md §A and
    * GeoParquetSpec). Resolved from `GRAFT_FIXTURE_DIR` (the directory
    * holding the fixture) so other checkouts can point at their own copy;
    * defaults to this repo's test-resources path because the driver's
    * gate and the oracle's DuckDB both run on this host.
    */
  private val GoldenFixture: String =
    sys.env.getOrElse("GRAFT_FIXTURE_DIR",
      "/root/repo/src/test/resources") + "/golden_layers.geoparquet"

  /** The notebook replay's probe (agent.ipynb cell 3 in spirit), stated
    * in the oracle as the float32-exact double values so both engines
    * rank with identical probe coordinates.
    */
  private val ParcelProbe = Array(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0.1f)

  /** Shared two-page PDF fixture for m24/x22: a complete classic-xref
    * PDF in column arithmetic — catalog, page tree, one uncompressed
    * content stream and one FlateDecode stream carried as a zlib STORED
    * block whose adler32 is computed in-query (the m6 pattern; the only
    * varying bytes are the 7 `dval` digits and the 5-char `word`, so
    * the two modular sums are seven codegen'd terms each). All object
    * sizes are fixed-width, so every xref offset is a compile-time
    * constant. Extracted text contract:
    * `doc <D> <word>\nbeta <D>\nflate <D>\n` with D = %07d of dval.
    * `tornAdler` flips the zlib checksum's low bit -> pdf_text refuses
    * whole (pdf_meta still answers — the routing walk never decodes).
    * Returns (hex column, total byte length — constant by design).
    */
  private def pdfFixtureHex(dval: Column, word: Column,
      tornAdler: Column): (Column, Int) = {
    def hexOf(str: String) =
      str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
    val dHex = hex(format_string("%07d", dval))
    val D = "0000000"
    val c1 = s"BT (doc $D aaaaa) Tj ET BT [(beta)-200($D)] TJ ET"
    val c2 = s"BT (flate $D) Tj ET"
    val header = "%PDF-1.4\n"
    val o1 = "1 0 obj\n<</Type /Catalog /Pages 2 0 R>>\nendobj\n"
    val o2 = "2 0 obj\n<</Type /Pages /Kids [3 0 R 4 0 R] /Count 2>>\nendobj\n"
    val o3 = "3 0 obj\n<</Type /Page /Parent 2 0 R /Contents 5 0 R>>\nendobj\n"
    val o4 = "4 0 obj\n<</Type /Page /Parent 2 0 R /Contents 6 0 R>>\nendobj\n"
    val o5 = s"5 0 obj\n<</Length ${c1.length}>>\nstream\n$c1\nendstream\nendobj\n"
    val n2 = c2.length // stored-block payload length
    val zLen = n2 + 11 // zlib hdr (2) + stored hdr (5) + adler (4)
    val o6a = s"6 0 obj\n<</Length $zLen /Filter /FlateDecode>>\nstream\n"
    val o6b = "\nendstream\nendobj\n"
    val offs = Seq(o1, o2, o3, o4, o5).scanLeft(header.length)(_ + _.length)
    val xrefAt = offs.last + o6a.length + zLen + o6b.length
    val xref = "xref\n0 7\n0000000000 65535 f \n" +
      offs.map(o => f"$o%010d 00000 n \n").mkString +
      s"trailer\n<</Size 7 /Root 1 0 R>>\nstartxref\n$xrefAt\n%%EOF\n"
    // adler32 over c2 with the REAL digits: the template digit bytes are
    // '0' (48), the real ones 48 + d_k — each sum is its template
    // constant plus the digits' closed-form contribution
    val tmpl = c2.getBytes("ISO-8859-1").map(_ & 0xFF)
    val sumT = tmpl.sum
    val sumBT = tmpl.zipWithIndex.map { case (v, i) => (n2 - i) * v }.sum
    def digit(k: Int): Column = // most-significant first, at c2 pos 10+k
      pmod(floor(dval.cast("double") / math.pow(10, 6 - k)).cast("long"), lit(10L))
    val aCol = pmod(lit(1L + sumT) +
      (0 to 6).map(k => digit(k)).reduce(_ + _), lit(65521L)).cast("int")
    val bCol = pmod(lit(n2.toLong + sumBT) +
      (0 to 6).map(k => digit(k) * (n2 - 10 - k)).reduce(_ + _),
      lit(65521L)).cast("int")
    val aOut = when(tornAdler, aCol.bitwiseXOR(lit(1))).otherwise(aCol)
    def le16h(v: Int) = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
    val pdfHex = concat(
      lit(hexOf(header + o1 + o2 + o3 + o4) +
        hexOf(s"5 0 obj\n<</Length ${c1.length}>>\nstream\nBT (doc ")), dHex,
      lit(hexOf(" ")), hex(word),
      lit(hexOf(") Tj ET BT [(beta)-200(")), dHex,
      lit(hexOf(")] TJ ET\nendstream\nendobj\n") + hexOf(o6a) +
        "780101" + le16h(n2) + le16h(0xFFFF - n2) + hexOf("BT (flate ")), dHex,
      lit(hexOf(") Tj ET")),
      format_string("%04X%04X", bCol, aOut),
      lit(hexOf(o6b + xref)))
    val pdfLen = (header + o1 + o2 + o3 + o4 + o5 + o6a).length + zLen +
      (o6b + xref).length
    (pdfHex, pdfLen)
  }

  /** Shared MJPEG-AVI construction for m26/x21: per doc, a complete
    * single-stream RIFF/AVI whose `movi` chunks are REAL baseline
    * JPEGs (the m11 recipe — canonical Huffman, category-4 DC, q0=16,
    * so block b of frame f lands on the EXACT integer 128 + 2*dc):
    * nf = doc_id%3 + 2 frames at 25 fps (40 ms/frame), 8x8 greyscale —
    * except doc_id%5 == 0 videos, whose frames are 16x8 (two blocks,
    * alternating +d/-d diffs -> values [128+2d, 128]) while the avih
    * still SAYS 8x8: the dims-consistency bait x21's gate must catch.
    * Frame f's block value v_f = 144 + 2*((doc_id+f)%8). Torn docs
    * (doc_id%7 == 0) lose their last 2 bytes and refuse whole.
    */
  private def mjpegAviHex(id: Column): Column = {
    val nf = id % 3 + 2
    val wb = when(id % 5 === 0, lit(2)).otherwise(lit(1))
    def le32h(v: Int) = f"${v & 255}%02X${(v >> 8) & 255}%02X${(v >> 16) & 255}%02X${(v >> 24) & 255}%02X"
    def le32c(v: Column) = format_string("%02X%02X%02X%02X",
      v.bitwiseAND(lit(255)), shiftright(v, 8).bitwiseAND(lit(255)),
      shiftright(v, 16).bitwiseAND(lit(255)),
      shiftright(v, 24).bitwiseAND(lit(255)))
    // baseline JPEG template (m11), height 8 fixed, width wb*8 spliced
    val preA = "FFD8" + "FFDB00430010" + "01" * 63 + "FFC0000B08" + "0008"
    val preB = "01011100" +
      "FFC4001400" + "00000001" + "00" * 12 + "04" +
      "FFC4001410" + "00000000000000010000000000000000" + "00" +
      "FFDA0008010100003F00"
    val jpegLen = lit((preA.length + 4 + preB.length) / 2 + 2) + wb * 2
    val pad = pmod(jpegLen, lit(2))
    val chunkBytes = lit(8) + jpegLen + pad
    val avihHex = concat(lit("61766968" + le32h(56) + le32h(40000) +
      le32h(0) + le32h(0) + le32h(0)), le32c(nf),
      lit(le32h(0) + le32h(1) + le32h(0) + le32h(8) + le32h(8) + "00" * 16))
    val strlHex = "4C495354" + le32h(4 + 64) + "7374726C" +
      "73747268" + le32h(56) + "76696473" + "4D4A5047" + "00" * 48
    val hdrlHex = concat(lit("4C495354" + le32h(4 + 64 + 76) + "6864726C"),
      avihHex, lit(strlHex))
    def dcOf(f: Column) = lit(8) + pmod(id + f, lit(8))
    val chunksHex = array_join(transform(sequence(lit(0), nf - 1), f => concat(
      lit("30306463"), le32c(jpegLen),
      lit(preA), format_string("%04X", wb * 8), lit(preB),
      when(wb === 1, format_string("%02X00", dcOf(f)))
        .otherwise(format_string("%02X00%02X00", dcOf(f), lit(15) - dcOf(f))),
      lit("FFD9"),
      when(pad === 1, lit("00")).otherwise(lit("")))), "")
    val moviSize = lit(4) + nf * chunkBytes
    val riffSize = lit(168) + nf * chunkBytes
    val aviHex = concat(
      lit("52494646"), le32c(riffSize), lit("41564920"),
      hdrlHex,
      lit("4C495354"), le32c(moviSize), lit("6D6F7669"),
      chunksHex)
    when(id % 7 === 0, aviHex.substr(lit(1), length(aviHex) - 4))
      .otherwise(aviHex)
  }

  /** Check-none XZ stream holding `dataHex`'s bytes in ONE LZMA2
    * uncompressed chunk, assembled in column arithmetic (xz file format
    * spec 1.2.1 — public; every CRC32 here is the zlib polynomial the
    * built-in `crc32` computes, which is why check=None + header CRCs
    * is the constructible profile). Payload must be 1..65536 bytes
    * (one uncompressed chunk). Fixed parts (stream flags, the 8
    * block-header bytes with the 16 KiB dict prop) carry plan-time
    * Scala CRC constants; the index CRC and footer CRC are column
    * `crc32` over the varying bytes. `crcBump` (0 or 1) bumps the
    * block-header CRC — the decoder refuses the whole stream, the
    * torn-quarantine arm. XzSpec pins the identical construction in
    * straight-line Scala against the library and the xz CLI.
    */
  private[graft] def xzWrapHex(dataHex: Column, crcBump: Column): Column = {
    def le32(v: Column) = graft.functions.GraftFunctions.le_hex(v, 4)
    def crcConst(bytes: Int*): Long = {
      val c = new java.util.zip.CRC32()
      bytes.foreach(b => c.update(b))
      c.getValue
    }
    def leHexConst(v: Long): String =
      f"${v & 255}%02X${(v >> 8) & 255}%02X${(v >> 16) & 255}%02X${(v >> 24) & 255}%02X"
    // multi-byte varints are little-endian base-128 (spec §1.2); three
    // 7-bit groups cover values < 2^21, past the 65536+12 max here —
    // two groups alone would emit odd-length hex at unpadded >= 16384
    // and silently tear the stream (r18 ADVICE)
    def varint(v: Column) = when(v < 128, format_string("%02X", v))
      .when(v < 16384, format_string("%02X%02X",
        v.bitwiseAND(lit(127)).bitwiseOR(lit(128)), shiftright(v, 7)))
      .otherwise(format_string("%02X%02X%02X",
        v.bitwiseAND(lit(127)).bitwiseOR(lit(128)),
        shiftright(v, 7).bitwiseAND(lit(127)).bitwiseOR(lit(128)),
        shiftright(v, 14)))
    def vlen(v: Column) = when(v < 128, lit(1))
      .when(v < 16384, lit(2)).otherwise(lit(3))
    val dlen = (length(dataHex) / 2).cast("long")
    // stream header: magic | flags 00 00 (check=None) | CRC32(flags)
    val hdrHex = lit("FD377A585A00" + "0000" + leHexConst(crcConst(0, 0)))
    // block header (12 B): size byte 02, flags 00 (1 filter, no size
    // fields), LZMA2 id 21, props len 01, dict prop 04 (16 KiB), 3 pad
    // zeros, CRC32 of the 8 bytes (+ the torn bump)
    val bhConst = crcConst(0x02, 0x00, 0x21, 0x01, 0x04, 0, 0, 0)
    val bhHex = concat(lit("0200210104000000"),
      le32(pmod(lit(bhConst) + crcBump, lit(4294967296L))))
    // LZMA2: one uncompressed chunk (control 01 = dict reset),
    // size-1 BE16, payload, end marker 00
    val lzma2Hex = concat(lit("01"),
      format_string("%02X%02X", shiftright(dlen - 1, 8).bitwiseAND(lit(255)),
        (dlen - 1).bitwiseAND(lit(255))),
      dataHex, lit("00"))
    val unpadded = lit(12L) + dlen + 4 // header + chunk framing + payload
    val blockPadHex = lit("000000").substr(lit(1),
      (pmod(lit(4) - pmod(unpadded, lit(4)), lit(4)) * 2).cast("int"))
    // index: indicator 00, count 01, record (unpadded, uncompressed),
    // pad to 4, CRC32 of everything before the CRC
    val idxBodyHex = concat(lit("0001"), varint(unpadded), varint(dlen))
    val idxBodyLen = lit(2) + vlen(unpadded) + vlen(dlen)
    val idxPadLen = pmod(lit(4) - pmod(idxBodyLen, lit(4)), lit(4))
    val idxPaddedHex = concat(idxBodyHex,
      lit("000000").substr(lit(1), (idxPadLen * 2).cast("int")))
    val idxHex = concat(idxPaddedHex, le32(crc32(unhex(idxPaddedHex))))
    // footer: CRC32(backward LE32 ++ flags), backward, flags, YZ
    val backward = (idxBodyLen + idxPadLen + 4) / 4 - 1
    val tailHex = concat(le32(backward.cast("long")), lit("0000"))
    val footerHex = concat(le32(crc32(unhex(tailHex))), tailHex, lit("595A"))
    concat(hdrHex, bhHex, lzma2Hex, blockPadHex, idxHex, footerHex)
  }

  /** Minimal v3 OLE2/CFB compound file holding `streams` (name, content
    * hex column, FIXED byte size) in the MINI stream, assembled in
    * column arithmetic ([MS-CFB] — public; every offset is a plan-time
    * constant because the sizes are fixed, so only the content hex
    * varies per row). Sector plan: FAT(0), directory(1), miniFAT(2),
    * ministream(3..). Limits (enforced): <= 3 streams (one directory
    * sector), each < 4096 B (mini cutoff), <= 128 minisectors total.
    * CfbSpec pins the same layout family in straight-line Scala via an
    * INDEPENDENT writer; the m31/x29/x29b gates ride this helper.
    */
  private[graft] def cfbWrapHex(streams: Seq[(String, Column, Int)]): Column = {
    require(streams.nonEmpty && streams.size <= 3, "one directory sector")
    require(streams.forall(_._3 > 0) && streams.forall(_._3 < 4096), "mini streams only")
    def le32c(v: Long): String =
      f"${v & 255}%02X${(v >> 8) & 255}%02X${(v >> 16) & 255}%02X${(v >> 24) & 255}%02X"
    def le16c(v: Int): String = f"${v & 255}%02X${(v >> 8) & 255}%02X"
    def asciiUtf16Hex(s: String): String =
      s.map(c => f"${c.toInt}%02X00").mkString
    val counts = streams.map { case (_, _, n) => (n + 63) / 64 }
    val starts = counts.scanLeft(0)(_ + _)
    val totalMini = starts.last
    require(totalMini <= 128, "one miniFAT sector")
    val miniBytes = totalMini * 64
    val miniSecs = (miniBytes + 511) / 512
    val nSect = 3 + miniSecs
    require(nSect <= 128, "one FAT sector")
    val header = "D0CF11E0A1B11AE1" + "00" * 16 +
      le16c(0x3E) + le16c(3) + le16c(0xFFFE) + le16c(9) + le16c(6) +
      "00" * 6 + le32c(0) /* numDirSectors (v3: 0) */ +
      le32c(1) /* numFat */ + le32c(1) /* firstDir */ + le32c(0) /* txn */ +
      le32c(4096) /* mini cutoff */ + le32c(2) /* firstMiniFat */ +
      le32c(1) /* numMiniFat */ + le32c(0xFFFFFFFEL) /* firstDifat */ +
      le32c(0) /* numDifat */ +
      le32c(0) + "FFFFFFFF" * 108 // DIFAT: FAT lives in sector 0
    val fatSector = {
      val entries = Array.fill(128)("FFFFFFFF")
      entries(0) = "FDFFFFFF" // FATSECT marks itself
      entries(1) = "FEFFFFFF" // directory: one sector
      entries(2) = "FEFFFFFF" // miniFAT: one sector
      for (j <- 0 until miniSecs)
        entries(3 + j) = if (j == miniSecs - 1) "FEFFFFFF" else le32c(4L + j)
      entries.mkString
    }
    def dirEntry(name: String, typ: Int, start: Long, size: Long): String = {
      val nm = asciiUtf16Hex(name)
      nm + "00" * (64 - nm.length / 2) +
        le16c(name.length * 2 + 2) + f"$typ%02X" + "01" +
        le32c(0xFFFFFFFFL) + le32c(0xFFFFFFFFL) + // left, right siblings
        le32c(if (typ == 5) 1L else 0xFFFFFFFFL) + // root's child = entry 1
        "00" * 36 + // clsid, state, ctime, mtime
        le32c(start) + le32c(size) + le32c(0) // v3: high size half MUST be 0
    }
    val dirSector = {
      val es = dirEntry("Root Entry", 5, 3L, miniBytes.toLong) +
        streams.zipWithIndex.map { case ((n, _, sz), i) =>
          dirEntry(n, 2, starts(i).toLong, sz.toLong)
        }.mkString
      es + "00" * (512 - es.length / 2)
    }
    val miniFatSector = {
      val entries = Array.fill(128)("FFFFFFFF")
      for (((_, _, _), i) <- streams.zipWithIndex; j <- 0 until counts(i))
        entries(starts(i) + j) =
          if (j == counts(i) - 1) "FEFFFFFF" else le32c(starts(i) + j + 1L)
      entries.mkString
    }
    val miniPad = "00" * (miniSecs * 512 - miniBytes)
    val contentCols = streams.zipWithIndex.map { case ((_, h, _), i) =>
      rpad(h, counts(i) * 128, "0") // zero-pad to the minisector boundary
    }
    concat((lit(header + fatSector + dirSector + miniFatSector) +:
      contentCols :+ lit(miniPad)): _*)
  }

  /** Shared construction + pipeline for the mirror-ingestion composed
    * gates (x20 gzip / x20b zstd / x20c xz): per doc, a 4-member ustar tar built
    * in column arithmetic (duplicate path where the SECOND occurrence
    * is authoritative, a pax extended header renaming its follower, a
    * cp1252 member for the charset stage), wrapped in the requested
    * REAL container (gzip member with stored deflate + crc32, or an
    * RFC 8878 zstd single-segment frame with one stored block), then
    * ingested: inflate -> tar walk -> extract (pax rename + last-dup
    * under the hash) -> charset decode -> fingerprint keep-first. One
    * data exchange (the keep-first pair); every decode stage fused into
    * the scan. Torn docs break the container integrity field (crc32
    * bump / frame-content-size lie) and quarantine by absence.
    */
  private def mirrorIngest(s: SparkSession, d: String, container: String): DataFrame = {
      import graft.functions.GraftFunctions.{charset_decode, gunzip, zunstd,
        zunxz, tar_entries, tar_extract}
      import graft.functions.TextFunctions.fingerprint
      val id = col("doc_id")
      val m = pmod(id, lit(13))
      def hexOf(str: String) = str.getBytes("UTF-8").map("%02X".format(_)).mkString
      def zeros(n: Int) = "00" * n
      // 512-byte ustar header with a 3-octal-digit size (l < 512)
      def constSum(name: String, prefix: String, tf: Char): Int =
        name.getBytes("UTF-8").map(_ & 0xFF).sum +
          "0000644".getBytes.map(_ & 0xFF).sum +
          2 * "0000000".getBytes.map(_ & 0xFF).sum +
          8 * '0' + 11 * '0' + 8 * ' ' + tf +
          "ustar".getBytes.map(_ & 0xFF).sum + 2 * '0' +
          prefix.getBytes("UTF-8").map(_ & 0xFF).sum
      def header(name: String, prefix: String, tf: Char, l: Column): Column = {
        val d2 = (l / 64).cast("int")
        val d1 = pmod((l / 8).cast("int"), lit(8))
        val d0 = pmod(l, lit(8)).cast("int")
        val chk = lit(constSum(name, prefix, tf) + 144) + d2 + d1 + d0
        val chkHex = concat((5 to 0 by -1).map { i =>
          format_string("3%d", pmod((chk / math.pow(8, i).toInt).cast("int"), lit(8)))
        }: _*)
        concat(
          lit(hexOf(name) + zeros(100 - name.length) +
            hexOf("0000644") + "00" + hexOf("0000000") + "00" + hexOf("0000000") + "00" +
            hexOf("00000000")),
          format_string("3%d3%d3%d00", d2, d1, d0),
          lit(hexOf("00000000000") + "00"),
          chkHex, lit("0020"),
          lit("%02X".format(tf.toInt) + zeros(100) + hexOf("ustar") + "00" + "3030" +
            zeros(32 + 32 + 8 + 8) +
            hexOf(prefix) + zeros(155 - prefix.length) + zeros(12)))
      }
      def asciiHex(c: Column) = hex(c)
      val zeroRun = lit(zeros(512))
      def padTo512(l: Column) = zeroRun.substr(lit(1), (lit(512) - l) * 2)
      // member 1 + its duplicate (tar overwrite: v2 is authoritative)
      val bodyA1 = format_string("alpha %02d v1", m) // 11 bytes
      val bodyA2 = format_string("alpha %02d v2", m)
      // pax path: 74 chars (>100 with no pax is unrepresentable split-free)
      val paxPath = concat(lit("mirror/" + "m" * 60 + "-"),
        format_string("%02d", m), lit(".txt"))
      val paxData = concat(lit("83 path="), paxPath, lit("\n")) // 83 bytes exactly
      // member 3: cp1252 curly quotes around the lang token
      val bodyBHex = concat(asciiHex(format_string("beta %02d ", m)),
        lit("93"), asciiHex(col("lang")), lit("94"))
      val l2 = lit(10L) + length(col("lang"))
      val tarHex = concat(
        header("a.txt", "docs", '0', lit(11L)), asciiHex(bodyA1), padTo512(lit(11L)),
        header("a.txt", "docs", '0', lit(11L)), asciiHex(bodyA2), padTo512(lit(11L)),
        header("pax_hdr", "", 'x', lit(83L)), asciiHex(paxData), padTo512(lit(83L)),
        header("x.txt", "", '0', l2), bodyBHex, padTo512(l2),
        lit(zeros(1024)))
      // real gzip member (t60b): header + stored deflate + crc32 + isize
      import graft.functions.GraftFunctions.le_hex
      def le16(v: Column) = le_hex(v, 2)
      def le32(v: Column) = le_hex(v, 4)
      val torn = id % 7 === 0
      // STAGED (round 18): tarHex is a ~20-subexpression construction
      // referenced by the container wrapper as content AND length AND
      // crc — as one collapsed projection the x20c variant blew
      // janino's 64 KB, lost whole-stage codegen and with it common-
      // subexpression elimination, and the interpreted tree re-built
      // the tar PER REFERENCE (60.6 s at sf0.1 vs zstd's 3.7 — the
      // x25 lesson again). Named multi-referenced columns make the
      // sharing structural instead of an optimizer courtesy.
      def tlenC = col("g_tlen")
      def tarHexC = col("g_tarhex")
      val wrapped: Column = container match {
        case "gzip" =>
          // torn arm: bump the crc32 -> member integrity check refuses
          val crcBump = when(torn, lit(1L)).otherwise(lit(0L))
          gunzip(unhex(concat(
            lit("1F8B08000000000000FF"),
            lit("01"), le16(tlenC), le16(lit(65535) - tlenC),
            tarHexC,
            le32(pmod(crc32(unhex(tarHexC)) + crcBump, lit(4294967296L))),
            le32(tlenC))))
        case "zstd" =>
          // RFC 8878 single-segment frame, one RAW (stored) block:
          // magic, FHD 0x60 (2-byte FCS holding size-256), LE24 block
          // header (last=1, type=raw, size<<3). Torn arm: the frame
          // content size lies by one byte -> the decoder refuses.
          def le24(v: Column) = format_string("%02X%02X%02X",
            v.bitwiseAND(lit(255)), shiftright(v, 8).bitwiseAND(lit(255)),
            shiftright(v, 16).bitwiseAND(lit(255)))
          val fcs = tlenC - lit(256) + when(torn, lit(1)).otherwise(lit(0))
          zunstd(unhex(concat(
            lit("28B52FFD"), lit("60"), le16(fcs),
            le24(shiftleft(tlenC, 3).bitwiseOR(lit(1))),
            tarHexC)))
        case "xz" =>
          // check-none XZ stream, one LZMA2 uncompressed chunk (the
          // xzWrapHex construction XzSpec pins). Torn arm: the block
          // header CRC32 is bumped -> the decoder refuses whole.
          zunxz(unhex(xzWrapHex(tarHexC,
            when(torn, lit(1L)).otherwise(lit(0L)))))
        case "bz2" =>
          // bzip2 has NO stored mode (BWT+MTF+Huffman always), so the
          // stream rides the engine's own deterministic encoder seam
          // (bzip2_deflate; independence carried by Bzip2Spec's
          // two-sided CLI differential). Torn arm: flip one byte deep
          // in the ENCODED stream -> the block CRC refuses whole.
          def bzh = col("g_bzhex")
          val flipped = concat(substring(bzh, 1, 40),
            graft.functions.GraftFunctions.le_hex(
              conv(substring(bzh, 41, 2), 16, 10).cast("int")
                .bitwiseXOR(lit(16)), 1),
            substring(bzh, 43, 1 << 30))
          graft.functions.GraftFunctions.zunbz2(
            unhex(when(torn, flipped).otherwise(bzh)))
      }
      val curated = Tables.documents(s, d)
        .select(id, col("lang"))
        .withColumn("g_tarhex", tarHex)
        .withColumn("g_tlen", (length(tarHexC) / 2).cast("int"))
        .withColumn("g_bzhex", if (container == "bz2")
          hex(graft.functions.GraftFunctions.bzip2_deflate(unhex(tarHexC)))
          else lit(""))
        .withColumn("g_blob", wrapped)
        .select(id, col("lang"), col("g_blob"))
        // span split (the x25 observe rung): the tar construction and
        // the walk/extract halves each compile as their own whole-stage
        // method; no exchange, free row-count metric
        .observe(s"x20_${container}_construction", count(lit(1)).as("docs_built"))
        .select(id, col("lang"),
          tar_entries(col("g_blob")).as("entries"),
          decode(tar_extract(col("g_blob"), lit("docs/a.txt")), "UTF-8").as("a_text"),
          charset_decode(tar_extract(col("g_blob"), paxPath)).as("b_text"))
        .filter(col("entries").isNotNull) // torn gzip/tar: absent
        .select(id, size(col("entries")).as("n_entries"),
          col("a_text"), col("b_text"))
      curated
        .withColumn("fp", fingerprint(concat(col("a_text"), lit(" | "), col("b_text"))))
        .groupBy(col("fp"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("n_entries"), id).as("n_entries"),
          min_by(col("a_text"), id).as("a_text"),
          min_by(col("b_text"), id).as("b_text"))
        .select(col("doc_id"), col("n_dups"), col("n_entries"),
          col("a_text"), col("b_text"))
        .orderBy(col("doc_id"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x1_reference_search" -> { (s, d) =>
      Search.plan(layersFrom(s, d), SearchRequest(
        probe = probe(s, d),
        typeFilter = Some(Seq("EN", "fr", "")), // case + empty-drop quirks live
        inputPoint = Some(Point(0.5, 0.5)),
        skip = 2,
        limit = 8))
    },

    // the SAME reference query through the PURE SQL surface (the
    // reference emits SQL — backend/models.py:186-191 — so the engine's
    // registered-function SQL path is itself under the gate): graft's
    // cosine_distance / st_intersects / st_point run inside spark.sql
    // over registered temp views, with the probe arriving as a 1-row
    // cross join. Must hash-match x1's DataFrame-API plan exactly.
    "x5_sql_reference_search" -> { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      layersFrom(s, d).createOrReplaceTempView("layers_x5")
      Tables.embeddings(s, d).createOrReplaceTempView("emb_x5")
      s.sql("""
        WITH probe AS (SELECT embedding AS pv FROM emb_x5 WHERE vec_id = 0)
        SELECT id, name, type, description, url, metadata_text
        FROM layers_x5 CROSS JOIN probe
        WHERE lower(type) IN ('en', 'fr')
          AND st_intersects(geom, st_point(0.5D, 0.5D))
        ORDER BY cosine_distance(embeddings, pv) ASC, id ASC
        LIMIT 8 OFFSET 2""")
    },

    // the DEEP-SKIP pagination path under the driver gate (V3's other
    // physical plan): skip=1500 > DeepSkipThreshold routes Search.plan
    // through deepPage — the range-partitioned global sort +
    // zipWithIndex ordinal filter where only `limit` rows ever leave the
    // cluster. The corpus is lifted x4 (replica suffix on the string id;
    // replicas tie on dist and resolve by the id tie-break, exercising
    // determinism under ties) so the 500-doc table has 2000 rows to page
    // into. The oracle replays the identical ranking as ORDER BY/OFFSET;
    // both sides re-sort the page by id, gating page MEMBERSHIP at the
    // deep offset.
    "q13b_deep_page" -> { (s, d) =>
      val lifted = layersFrom(s, d)
        .withColumn("rep", explode(sequence(lit(0), lit(3))))
        .withColumn("id", concat(col("id"), lit("-"), col("rep").cast("string")))
        .drop("rep")
      Search.plan(lifted, SearchRequest(
        probe = probe(s, d), skip = 1500, limit = 10))
        .orderBy(col("id"))
    },

    // image_meta under the driver gate: per document, CONSTRUCT real
    // GIF89a and PNG-IHDR header bytes whose dimensions derive from
    // doc_id (LE16 for GIF, BE32 for PNG, built with format_string +
    // unhex + binary concat — all codegen built-ins), parse them back
    // with the native expression, and emit the decoded metadata. The
    // oracle states the EXPECTED dimensions by arithmetic — an
    // independent inversion check on the parser, not a restatement.
    "m1_image_meta" -> { (s, d) =>
      import graft.functions.GraftFunctions.image_meta
      val w = (col("doc_id") % 1000 + 1).cast("int")
      val h = (col("doc_id") % 700 + 1).cast("int")
      val gif = concat(
        lit("GIF89a").cast("binary"),
        unhex(format_string("%02X%02X%02X%02X",
          w % 256, (w / 256).cast("int"), h % 256, (h / 256).cast("int"))),
        lit(Array[Byte](0, 0, 0)))
      val png = concat(
        lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13)),
        lit("IHDR").cast("binary"),
        unhex(format_string("%08X%08X", w, h)),
        lit(Array[Byte](8, 2))) // bit depth 8, colour type 2 (truecolour)
      Tables.documents(s, d)
        .select(col("doc_id"),
          image_meta(gif).as("g"), image_meta(png).as("p"))
        .select(col("doc_id"),
          col("g.format").as("gif_format"), col("g.width").as("gif_w"),
          col("g.height").as("gif_h"), col("g.channels").as("gif_c"),
          col("p.format").as("png_format"), col("p.width").as("png_w"),
          col("p.height").as("png_h"), col("p.channels").as("png_c"))
        .orderBy(col("doc_id"))
    },

    // WebP container metadata under the driver gate, m1's inversion
    // pattern: per document, CONSTRUCT a real VP8L (lossless: 0x2F
    // signature + 28-bit LE dimension packing, alpha bit 28) and a real
    // VP8X (extended: flags byte + 24-bit LE canvas dims) container
    // from doc_id arithmetic using codegen built-ins independent of the
    // parser, parse both back with image_meta, and gate the round trip
    "m9_webp_meta" -> { (s, d) =>
      import graft.functions.GraftFunctions.image_meta
      val w1 = "(doc_id % 1000)" // width - 1
      val h1 = "(doc_id % 700)"  // height - 1
      val al = "(doc_id % 2)"    // alpha-is-used
      val lBits = s"cast($w1 + $h1 * 16384 + $al * 268435456 as bigint)"
      val vp8l = concat(
        lit("RIFF").cast("binary"), lit(Array[Byte](0, 0, 0, 0)),
        lit("WEBPVP8L").cast("binary"), lit(Array[Byte](5, 0, 0, 0)),
        lit(Array[Byte](0x2f)),
        unhex(expr(s"format_string('%02X%02X%02X%02X', " +
          s"cast($lBits % 256 as int), cast(($lBits div 256) % 256 as int), " +
          s"cast(($lBits div 65536) % 256 as int), " +
          s"cast(($lBits div 16777216) % 256 as int))")))
      val vp8x = concat(
        lit("RIFF").cast("binary"), lit(Array[Byte](0, 0, 0, 0)),
        lit("WEBPVP8X").cast("binary"), lit(Array[Byte](10, 0, 0, 0)),
        unhex(expr(s"format_string('%02X000000', cast($al * 16 as int))")),
        unhex(expr(s"format_string('%02X%02X%02X', " +
          s"cast($w1 % 256 as int), cast(($w1 div 256) % 256 as int), " +
          s"cast(($w1 div 65536) % 256 as int))")),
        unhex(expr(s"format_string('%02X%02X%02X', " +
          s"cast($h1 % 256 as int), cast(($h1 div 256) % 256 as int), " +
          s"cast(($h1 div 65536) % 256 as int))")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          image_meta(vp8l).as("l"), image_meta(vp8x).as("x"),
          graft.operators.Multimodal.media_format(vp8l).as("fmt"))
        .select(col("doc_id"),
          col("l.format").as("l_format"), col("l.width").as("l_w"),
          col("l.height").as("l_h"), col("l.channels").as("l_c"),
          col("x.format").as("x_format"), col("x.width").as("x_w"),
          col("x.height").as("x_h"), col("x.channels").as("x_c"),
          col("fmt"))
        .orderBy(col("doc_id"))
    },

    // TIFF IFD metadata under the driver gate, m1's inversion pattern:
    // per document, CONSTRUCT a little-endian ("II" + 42) and a
    // big-endian ("MM" + 42) TIFF from doc_id arithmetic — IFD0 with
    // three entries (ImageWidth as SHORT exercising the left-justified
    // inline value, ImageLength as LONG exercising the full 4-byte
    // read, SamplesPerPixel as SHORT) — parse both back with
    // image_meta, and triage with media_format. The byte builders use
    // codegen built-ins (format_string + unhex), independent of the
    // parser.
    "m10_tiff_meta" -> { (s, d) =>
      import graft.functions.GraftFunctions.image_meta
      val w = "(doc_id % 500 + 1)"
      val h = "(doc_id % 300 + 1)"
      val spp = "(doc_id % 3 + 1)"
      def le16h(e: String) =
        s"format_string('%02X%02X', cast($e % 256 as int), cast(($e div 256) % 256 as int))"
      def be16h(e: String) =
        s"format_string('%02X%02X', cast(($e div 256) % 256 as int), cast($e % 256 as int))"
      def le32h(e: String) =
        s"format_string('%02X%02X%02X%02X', cast($e % 256 as int), " +
          s"cast(($e div 256) % 256 as int), cast(($e div 65536) % 256 as int), " +
          s"cast(($e div 16777216) % 256 as int))"
      def be32h(e: String) =
        s"format_string('%02X%02X%02X%02X', cast(($e div 16777216) % 256 as int), " +
          s"cast(($e div 65536) % 256 as int), cast(($e div 256) % 256 as int), " +
          s"cast($e % 256 as int))"
      // header | IFD@8 | count=3 | (tag, type, count=1, value)*3 | next=0
      val leTiff = unhex(expr(
        s"concat('49492A00', '08000000', '0300', " +
          s"'0001', '0300', '01000000', ${le16h(w)}, '0000', " +   // 256 SHORT
          s"'0101', '0400', '01000000', ${le32h(h)}, " +           // 257 LONG
          s"'1501', '0300', '01000000', ${le16h(spp)}, '0000', " + // 277 SHORT
          s"'00000000')"))
      val beTiff = unhex(expr(
        s"concat('4D4D002A', '00000008', '0003', " +
          s"'0100', '0003', '00000001', ${be16h(w)}, '0000', " +
          s"'0101', '0004', '00000001', ${be32h(h)}, " +
          s"'0115', '0003', '00000001', ${be16h(spp)}, '0000', " +
          s"'00000000')"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          image_meta(leTiff).as("l"), image_meta(beTiff).as("m"),
          graft.operators.Multimodal.media_format(leTiff).as("fmt_le"),
          graft.operators.Multimodal.media_format(beTiff).as("fmt_be"))
        .select(col("doc_id"),
          col("l.format").as("le_format"), col("l.width").as("le_w"),
          col("l.height").as("le_h"), col("l.channels").as("le_c"),
          col("m.format").as("be_format"), col("m.width").as("be_w"),
          col("m.height").as("be_h"), col("m.channels").as("be_c"),
          col("fmt_le"), col("fmt_be"))
        .orderBy(col("doc_id"))
    },

    // audio_meta under the driver gate, same inversion pattern as m1:
    // per document, CONSTRUCT a real RIFF/WAVE header (LE16/LE32 fields
    // from doc_id arithmetic, built with format_string + unhex — all
    // codegen built-ins, independent of the parser) and an MPEG-1
    // Layer III frame header (bitrate/sample-rate indices packed into
    // byte 2, channel mode into byte 3), parse both back natively, and
    // emit the decoded fields. The oracle states the EXPECTED values
    // arithmetically — the WAV ones from the same field arithmetic, the
    // MP3 ones through the PUBLIC ISO 11172-3 bitrate/sample-rate tables
    // restated as SQL list literals.
    "m2_audio_meta" -> { (s, d) =>
      import graft.functions.GraftFunctions.audio_meta
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val sr = element_at(array(lit(8000), lit(22050), lit(44100), lit(48000)),
        (col("doc_id") % 4 + 1).cast("int"))
      val bits = ((col("doc_id") % 3 + 1) * 8).cast("int")
      val byteRate = (sr * ch * bits / 8).cast("int")
      val blockAlign = (ch * bits / 8).cast("int")
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        v % 256, (v / 256).cast("int") % 256,
        (v / 65536).cast("int") % 256, (v / 16777216).cast("int") % 256)
      val wav = concat(
        lit("RIFF").cast("binary"), unhex(lit("24000000")),
        lit("WAVEfmt ").cast("binary"),
        unhex(concat(lit("100000000100"), // fmt size 16 LE32, PCM code LE16
          le16h(ch), le32h(sr), le32h(byteRate), le16h(blockAlign), le16h(bits))))
      val bi = (col("doc_id") % 14 + 1).cast("int")
      val si = (col("doc_id") % 3).cast("int")
      val mode = (col("doc_id") % 4).cast("int")
      val mp3 = unhex(format_string("FFFB%02X%02X", bi * 16 + si * 4, mode * 64))
      Tables.documents(s, d)
        .select(col("doc_id"), audio_meta(wav).as("w"), audio_meta(mp3).as("m"))
        .select(col("doc_id"),
          col("w.format").as("wav_format"), col("w.channels").as("wav_ch"),
          col("w.sample_rate").as("wav_sr"), col("w.bits").as("wav_bits"),
          col("w.kbps").as("wav_kbps"),
          col("m.format").as("mp3_format"), col("m.channels").as("mp3_ch"),
          col("m.sample_rate").as("mp3_sr"), col("m.bits").as("mp3_bits"),
          col("m.kbps").as("mp3_kbps"))
        .orderBy(col("doc_id"))
    },

    // PDF TEXT + METADATA under the gate (m24, round 17 — the format a
    // corpus mirror ships in bulk that the m-family still lacked): per
    // doc, construct a COMPLETE two-page classic-xref PDF in column
    // arithmetic — catalog, page tree, one uncompressed content stream
    // and one FlateDecode stream carried as a zlib STORED block whose
    // adler32 is computed IN-QUERY over the exact content bytes (the m6
    // pattern; here the only varying bytes are the 7 doc_id digits, so
    // the two modular sums are seven codegen'd terms, no aggregate()
    // lambda) — and extract text through the real walk: xref parse,
    // page-tree traversal, stream decode, Tj/TJ operators (the -200
    // kern in page 1 must render as ONE space). Torn docs (doc_id % 9
    // == 0) flip the adler's low bit: pdf_text refuses whole (zlib
    // checksum) and the row quarantines by absence; pdf_meta would
    // still answer — the routing walk never decodes content — which
    // the spec pins (PdfSpec), keeping decode cost off the triage
    // path. The oracle states version/pages/objects and the exact
    // expected text arithmetically: an inversion check on the parser.
    "m24_pdf_text" -> { (s, d) =>
      import graft.functions.GraftFunctions.{pdf_meta, pdf_text}
      val id = col("doc_id")
      val (pdfHex, _) = pdfFixtureHex(pmod(id, lit(10000000L)),
        lit("alpha"), id % 9 === 0)
      val pdf = unhex(pdfHex)
      Tables.documents(s, d)
        .select(id, pdf_meta(pdf).as("m"), pdf_text(pdf).as("txt"))
        .filter(col("txt").isNotNull)
        .select(id, col("m.version").as("version"), col("m.pages").as("pages"),
          col("m.objects").as("objects"), col("txt"))
        .orderBy(id)
    },

    // PDF DOCUMENT-INFORMATION dictionary under the gate (m24b, round
    // 17 — the provenance fields a mirror routes and dedups on): per
    // doc, a one-page PDF whose /Info object is the LAST body object,
    // so its length may VARY by arm while every other offset stays a
    // compile-time constant (only startxref is computed). Docs with
    // doc_id % 3 == 0 write the Title as a UTF-16BE hex string with a
    // BOM — built by interleaving "00" into hex() (codegen, the m16
    // lesson) — and must decode to the SAME title as the literal arm:
    // the §7.9.2 two-encoding contract sits under one oracle. Torn
    // docs (doc_id % 7 == 0) lose the trailer and refuse whole.
    "m24b_pdf_info" -> { (s, d) =>
      import graft.functions.GraftFunctions.pdf_info
      val id = col("doc_id")
      def hexOf(str: String) =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      val dHex = hex(format_string("%07d", pmod(id, lit(10000000L))))
      val header = "%PDF-1.4\n"
      val o1 = "1 0 obj\n<</Type /Catalog /Pages 2 0 R>>\nendobj\n"
      val o2 = "2 0 obj\n<</Type /Pages /Kids [3 0 R] /Count 1>>\nendobj\n"
      val o3 = "3 0 obj\n<</Type /Page /Parent 2 0 R>>\nendobj\n"
      val offs = Seq(o1, o2, o3).scanLeft(header.length)(_ + _.length)
      // /Info object 4: title arm varies the byte length — literal
      // "(t 0000123)" vs "<FEFF 00-interleaved>" — author/producer fixed
      val titleLit = concat(lit(hexOf("(t ")), dHex, lit(hexOf(")")))
      // UTF-16BE LITERAL string: raw BOM + 00-interleaved bytes are
      // legal inside ( ) per §7.3.4.2 — "(" FE FF | 00 't' 00 ' ' |
      // 00 digit ... ")" ; the 00-interleave of the ASCII digit hex is
      // one codegen'd regexp_replace (the m16 lesson)
      val title16 = concat(lit("28FEFF00740020"),
        regexp_replace(dHex, "(..)", "00$1"), lit("29"))
      val utf16 = id % 3 === 0
      val o4head = "4 0 obj\n<</Title "
      val o4tail = " /Author (a graft) /CreationDate (D:20260816120000Z)>>\nendobj\n"
      val o4len = lit(o4head.length + o4tail.length) +
        when(utf16, lit(1 + 2 + 4 + 14 + 1)).otherwise(lit(3 + 7 + 1))
      val o4hex = concat(lit(hexOf(o4head)),
        when(utf16, title16).otherwise(titleLit), lit(hexOf(o4tail)))
      val xrefAt = lit(offs.last) + o4len
      val pdfHex = concat(
        lit(hexOf(header + o1 + o2 + o3)), o4hex,
        lit(hexOf("xref\n0 5\n0000000000 65535 f \n" +
          offs.map(o => f"$o%010d 00000 n \n").mkString)),
        lit(hexOf("trailer\n<</Size 5 /Root 1 0 R /Info 4 0 R>>\nstartxref\n")),
        hex(format_string("%d", xrefAt)),
        lit(hexOf("\n%%EOF\n")))
      val hexOut = when(id % 7 === 0,
        pdfHex.substr(lit(1), length(pdfHex) - 40)).otherwise(pdfHex)
      val i = pdf_info(unhex(hexOut))
      Tables.documents(s, d)
        .select(id, i.as("i"))
        .filter(col("i").isNotNull)
        .select(id,
          col("i.title").as("title"), col("i.author").as("author"),
          col("i.creation_date").as("creation_date"),
          col("i.producer").as("producer"))
        .orderBy(id)
    },

    // COMPRESSED-DOCUMENT-MIRROR curation composed (x22, round 17 —
    // m24 in the pipeline, the document sibling of x20/x21, ONE plan
    // under ONE hash): per doc, the two-page PDF fixture is wrapped in
    // an RFC 8878 zstd stored frame (the wire format a modern mirror
    // ships) and ingested end-to-end — zunstd -> pdf_text -> a
    // token-count quality floor -> keep-first dedup on the extracted
    // text (documents are duplicates by CONTENT class, doc_id % 13).
    // THREE live refusal/gate arms: a frame-content-size lie
    // (doc_id % 7, zunstd refuses), a flipped zlib adler inside the PDF
    // (doc_id % 9, pdf_text refuses — the two container layers
    // quarantine independently), and a blanked content word
    // (doc_id % 4, the 6-token doc falls below the 7-token floor).
    // One data exchange (the keep-first group) + the output sort.
    "x22_document_mirror" -> { (s, d) =>
      import graft.functions.GraftFunctions.{pdf_text, zunstd}
      val id = col("doc_id")
      val (pdfHex, pdfLen) = pdfFixtureHex(pmod(id, lit(13)),
        when(id % 4 === 0, lit("     ")).otherwise(lit("alpha")),
        id % 9 === 0)
      def le16h(v: Int) = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
      def le24h(v: Int) = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X${(v >> 16) & 0xFF}%02X"
      // stored zstd frame: magic, FHD 0x60 (2-byte FCS), FCS, raw block
      val fcsLie = when(id % 7 === 0, lit(1)).otherwise(lit(0))
      val frameHex = concat(
        lit("28B52FFD60"),
        format_string("%02X%02X",
          (lit(pdfLen - 256) + fcsLie).bitwiseAND(lit(255)),
          shiftright(lit(pdfLen - 256) + fcsLie, 8).bitwiseAND(lit(255))),
        lit(le24h(1 | (pdfLen << 3))),
        pdfHex)
      val txt = pdf_text(zunstd(unhex(frameHex)))
      Tables.documents(s, d)
        .select(id, txt.as("txt"))
        .filter(col("txt").isNotNull)
        .select(id, col("txt"),
          // trim() strips SPACES only — the trailing newline would count
          // as a phantom token through split's kept trailing empty
          size(split(regexp_replace(col("txt"), "^\\s+|\\s+$", ""), "\\s+"))
            .as("n_tokens"))
        .filter(col("n_tokens") >= 7)
        .groupBy(col("txt"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("n_tokens"), id).as("n_tokens"))
        .select(col("doc_id"), col("n_dups"), col("n_tokens"), col("txt"))
        .orderBy(col("doc_id"))
    },

    // FLAC STREAMINFO under the gate (m25, round 17 — lossless speech
    // corpora ship FLAC; the walk yields the routing facts plus the
    // unencoded-PCM MD5 that keys exact-audio dedup): per doc,
    // construct a complete FLAC metadata section in column arithmetic —
    // magic, STREAMINFO with the RFC 9639 bit packing assembled from
    // shifts over doc-derived rate/channels/bits/total, a 32-hex-char
    // MD5 from four %08x lanes, a last-flagged padding block, and the
    // first frame's sync bytes. Torn docs (doc_id % 9 == 0) truncate
    // inside the padding block's declared length and refuse whole.
    // The oracle restates every unpacked field arithmetically: an
    // inversion check on the bit layout.
    "m25_flac_streaminfo" -> { (s, d) =>
      import graft.functions.GraftFunctions.flac_streaminfo
      val id = col("doc_id")
      val rate = (id % 5 + 1) * 8000
      val ch = id % 3 + 1
      val bps = lit(16) + (id % 2) * 8
      // STREAMINFO's total-samples field is 36 bits — mod the fixture
      // value into range (and restate the mod in the oracle) so no
      // doc_id can silently truncate high bits in the packing
      val total = pmod(id * 100 + 1, lit(1L << 36))
      def h2(c: Column) = format_string("%02x", c)
      val md5Hex = format_string("%08x%08x%08x%08x",
        pmod(id * 2654435761L, lit(4294967296L)),
        pmod(id * 40503 + 7, lit(4294967296L)),
        pmod(id + 123456789, lit(4294967296L)),
        pmod(id * 97 + 13, lit(4294967296L)))
      val flacHex = concat(
        // fLaC | STREAMINFO (type 0, len 34) | blocksizes 4096/4096 |
        // framesizes unknown
        lit("664c614300000022" + "10001000" + "000000000000"),
        h2(shiftright(rate, 12)),
        h2(shiftright(rate, 4).bitwiseAND(lit(255))),
        h2(shiftleft(rate.bitwiseAND(lit(15)), 4)
          .bitwiseOR(shiftleft(ch - 1, 1))
          .bitwiseOR(shiftright(bps - 1, 4))),
        h2(shiftleft((bps - 1).bitwiseAND(lit(15)), 4)
          .bitwiseOR(shiftright(total, 32).bitwiseAND(lit(15)))),
        h2(shiftright(total, 24).bitwiseAND(lit(255))),
        h2(shiftright(total, 16).bitwiseAND(lit(255))),
        h2(shiftright(total, 8).bitwiseAND(lit(255))),
        h2(total.bitwiseAND(lit(255))),
        md5Hex,
        // last-flagged 4-byte padding block, then the frame sync
        lit("8100000400000000" + "fff8" + "6910"))
      // torn: cut 10 bytes -> the padding block's declared 4 bytes
      // overrun the blob (and the sync is gone with them)
      val hexOut = when(id % 9 === 0,
        flacHex.substr(lit(1), length(flacHex) - 20)).otherwise(flacHex)
      val f = flac_streaminfo(unhex(hexOut))
      Tables.documents(s, d)
        .select(id, f.as("f"))
        .filter(col("f").isNotNull)
        .select(id,
          col("f.sample_rate").as("sample_rate"),
          col("f.channels").as("channels"),
          col("f.bits_per_sample").as("bits_per_sample"),
          col("f.total_samples").as("total_samples"),
          col("f.md5").as("md5"),
          col("f.n_meta_blocks").as("n_meta_blocks"))
        .orderBy(id)
    },

    // MJPEG-IN-AVI FRAME DECODE under the gate (m26, round 17): walk
    // the AVI built by [[mjpegAviHex]] with avi_frames (strict RIFF
    // framing, vids/MJPG stream header required, frame count must
    // match avih) and decode EVERY frame's pixels with
    // jpeg_pixel_stats — posexplode then a per-ROW decode, the
    // scan-fused shape (never a per-element lambda). The oracle states
    // each frame's stats from the m11 closed form (block value
    // 128 + 2*dc): an inversion check on the demux + decode pair.
    // Torn docs quarantine by absence.
    "m26_avi_mjpeg" -> { (s, d) =>
      import graft.functions.GraftFunctions.{avi_frames, jpeg_pixel_stats}
      val id = col("doc_id")
      val avi = unhex(mjpegAviHex(id))
      Tables.documents(s, d)
        .select(id, posexplode(avi_frames(avi)).as(Seq("idx", "frame")))
        .select(id, col("idx").cast("int").as("idx"),
          jpeg_pixel_stats(col("frame")).as("p"))
        .select(id, col("idx"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"), col("p.pixel_sum").as("pixel_sum"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(id, col("idx"))
    },

    // VIDEO CORPUS CURATION composed (x21, round 17 — the x18/x19
    // shape for the video modality, ONE plan under ONE hash): demux +
    // decode gates (avi_frames/jpeg_pixel_stats NULLs quarantine torn
    // containers and undecodable frames), a duration floor from
    // video_meta (>= 120 ms drops the 2-frame shorts), a
    // dims-consistency gate (every frame's decoded width/height must
    // equal the avih header's claim — doc_id%5 == 0 videos lie and are
    // dropped), an overexposure gate on the first frame's level, then
    // exact-media keep-first dedup keyed on md5 over the CONCATENATED
    // FRAME PAYLOADS (the x19 posture: container metadata may differ,
    // identical frames are the duplicate). Two data exchanges: the
    // per-video re-aggregation and the keep-first group.
    "x21_video_curation" -> { (s, d) =>
      import graft.functions.GraftFunctions.{avi_frames, jpeg_pixel_stats, video_meta}
      val id = col("doc_id")
      val avi = unhex(mjpegAviHex(id))
      // stage the demuxed frame array ONCE: `sig` lives in the Generate's
      // child Project while posexplode lives in the Generate operator, so
      // the un-staged form ran the full avi_frames container walk TWICE
      // per row (subexpression elimination cannot cross the operator
      // boundary — the m28/x25 staging lesson applied to video)
      val perFrame = Tables.documents(s, d)
        .select(id, video_meta(avi).as("meta"), avi_frames(avi).as("frames"))
        .select(id, col("meta"),
          md5(array_join(transform(col("frames"), f => hex(f)), "")).as("sig"),
          posexplode(col("frames")).as(Seq("idx", "frame")))
        .select(id, col("meta"), col("sig"), col("idx"),
          jpeg_pixel_stats(col("frame")).as("p"))
      val perVideo = perFrame
        .groupBy(id, col("sig"),
          col("meta.width").as("hdr_w"), col("meta.height").as("hdr_h"),
          col("meta.duration_ms").as("duration_ms"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("p.pixel_sum")).as("level_sum"),
          min((col("p.width") === col("meta.width").cast("int") &&
            col("p.height") === col("meta.height").cast("int")).cast("int"))
            .as("dims_ok"),
          max(when(col("idx") === 0, col("p.pixel_max"))).as("first_level"),
          min(col("p.pixel_sum").isNotNull.cast("int")).as("decode_ok"))
      perVideo
        .filter(col("decode_ok") === 1 && col("dims_ok") === 1 &&
          col("duration_ms") >= 120 && col("first_level") <= 156)
        .groupBy(col("sig"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("n_frames"), id).as("n_frames"),
          min_by(col("duration_ms"), id).as("duration_ms"),
          min_by(col("level_sum"), id).as("level_sum"))
        .select(col("doc_id"), col("n_dups"), col("n_frames"),
          col("duration_ms"), col("level_sum"))
        .orderBy(col("doc_id"))
    },

    // ANIMATED-GIF FRAME WALK under the gate (m23, round 16 — the
    // routing facts an animation needs, frame count + total duration,
    // from a walk that never decodes a pixel): per doc, construct a
    // multi-frame GIF89a in column arithmetic — LSD, then per frame a
    // Graphic Control Extension carrying a per-frame delay and an
    // image descriptor whose LZW data is an opaque skipped sub-block —
    // and walk it with gif_frames (descriptors counted, GCE delays
    // summed, data jumped by sub-block lengths). Torn docs
    // (doc_id % 7 == 0) lose the trailer and refuse whole.
    "m23_gif_frames" -> { (s, d) =>
      import graft.functions.GraftFunctions.gif_frames
      val id = col("doc_id")
      val nf = (id % 4 + 1).cast("int")
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      val framesHex = array_join(transform(sequence(lit(0), nf - 1), j => {
        val delay = pmod(id + j * 3, lit(50)) + 1
        concat(
          lit("21F9" + "04" + "00"), le16h(delay), lit("00" + "00"), // GCE
          lit("2C" + "0000" + "0000"), le16h(lit(2)), le16h(lit(2)), // descriptor
          lit("00" + "08" + "03" + "010203" + "00")) // no LCT, minCode, data
      }), "")
      val gifHex = concat(
        lit("474946383961"), le16h(lit(2)), le16h(lit(2)), lit("000000"),
        framesHex, lit("3B"))
      val hex = when(id % 7 === 0,
        substring(gifHex, lit(1), length(gifHex) - 2)).otherwise(gifHex)
      Tables.documents(s, d)
        .select(id, gif_frames(unhex(hex)).as("p"))
        .select(id, col("p.n_frames").as("n_frames"),
          col("p.total_delay_cs").as("total_delay_cs"),
          col("p.width").as("width"), col("p.height").as("height"))
        .orderBy(id)
    },

    // MP3 FULL-FRAME WALK under the gate (m22, round 16 — the duration
    // a VBR file only reveals frame by frame; AudioMeta's first-header
    // parse cannot give it): per doc, construct a multi-frame MPEG-1
    // Layer III blob in column arithmetic where the BITRATE INDEX
    // VARIES PER FRAME (real VBR — frame lengths differ, so the walk
    // must compute each one: floor(144·kbps·1000/sr) + padding) and
    // the padding bit alternates; mp3_frames jumps header to header
    // and never reads audio bytes. Tag arm: doc_id % 3 == 0 docs are
    // wrapped in a leading ID3v2 (real syncsafe size) AND a trailing
    // 128-byte ID3v1 — the oracle does NOT change, so tag transparency
    // sits under the hash. Torn docs (doc_id % 7 == 0, one byte lost —
    // for tagged docs that byte is the tag tail, for bare docs a frame
    // byte) refuse whole. The oracle states frame count and the
    // 1152-samples-per-frame duration arithmetically.
    "m22_mp3_duration" -> { (s, d) =>
      import graft.functions.GraftFunctions.mp3_frames
      val id = col("doc_id")
      val nf = (id % 5 + 2).cast("int")
      val kbpsTable = typedLit(Seq(32, 40, 48, 56, 64, 80, 96, 112,
        128, 160, 192, 224, 256, 320))
      val framesHex = array_join(transform(sequence(lit(0), nf - 1), j => {
        val idx = (pmod(id + j, lit(14)) + 1).cast("int")
        val pad = pmod(id + j, lit(2)).cast("int")
        val kbps = element_at(kbpsTable, idx)
        val flen = (kbps * 144000 / lit(44100)).cast("int") + pad
        concat(format_string("FFFB%02X00", idx * 16 + pad * 2),
          repeat(lit("00"), flen - 4))
      }), "")
      // ID3v2: header + 133 zero body bytes (syncsafe 00 00 01 05);
      // ID3v1: "TAG" + 125 zero bytes
      val id3v2Hex = "49443303000000000105" + "00" * 133
      val id3v1Hex = "544147" + "00" * 125
      val taggedHex = when(id % 3 === 0,
        concat(lit(id3v2Hex), framesHex, lit(id3v1Hex))).otherwise(framesHex)
      val hex = when(id % 7 === 0,
        substring(taggedHex, lit(1), length(taggedHex) - 2)).otherwise(taggedHex)
      Tables.documents(s, d)
        .select(id, mp3_frames(unhex(hex)).as("p"))
        .select(id, col("p.n_frames").as("n_frames"),
          col("p.sample_rate").as("sample_rate"),
          col("p.n_samples").as("n_samples"),
          col("p.duration_ms").as("duration_ms"))
        .orderBy(id)
    },

    // PAYLOAD-level decode under the driver gate — the step past the
    // m1-m4 header parsers: per document, CONSTRUCT a complete PCM16
    // WAV (RIFF + fmt + data, samples synthesized from doc_id
    // arithmetic with codegen built-ins: transform/sequence ->
    // per-sample LE16 hex -> unhex), DECODE every sample natively
    // (audio_pcm_stats walks the chunks and folds exact integer
    // stats), and emit n/sum/min/max. Docs with doc_id % 7 == 0 get a
    // data chunk whose declared size overruns the buffer — the torn
    // blob — and must quarantine to NULL. The oracle states the
    // expected stats arithmetically over the same sample formula: an
    // inversion check on the decoder, not a restatement.
    "m5_pcm_stats" -> { (s, d) =>
      import graft.functions.GraftFunctions.audio_pcm_stats
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        v % 256, (v / 256).cast("int") % 256,
        (v / 65536).cast("int") % 256, (v / 16777216).cast("int") % 256)
      val n = (col("doc_id") % 40 + 1).cast("int")
      val pcmHex = array_join(transform(sequence(lit(0), n - 1), k => {
        val sv = pmod(col("doc_id") * 31 + k * 17, lit(2048)) - 1024
        val u = pmod(sv, lit(65536)).cast("int")
        format_string("%02X%02X", u % 256, (u / 256).cast("int"))
      }), "")
      val dataSize = n * 2
      // torn blob: declared data size overruns the actual payload
      val declared = when(col("doc_id") % 7 === 0, dataSize + 4).otherwise(dataSize)
      val wav = concat(
        lit("RIFF").cast("binary"), unhex(le32h(lit(36) + dataSize)),
        lit("WAVEfmt ").cast("binary"),
        unhex(concat(lit("100000000100"), // fmt size 16 LE32, PCM code LE16
          le16h(lit(1)), le32h(lit(8000)), le32h(lit(16000)),
          le16h(lit(2)), le16h(lit(16)))),
        lit("data").cast("binary"), unhex(le32h(declared)), unhex(pcmHex))
      Tables.documents(s, d)
        .select(col("doc_id"), audio_pcm_stats(wav).as("p"))
        .select(col("doc_id"),
          col("p.n_samples").as("n_samples"), col("p.sum_amp").as("sum_amp"),
          col("p.min_amp").as("min_amp"), col("p.max_amp").as("max_amp"))
        .orderBy(col("doc_id"))
    },

    // PNG PIXEL decode under the driver gate — the image sibling of m5:
    // per document, CONSTRUCT a complete valid PNG (signature + IHDR +
    // one IDAT holding a zlib STORED block + IEND) whose greyscale
    // pixels derive from doc_id arithmetic; the adler32 the decoder
    // verifies is computed IN-QUERY over the same synthesized bytes
    // (A/B mod 65521 via aggregate() — the checksum definition is two
    // modular sums, exactly expressible in column arithmetic). The
    // native expression inflates the stream (JDK zlib), reconstructs
    // the scanlines, and folds exact integer pixel stats. Docs with
    // doc_id % 9 == 0 carry a flipped adler bit — the torn blob — and
    // must quarantine to NULL. The oracle states the expected stats
    // arithmetically: an inversion check on the decoder.
    "m6_png_pixels" -> { (s, d) =>
      import graft.functions.GraftFunctions.image_pixel_stats
      val w = (col("doc_id") % 16 + 1).cast("int")
      val h = (col("doc_id") % 8 + 1).cast("int")
      val st1 = w + 1 // scanline stride: filter byte + w greyscale pixels
      val n = st1 * h // total scanline-stream bytes
      def rowOf(i: Column) = floor(i.cast("double") / st1.cast("double")).cast("int")
      def posOf(i: Column) = pmod(i, st1)
      def byteVal(i: Column): Column =
        when(posOf(i) === 0, lit(0)).otherwise(
          pmod(col("doc_id") + (posOf(i) - 1) * 3 + rowOf(i) * 7, lit(256))).cast("int")
      val idx = sequence(lit(0), n - 1)
      val rawHex = array_join(transform(idx, i => format_string("%02X", byteVal(i))), "")
      val aSum = aggregate(idx, lit(0L), (acc, i) => acc + byteVal(i).cast("long"))
      val bSum = aggregate(idx, lit(0L),
        (acc, i) => acc + (n.cast("long") - i.cast("long")) * byteVal(i).cast("long"))
      val adlerA = pmod(lit(1L) + aSum, lit(65521L)).cast("int")
      val adlerB = pmod(n.cast("long") + bSum, lit(65521L)).cast("int")
      // torn blob: flip the adler's low bit -> zlib checksum mismatch
      val adlerOut = when(col("doc_id") % 9 === 0,
        adlerA.bitwiseXOR(lit(1))).otherwise(adlerA)
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      val zlibLen = n + 11 // 2 zlib hdr + 5 stored-block hdr + 4 adler
      val pngHex = concat(
        lit("89504E470D0A1A0A"),                      // signature
        lit("0000000D49484452"),                      // IHDR len + type
        format_string("%08X%08X", w, h),
        lit("0800000000"),                            // depth 8, grey, no interlace
        lit("00000000"),                              // IHDR CRC (unverified)
        format_string("%08X", zlibLen), lit("49444154"), // IDAT len + type
        lit("780101"),                                // zlib hdr + final stored block
        le16h(n), le16h(lit(65535) - n),              // LEN, NLEN
        rawHex,
        format_string("%04X%04X", adlerB, adlerOut),
        lit("00000000"),                              // IDAT CRC (unverified)
        lit("0000000049454E4400000000"))              // IEND
      Tables.documents(s, d)
        .select(col("doc_id"), image_pixel_stats(unhex(pngHex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.channels").as("channels"), col("p.n_pixels").as("n_pixels"),
          col("p.pixel_sum").as("pixel_sum"), col("p.pixel_min").as("pixel_min"),
          col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // ADAM7 INTERLACED PNG decode under the gate (m21, round 16 — the
    // progressive layout method 1, the m6 scope line removed): per doc,
    // construct an interlaced PNG whose zlib stored block carries the
    // CONCATENATION of the 7 sub-images (per-pass dimensions
    // ceil((w-x0)/dx) x ceil((h-y0)/dy), empty passes contributing no
    // scanlines, each row filter-0 + greys at the pass's GLOBAL pixel
    // coordinates) and the adler32 computed in-query over that exact
    // stream. The oracle states the stats over the plain (x,y) grid —
    // pass-structure-free — so a decoder with wrong pass geometry
    // refuses on stream length and one that drops or double-counts a
    // sub-image cannot hash equal. Torn docs (doc_id % 9 == 0) flip an
    // adler bit. The ImageIO differential on encoder-written interlaced
    // files lives in MultimodalSpec.
    "m21_png_interlaced" -> { (s, d) =>
      import graft.functions.GraftFunctions.image_pixel_stats
      val id = col("doc_id")
      val w = (id % 6 + 3).cast("int")
      val h = (id % 4 + 3).cast("int")
      def gray(x: Column, y: Column): Column =
        pmod(id + x * 3 + y * 7, lit(256)).cast("int")
      // Adam7 pass table (x0, y0, dx, dy) — spec §8.2
      val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      def pwOf(p: (Int, Int, Int, Int)): Column =
        greatest(lit(0), ((w - p._1 + p._3 - 1) / p._3).cast("int"))
      def phOf(p: (Int, Int, Int, Int)): Column =
        greatest(lit(0), ((h - p._2 + p._4 - 1) / p._4).cast("int"))
      // per-pass byte stream: ph rows of (filter 0 + pw greys at the
      // pass's global coordinates); empty passes contribute nothing
      def passBytes(p: (Int, Int, Int, Int)): (Column, Column) = {
        val pw = pwOf(p); val ph = phOf(p)
        val np = ph * (pw + 1)
        val hexCol = when(pw === 0 || ph === 0, lit(""))
          .otherwise(array_join(transform(sequence(lit(0), np - 1), i => {
            val r = (i / (pw + 1)).cast("int")
            val pos = pmod(i, pw + 1)
            when(pos === 0, lit("00")).otherwise(format_string("%02X",
              gray(lit(p._1) + (pos - 1) * p._3, lit(p._2) + r * p._4)))
          }), ""))
        (hexCol, when(pw === 0 || ph === 0, lit(0)).otherwise(np))
      }
      val parts = passes.map(passBytes)
      // STAGE the raw stream as a named column before the adler folds —
      // an aggregate lambda referencing the construction TREE would
      // re-evaluate all seven pass transforms per element (the t59
      // quadratic-lambda lesson; measured 34.9 -> ~1 s here)
      val staged = Tables.documents(s, d).select(id,
        w.as("w"), h.as("h"),
        concat(parts.map(_._1): _*).as("raw_hex"),
        parts.map(_._2).reduce(_ + _).as("nb"))
      val n = col("nb")
      val rawHex = col("raw_hex")
      // adler32 over the staged stream, stated on the hex string itself
      // (conv of each byte pair) — one pass, no global index math
      val pairs = sequence(lit(0), n - 1)
      def byteAt(i: Column): Column =
        conv(substring(rawHex, (i * 2 + 1).cast("int"), lit(2)), 16, 10).cast("long")
      val aSum = aggregate(pairs, lit(0L), (acc, i) => acc + byteAt(i))
      val bSum = aggregate(pairs, lit(0L),
        (acc, i) => acc + (n.cast("long") - i.cast("long")) * byteAt(i))
      val adlerA = pmod(lit(1L) + aSum, lit(65521L)).cast("int")
      val adlerB = pmod(n.cast("long") + bSum, lit(65521L)).cast("int")
      val adlerOut = when(id % 9 === 0, adlerA.bitwiseXOR(lit(1))).otherwise(adlerA)
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      val zlibLen = n + 11
      val pngHex = concat(
        lit("89504E470D0A1A0A"),
        lit("0000000D49484452"),
        format_string("%08X%08X", col("w"), col("h")),
        lit("0800000001"),                            // depth 8, grey, ADAM7
        lit("00000000"),
        format_string("%08X", zlibLen), lit("49444154"),
        lit("780101"),
        le16h(n), le16h(lit(65535) - n),
        rawHex,
        format_string("%04X%04X", adlerB, adlerOut),
        lit("00000000"),
        lit("0000000049454E4400000000"))
      staged
        .select(id, image_pixel_stats(unhex(pngHex)).as("p"))
        .select(id,
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.channels").as("channels"), col("p.n_pixels").as("n_pixels"),
          col("p.pixel_sum").as("pixel_sum"), col("p.pixel_min").as("pixel_min"),
          col("p.pixel_max").as("pixel_max"))
        .orderBy(id)
    },

    // BMP PIXEL decode under the driver gate — the fourth payload-level
    // decoder (m5 audio, m6 PNG, m7 GIF): per document, CONSTRUCT a
    // complete 24-bit BI_RGB BMP in column arithmetic — 14-byte file
    // header, 40-byte BITMAPINFOHEADER, bottom-up scanlines with REAL
    // 4-byte-alignment padding — and decode it with bmp_pixel_stats.
    // Docs with doc_id % 7 == 0 are truncated by one byte (the torn
    // blob) and must quarantine to NULL. The oracle states the expected
    // per-channel sums arithmetically from the pixel formula — an
    // inversion check on the decoder, padding excluded by construction.
    // IMAGE NEAR-DUP (the multimodal arm of the dedup family): the
    // synthetic BMP corpus — four variants per group (doc_id div 4)
    // sharing a base gradient image, variants 1..3 perturbing ONE pixel
    // channel by +128 — MATERIALIZED once to a parquet sidecar
    // ([[graft.sources.BmpFixture]]; image bytes arrive as a binary
    // column in production, nobody re-renders per query), then
    // perceptual-aHash each blob (the REAL m8 decoder walk, 8x8
    // cell-mean thresholding, exact integer) and pair via d4's 16-bit
    // chunk blocking + hamming<=3 verify. Intra-group pairs survive
    // (one perturbed pixel flips at most a few cells); cross-group
    // hashes differ in ~half their bits and never pair.
    "d23_image_near_dup" -> { (s, d) =>
      import graft.functions.GraftFunctions.bmp_ahash
      val sigs = graft.sources.BmpFixture.blobs(s, d)
        .select(col("id"), bmp_ahash(col("blob")).as("sig"))
      graft.operators.Dedup.hammingPairs(sigs, maxHamming = 3)
    },

    // JPEG PIXEL decode under the driver gate — the FIFTH payload-level
    // decoder, closing the m-family's last format gap (m1 stopped at
    // SOFn metadata; this is entropy-to-samples): per document,
    // CONSTRUCT a complete single-component baseline JPEG in column
    // arithmetic — real DQT/SOF0/DHT/SOS segments, a 4-bit DC table
    // (category 4) + an 8-bit AC table (EOB only), so every block's
    // entropy coding is exactly two 0xFF-free byte-aligned bytes — and
    // decode it with the full T.81 walk (canonical Huffman, DC
    // prediction, dequant, IDCT, level shift). Alternating +-d diffs
    // keep the DC chain non-negative and make every block's value the
    // EXACT integer 128 + 2*dc at q0 = 16 — the oracle states the stats
    // arithmetically without parsing a byte (the m8 inversion posture).
    // Docs with doc_id % 7 == 0 lose their last entropy byte (the torn
    // blob) and must quarantine to NULL. Full-AC decode correctness is
    // pinned separately by JpegSpec's ImageIO differential.
    "m11_jpeg_pixels" -> { (s, d) =>
      import graft.functions.GraftFunctions.jpeg_pixel_stats
      val wb = (col("doc_id") % 3 + 1).cast("int")
      val hb = (col("doc_id") % 2 + 1).cast("int")
      val n = wb * hb
      def dcByte(i: Column): Column =
        when(pmod(i, lit(2)) === 0,
          lit(8) + pmod(col("doc_id") + (i / 2).cast("int"), lit(8)))
          .otherwise(lit(15) - (lit(8) +
            pmod(col("doc_id") + ((i - 1) / 2).cast("int"), lit(8))))
      val entropyHex = array_join(
        transform(sequence(lit(0), n - 1),
          i => format_string("%02X00", dcByte(i).cast("int"))), "")
      val jpegHex = concat(
        lit("FFD8"),                                    // SOI
        lit("FFDB00430010"), lit("01" * 63),            // DQT: q0=16, rest 1
        lit("FFC0000B08"),                              // SOF0: precision 8
        format_string("%04X", hb * 8), format_string("%04X", wb * 8),
        lit("01011100"),                                // 1 comp, 4:4:4, tq 0
        lit("FFC4001400"), lit("00000001" + "00" * 12), lit("04"), // DC: len-4 code, cat 4
        lit("FFC4001410"), lit("00000000000000010000000000000000"), lit("00"), // AC: len-8 EOB
        lit("FFDA0008010100003F00"),                    // SOS
        entropyHex,
        lit("FFD9"))                                    // EOI
      val hex = when(col("doc_id") % 7 === 0,
        substring(jpegHex, lit(1), length(jpegHex) - 6)).otherwise(jpegHex)
      Tables.documents(s, d)
        .select(col("doc_id"), jpeg_pixel_stats(unhex(hex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"), col("p.pixel_sum").as("pixel_sum"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // PROGRESSIVE JPEG (SOF2) decode under the gate — the multi-scan
    // web-optimized class m11/m12 quarantined: per document, construct
    // a complete THREE-SCAN progressive file in column arithmetic —
    // scan 1 codes every block's DC difference at successive-
    // approximation precision Al=1 (one byte per block: the category-4
    // code + 4 magnitude bits), scan 2 REFINES to Al=0 (one raw bit per
    // block, zero-padded into one byte), scan 3 walks the full 1..63 AC
    // band as per-block EOBs. Pixels land on exact integers — block b's
    // value is 128 + 2*((pred_b << 1) | refine_bit_b) at q0=16 — so the
    // oracle states the scan COMPOSITION arithmetically: a decoder that
    // mis-merges the refine bit or mis-walks the band cannot hash equal.
    // Full-AC progressive (EOB runs, correction-bit walks, the
    // encoder's own scan scripts) is pinned by JpegSpec's ImageIO
    // differentials on SOF2 files the JDK encoder itself emits. Torn
    // docs (doc_id % 7 == 0) lose their EOI: NULL.
    "m19_progressive_jpeg" -> { (s, d) =>
      import graft.functions.GraftFunctions.jpeg_pixel_stats
      val id = col("doc_id")
      val d0 = (lit(8) + pmod(id, lit(8))).cast("int")
      val d1 = (lit(8) + pmod(id, lit(5))).cast("int")
      val b0 = pmod(id, lit(2)).cast("int")
      val b1 = pmod(expr("doc_id div 2"), lit(2)).cast("int")
      val jpegHex = concat(
        lit("FFD8"),                                    // SOI
        lit("FFDB00430010"), lit("01" * 63),            // DQT: q0=16, rest 1
        lit("FFC2000B0800080010" + "01011100"),         // SOF2: 16x8, 1 comp
        lit("FFC4001400"), lit("00000001" + "00" * 12), lit("04"), // DC: len-4 cat-4
        lit("FFC4001410"), lit("00000000000000010000000000000000"), lit("00"), // AC: len-8 EOB
        lit("FFDA000801010000" + "0001"),               // SOS 1: DC first, Al=1
        format_string("%02X%02X", d0, d1),
        lit("FFDA000801010000" + "0010"),               // SOS 2: DC refine, Ah=1
        format_string("%02X", b0 * 128 + b1 * 64),
        lit("FFDA000801010001" + "3F00"),               // SOS 3: AC first, 1..63
        lit("0000"),                                    // EOB per block
        lit("FFD9"))                                    // EOI
      val hex = when(id % 7 === 0,
        substring(jpegHex, lit(1), length(jpegHex) - 4)).otherwise(jpegHex)
      Tables.documents(s, d)
        .select(id, jpeg_pixel_stats(unhex(hex)).as("p"))
        .select(id,
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"), col("p.pixel_sum").as("pixel_sum"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(id)
    },

    // COLOR JPEG (YCbCr 4:4:4) decode under the gate — m11's machinery
    // times three interleaved components plus the 16-bit fixed-point
    // CCIR 601 conversion: per document, construct a complete
    // 3-component baseline JPEG (per-component selectors in SOF0/SOS,
    // shared quant + Huffman tables, Y/Cb/Cr blocks interleaved per
    // MCU, each two 0xFF-free byte-aligned bytes), decode with
    // jpeg_rgb_stats. DC-only blocks at q0=16 make every Y/Cb/Cr sample
    // the exact integer 128 + 2*d, and the color convert is integer
    // shifts on non-negative operands — the oracle states R/G/B per
    // block arithmetically. Torn docs (doc_id % 7 == 0, last entropy
    // byte lost) quarantine to NULL.
    "m12_jpeg_rgb" -> { (s, d) =>
      import graft.functions.GraftFunctions.jpeg_rgb_stats
      val wb = (col("doc_id") % 2 + 1).cast("int")
      val hb = (col("doc_id") % 3 + 1).cast("int")
      val n = wb * hb
      def dmag(mult: Int, i: Column): Column = {
        val pair = (when(pmod(i, lit(2)) === 0, i).otherwise(i - 1) / 2).cast("int")
        lit(8) + pmod(col("doc_id") * mult + pair, lit(8))
      }
      def byteOf(mult: Int, i: Column): Column =
        when(pmod(i, lit(2)) === 0, dmag(mult, i))
          .otherwise(lit(15) - dmag(mult, i))
      val entropyHex = array_join(
        transform(sequence(lit(0), n - 1),
          i => format_string("%02X00%02X00%02X00",
            byteOf(1, i).cast("int"), byteOf(3, i).cast("int"),
            byteOf(5, i).cast("int"))), "")
      val jpegHex = concat(
        lit("FFD8"),
        lit("FFDB00430010"), lit("01" * 63),
        lit("FFC0001108"),
        format_string("%04X", hb * 8), format_string("%04X", wb * 8),
        lit("03"), lit("011100"), lit("021100"), lit("031100"),
        lit("FFC4001400"), lit("00000001" + "00" * 12), lit("04"),
        lit("FFC4001410"), lit("00000000000000010000000000000000"), lit("00"),
        lit("FFDA000C03"), lit("010002000300"), lit("003F00"),
        entropyHex,
        lit("FFD9"))
      val hex = when(col("doc_id") % 7 === 0,
        substring(jpegHex, lit(1), length(jpegHex) - 6)).otherwise(jpegHex)
      Tables.documents(s, d)
        .select(col("doc_id"), jpeg_rgb_stats(unhex(hex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"),
          col("p.sum_r").as("sum_r"), col("p.sum_g").as("sum_g"),
          col("p.sum_b").as("sum_b"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // 4:2:0 CHROMA-SUBSAMPLED JPEG decode under the gate — the dominant
    // real-crawl image class (what cameras and web encoders emit), the
    // m12 scope line removed: per document, construct a complete
    // 3-component baseline JPEG with Y at 2x2 and Cb/Cr at 1x1 — each
    // 16x16-pixel MCU carries 4 Y blocks + 1 Cb + 1 Cr in stream order,
    // every block two 0xFF-free byte-aligned bytes — and decode with
    // jpeg_rgb_stats (generic sampling-factor MCU walk + BOX chroma
    // replication: a pure selection, so each 64-pixel Y block sees its
    // MCU's single chroma value and the oracle states R/G/B per block
    // arithmetically, exactly as in m12). Torn docs (doc_id % 7 == 0)
    // quarantine to NULL. Upsampler-independent correctness against a
    // SECOND implementation is pinned by JpegSpec's ImageIO 4:2:0
    // differential (constant-chroma files, where box == triangular).
    "m13_jpeg_420" -> { (s, d) =>
      import graft.functions.GraftFunctions.jpeg_rgb_stats
      val wm = (col("doc_id") % 2 + 1).cast("int")
      val hm = (col("doc_id") % 3 + 1).cast("int")
      val nm = wm * hm
      def dmag(mult: Int, i: Column): Column = {
        val pair = (when(pmod(i, lit(2)) === 0, i).otherwise(i - 1) / 2).cast("int")
        lit(8) + pmod(col("doc_id") * mult + pair, lit(8))
      }
      def byteOf(mult: Int, i: Column): Column =
        when(pmod(i, lit(2)) === 0, dmag(mult, i))
          .otherwise(lit(15) - dmag(mult, i))
      val entropyHex = array_join(
        transform(sequence(lit(0), nm - 1),
          j => format_string("%02X00%02X00%02X00%02X00%02X00%02X00",
            byteOf(1, j * 4).cast("int"), byteOf(1, j * 4 + 1).cast("int"),
            byteOf(1, j * 4 + 2).cast("int"), byteOf(1, j * 4 + 3).cast("int"),
            byteOf(3, j).cast("int"), byteOf(5, j).cast("int"))), "")
      val jpegHex = concat(
        lit("FFD8"),
        lit("FFDB00430010"), lit("01" * 63),
        lit("FFC0001108"),
        format_string("%04X", hm * 16), format_string("%04X", wm * 16),
        lit("03"), lit("012200"), lit("021100"), lit("031100"),
        lit("FFC4001400"), lit("00000001" + "00" * 12), lit("04"),
        lit("FFC4001410"), lit("00000000000000010000000000000000"), lit("00"),
        lit("FFDA000C03"), lit("010002000300"), lit("003F00"),
        entropyHex,
        lit("FFD9"))
      val hex = when(col("doc_id") % 7 === 0,
        substring(jpegHex, lit(1), length(jpegHex) - 6)).otherwise(jpegHex)
      Tables.documents(s, d)
        .select(col("doc_id"), jpeg_rgb_stats(unhex(hex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"),
          col("p.sum_r").as("sum_r"), col("p.sum_g").as("sum_g"),
          col("p.sum_b").as("sum_b"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // 4:1:1 CHROMA (sampling factor 4) under the gate (round 16 — the
    // last JPEG sampling class, the m13 scope line removed): Y at 4x1,
    // so each 32x8-pixel MCU carries 4 Y blocks + 1 Cb + 1 Cr — the
    // SAME six-block stream order as 4:2:0, which is exactly why the
    // sampling-generic MCU walk needed only its factor bound widened.
    // The chroma block box-replicates across the whole MCU, so the
    // oracle is m13's statement with the raster turned sideways
    // (32*wm x 8*hm). Torn docs (doc_id % 7 == 0) quarantine; the
    // ImageIO differential on constructed 4:1:1 files lives in JpegSpec.
    "m13b_jpeg_411" -> { (s, d) =>
      import graft.functions.GraftFunctions.jpeg_rgb_stats
      val wm = (col("doc_id") % 2 + 1).cast("int")
      val hm = (col("doc_id") % 3 + 1).cast("int")
      val nm = wm * hm
      def dmag(mult: Int, i: Column): Column = {
        val pair = (when(pmod(i, lit(2)) === 0, i).otherwise(i - 1) / 2).cast("int")
        lit(8) + pmod(col("doc_id") * mult + pair, lit(8))
      }
      def byteOf(mult: Int, i: Column): Column =
        when(pmod(i, lit(2)) === 0, dmag(mult, i))
          .otherwise(lit(15) - dmag(mult, i))
      val entropyHex = array_join(
        transform(sequence(lit(0), nm - 1),
          j => format_string("%02X00%02X00%02X00%02X00%02X00%02X00",
            byteOf(1, j * 4).cast("int"), byteOf(1, j * 4 + 1).cast("int"),
            byteOf(1, j * 4 + 2).cast("int"), byteOf(1, j * 4 + 3).cast("int"),
            byteOf(3, j).cast("int"), byteOf(5, j).cast("int"))), "")
      val jpegHex = concat(
        lit("FFD8"),
        lit("FFDB00430010"), lit("01" * 63),
        lit("FFC0001108"),
        format_string("%04X", hm * 8), format_string("%04X", wm * 32),
        lit("03"), lit("014100"), lit("021100"), lit("031100"),
        lit("FFC4001400"), lit("00000001" + "00" * 12), lit("04"),
        lit("FFC4001410"), lit("00000000000000010000000000000000"), lit("00"),
        lit("FFDA000C03"), lit("010002000300"), lit("003F00"),
        entropyHex,
        lit("FFD9"))
      val hex = when(col("doc_id") % 7 === 0,
        substring(jpegHex, lit(1), length(jpegHex) - 6)).otherwise(jpegHex)
      Tables.documents(s, d)
        .select(col("doc_id"), jpeg_rgb_stats(unhex(hex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"),
          col("p.sum_r").as("sum_r"), col("p.sum_g").as("sum_g"),
          col("p.sum_b").as("sum_b"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // RESTART-MARKER JPEG decode under the gate — the error-resilience
    // layout camera firmware emits: a DRI segment sets interval 1, so
    // every block boundary byte-aligns, carries the cycling RSTn marker
    // (D0..D7 wrapping), and RESETS the DC predictor. With reset, every
    // block's value is its own diff (128 + 2*d_k at q0=16); without, the
    // chain would accumulate — so the oracle's per-block statement is
    // only reachable through correct restart semantics. Markers slot in
    // between the byte-aligned two-byte blocks in column arithmetic.
    // Torn docs (doc_id % 7 == 0, last entropy byte lost) quarantine.
    // The JDK differential (JpegSpec) pins marker consumption and the
    // reset EXACTLY against ImageIO on the same DRI files.
    "m14_jpeg_restart" -> { (s, d) =>
      import graft.functions.GraftFunctions.jpeg_pixel_stats
      val wb = (col("doc_id") % 3 + 1).cast("int")
      val hb = (col("doc_id") % 2 + 1).cast("int")
      val n = wb * hb
      def dcByte(i: Column): Column =
        lit(8) + pmod(col("doc_id") + i, lit(8))
      val entropyHex = array_join(
        transform(sequence(lit(0), n - 1),
          i => concat(
            when(i === 0, lit("")).otherwise(
              format_string("FFD%d", pmod(i - 1, lit(8)))),
            format_string("%02X00", dcByte(i).cast("int")))), "")
      val jpegHex = concat(
        lit("FFD8"),
        lit("FFDB00430010"), lit("01" * 63),
        lit("FFC0000B08"),
        format_string("%04X", hb * 8), format_string("%04X", wb * 8),
        lit("01011100"),
        lit("FFC4001400"), lit("00000001" + "00" * 12), lit("04"),
        lit("FFC4001410"), lit("00000000000000010000000000000000"), lit("00"),
        lit("FFDD00040001"),                            // DRI: interval 1
        lit("FFDA0008010100003F00"),
        entropyHex,
        lit("FFD9"))
      val hex = when(col("doc_id") % 7 === 0,
        substring(jpegHex, lit(1), length(jpegHex) - 6)).otherwise(jpegHex)
      Tables.documents(s, d)
        .select(col("doc_id"), jpeg_pixel_stats(unhex(hex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"), col("p.pixel_sum").as("pixel_sum"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // WARC RECORD EXTRACTION under the gate — the crawl container (ISO
    // 28500, Common Crawl's distribution format): per document,
    // construct a complete two-record WARC blob in column arithmetic —
    // a warcinfo record (no target URI, block surfaced whole) and a
    // response record whose block is a real HTTP/1.1 response (status
    // varies by doc, headers stripped from the surfaced body) — split it
    // with warc_records + posexplode. Content-Length is computed from
    // the component lengths, so the parser's exact-cover contract is
    // under the hash. Torn docs (doc_id % 7 == 0, last bytes lost) must
    // quarantine the WHOLE blob: they contribute NO rows, and the
    // oracle states every field arithmetically for the rest.
    "m15_warc_records" -> { (s, d) =>
      import graft.functions.GraftFunctions.warc_records
      val status = when(col("doc_id") % 5 === 0, lit(404)).otherwise(lit(200))
      val body = concat(lit("doc "), col("doc_id"), lit(" "), col("lang"))
      val http = concat(
        format_string("HTTP/1.1 %d OK\r\nContent-Type: text/plain\r\n\r\n", status),
        body)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:uuid:"),
        col("doc_id"),
        lit(">\r\nContent-Length: 15\r\n\r\nsoftware: graft\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/doc/"),
        col("doc_id"),
        format_string("\r\nContent-Length: %d\r\n\r\n", length(http)),
        http, lit("\r\n\r\n"))
      val blob = when(col("doc_id") % 7 === 0,
        warc.substr(lit(1), length(warc) - 3)).otherwise(warc)
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(warc_records(blob.cast("binary"))).as(Seq("rec_idx", "r")))
        .select(col("doc_id"), col("rec_idx").cast("int").as("rec_idx"),
          col("r.rec_type").as("rec_type"),
          col("r.target_uri").as("target_uri"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"),
          col("r.body").as("body"))
        .orderBy(col("doc_id"), col("rec_idx"))
    },

    // THE CRAWL FRONT DOOR as one composed plan — what actually stands
    // between a web crawl and a training corpus: WARC record extraction
    // (m15) -> HTTP-200 response filter -> PII scrub (t54) -> quality
    // gate -> fingerprint keep-first dedup (d11's front half), ONE lazy
    // plan, so the extraction/scrub/gate/dedup boundaries all sit under
    // a single hash. The PII constants are shared across docs, so the
    // fingerprint collides exactly where document CONTENT collides and
    // the dedup genuinely bites; 404 responses and torn blobs (doc_id %
    // 7 == 0, whole-blob quarantine) never reach curation.
    "x14_crawl_front_door" -> { (s, d) =>
      import graft.functions.GraftFunctions.warc_records
      import graft.functions.TextFunctions.{fingerprint, quality_score}
      val id = col("doc_id")
      val status = when(id % 5 === 0, lit(404)).otherwise(lit(200))
      val body = concat(lit("contact admin@example.com or 10.0.0.1 "), col("text"))
      val http = concat(
        format_string("HTTP/1.1 %d OK\r\nContent-Type: text/plain\r\n\r\n", status),
        body)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/doc/"),
        id.cast("string"),
        format_string("\r\nContent-Length: %d\r\n\r\n", length(http)),
        http, lit("\r\n\r\n"))
      val blob = when(id % 7 === 0,
        warc.substr(lit(1), length(warc) - 3)).otherwise(warc)
      val extracted = Tables.documents(s, d)
        .select(id, explode(warc_records(blob.cast("binary"))).as("r"))
        .filter(col("r.rec_type") === "response" && col("r.http_status") === 200)
        .select(id, col("r.body").as("raw"))
      val scrubbed = graft.operators.Pii.scrub(extracted, "raw")
        .select(id, col("redacted"))
      scrubbed.filter(quality_score(col("redacted")) >= 0.5)
        .withColumn("fp", fingerprint(col("redacted")))
        .groupBy(col("fp")).agg(min(id).as("doc_id"))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },

    // BYTES-TO-CORPUS composed (x16 — the deepest crawl composition:
    // every stage between wire bytes and curated text under ONE hash):
    // WARC record extraction over hex-constructed blobs whose HTTP
    // bodies carry REAL non-ASCII bytes (the reason the blob must be
    // built in hex) -> HTTP-200 filter -> HTML charset decode via the
    // meta prescan (m20: even docs declare utf-8 over ASCII, odd docs
    // declare windows-1252 over 0x93/0x94 curly-quote bytes, so the
    // SAME pipeline yields different-but-stated text per parity; a
    // lying utf-8 declaration at doc_id % 11 quarantines) -> boilerplate
    // removal (t59: nav and promo footer drop, both prose blocks
    // survive, classes constant) -> PII scrub (t54: the email and IP
    // planted in the second prose block redact) -> fingerprint
    // keep-first (collisions engineered by (parity, lang, doc_id % 13)).
    // Torn WARC blobs (doc_id % 7) and 404s (doc_id % 5) never reach
    // decode; torn decodes never reach boilerplate.
    "x16_bytes_to_corpus" -> { (s, d) =>
      import graft.functions.GraftFunctions.{charset_decode_html, warc_records}
      import graft.functions.TextFunctions.fingerprint
      val id = col("doc_id")
      // codegen'd: hex() of a string column IS the ASCII-hex of its bytes
      def asciiHex(c: Column) = hex(c)
      val k = pmod(id, lit(13)).cast("string")
      val nav = "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a></div>"
      val footerDiv = "<div>promo1 promo2 promo3 promo4 promo5 promo6 " +
        "promo7 promo8 promo9 promo10 promo11 promo12</div>"
      val proseTail = concat(lit(" "), col("lang"), lit(" "), k,
        lit(" the of and to a is.</p><p>contact admin@example.com or " +
          "10.0.0.1 beta "), col("lang"), lit(" "), k,
        lit(" the of and in it on.</p>" + footerDiv + "</body></html>"))
      val evenHtmlHex = asciiHex(concat(
        lit("<html><head><meta charset=\"utf-8\"></head><body>" + nav + "<p>alpha"),
        proseTail))
      val oddHtmlHex = concat(
        asciiHex(lit("<html><head><meta charset=\"windows-1252\"></head><body>" +
          nav + "<p>")),
        lit("93"), asciiHex(lit("alpha")), lit("94"),
        asciiHex(proseTail))
      val lyingHtmlHex = concat(
        asciiHex(lit("<html><head><meta charset=\"utf-8\"></head><body>x")),
        lit("93"))
      val htmlHex = when(id % 11 === 0, lyingHtmlHex)
        .when(id % 2 === 0, evenHtmlHex)
        .otherwise(oddHtmlHex)
      val status = when(id % 5 === 0, lit(404)).otherwise(lit(200))
      val headHex = asciiHex(format_string(
        "HTTP/1.1 %d OK\r\nContent-Type: text/html\r\n\r\n", status))
      val httpHex = concat(headHex, htmlHex)
      val warcHex = concat(
        asciiHex(concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://x/"),
          id.cast("string"),
          format_string("\r\nContent-Length: %d\r\n\r\n",
            (length(httpHex) / 2).cast("int")))),
        httpHex, asciiHex(lit("\r\n\r\n")))
      val blobHex = when(id % 7 === 0,
        warcHex.substr(lit(1), length(warcHex) - 6)).otherwise(warcHex)
      val extracted = Tables.documents(s, d)
        .select(id, col("lang"), explode(warc_records(unhex(blobHex))).as("r"))
        .filter(col("r.rec_type") === "response" && col("r.http_status") === 200)
        .select(id, col("lang"),
          charset_decode_html(col("r.body").cast("binary")).as("html"))
        .filter(col("html").isNotNull)
      val curated = graft.operators.Pii.scrub(
        graft.operators.Boilerplate.extract(extracted, col("html"))
          .select(id, col("n_kept"), col("classes"), col("kept_text")),
        "kept_text")
      curated
        .withColumn("fp", fingerprint(col("redacted")))
        .groupBy(col("fp"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("redacted"), id).as("redacted"),
          min_by(col("classes"), id).as("classes"))
        .select(col("doc_id"), col("n_dups"), col("classes"), col("redacted"))
        .orderBy(col("doc_id"))
    },

    // CRAWL GOVERNANCE composed (the PRE-fetch half + decode, the
    // complement of x14's post-fetch half): robots.txt admission (t57's
    // policy and arms) -> frontier politeness scheduling over exactly
    // the ADMITTED candidates (t58's hot-host arithmetic) -> fetch
    // returning per-doc BYTES in varying charsets -> strict decode
    // (m17; torn UTF-16 bodies quarantine by absence) -> fingerprint
    // keep-first dedup with the keeper carrying its own schedule slot.
    // One lazy plan: admission, scheduling, decode, and dedup
    // boundaries all under a single hash — an URL the policy refuses
    // must never be scheduled, a torn fetch must never reach dedup,
    // and the keeper's slot must be the one scheduled BEFORE the fetch.
    "x15_crawl_governance" -> { (s, d) =>
      import graft.functions.GraftFunctions.{charset_decode, robots_allowed}
      import graft.functions.TextFunctions.fingerprint
      val id = col("doc_id")
      val robots = concat(
        lit("# crawl policy\nUser-agent: graftbot\nDisallow: /private/\n" +
          "Allow: /private/pub*\nDisallow: /tmp$\nDisallow: /id/"),
        id.cast("string"),
        lit("$\nUser-agent: *\nDisallow: /\nAllow: /open/\n"))
      val arm = pmod(id, lit(6))
      val path = when(arm === 0, concat(lit("/private/x"), id.cast("string")))
        .when(arm === 1, concat(lit("/private/pub"), id.cast("string")))
        .when(arm === 2, lit("/tmp"))
        .when(arm === 3, concat(lit("/tmp"), id.cast("string")))
        .when(arm === 4, concat(lit("/id/"), id.cast("string")))
        .otherwise(concat(lit("/open/"), id.cast("string")))
      val host = when(id % 3 === 0, lit(0L)).otherwise(pmod(id, lit(37L)))
      val admitted = Tables.documents(s, d)
        .select(id, col("lang"), host.as("host_id"),
          pmod(id, lit(5L)).as("priority"),
          (lit(1L) + pmod(host, lit(4L))).as("delay_s"))
        .filter(robots_allowed(robots, path, "graftbot"))
      val sched = graft.operators.Frontier.schedule(admitted,
        host = col("host_id"), priority = col("priority"), tie = id,
        delaySec = col("delay_s"), perCycle = 8, cycleLenSec = 60L)
      val src = concat(lit("page "), col("lang"), lit(" "), (id % 13).cast("string"))
      // codegen'd: hex() of a string column IS the ASCII-hex of its bytes
      def asciiHex(c: Column) = hex(c)
      // ASCII -> UTF-16LE bytes: interleave 00 after each byte pair
      def utf16leHex(c: Column) = regexp_replace(hex(c), "(..)", "$100")
      val bytesHex = when(id % 11 === 0,
          concat(lit("FFFE"), utf16leHex(src), lit("41")))     // torn fetch
        .when(id % 2 === 0, concat(lit("FFFE"), utf16leHex(src)))
        .otherwise(concat(asciiHex(src), lit("9394")))         // cp1252 quotes
      sched
        .withColumn("text", charset_decode(unhex(bytesHex)))
        .filter(col("text").isNotNull)
        .withColumn("fp", fingerprint(col("text")))
        .groupBy(col("fp"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("host_id"), id).as("host_id"),
          min_by(col("slot"), id).as("slot"),
          min_by(col("fetch_offset_s"), id).as("fetch_offset_s"))
        .select(col("doc_id"), col("n_dups"), col("host_id"),
          col("slot"), col("fetch_offset_s"))
        .orderBy(col("doc_id"))
    },

    // THE FULL CRAWL CYCLE composed (x17, round 16 — discovery INTO
    // governance INTO bytes-to-corpus, the loop whose segments r15
    // built): sitemap parse (t60's built-ins-only XML) -> recrawl
    // decision against fetch history (only STALE urls proceed) ->
    // robots admission on the url's own path (arm 0 refused by
    // Disallow /private/, arm 1 saved by the longer Allow
    // /private/pub*) -> frontier scheduling over exactly the admitted
    // rows with the delay SOURCED from the same robots text
    // (robots_crawl_delay; hosts ≡0 mod 3 omit the field -> default 2)
    // -> fetch returning HTML bytes whose meta declaration drives the
    // decode (m20's parity arms; a lying utf-8 declaration at
    // (id+k)%11==0 quarantines) -> boilerplate removal (x16's 4-block
    // page) -> PII scrub -> fingerprint keep-first whose keeper carries
    // its own PRE-fetch schedule slot. ONE lazy plan, one hash; the
    // keeper columns ride the aggregate as min_by — no join-back.
    // Shuffles: the url history join + the host window + the fp group —
    // exactly x15's two plus t60's join, the three a 100 TB cycle pays.
    "x17_crawl_cycle" -> { (s, d) =>
      import graft.functions.GraftFunctions.{charset_decode_html,
        robots_allowed, robots_crawl_delay}
      import graft.functions.TextFunctions.fingerprint
      val id = col("doc_id")
      val host = when(id % 3 === 0, lit(0L)).otherwise(pmod(id, lit(37L)))
      def pathOf(k: Int) = concat(
        when(pmod(id + k, lit(3)) === 0, lit("/private/x"))
          .when(pmod(id + k, lit(3)) === 1, lit("/private/pub"))
          .otherwise(lit("/open/")),
        id.cast("string"), lit(s"k$k"))
      def urlOf(k: Int) = concat(
        lit("https://h"), host.cast("string"), lit(".example.com"), pathOf(k))
      def lastmodOf(k: Int) = format_string(
        "2024-03-%02d", pmod(id + k * 7, lit(28)) + 1)
      // discovery: one sitemap per doc, parsed with built-ins only (t60)
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        concat((1 to 3).map(k => concat(
          lit("<url><loc>"), urlOf(k), lit("</loc><lastmod>"),
          lastmodOf(k), lit("</lastmod></url>"))): _*),
        lit("</urlset>"))
      val locs = regexp_extract_all(xml, lit("<loc>([^<]*)</loc>"), lit(1))
      val mods = regexp_extract_all(xml, lit("<lastmod>([^<]*)</lastmod>"), lit(1))
      val parsed = Tables.documents(s, d)
        .select(id, col("lang"), explode(zip_with(locs, mods,
          (l, m) => struct(l.as("url"), m.as("lastmod")))).as("e"))
        .select(id, col("lang"), col("e.url").as("url"),
          col("e.lastmod").as("lastmod"))
      val history = Tables.documents(s, d)
        .select(explode(array((1 to 3).map { k =>
          val hid = col("doc_id")
          val hhost = when(hid % 3 === 0, lit(0L)).otherwise(pmod(hid, lit(37L)))
          struct(
            concat(lit("https://h"), hhost.cast("string"), lit(".example.com"),
              when(pmod(hid + k, lit(3)) === 0, lit("/private/x"))
                .when(pmod(hid + k, lit(3)) === 1, lit("/private/pub"))
                .otherwise(lit("/open/")),
              hid.cast("string"), lit(s"k$k")).as("url"),
            format_string("2024-03-%02d",
              pmod(hid * 3 + k * 5, lit(28)) + 1).as("last_fetch"))
        }: _*)).as("h"))
        .select(col("h.url").as("url"), col("h.last_fetch").as("last_fetch"))
      val stale = parsed.join(history, Seq("url"), "inner")
        .filter(col("lastmod") > col("last_fetch"))
      // governance: robots admission + schedule, delay from the robots text
      val robots = when(pmod(host, lit(3)) === 0,
          lit("User-agent: graftbot\nDisallow: /private/\n" +
            "Allow: /private/pub*\nUser-agent: *\nDisallow: /\nCrawl-delay: 30\n"))
        .otherwise(concat(
          lit("User-agent: graftbot\nDisallow: /private/\n" +
            "Allow: /private/pub*\nCrawl-delay: "),
          (lit(1L) + pmod(host, lit(4L))).cast("string"),
          lit("\nUser-agent: *\nDisallow: /\nCrawl-delay: 30\n")))
      val path = regexp_extract(col("url"), "^https://[^/]+(/.+)$", 1)
      val kc = regexp_extract(col("url"), "k([0-9]+)$", 1).cast("long")
      val admitted = stale
        .withColumn("k", kc)
        .filter(robots_allowed(robots, path, "graftbot"))
        .withColumn("host_id", host)
        .withColumn("priority", pmod(id + col("k"), lit(5L)))
        .withColumn("delay_s", robots_crawl_delay(robots, lit(2L), "graftbot"))
      val sched = graft.operators.Frontier.schedule(admitted,
        host = col("host_id"), priority = col("priority"), tie = col("url"),
        delaySec = col("delay_s"), perCycle = 8, cycleLenSec = 60L)
      // fetch: HTML bytes built in hex (bodies carry real non-ASCII), the
      // x16 page over the COLLIDING key (parity, lang, m)
      def asciiHex(c: Column) = hex(c)
      val m = pmod(id + col("k"), lit(13)).cast("string")
      val par = pmod(id + col("k"), lit(2))
      val nav = "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a></div>"
      val footerDiv = "<div>promo1 promo2 promo3 promo4 promo5 promo6 " +
        "promo7 promo8 promo9 promo10 promo11 promo12</div>"
      val proseTail = concat(lit(" "), col("lang"), lit(" "), m,
        lit(" the of and to a is.</p><p>contact admin@example.com or " +
          "10.0.0.1 beta "), col("lang"), lit(" "), m,
        lit(" the of and in it on.</p>" + footerDiv + "</body></html>"))
      val evenHtmlHex = asciiHex(concat(
        lit("<html><head><meta charset=\"utf-8\"></head><body>" + nav + "<p>alpha"),
        proseTail))
      val oddHtmlHex = concat(
        asciiHex(lit("<html><head><meta charset=\"windows-1252\"></head><body>" +
          nav + "<p>")),
        lit("93"), asciiHex(lit("alpha")), lit("94"),
        asciiHex(proseTail))
      val lyingHtmlHex = concat(
        asciiHex(lit("<html><head><meta charset=\"utf-8\"></head><body>x")),
        lit("93"))
      val htmlHex = when(pmod(id + col("k"), lit(11)) === 0, lyingHtmlHex)
        .when(par === 0, evenHtmlHex)
        .otherwise(oddHtmlHex)
      val fetched = sched
        .withColumn("html", charset_decode_html(unhex(htmlHex)))
        .filter(col("html").isNotNull)
      val curated = graft.operators.Pii.scrub(
        graft.operators.Boilerplate.extract(fetched, col("html"))
          .select(id, col("k"), col("slot"), col("fetch_offset_s"),
            col("kept_text")),
        "kept_text")
      curated
        .withColumn("fp", fingerprint(col("redacted")))
        .groupBy(col("fp"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("k"), id).as("k"),
          min_by(col("slot"), id).as("slot"),
          min_by(col("fetch_offset_s"), id).as("fetch_offset_s"),
          min_by(col("redacted"), id).as("redacted"))
        .select(col("doc_id"), col("k"), col("n_dups"), col("slot"),
          col("fetch_offset_s"), col("redacted"))
        .orderBy(col("doc_id"), col("k"))
    },

    // TAR.GZ MIRROR INGESTION composed (x20, round 16 — the dataset-
    // mirror wire format end to end, the container sibling of x16's
    // WARC path): per doc, construct a complete tar in column
    // arithmetic (checksums as column math) holding a DUPLICATE member
    // name (v1 then v2 — extraction must return the LAST, the round-16
    // overwrite fix, under the hash), a pax 'x' header whose path
    // keyword names the next entry with a >100-char name (the m18b
    // machinery in-gate), and a cp1252-bodied member; wrap it in a
    // real gzip member (stored deflate + built-in crc32, the t60b
    // construction); then gunzip -> tar_entries -> tar_extract ->
    // charset_decode -> fingerprint keep-first, one lazy plan. Torn
    // docs (doc_id % 7: bumped gzip CRC) never reach the tar walk.
    "x20_mirror_ingest" -> { (s, d) => mirrorIngest(s, d, "gzip") },

    // x20's pipeline through a REAL ZSTANDARD frame (x20b, round 17 —
    // `.tar.zst` is the emerging mirror default): the identical tar is
    // wrapped in an RFC 8878 single-segment frame holding one RAW
    // (stored) block, constructed in column arithmetic (magic, FHD
    // 0x60 = 2-byte frame-content-size, LE24 block header), and
    // inflated by zunstd (the zstd-jni decoder Spark itself ships).
    // Torn docs lie about the frame content size by one byte — the
    // decoder must refuse, quarantining by absence exactly like x20's
    // bumped crc32. Same oracle shape: the container swap must be
    // invisible under the hash.
    "x20b_mirror_ingest_zstd" -> { (s, d) => mirrorIngest(s, d, "zstd") },

    // x20's pipeline through a REAL XZ stream (x20c, round 18 — the
    // long tail of dataset/software mirrors is `.tar.xz`: GNU,
    // kernel.org, Debian-era dumps): the identical tar rides a
    // check-none XZ stream holding one LZMA2 uncompressed chunk,
    // assembled in column arithmetic (magic, block header with its
    // real CRC32, BE16 chunk size, index varints, footer — xzWrapHex),
    // and inflated by zunxz (the org.tukaani decoder Spark itself
    // ships). Torn docs bump the block-header CRC32 — the decoder
    // refuses, quarantining by absence exactly like x20's bumped
    // member crc32. Same oracle shape: the container swap must be
    // invisible under the hash.
    "x20c_mirror_ingest_xz" -> { (s, d) => mirrorIngest(s, d, "xz") },

    // x20's pipeline through a REAL BZIP2 stream (x20d, round 18 —
    // `.tar.bz2` is the CLASSIC mirror format, a decade of kernel.org
    // and Debian archives): bzip2 has no stored mode, so the identical
    // tar rides the engine's deterministic encoder seam
    // (bzip2_deflate) and is inflated by zunbz2 (commons-compress,
    // which Spark itself ships). Torn docs flip one byte deep in the
    // encoded stream — the block CRC refuses, quarantining by absence.
    // Same oracle shape: the container swap is invisible under the
    // hash, and Bzip2Spec's two-sided CLI differential carries the
    // encode/decode independence the in-gate round-trip cannot.
    "x20d_mirror_ingest_bz2" -> { (s, d) => mirrorIngest(s, d, "bz2") },

    // MULTIMODAL (image-text) CORPUS CURATION composed (x18, round 16 —
    // the m-family's decoders + d23's perceptual hash turned into the
    // curation flow a vision-language corpus runs): per image blob
    // (the d23 BMP fixture), decode gate (torn blobs — doc_id % 7 loses
    // the pixel-array tail — quarantine by absence), metadata gate
    // (width >= 9 drops the narrowest fixture class), caption quality
    // gate (the paired caption must carry >= 3 tokens; doc_id % 9 docs
    // get the 1-token stub), then PERCEPTUAL near-dup dedup: a doc is
    // dropped iff a SMALLER-id survivor sits within hamming <= 3 of its
    // aHash (the keep-first rule as an anti-join on d23's banded pair
    // evidence — no transitive clustering, so the oracle states it as
    // NOT EXISTS over the same pair CTE). Every stage boundary under
    // ONE hash; pair volume is banded (16-bit chunks), never all-pairs.
    "x18_multimodal_curation" -> { (s, d) =>
      import graft.functions.GraftFunctions.{bmp_ahash, bmp_pixel_stats}
      import graft.functions.TextFunctions.token_count
      val bid = col("id")
      val blobs = graft.sources.BmpFixture.blobs(s, d)
      val torn = when(bid % 7 === 0,
        expr("substring(blob, 1, length(blob) - 3)")).otherwise(col("blob"))
      val caption = when(bid % 9 === 0, lit("img"))
        .otherwise(format_string("photo of item %d", pmod(bid, lit(17))))
      val kept = blobs.select(bid,
          bmp_pixel_stats(torn).as("p"),
          bmp_ahash(torn).as("sig"),
          caption.as("caption"))
        .filter(col("sig").isNotNull && col("p").isNotNull) // decode gate
        .filter(col("p.width") >= 9)                        // metadata gate
        .filter(token_count(col("caption")) >= 3)           // caption gate
        // materialized once (lazy local checkpoint, GC-released blocks):
        // the survivors feed BOTH the pair generation and the keep-first
        // anti-join's left side — without this each consumer re-ran the
        // double image decode (pixel stats + aHash) per blob (guide §5
        // reuse-beats-recompute; one node-sized row per surviving image)
        .localCheckpoint(false)
      val pairs = graft.operators.Dedup.hammingPairs(
        kept.select(bid, col("sig")), maxHamming = 3)
      kept.join(pairs.select(col("id2").as("id")), Seq("id"), "left_anti")
        .select(bid.as("doc_id"), col("p.width").as("width"),
          col("p.height").as("height"), col("caption"))
        .orderBy(col("doc_id"))
    },

    // AUDIO CORPUS CURATION composed (x19, round 16 — the speech-corpus
    // sibling of x18, on the m5 WAV machinery): per doc, construct a
    // complete PCM16 WAV in column arithmetic with every gate given a
    // live arm — torn data chunk (doc_id % 7: declared size overruns →
    // decode NULL → absent), sample-rate gate (doc_id % 4 files carry
    // 8 kHz headers; audio_meta reads the header, the gate keeps
    // >= 16 kHz), duration gate (n_samples >= 10 drops the shortest
    // length classes), clipping gate (doc_id % 6 files carry one
    // full-scale 32767 sample; max_amp < 32000 drops them) — then
    // exact-PCM keep-first dedup (fingerprint = md5 of the payload
    // bytes; payloads derive from doc_id % 13, so collisions are real).
    // Metadata, payload stats, and dedup boundaries under ONE hash.
    "x19_audio_curation" -> { (s, d) =>
      import graft.functions.GraftFunctions.{audio_meta, audio_pcm_stats}
      val id = col("doc_id")
      val m = pmod(id, lit(13))
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        v % 256, (v / 256).cast("int") % 256,
        (v / 65536).cast("int") % 256, (v / 16777216).cast("int") % 256)
      val n = (pmod(m, lit(7)) + 8).cast("int")
      val pcmHex = array_join(transform(sequence(lit(0), n - 1), k => {
        val sv = when(id % 6 === 0 && k === n - 1, lit(32767))
          .otherwise(pmod(m * 31 + k * 17, lit(2048)) - 1024)
        val u = pmod(sv, lit(65536)).cast("int")
        format_string("%02X%02X", u % 256, (u / 256).cast("int"))
      }), "")
      val sr = when(id % 4 === 0, lit(8000)).otherwise(lit(16000))
      val dataSize = n * 2
      val declared = when(id % 7 === 0, dataSize + 4).otherwise(dataSize)
      val wav = concat(
        lit("RIFF").cast("binary"), unhex(le32h(lit(36) + dataSize)),
        lit("WAVEfmt ").cast("binary"),
        unhex(concat(lit("100000000100"),
          le16h(lit(1)), le32h(sr), le32h(sr * 2),
          le16h(lit(2)), le16h(lit(16)))),
        lit("data").cast("binary"), unhex(le32h(declared)), unhex(pcmHex))
      Tables.documents(s, d)
        .select(id, audio_meta(wav).as("meta"), audio_pcm_stats(wav).as("p"),
          md5(pcmHex).as("fp"))
        .filter(col("p").isNotNull)               // decode gate: torn absent
        .filter(col("meta.sample_rate") >= 16000) // rate gate (header read)
        .filter(col("p.n_samples") >= 10)         // duration gate
        .filter(col("p.max_amp") < 32000)         // clipping gate
        .groupBy(col("fp"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          min_by(col("meta.sample_rate"), id).as("sample_rate"),
          min_by(col("p.n_samples"), id).as("n_samples"),
          min_by(col("p.sum_amp"), id).as("sum_amp"))
        .select(col("doc_id"), col("n_dups"), col("sample_rate"),
          col("n_samples"), col("sum_amp"))
        .orderBy(col("doc_id"))
    },

    // DOCX TEXT EXTRACTION composed (x24, round 17 — the office-suite
    // format corpus mirrors actually ship; docx IS a ZIP, so this is
    // m16's walk + CRC-verified extraction feeding text built-ins):
    // per doc, a two-entry STORED archive ([Content_Types].xml stub +
    // word/document.xml with real crc32s so zip_extract's integrity
    // check sits under the hash) whose WordprocessingML body carries
    // the text in <w:t> runs. Extraction must (a) strip tracked
    // DELETIONS first — every doc_id % 5 == 0 document carries a
    // <w:del> run whose text is NOT document text; the dedup groups
    // prove the strip, because an extractor that greps <w:t> naively
    // splits every content class in two — and (b) unescape the XML
    // entities (&amp; in the body). Keep-first on the extracted text;
    // torn archives (doc_id % 7 == 0) quarantine by absence.
    "x24_docx_text" -> { (s, d) =>
      import graft.functions.GraftFunctions.zip_extract
      val id = col("doc_id")
      def hexOf(str: String) =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      def le16h(v: Column) = format_string("%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)),
        pmod((v / 65536).cast("int"), lit(256)),
        pmod((v / 16777216).cast("int"), lit(256)))
      val c = pmod(id, lit(11)).cast("string")
      val body1 = lit("""<Types xmlns="ct"/>""")
      val body2 = concat(
        lit("<w:document><w:body><w:p><w:r><w:t>Doc "), c,
        lit(" heading</w:t></w:r></w:p>"),
        when(id % 5 === 0,
          lit("<w:del><w:r><w:t>REMOVED DRAFT</w:t></w:r></w:del>"))
          .otherwise(lit("")),
        lit("""<w:p><w:r><w:t xml:space="preserve">body &amp; tail """), c,
        lit("</w:t></w:r></w:p></w:body></w:document>"))
      val l1 = length(body1).cast("int"); val l2 = length(body2).cast("int")
      def local(nameHex: String, nlen: Int, body: Column, blen: Column) = concat(
        lit("504B0304" + "1400" + "0000" + "0000" + "0000" + "0000"),
        le32h(crc32(body.cast("binary"))),
        le32h(blen), le32h(blen), le16h(lit(nlen)), lit("0000"),
        lit(nameHex), hex(body))
      def central(nameHex: String, nlen: Int, body: Column, blen: Column,
                  off: Column) = concat(
        lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" + "0000"),
        le32h(crc32(body.cast("binary"))),
        le32h(blen), le32h(blen), le16h(lit(nlen)),
        lit("0000" + "0000" + "0000" + "0000" + "00000000"),
        le32h(off), lit(nameHex))
      val n1 = "[Content_Types].xml"; val n1hex = hexOf(n1)
      val n2 = "word/document.xml"; val n2hex = hexOf(n2)
      val off2 = lit(30 + n1.length) + l1
      val cdOff = off2 + lit(30 + n2.length) + l2
      val zipHex = concat(
        local(n1hex, n1.length, body1, l1),
        local(n2hex, n2.length, body2, l2),
        central(n1hex, n1.length, body1, l1, lit(0)),
        central(n2hex, n2.length, body2, l2, off2),
        lit("504B0506" + "0000" + "0000"), le16h(lit(2)), le16h(lit(2)),
        le32h(lit(46 + n1.length + 46 + n2.length)), le32h(cdOff), lit("0000"))
      val blob = unhex(when(id % 7 === 0,
        zipHex.substr(lit(1), length(zipHex) - 6)).otherwise(zipHex))
      val xml = decode(zip_extract(blob, lit("word/document.xml")), "UTF-8")
      // tracked deletions are NOT document text — strip BEFORE the runs
      val kept = regexp_replace(xml, "(?s)<w:del>.*?</w:del>", "")
      val runs = regexp_extract_all(kept, lit("<w:t[^>]*>([^<]*)</w:t>"), lit(1))
      val txt = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "'", "&amp;" -> "&")
        .foldLeft(array_join(runs, " ")) { case (acc, (e, r)) =>
          regexp_replace(acc, e, r)
        }
      Tables.documents(s, d)
        .select(id, txt.as("txt"))
        .filter(col("txt").isNotNull)
        .groupBy(col("txt"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("txt"))
        .orderBy(col("doc_id"))
    },

    // EPUB INDIRECTION CHAIN composed (x25, round 17 — the other
    // office/publishing ZIP, and a walk x24 doesn't exercise: EPUB
    // locates its content through TWO levels of in-archive indirection,
    // META-INF/container.xml -> rootfile full-path -> OPF manifest
    // href, resolved RELATIVE to the OPF's directory). The gate makes
    // the indirection real: the OPF lives at OPS/content.opf or
    // book/pkg.opf by doc parity, and the chapter href is ch1.xhtml or
    // text/intro.xhtml by doc_id % 3 — four layout combinations, so an
    // extractor that hardcodes any path fails most of the corpus. Each
    // hop is a CRC-verified zip_extract whose NAME is a column read
    // from the previous hop. Torn archives (doc_id % 7 == 0)
    // quarantine by absence.
    "x25_epub_chain" -> { (s, d) =>
      import graft.functions.GraftFunctions.{le_hex, zip_extract}
      val id = col("doc_id")
      def hexOf(str: String) =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      // native le_hex, not the format_string spelling: the generated
      // code per field is one static call, which is what lets this
      // whole per-row chain compile as ONE whole-stage method (round-18
      // fix; see LeHex's Scaladoc)
      def le16h(v: Column) = le_hex(v, 2)
      def le32h(v: Column) = le_hex(v, 4)
      val opfPath = when(id % 2 === 0, lit("OPS/content.opf"))
        .otherwise(lit("book/pkg.opf"))
      val href = when(id % 3 === 0, lit("text/intro.xhtml"))
        .otherwise(lit("ch1.xhtml"))
      val dir = regexp_replace(opfPath, "[^/]*$", "")
      val chapterPath = concat(dir, href)
      val body1 = concat(
        lit("""<container><rootfiles><rootfile full-path=""""), opfPath,
        lit("""" media-type="application/oebps-package+xml"/></rootfiles></container>"""))
      val body2 = concat(
        lit("""<package><manifest><item id="c1" href=""""), href,
        lit("""" media-type="application/xhtml+xml"/></manifest></package>"""))
      val body3 = concat(
        lit("<html><body><p>Chapter "), format_string("%05d", pmod(id, lit(100000L))),
        lit(" text &amp; more</p></body></html>"))
      val n1 = "META-INF/container.xml"
      // STAGED construction (the t59/m21 lesson, here forced by janino's
      // method-size limit: one monolithic projection fell back to
      // interpreted eval and the 3 zip_extract hops re-evaluated the
      // whole construction subtree — 10.5 s at sf0.1; staging the blob
      // and each hop as named MULTI-REFERENCED columns keeps every
      // projection codegen-sized and the blob computed ONCE).
      // Round 18, one rung deeper: the zipHex projection ITSELF blew
      // janino's 64 KB because every le32h/le16h length field expanded
      // its format_string(pmod/div...) subtree in place — four per
      // header, eighteen headers' worth in one generated method (whole-
      // stage codegen cannot split methods over deferred local
      // variables). Staging the FORMATTED hex pieces (lNx/kNx, each
      // referenced 4x/2x so CollapseProject keeps the layer) shrinks
      // the zipHex method to literal+ref concatenation and the whole
      // chain compiles — no interpreted fallback anywhere.
      def localHdr(crcHex: Column, lenHex: Column, nlenHex: Column,
                   nameHex: Column, bodyHex: Column) = concat(
        lit("504B0304" + "1400" + "0000" + "0000" + "0000" + "0000"),
        crcHex, lenHex, lenHex, nlenHex, lit("0000"),
        nameHex, bodyHex)
      def centralHdr(crcHex: Column, lenHex: Column, nlenHex: Column,
                     nameHex: Column, offHex: Column) = concat(
        lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" + "0000"),
        crcHex, lenHex, lenHex, nlenHex,
        lit("0000" + "0000" + "0000" + "0000" + "00000000"),
        offHex, nameHex)
      val n1lenHex = f"${n1.length}%02X00" // le16 of a known-small length
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("b1", body1)
        .withColumn("b2", body2)
        .withColumn("b3", body3)
        .withColumn("nm2", opfPath)
        .withColumn("nm3", chapterPath)
        // every piece the headers need, staged ONCE: crc hexes, body
        // hexes, lengths — so each subsequent expression stays small
        .withColumn("c1x", le32h(crc32(col("b1").cast("binary"))))
        .withColumn("c2x", le32h(crc32(col("b2").cast("binary"))))
        .withColumn("c3x", le32h(crc32(col("b3").cast("binary"))))
        .withColumn("h1", hex(col("b1")))
        .withColumn("h2", hex(col("b2")))
        .withColumn("h3", hex(col("b3")))
        .withColumn("hn2", hex(col("nm2")))
        .withColumn("hn3", hex(col("nm3")))
        .withColumn("l1", length(col("b1")).cast("int"))
        .withColumn("l2", length(col("b2")).cast("int"))
        .withColumn("l3", length(col("b3")).cast("int"))
        .withColumn("k2", length(col("nm2")).cast("int"))
        .withColumn("k3", length(col("nm3")).cast("int"))
        .withColumn("s1", lit(30 + n1.length) + col("l1"))
        .withColumn("s2", lit(30) + col("k2") + col("l2"))
        // the formatted hex pieces, each multi-referenced downstream
        .withColumn("l1x", le32h(col("l1")))
        .withColumn("l2x", le32h(col("l2")))
        .withColumn("l3x", le32h(col("l3")))
        .withColumn("k2x", le16h(col("k2")))
        .withColumn("k3x", le16h(col("k3")))
        .withColumn("zipHex", concat(
          localHdr(col("c1x"), col("l1x"), lit(n1lenHex), lit(hexOf(n1)), col("h1")),
          localHdr(col("c2x"), col("l2x"), col("k2x"), col("hn2"), col("h2")),
          localHdr(col("c3x"), col("l3x"), col("k3x"), col("hn3"), col("h3")),
          centralHdr(col("c1x"), col("l1x"), lit(n1lenHex), lit(hexOf(n1)),
            lit("00000000")),
          centralHdr(col("c2x"), col("l2x"), col("k2x"), col("hn2"),
            le32h(col("s1"))),
          centralHdr(col("c3x"), col("l3x"), col("k3x"), col("hn3"),
            le32h(col("s1") + col("s2"))),
          lit("504B0506" + "0000" + "0000" + "0300" + "0300"),
          le32h(lit(3 * 46 + n1.length) + col("k2") + col("k3")),
          le32h(col("s1") + col("s2") + lit(30) + col("k3") + col("l3")),
          lit("0000")))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("zipHex").substr(lit(1), length(col("zipHex")) - 6))
          .otherwise(col("zipHex"))))
        .select(col("doc_id"), col("blob"))
        // observe() = CollectMetricsExec, which does not participate in
        // whole-stage codegen: it cuts the per-row chain into TWO
        // generated methods (construction | extraction) with NO
        // exchange, NO extra pass, and a free row-count metric — the
        // remaining rung after le_hex shrank the field rendering
        // (janino's 64 KB is per method and WSCG can't split over
        // deferred local variables)
        .observe("x25_construction", count(lit(1)).as("docs_built"))
        // the chain: each hop's NAME comes from the previous hop's content
        .withColumn("c1", decode(zip_extract(col("blob"), lit(n1)), "UTF-8"))
        .withColumn("opf_path", regexp_extract(col("c1"), "full-path=\"([^\"]*)\"", 1))
        .withColumn("opf", decode(zip_extract(col("blob"), col("opf_path")), "UTF-8"))
        .withColumn("href", regexp_extract(col("opf"),
          "<item[^>]*href=\"([^\"]*)\"[^>]*media-type=\"application/xhtml\\+xml\"", 1))
        .withColumn("chapter_path",
          concat(regexp_replace(col("opf_path"), "[^/]*$", ""), col("href")))
        .withColumn("xhtml", decode(zip_extract(col("blob"), col("chapter_path")), "UTF-8"))
        .withColumn("txt", trim(regexp_replace(regexp_replace(regexp_replace(
          col("xhtml"), "<[^>]*>", " "), "&amp;", "&"), "\\s+", " ")))
      staged
        .select(col("doc_id"), col("opf_path"), col("chapter_path"), col("txt"))
        .filter(col("txt").isNotNull)
        .orderBy(col("doc_id"))
    },

    // XLSX CELL EXTRACTION composed (x26, round 18 — the office format
    // government data mirrors, the reference's own domain, ship above
    // all else; SpreadsheetML splits a sheet's strings ACROSS the
    // archive): per doc, a three-entry STORED zip whose sheet1.xml
    // carries all three cell kinds — t="s" cells resolving through
    // xl/sharedStrings.xml (one entity-escaped), an inlineStr cell,
    // and a numeric cell emitted as-is — so an extractor that reads
    // only the sheet, or only the string table, breaks most of the
    // corpus. FORMULAS REFUSE LOUDLY: doc_id % 5 == 0 sheets carry a
    // <f> cell and the whole document quarantines (a cached <v> beside
    // a formula is a stale answer, not data — the dedup groups prove
    // the refusal). Torn archives (doc_id % 7 == 0) quarantine by
    // absence. Keep-first on the extracted row; one data exchange.
    "x26_xlsx_cells" -> { (s, d) =>
      import graft.functions.GraftFunctions.{le_hex, zip_extract}
      val id = col("doc_id")
      def hexOf(str: String) =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      def le16h(v: Column) = le_hex(v, 2)
      def le32h(v: Column) = le_hex(v, 4)
      val m = pmod(id, lit(11))
      val body1 = lit("""<Types xmlns="ct"/>""")
      val body2 = concat(
        lit("""<sst count="2" uniqueCount="2"><si><t>name """),
        m.cast("string"),
        lit("""</t></si><si><t xml:space="preserve">qty &amp; spare</t></si></sst>"""))
      val body3 = concat(
        lit("""<worksheet><sheetData><row r="1">""" +
          """<c r="A1" t="s"><v>0</v></c>"""),
        lit("""<c r="B1"><v>"""), (m * 7).cast("string"), lit("</v></c>"),
        lit("""</row><row r="2">"""),
        lit("""<c r="A2" t="inlineStr"><is><t>inline """), m.cast("string"),
        lit("</t></is></c>"),
        lit("""<c r="B2" t="s"><v>1</v></c>"""),
        when(id % 5 === 0, concat(
          lit("""<c r="C2"><f>B1*2</f><v>"""), (m * 14).cast("string"),
          lit("</v></c>"))).otherwise(lit("")),
        lit("</row></sheetData></worksheet>"))
      val n1 = "[Content_Types].xml"
      val n2 = "xl/sharedStrings.xml"
      val n3 = "xl/worksheets/sheet1.xml"
      def localHdr(crcHex: Column, blen: Column, nameHex: String,
                   bodyHex: Column) = concat(
        lit("504B0304" + "1400" + "0000" + "0000" + "0000" + "0000"),
        crcHex, le32h(blen), le32h(blen),
        le16h(lit(nameHex.length / 2)), lit("0000"), lit(nameHex), bodyHex)
      def centralHdr(crcHex: Column, blen: Column, nameHex: String,
                     off: Column) = concat(
        lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" + "0000"),
        crcHex, le32h(blen), le32h(blen), le16h(lit(nameHex.length / 2)),
        lit("0000" + "0000" + "0000" + "0000" + "00000000"),
        le32h(off), lit(nameHex))
      // staged per the x25 lesson: blob and both extracted parts are
      // named multi-referenced columns, every projection janino-sized
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("b1", body1)
        .withColumn("b2", body2)
        .withColumn("b3", body3)
        .withColumn("c1x", le32h(crc32(col("b1").cast("binary"))))
        .withColumn("c2x", le32h(crc32(col("b2").cast("binary"))))
        .withColumn("c3x", le32h(crc32(col("b3").cast("binary"))))
        .withColumn("h1", hex(col("b1")))
        .withColumn("h2", hex(col("b2")))
        .withColumn("h3", hex(col("b3")))
        .withColumn("l1", length(col("b1")).cast("int"))
        .withColumn("l2", length(col("b2")).cast("int"))
        .withColumn("l3", length(col("b3")).cast("int"))
        .withColumn("s1", lit(30 + n1.length) + col("l1"))
        .withColumn("s2", lit(30 + n2.length) + col("l2"))
        .withColumn("zipHex", concat(
          localHdr(col("c1x"), col("l1"), hexOf(n1), col("h1")),
          localHdr(col("c2x"), col("l2"), hexOf(n2), col("h2")),
          localHdr(col("c3x"), col("l3"), hexOf(n3), col("h3")),
          centralHdr(col("c1x"), col("l1"), hexOf(n1), lit(0)),
          centralHdr(col("c2x"), col("l2"), hexOf(n2), col("s1")),
          centralHdr(col("c3x"), col("l3"), hexOf(n3), col("s1") + col("s2")),
          lit("504B0506" + "0000" + "0000"), le16h(lit(3)), le16h(lit(3)),
          le32h(lit(3 * 46 + n1.length + n2.length + n3.length)),
          le32h(col("s1") + col("s2") + lit(30 + n3.length) + col("l3")),
          lit("0000")))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("zipHex").substr(lit(1), length(col("zipHex")) - 6))
          .otherwise(col("zipHex"))))
        .withColumn("sst", decode(zip_extract(col("blob"), lit(n2)), "UTF-8"))
        .withColumn("sheet", decode(zip_extract(col("blob"), lit(n3)), "UTF-8"))
        // refuse-loudly on formulas: a <f> anywhere quarantines the doc
        .withColumn("sheet_ok",
          when(col("sheet").contains("<f>"), lit(null).cast("string"))
            .otherwise(col("sheet")))
        .withColumn("strings",
          expr("regexp_extract_all(sst, '<t[^>]*>([^<]*)</t>', 1)"))
        .withColumn("cells",
          expr("regexp_extract_all(sheet_ok, '<c [^>]*>.*?</c>', 0)"))
        // the cell walk: t="s" resolves through the string table,
        // inlineStr reads its own <t>, plain cells emit <v> as-is
        .withColumn("vals", transform(col("cells"), cell => {
          val v = regexp_extract(cell, "<v>([^<]*)</v>", 1)
          when(cell.contains("t=\"s\""),
            element_at(col("strings"), v.cast("int") + 1))
            .when(cell.contains("t=\"inlineStr\""),
              regexp_extract(cell, "<t[^>]*>([^<]*)</t>", 1))
            .otherwise(v)
        }))
        .withColumn("row_text", Seq("&lt;" -> "<", "&gt;" -> ">",
          "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")
          .foldLeft(array_join(col("vals"), " | ")) { case (acc, (e, r)) =>
            regexp_replace(acc, e, r)
          })
      staged
        .select(col("doc_id"), size(col("cells")).as("n_cells"), col("row_text"))
        .filter(col("row_text").isNotNull)
        .groupBy(col("row_text"), col("n_cells"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("n_cells"), col("row_text"))
        .orderBy(col("doc_id"))
    },

    // PPTX SLIDE TEXT composed (x27, round 18 — the third office
    // sibling, closing the DOCX/XLSX/PPTX matrix; DrawingML puts slide
    // text in <a:t> runs, but AUTO-UPDATING FIELDS (<a:fld> — slide
    // numbers, dates) render text that is NOT authored content): per
    // doc, a two-entry STORED zip whose slide1.xml carries real runs
    // plus, on doc_id % 5 == 0, an <a:fld> slide-number run the
    // extractor must strip FIRST — a naive <a:t> grep splits every
    // content class in two, which the dedup groups prove (the w:del
    // analog). Entities unescaped; torn archives (doc_id % 7 == 0)
    // quarantine by absence. Keep-first on the extracted text.
    "x27_pptx_text" -> { (s, d) =>
      import graft.functions.GraftFunctions.{le_hex, zip_extract}
      val id = col("doc_id")
      def hexOf(str: String) =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      def le16h(v: Column) = le_hex(v, 2)
      def le32h(v: Column) = le_hex(v, 4)
      val m = pmod(id, lit(11))
      val body1 = lit("""<Types xmlns="ct"/>""")
      val body2 = concat(
        lit("""<p:sld><p:cSld><p:spTree><p:sp><p:txBody>""" +
          """<a:p><a:r><a:t>Slide """), m.cast("string"),
        lit(" title</a:t></a:r></a:p>"),
        when(id % 5 === 0, lit(
          """<a:p><a:fld id="{8A1C}" type="slidenum"><a:t>7</a:t></a:fld></a:p>"""))
          .otherwise(lit("")),
        lit("""<a:p><a:r><a:t>bullet &amp; point """), m.cast("string"),
        lit("</a:t></a:r></a:p>" +
          "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"))
      val n1 = "[Content_Types].xml"
      val n2 = "ppt/slides/slide1.xml"
      def localHdr(crcHex: Column, lenHex: Column, nameHex: String,
                   bodyHex: Column) = concat(
        lit("504B0304" + "1400" + "0000" + "0000" + "0000" + "0000"),
        crcHex, lenHex, lenHex,
        le16h(lit(nameHex.length / 2)), lit("0000"), lit(nameHex), bodyHex)
      def centralHdr(crcHex: Column, lenHex: Column, nameHex: String,
                     offHex: Column) = concat(
        lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" + "0000"),
        crcHex, lenHex, lenHex, le16h(lit(nameHex.length / 2)),
        lit("0000" + "0000" + "0000" + "0000" + "00000000"),
        offHex, lit(nameHex))
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("b1", body1)
        .withColumn("b2", body2)
        .withColumn("c1x", le32h(crc32(col("b1").cast("binary"))))
        .withColumn("c2x", le32h(crc32(col("b2").cast("binary"))))
        .withColumn("h1", hex(col("b1")))
        .withColumn("h2", hex(col("b2")))
        .withColumn("l1", length(col("b1")).cast("int"))
        .withColumn("l2", length(col("b2")).cast("int"))
        .withColumn("l1x", le32h(length(col("b1")).cast("int")))
        .withColumn("l2x", le32h(length(col("b2")).cast("int")))
        .withColumn("s1", lit(30 + n1.length) + col("l1"))
        .withColumn("zipHex", concat(
          localHdr(col("c1x"), col("l1x"), hexOf(n1), col("h1")),
          localHdr(col("c2x"), col("l2x"), hexOf(n2), col("h2")),
          centralHdr(col("c1x"), col("l1x"), hexOf(n1), lit("00000000")),
          centralHdr(col("c2x"), col("l2x"), hexOf(n2), le32h(col("s1"))),
          lit("504B0506" + "0000" + "0000" + "0200" + "0200"),
          le32h(lit(2 * 46 + n1.length + n2.length)),
          le32h(col("s1") + lit(30 + n2.length) + col("l2")),
          lit("0000")))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("zipHex").substr(lit(1), length(col("zipHex")) - 6))
          .otherwise(col("zipHex"))))
        .select(col("doc_id"), col("blob"))
        .observe("x27_construction", count(lit(1)).as("docs_built"))
        .withColumn("xml", decode(zip_extract(col("blob"), lit(n2)), "UTF-8"))
        // auto-updating fields are NOT authored content — strip first
        .withColumn("kept", regexp_replace(col("xml"),
          "(?s)<a:fld[^>]*>.*?</a:fld>", ""))
        .withColumn("txt", Seq("&lt;" -> "<", "&gt;" -> ">",
          "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")
          .foldLeft(array_join(expr(
            "regexp_extract_all(kept, '<a:t>([^<]*)</a:t>', 1)"), " ")) {
            case (acc, (e, r)) => regexp_replace(acc, e, r)
          })
      staged
        .select(col("doc_id"), col("txt"))
        .filter(col("txt").isNotNull)
        .groupBy(col("txt"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("txt"))
        .orderBy(col("doc_id"))
    },

    // MIXED-CONTAINER MIRROR composed (x28, round 18 — the capstone of
    // the compression matrix: real mirror feeds interleave gzip-era,
    // zstd-migration, and xz/bz2/lz4 long-tail shards of the SAME
    // corpus): per doc, the SAME class payload rides one of the five
    // containers by doc_id % 5 — gzip/zstd/xz/lz4 assembled in column
    // arithmetic, bzip2 through the encoder seam — and inflate_any
    // routes by magic so the keep-first collides ACROSS containers
    // (n_containers = 5 proves it; gcd(13,5)=1 spreads every content
    // class over every container). The container arms live INSIDE the
    // routing CASE so exactly one encoder runs per row (lazy branches;
    // staging all five would run the bzip2 encoder for every row).
    // Torn docs (doc_id % 7 == 0) truncate the blob — five decoders,
    // ONE quarantine contract.
    "x28_mixed_container_mirror" -> { (s, d) =>
      import graft.functions.GraftFunctions.{bzip2_deflate, le_hex}
      import graft.operators.Multimodal.{inflate_by, media_format}
      val id = col("doc_id")
      val m = pmod(id, lit(13))
      val hc = (net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
        .hash(Array[Byte](0x60, 0x40), 0, 2, 0) >> 8) & 0xFF
      def ph = col("ph")
      def plen = col("plen")
      val gzHex = concat(lit("1F8B08000000000000FF" + "01"),
        le_hex(plen, 2), le_hex(lit(65535) - plen, 2), ph,
        le_hex(crc32(col("p").cast("binary")), 4), le_hex(plen, 4))
      val zstHex = concat(lit("28B52FFD" + "20"), le_hex(plen, 1),
        le_hex(shiftleft(plen, 3).bitwiseOR(lit(1)), 3), ph)
      val xzHex = xzWrapHex(ph, lit(0L))
      val lz4Hex = concat(lit("04224D186040" + f"$hc%02X"),
        le_hex(lit(2147483648L) + plen, 4), ph, lit("00000000"))
      val bzHex = hex(bzip2_deflate(col("p").cast("binary")))
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("p", format_string("mirror doc class %02d corpus text body", m))
        .withColumn("ph", hex(col("p")))
        .withColumn("plen", (length(col("ph")) / 2).cast("int"))
        .withColumn("k", pmod(col("doc_id"), lit(5)))
        .withColumn("blobHex",
          when(col("k") === 0, gzHex)
            .when(col("k") === 1, zstHex)
            .when(col("k") === 2, xzHex)
            .when(col("k") === 3, bzHex)
            .otherwise(lz4Hex))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("blobHex").substr(lit(1), length(col("blobHex")) - 6))
          .otherwise(col("blobHex"))))
        .select(col("doc_id"), col("k"), col("blob"))
        .observe("x28_construction", count(lit(1)).as("docs_built"))
        // fmt staged as a named column so the 19-arm triage appears
        // ONCE in the plan; inflate_by routes on five string equalities
        .withColumn("fmt", media_format(col("blob")))
        .withColumn("txt", decode(inflate_by(col("fmt"), col("blob")), "UTF-8"))
      staged
        .filter(col("txt").isNotNull)
        .groupBy(col("txt"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"),
          countDistinct(col("k")).as("n_containers"))
        .select(col("doc_id"), col("n_dups"), col("n_containers"), col("txt"))
        .orderBy(col("doc_id"))
    },

    // OLE2/CFB CONTAINER walk under the gate (m31, round 19 — the
    // compound file every pre-2007 Office document rides, the r18
    // verdict's top gap: government mirrors, the reference's own
    // domain, ship decades of binary Office): per doc, a complete v3
    // CFB assembled in column arithmetic (header, FAT, directory,
    // miniFAT, mini stream — cfbWrapHex; all offsets plan-time
    // constants, only content varies), holding two mini streams whose
    // content is classed on doc_id % 13. The gate lists the directory
    // (names/types/sizes through the FAT walk) AND extracts both
    // streams through the miniFAT chain — a reader that only scans
    // sectors linearly cannot produce these. Torn docs (doc_id % 7)
    // lose 4 tail bytes; the whole-sectors exact-cover check refuses
    // the file and they quarantine by absence. Keep-first on content.
    "m31_cfb_walk" -> { (s, d) =>
      import graft.functions.GraftFunctions.{cfb_entries, cfb_extract}
      val id = col("doc_id")
      val m = pmod(id, lit(13))
      val meta = format_string("meta class %02d", m)
      val body = format_string("body %02d alpha\nbeta %02d gamma", m, m)
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("cfbHex", cfbWrapHex(Seq(
          ("Meta", hex(meta), 13), ("Body", hex(body), 27))))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("cfbHex").substr(lit(1), length(col("cfbHex")) - 8))
          .otherwise(col("cfbHex"))))
        .observe("m31_construction", count(lit(1)).as("docs_built"))
        .withColumn("entries", cfb_entries(col("blob")))
        .withColumn("streams", filter(col("entries"), e => e("type") === 2))
        .withColumn("meta_txt", decode(cfb_extract(col("blob"), lit("Meta")), "UTF-8"))
        .withColumn("body_txt", decode(cfb_extract(col("blob"), lit("Body")), "UTF-8"))
      staged
        .filter(col("meta_txt").isNotNull && col("body_txt").isNotNull)
        .select(col("doc_id"),
          size(col("streams")).as("n_streams"),
          aggregate(col("streams"), lit(0L), (acc, e) => acc + e("size"))
            .as("total_stream_bytes"),
          col("meta_txt"), col("body_txt"))
        .groupBy(col("n_streams"), col("total_stream_bytes"),
          col("meta_txt"), col("body_txt"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("n_streams"),
          col("total_stream_bytes"), col("meta_txt"), col("body_txt"))
        .orderBy(col("doc_id"))
    },

    // LEGACY WORD TEXT composed (x29, round 19 — [MS-DOC] over the m31
    // container; the pre-2007 half of the office corpus x24 opened):
    // per doc, a WordDocument stream (FIB + two text pieces) and a
    // 1Table stream (CLX piece table) ride cfbWrapHex; the pieces are
    // DELIBERATELY split across both width encodings — cp1252 (fc bit
    // 30, halved offset) then UTF-16LE with a non-latin char — so a
    // byte-scanner decodes garbage where the piece table decodes text.
    // ENCRYPTED docs (doc_id % 5: FIB fEncrypted) refuse honestly via
    // NULL; torn docs (doc_id % 7) quarantine by absence. Keep-first.
    "x29_doc_text" -> { (s, d) =>
      import graft.functions.GraftFunctions.doc_text
      val id = col("doc_id")
      def le32c(v: Long): String =
        f"${v & 255}%02X${(v >> 8) & 255}%02X${(v >> 16) & 255}%02X${(v >> 24) & 255}%02X"
      val m = pmod(id, lit(13))
      // piece 1 (cp1252 = ASCII here, 24 B): "Doc class NN body text.\r"
      val p1hex = hex(format_string("Doc class %02d body text.\r", m))
      // piece 2 (UTF-16LE, 7 chars / 14 B): "uni NN™" — ™ = U+2122
      // proves the wide arm; ASCII chars interleave 00, digits are 3X
      val p2hex = concat(lit("75006E0069002000"),
        format_string("3%d003%d00", (m / 10).cast("int"), pmod(m, lit(10))),
        lit("2221"))
      // FIB (512 B): wIdent A5EC, nFib 00C1, flags at 0x0A
      // (fWhichTblStm=0x0200 always; fEncrypted=0x0100 on the %5 arm),
      // fcClx=0 / lcbClx=33 at 0x1A2/0x1A6
      val flagsHex = when(id % 5 === 0, lit("0003")).otherwise(lit("0002"))
      val fibHex = concat(lit("ECA5" + "C100" + "00" * 6), flagsHex,
        lit("00" * (0x1A2 - 0x0C) + le32c(0) + le32c(33) + "00" * (0x200 - 0x1AA)))
      val wdHex = concat(fibHex, p1hex, p2hex)
      // CLX (33 B): Pcdt 02, lcb 28, CPs (0, 24, 31), then the PCDs —
      // piece 1 fc = 2*512 | 0x40000000, piece 2 fc = 512 + 24
      val tblHex = lit("02" + le32c(28) +
        le32c(0) + le32c(24) + le32c(31) +
        "0000" + le32c(0x40000400L) + "0000" +
        "0000" + le32c(536) + "0000")
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("cfbHex", cfbWrapHex(Seq(
          ("WordDocument", wdHex, 550), ("1Table", tblHex, 33))))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("cfbHex").substr(lit(1), length(col("cfbHex")) - 8))
          .otherwise(col("cfbHex"))))
        .observe("x29_construction", count(lit(1)).as("docs_built"))
        .withColumn("txt", doc_text(col("blob")))
      staged
        .filter(col("txt").isNotNull)
        .groupBy(col("txt"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("txt"))
        .orderBy(col("doc_id"))
    },

    // LEGACY EXCEL CELLS composed (x29b, round 19 — [MS-XLS] BIFF8
    // over the m31 container, the 1990s sibling of x26's XLSX): per
    // doc, a Workbook stream whose GLOBALS substream carries the SST
    // (one varying string, one constant) and TWO BoundSheet8 records,
    // each sheet substream carrying the cell kinds — LabelSst through
    // the SST, an RK integer (varying), a constant Number double, so
    // a reader that skips the string table or only finds one sheet
    // loses data the dedup groups prove. ENCRYPTED workbooks
    // (doc_id % 5: FilePass record) refuse honestly; torn docs
    // (doc_id % 7) quarantine by absence. Keep-first per content.
    "x29b_xls_cells" -> { (s, d) =>
      import graft.functions.GraftFunctions.{le_hex, xls_cells}
      val id = col("doc_id")
      def le32c(v: Long): String =
        f"${v & 255}%02X${(v >> 8) & 255}%02X${(v >> 16) & 255}%02X${(v >> 24) & 255}%02X"
      def hexOf(str: String): String =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      val m = pmod(id, lit(13))
      val d1 = (m / 10).cast("int")
      val d2 = pmod(m, lit(10))
      def le16c(v: Int): String = f"${v & 255}%02X${(v >> 8) & 255}%02X"
      def bofHex(dt: Int) = "09081000" + "0006" + le16c(dt) + "00" * 12
      // globals (no FilePass): BOF(20) + 2xBS8(17 each) + SST(36) + EOF(4)
      // = 94; sheet1 = 84; sheet2 = 38; lbPlyPos are plan-time constants
      def bs8Hex(name: String, pos: Int) =
        "8500" + le16c(8 + name.length) + le32c(pos.toLong) + "0000" +
          f"${name.length}%02X" + "00" + hexOf(name)
      val sstHex = concat(
        lit("FC00" + "2000" + le32c(2) + le32c(2) + "0700" + "00" + hexOf("name ")),
        format_string("3%d3%d", d1, d2),
        lit("0B00" + "00" + hexOf("qty & spare")))
      val filePassHex = when(id % 5 === 0,
        lit("2F00" + "0600" + "0100" + "00000000")).otherwise(lit(""))
      val globalsHex = concat(lit(bofHex(0x0005)), filePassHex,
        lit(bs8Hex("Sales", 94) + bs8Hex("Notes", 178)), sstHex,
        lit("0A000000"))
      val rk1 = (m * 9 + 3).cast("long") * 4 + 2 // RK int encoding
      val rk2 = (m * 5 + 1).cast("long") * 4 + 2
      val sheet1Hex = concat(lit(bofHex(0x0010) +
        "FD000A00" + "0000" + "0000" + "0F00" + le32c(0)), // A1 = sst[0]
        lit("7E020A00" + "0000" + "0100" + "0F00"), le_hex(rk1, 4), // B1 RK
        lit("03020E00" + "0100" + "0000" + "0F00" + "0000000000000440"), // A2 = 2.5
        lit("FD000A00" + "0100" + "0100" + "0F00" + le32c(1)), // B2 = sst[1]
        lit("0A000000"))
      val sheet2Hex = concat(lit(bofHex(0x0010) +
        "7E020A00" + "0000" + "0000" + "0F00"), le_hex(rk2, 4),
        lit("0A000000"))
      val staged = Tables.documents(s, d).select(id.as("doc_id"))
        .withColumn("wbHex", concat(globalsHex, sheet1Hex, sheet2Hex))
        .withColumn("cfbHex", cfbWrapHex(Seq(("Workbook", col("wbHex"), 216))))
        .withColumn("blob", unhex(when(col("doc_id") % 7 === 0,
          col("cfbHex").substr(lit(1), length(col("cfbHex")) - 8))
          .otherwise(col("cfbHex"))))
        .observe("x29b_construction", count(lit(1)).as("docs_built"))
        .withColumn("cells", xls_cells(col("blob")))
      staged
        .filter(col("cells").isNotNull)
        .select(col("doc_id"), size(col("cells")).as("n_cells"),
          array_join(transform(filter(col("cells"),
            c => c("sheet") === "Sales"), c => c("value")), " | ")
            .as("sales_text"),
          array_join(transform(filter(col("cells"),
            c => c("sheet") === "Notes"), c => c("value")), " | ")
            .as("notes_text"))
        .groupBy(col("n_cells"), col("sales_text"), col("notes_text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("n_cells"),
          col("sales_text"), col("notes_text"))
        .orderBy(col("doc_id"))
    },

    // OGG CONTAINER walk under the gate (m27, round 17 — the Opus/
    // Vorbis half of the lossless/compressed-audio line m25 opened):
    // per doc, construct a complete two-page OGG stream in column
    // arithmetic — BOS page carrying a real OpusHead (even ids) or
    // Vorbis identification header (odd ids), EOS page whose granule
    // states the total — with EVERY page's RFC 3533 CRC computed by
    // ogg_crc over the zero-checksum page bytes and spliced in
    // (exactly crc32's role in the gzip gates; the unreflected
    // 0x04C11DB7 CRC has no built-in). Torn docs (doc_id % 7 == 0)
    // flip a payload byte AFTER the checksum splice — the CRC gate is
    // what refuses them. The oracle restates every ID-header field.
    "m27_ogg_meta" -> { (s, d) =>
      import graft.functions.GraftFunctions.{ogg_crc, ogg_meta}
      val id = col("doc_id")
      def hexOf(str: String) =
        str.getBytes("ISO-8859-1").map("%02X".format(_)).mkString
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        v.bitwiseAND(lit(255)), shiftright(v, 8).bitwiseAND(lit(255)),
        shiftright(v, 16).bitwiseAND(lit(255)),
        shiftright(v, 24).bitwiseAND(lit(255)))
      def le64h(v: Column) = concat(le32h(v), le32h(shiftright(v, 32)))
      def withCrc(preHex: Column, postHex: Column): Column = {
        val zeroed = concat(preHex, lit("00000000"), postHex)
        concat(preHex, le32h(ogg_crc(unhex(zeroed))), postHex)
      }
      val opus = id % 2 === 0
      val ch = pmod(id, lit(3)) + 1
      val rate = (pmod(id, lit(6)) + 1) * 8000
      val total = id * 960 + 960
      val idHdr = when(opus, concat(
          lit(hexOf("OpusHead") + "01"), format_string("%02X", ch),
          lit("3801"), le32h(rate), lit("000000")))
        .otherwise(concat(
          lit("01" + hexOf("vorbis") + "00000000"), format_string("%02X", ch),
          le32h(rate), lit("00" * 12 + "6601")))
      val lacing1 = when(opus, lit("13")).otherwise(lit("1E")) // 19 / 30
      val p1 = withCrc(
        lit("4F676753" + "00" + "02" + "0000000000000000" +
          "07000000" + "00000000"),
        concat(lit("01"), lacing1, idHdr))
      val p2 = withCrc(
        concat(lit("4F676753" + "00" + "04"), le64h(total),
          lit("07000000" + "01000000")),
        lit("01" + "0A" + "09" * 10))
      // torn: corrupt the last payload byte AFTER the CRC was spliced
      val p2out = when(id % 7 === 0,
        concat(p2.substr(lit(1), length(p2) - 2), lit("EE"))).otherwise(p2)
      val m = ogg_meta(unhex(concat(p1, p2out)))
      Tables.documents(s, d)
        .select(id, m.as("m"))
        .filter(col("m").isNotNull)
        .select(id,
          col("m.codec").as("codec"), col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.pre_skip").as("pre_skip"),
          col("m.total_samples").as("total_samples"),
          col("m.n_pages").as("n_pages"))
        .orderBy(id)
    },

    // XZ INFLATION under the gate (m28, round 18 — the `.tar.xz` long
    // tail of dataset/software mirrors, the verdict's top format gap):
    // per doc, wrap a doc-derived payload in the check-none XZ stream
    // xzWrapHex assembles in column arithmetic (magic, real block
    // header CRC32, one LZMA2 uncompressed chunk, index varints,
    // footer), inflate with zunxz (the org.tukaani decoder Spark
    // itself ships), and emit the decoded text + its byte length.
    // Torn docs (doc_id % 9 == 0) bump the block-header CRC32 — the
    // decoder refuses whole and they quarantine by absence. The
    // oracle restates the payload arithmetically: an inversion check
    // on the whole stream assembly.
    "m28_xz_inflate" -> { (s, d) =>
      import graft.functions.GraftFunctions.zunxz
      val id = col("doc_id")
      val payload = format_string("mirror doc %07d lang %s via xz",
        pmod(id, lit(10000000L)), col("lang"))
      val z = zunxz(unhex(xzWrapHex(hex(payload),
        when(id % 9 === 0, lit(1L)).otherwise(lit(0L)))))
      Tables.documents(s, d)
        .select(id, decode(z, "UTF-8").as("text"))
        // observe blocks the isnotnull pushdown that would otherwise
        // clone the whole construct+inflate tree into the Filter (one
        // decode per row, not two; free torn-rate visibility)
        .observe("m28_inflate", count(lit(1)).as("docs_seen"))
        .filter(col("text").isNotNull)
        .select(id, col("text"), octet_length(col("text")).as("n_bytes"))
        .orderBy(id)
    },

    // BZIP2 INFLATION under the gate (m29, round 18 — the classic
    // `.tar.bz2` mirror era): per doc, the payload rides the engine's
    // deterministic bzip2 encoder seam (no stored mode exists in
    // bzip2, so column arithmetic cannot assemble a stream — the
    // two-sided CLI differential in Bzip2Spec carries encode/decode
    // independence), inflates through zunbz2, and the oracle restates
    // the payload arithmetically. Torn docs (doc_id % 9 == 0) flip
    // one byte deep in the ENCODED stream — the block CRC is what
    // refuses them, whole-blob.
    "m29_bzip2_inflate" -> { (s, d) =>
      import graft.functions.GraftFunctions.{bzip2_deflate, le_hex, zunbz2}
      val id = col("doc_id")
      val payload = format_string("mirror doc %07d lang %s via bz2",
        pmod(id, lit(10000000L)), col("lang"))
      Tables.documents(s, d)
        .select(id, hex(bzip2_deflate(payload.cast("binary"))).as("zh"))
        // stage + observe: the encoder is per-row expensive and the
        // flip references zh three times (m28's pushdown lesson)
        .observe("m29_encode", count(lit(1)).as("docs_encoded"))
        .withColumn("blob", unhex(when(id % 9 === 0,
          concat(substring(col("zh"), 1, 40),
            le_hex(conv(substring(col("zh"), 41, 2), 16, 10).cast("int")
              .bitwiseXOR(lit(16)), 1),
            substring(col("zh"), 43, 1 << 30)))
          .otherwise(col("zh"))))
        .select(id, decode(zunbz2(col("blob")), "UTF-8").as("text"))
        .observe("m29_inflate", count(lit(1)).as("docs_seen"))
        .filter(col("text").isNotNull)
        .select(id, col("text"), octet_length(col("text")).as("n_bytes"))
        .orderBy(id)
    },

    // LZ4 FRAME INFLATION under the gate (m30, round 18 — the
    // speed-first mirror/log-shipper format): the frame spec HAS
    // uncompressed blocks, so the whole frame assembles in column
    // arithmetic like the zstd stored frames — magic, FLG 0x60 /
    // BD 0x40, the descriptor HC byte (xxh32 of the two, a PLAN-TIME
    // constant), one raw block (LE32 size with the high bit set),
    // EndMark — and inflates through zunlz4 (lz4-java, Spark's own
    // shuffle codec library). Torn docs (doc_id % 9 == 0) flip the HC
    // byte — the header checksum refuses whole. Oracle restates the
    // payload: an inversion check on the frame assembly.
    "m30_lz4_inflate" -> { (s, d) =>
      import graft.functions.GraftFunctions.{le_hex, zunlz4}
      val id = col("doc_id")
      val payload = format_string("mirror doc %07d lang %s via lz4",
        pmod(id, lit(10000000L)), col("lang"))
      val hc = (net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
        .hash(Array[Byte](0x60, 0x40), 0, 2, 0) >> 8) & 0xFF
      val hcHex = f"$hc%02X"
      val hcTornHex = f"${hc ^ 0x01}%02X"
      val ph = hex(payload)
      val frameHex = concat(
        lit("04224D18" + "6040"),
        when(id % 9 === 0, lit(hcTornHex)).otherwise(lit(hcHex)),
        le_hex(lit(2147483648L) + (length(ph) / 2).cast("long"), 4),
        ph, lit("00000000"))
      Tables.documents(s, d)
        .select(id, decode(zunlz4(unhex(frameHex)), "UTF-8").as("text"))
        .observe("m30_inflate", count(lit(1)).as("docs_seen"))
        .filter(col("text").isNotNull)
        .select(id, col("text"), octet_length(col("text")).as("n_bytes"))
        .orderBy(id)
    },

    // CROSS-CONTAINER AUDIO DEDUP composed (x23, round 17 — the reason
    // m25 surfaces the STREAMINFO md5): a recording mirrored as WAV by
    // one source and FLAC by another is the SAME audio, and RFC 9639's
    // md5-of-unencoded-PCM is the collision key. Per doc, the carrier
    // alternates by parity: even ids build a mono 16 kHz WAV and the
    // engine keys it by md5 over the data chunk's PCM BYTES (an honest
    // read off the container); odd ids build a FLAC whose STREAMINFO
    // md5 is computed in-query over the SAME class-derived PCM (what a
    // real encoder writes, per the spec) and the engine keys it by
    // READING that field back through flac_streaminfo. Same class =
    // same key regardless of container -> keep-first groups carry BOTH
    // carrier kinds (n_wav/n_flac prove the cross-container collision
    // under the hash). Torn docs (doc_id % 7 == 0: WAV declared-size
    // lie / FLAC missing first-frame sync) quarantine by absence.
    "x23_cross_container_audio" -> { (s, d) =>
      import graft.functions.GraftFunctions.{audio_pcm_stats, flac_streaminfo}
      val id = col("doc_id")
      val m = pmod(id, lit(9))
      def le16h(v: Column) =
        format_string("%02X%02X", v % 256, (v / 256).cast("int"))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        v % 256, (v / 256).cast("int") % 256,
        (v / 65536).cast("int") % 256, (v / 16777216).cast("int") % 256)
      val n = (pmod(m, lit(5)) + 8).cast("int")
      // class-derived PCM — identical for both carriers of a class
      val pcmHex = array_join(transform(sequence(lit(0), n - 1), k => {
        val sv = pmod(m * 31 + k * 17, lit(2048)) - 1024
        val u = pmod(sv, lit(65536)).cast("int")
        format_string("%02X%02X", u % 256, (u / 256).cast("int"))
      }), "")
      val pcmMd5 = md5(unhex(pcmHex)) // what a FLAC encoder would write
      val dataSize = n * 2
      val declared = when(id % 7 === 0, dataSize + 4).otherwise(dataSize)
      val wav = concat(
        lit("RIFF").cast("binary"), unhex(le32h(lit(36) + dataSize)),
        lit("WAVEfmt ").cast("binary"),
        unhex(concat(lit("100000000100"),
          le16h(lit(1)), le32h(lit(16000)), le32h(lit(32000)),
          le16h(lit(2)), le16h(lit(16)))),
        lit("data").cast("binary"), unhex(le32h(declared)), unhex(pcmHex))
      // FLAC: fLaC | last-flagged STREAMINFO(34) | 4096/4096 blocksizes |
      // unknown framesizes | rate 16000 / ch 1 / bps 16 / total n packed |
      // the PCM md5 | first-frame sync
      val flacHex = concat(
        lit("664c614380000022" + "10001000" + "000000000000" +
          "03e800f0" + "000000"),
        format_string("%02x", n),
        pcmMd5,
        lit("fff86910"))
      val flacT = when(id % 7 === 0,
        flacHex.substr(lit(1), length(flacHex) - 8)).otherwise(flacHex)
      val isWav = id % 2 === 0
      val f = flac_streaminfo(unhex(flacT))
      val p = audio_pcm_stats(wav)
      // the key is READ from each carrier: the WAV's PCM bytes hashed,
      // the FLAC's STREAMINFO md5 field
      val fp = when(isWav, md5(wav.substr(lit(45), dataSize)))
        .otherwise(f.getField("md5"))
      val samples = when(isWav, p.getField("n_samples"))
        .otherwise(f.getField("total_samples"))
      Tables.documents(s, d)
        .select(id, isWav.as("is_wav"), fp.as("fp"), samples.as("n_samples"),
          when(isWav, p.isNotNull).otherwise(f.isNotNull).as("ok"))
        .filter(col("ok")) // torn carriers quarantine by absence
        .groupBy(col("fp"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"),
          sum(col("is_wav").cast("long")).as("n_wav"),
          sum((!col("is_wav")).cast("long")).as("n_flac"),
          min_by(col("n_samples"), id).as("n_samples"))
        .select(col("doc_id"), col("n_dups"), col("n_wav"), col("n_flac"),
          col("n_samples"))
        .orderBy(col("doc_id"))
    },

    // ZIP CONTAINER walk under the gate — the archive family documents
    // travel in (docx/xlsx/epub are ZIP): per document, construct a
    // complete two-entry STORED archive in column arithmetic — real
    // local headers, central directory, and EOCD with exact-cover
    // size/offset bookkeeping — and LIST it with zip_entries (routing
    // reads the central directory only; entry data is never touched, so
    // a 10 GB member costs nothing to route past). The walk's exact-
    // cover contracts (directory abuts EOCD, local headers exist at
    // their offsets with matching names) are what the arithmetic
    // construction exercises; extraction incl. deflate + CRC verify is
    // pinned by ZipSpec's JDK differential on real archives. Torn docs
    // (doc_id % 7 == 0) quarantine whole.
    "m16_zip_entries" -> { (s, d) =>
      import graft.functions.GraftFunctions.zip_entries
      val id = col("doc_id")
      def le16h(v: Column) = format_string("%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)),
        pmod((v / 65536).cast("int"), lit(256)),
        pmod((v / 16777216).cast("int"), lit(256)))
      val body1 = concat(lit("alpha "), id.cast("string"))
      val body2 = concat(lit("beta "), col("lang"), lit(" "), (id % 7).cast("string"))
      val l1 = length(body1).cast("int"); val l2 = length(body2).cast("int")
      def local(nameHex: String, nlen: Int, body: Column, blen: Column) = concat(
        lit("504B0304" + "1400" + "0000" + "0000" + "0000" + "0000" + "00000000"),
        le32h(blen), le32h(blen), le16h(lit(nlen)), lit("0000"),
        lit(nameHex), hex(body))
      def central(nameHex: String, nlen: Int, blen: Column, off: Column) = concat(
        lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" + "0000" + "00000000"),
        le32h(blen), le32h(blen), le16h(lit(nlen)),
        lit("0000" + "0000" + "0000" + "0000" + "00000000"),
        le32h(off), lit(nameHex))
      val n1hex = "612E747874"             // "a.txt"
      val n2hex = "6E6F7465732F622E747874" // "notes/b.txt"
      val off2 = lit(30 + 5) + l1
      val cdOff = off2 + lit(30 + 11) + l2
      val zipHex = concat(
        local(n1hex, 5, body1, l1),
        local(n2hex, 11, body2, l2),
        central(n1hex, 5, l1, lit(0)),
        central(n2hex, 11, l2, off2),
        lit("504B0506" + "0000" + "0000"), le16h(lit(2)), le16h(lit(2)),
        le32h(lit(46 + 5 + 46 + 11)), le32h(cdOff), lit("0000"))
      val blob = when(id % 7 === 0,
        zipHex.substr(lit(1), length(zipHex) - 6)).otherwise(zipHex)
      Tables.documents(s, d)
        .select(id, posexplode(zip_entries(unhex(blob))).as(Seq("idx", "e")))
        .select(id, col("idx").cast("int").as("idx"),
          col("e.name").as("name"), col("e.method").as("method"),
          col("e.csize").as("csize"), col("e.usize").as("usize"))
        .orderBy(id, col("idx"))
    },

    // ZIP64 under the gate (round 16 — any archive >4 GiB is ZIP64, the
    // 100 TB norm; m16's scope line removed): per doc, construct a
    // single-entry STORED archive in the FULL ZIP64 spelling — the
    // central directory escapes csize/usize/offset to 0xFFFFFFFF and
    // carries the real values in the 0x0001 extra field, the EOCD
    // escapes its counts/size/offset, and the ZIP64 EOCD record +
    // locator route the walk — all in column arithmetic (CRC-32 from
    // the built-in). The CRC-verified extraction rides the same hash
    // (payload column). Torn docs (doc_id % 7 == 0) declare TWO disks
    // in the locator — the multi-disk refusal arm. The JDK differential
    // on a real >65535-entry ZIP64 archive lives in ZipSpec.
    "m16b_zip64_entries" -> { (s, d) =>
      import graft.functions.GraftFunctions.{zip_entries, zip_extract}
      val id = col("doc_id")
      def le16h(v: Column) = format_string("%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)))
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("long"), lit(256)),
        pmod((v / 65536).cast("long"), lit(256)),
        pmod((v / 16777216).cast("long"), lit(256)))
      def le64h(v: Column) = concat(le32h(v), lit("00000000"))
      val body = concat(lit("payload "), id.cast("string"))
      val blen = octet_length(body).cast("long")
      val crc = crc32(body.cast("binary"))
      val nameHex = "6269672E62696E" // "big.bin"
      val local = concat(
        lit("504B0304" + "2D00" + "0000" + "0000" + "0000" + "0000"),
        le32h(crc), le32h(blen), le32h(blen),
        lit("0700" + "0000" + nameHex), hex(body))
      val cdOff = blen + 37 // 30 header + 7 name + body
      val extra = concat(lit("0100" + "1800"),
        le64h(blen), le64h(blen), le64h(lit(0L)))
      val central = concat(
        lit("504B0102" + "2D00" + "2D00" + "0000" + "0000" + "0000" + "0000"),
        le32h(crc), lit("FFFFFFFF" + "FFFFFFFF"),
        lit("0700" + "1C00" + "0000" + "0000" + "0000" + "00000000"),
        lit("FFFFFFFF" + nameHex), extra)
      val cdSize = 46L + 7 + 28
      val z64Off = cdOff + cdSize
      val z64 = concat(
        lit("504B0606"), le64h(lit(44L)), lit("2D00" + "2D00"),
        lit("00000000" + "00000000"),
        le64h(lit(1L)), le64h(lit(1L)), le64h(lit(cdSize)), le64h(cdOff))
      val disks = when(id % 7 === 0, lit(2L)).otherwise(lit(1L))
      val locator = concat(
        lit("504B0607" + "00000000"), le64h(z64Off), le32h(disks))
      val eocd = lit("504B0506" + "0000" + "0000" + "FFFF" + "FFFF" +
        "FFFFFFFF" + "FFFFFFFF" + "0000")
      val blob = unhex(concat(local, central, z64, locator, eocd))
      Tables.documents(s, d)
        .select(id, posexplode(zip_entries(blob)).as(Seq("idx", "e")),
          zip_extract(blob, lit("big.bin")).cast("string").as("payload"))
        .select(id, col("idx").cast("int").as("idx"),
          col("e.name").as("name"), col("e.method").as("method"),
          col("e.csize").as("csize"), col("e.usize").as("usize"),
          col("payload"))
        .orderBy(id)
    },

    // CHARSET sniff + strict decode under the gate — the step between a
    // crawl record's payload bytes and every text operator: per document,
    // construct the SAME ascii source string under five wire encodings
    // (UTF-16LE with an astral surrogate pair, UTF-8 with BOM + é,
    // bare UTF-8 with an em dash / pure ASCII, windows-1252 curly
    // quotes, UTF-16BE) in column arithmetic, then detect + decode.
    // The oracle states both the detected LABEL and the decoded STRING
    // from the construction arithmetic (chr() of the exact code points
    // the bytes spell), so the BOM ladder, the strict RFC 3629 scan,
    // surrogate-pair recombination, and the WHATWG CP1252 index are all
    // under one hash. Torn docs (doc_id % 7 == 0) carry a UTF-16LE BOM
    // over an odd-length body: detection still reports the claim,
    // decode refuses NULL — the claim/quarantine split pinned.
    "m17_charset_decode" -> { (s, d) =>
      import graft.functions.GraftFunctions.{charset_decode, charset_detect}
      val id = col("doc_id")
      val src = concat(lit("doc "), id.cast("string"), lit(" "), col("lang"))
      // codegen'd: hex() of a string column IS the ASCII-hex of its bytes
      def asciiHex(c: Column) = hex(c)
      // ASCII -> UTF-16LE bytes: interleave 00 after each byte pair
      def utf16leHex(c: Column) = regexp_replace(hex(c), "(..)", "$100")
      def utf16beHex(c: Column) = regexp_replace(hex(c), "(..)", "00$1")
      val arm = pmod(id, lit(5))
      val hexCol = when(id % 7 === 0,
          concat(lit("FFFE"), utf16leHex(src), lit("41")))          // odd body: torn
        .when(arm === 0, concat(lit("FFFE"), utf16leHex(src), lit("3DD800DE"))) // + U+1F600
        .when(arm === 1, concat(lit("EFBBBF"), asciiHex(src), lit("C3A9")))     // + é
        .when(arm === 2, when(id % 2 === 0,
            concat(asciiHex(src), lit("E28094"))).otherwise(asciiHex(src)))     // + — / pure
        .when(arm === 3, concat(asciiHex(src), lit("93E994")))                  // + “é”
        .otherwise(concat(lit("FEFF"), utf16beHex(src)))
      Tables.documents(s, d)
        .select(id,
          charset_detect(unhex(hexCol)).as("charset"),
          charset_decode(unhex(hexCol)).as("text"))
        .orderBy(id)
    },

    // HTML META-PRESCAN decode under the gate (the WHATWG step between
    // m17's BOM sniff and its content heuristic): per document,
    // construct an HTML page whose <meta> DECLARATION and whose BYTES
    // disagree in controlled ways — valid-UTF-8 bytes declared
    // windows-1252 (the declaration must WIN: Ã© not é), the http-equiv
    // content-type spelling, a commented-out meta (must NOT win), and
    // no meta at all (the content ladder decides). Overlays: a UTF-8
    // BOM outranks a contradicting meta (doc_id % 13), and a meta that
    // LIES about utf-8 over invalid bytes quarantines NULL
    // (doc_id % 11 — the m17 BOM-lie posture applied to declarations).
    // The oracle states every decoded string by inversion (chr() of the
    // exact code points each path produces), so declaration precedence,
    // comment skipping, and the lie arm all sit under one hash.
    "m20_meta_charset" -> { (s, d) =>
      import graft.functions.GraftFunctions.charset_decode_html
      val id = col("doc_id")
      // codegen'd: hex() of a string column IS the ASCII-hex of its bytes
      def asciiHex(c: Column) = hex(c)
      val arm = pmod(id, lit(4))
      val meta = when(arm === 0, lit("<meta charset=\"windows-1252\">"))
        .when(arm === 1,
          lit("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=utf-8\">"))
        .when(arm === 2, lit("<!--<meta charset=\"windows-1252\">-->"))
        .otherwise(lit(""))
      val post = lit("</body></html>")
      def page(m: Column, tailHex: String) =
        concat(asciiHex(concat(lit("<html><head>"), m,
            lit("</head><body>page "), col("lang"), lit(" "),
            pmod(id, lit(10)).cast("string"), lit(" "))),
          lit(tailHex), asciiHex(post))
      val hexCol = when(id % 11 === 0,
          page(lit("<meta charset=\"utf-8\">"), "93"))            // lying declaration
        .when(id % 13 === 0,
          concat(lit("EFBBBF"), page(lit("<meta charset=\"windows-1252\">"), "C3A9")))
        .when(arm === 0, page(meta, "C3A9"))   // declared cp1252 over utf-8 bytes
        .when(arm === 1, page(meta, "C3A9"))   // declared utf-8, valid
        .when(arm === 2, page(meta, "C3A9"))   // commented meta: ladder utf-8
        .otherwise(page(meta, "93"))           // no meta: ladder cp1252
      Tables.documents(s, d)
        .select(id, charset_decode_html(unhex(hexCol)).as("text"))
        .orderBy(id)
    },

    // TAR (ustar) walk under the gate — the corpus-mirror distribution
    // format (.tar.gz = gunzip -> this): per document, construct a
    // complete two-entry POSIX ustar archive in column arithmetic —
    // real 512-byte headers with the octal size field and the byte-sum
    // CHECKSUM computed arithmetically (the constant template sum is a
    // Scala constant; the variable size digits enter both the field
    // and the checksum as column math), entry 2 exercising the POSIX
    // prefix join — then list it with tar_entries and extract entry 2.
    // Torn docs (doc_id % 7 == 0) lose their final byte: no longer a
    // 512-multiple, whole-blob NULL, zero rows. Listing walks headers
    // only; extraction is a bounds-checked copy (integrity in the
    // .tar.gz composition comes from the gzip CRC, pinned by TarSpec).
    "m18_tar_entries" -> { (s, d) =>
      import graft.functions.GraftFunctions.{tar_entries, tar_extract}
      val id = col("doc_id")
      def hexOf(str: String) = str.getBytes("UTF-8").map("%02X".format(_)).mkString
      def zeros(n: Int) = "00" * n
      def constSum(name: String, prefix: String): Int =
        name.getBytes("UTF-8").map(_ & 0xFF).sum +
          "0000644".getBytes.map(_ & 0xFF).sum +
          2 * "0000000".getBytes.map(_ & 0xFF).sum +
          9 * '0' + 11 * '0' + 8 * ' ' + '0' +
          "ustar".getBytes.map(_ & 0xFF).sum + 2 * '0' +
          prefix.getBytes("UTF-8").map(_ & 0xFF).sum
      // 512-byte header as hex: fixed template + variable size digits +
      // checksum (6 octal digit chars, each 0x30+digit)
      def header(name: String, prefix: String, l: Column): Column = {
        val d1 = (l / 8).cast("int"); val d0 = pmod(l, lit(8)).cast("int")
        val chk = lit(constSum(name, prefix) + 96) + d1 + d0
        val chkHex = concat((5 to 0 by -1).map { i =>
          format_string("3%d", pmod((chk / math.pow(8, i).toInt).cast("int"), lit(8)))
        }: _*)
        concat(
          lit(hexOf(name) + zeros(100 - name.length) +
            hexOf("0000644") + "00" + hexOf("0000000") + "00" + hexOf("0000000") + "00" +
            hexOf("000000000")),
          format_string("3%d3%d00", d1, d0),
          lit(hexOf("00000000000") + "00"),
          chkHex, lit("0020"),
          lit("30" + zeros(100) + hexOf("ustar") + "00" + "3030" +
            zeros(32 + 32 + 8 + 8) +
            hexOf(prefix) + zeros(155 - prefix.length) + zeros(12)))
      }
      // codegen'd: hex() of a string column IS the ASCII-hex of its bytes
      def asciiHex(c: Column) = hex(c)
      // pad-to-block as a SLICE of a constant zero run (no per-row array)
      val zeroRun = lit(zeros(512))
      def padTo512(l: Column) = zeroRun.substr(lit(1), (lit(512) - l) * 2)
      val body1 = format_string("alpha %07d", id) // constant length 13
      val body2 = concat(lit("beta "), col("lang"), lit(" "), (id % 7).cast("string"))
      val l2 = length(body2).cast("bigint")
      val tarHex = concat(
        header("a.txt", "", lit(13L)), asciiHex(body1), padTo512(lit(13L)),
        header("b.txt", "docs", l2), asciiHex(body2), padTo512(l2),
        lit(zeros(1024)))
      val blob = when(id % 7 === 0,
        tarHex.substr(lit(1), length(tarHex) - 2)).otherwise(tarHex)
      Tables.documents(s, d)
        .select(id,
          posexplode(tar_entries(unhex(blob))).as(Seq("idx", "e")),
          decode(tar_extract(unhex(blob), lit("docs/b.txt")), "UTF-8").as("body_b"))
        .select(id, col("idx").cast("int").as("idx"),
          col("e.name").as("name"), col("e.typeflag").as("typeflag"),
          col("e.size").as("size"), col("e.offset").as("offset"),
          col("body_b"))
        .orderBy(id, col("idx"))
    },

    "m8_bmp_pixels" -> { (s, d) =>
      import graft.functions.GraftFunctions.bmp_pixel_stats
      val w = (col("doc_id") % 4 + 1).cast("int")
      val h = (col("doc_id") % 3 + 1).cast("int")
      val pad = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4))
      val stride = w * 3 + pad
      val n = stride * h
      def rowOf(i: Column) = floor(i.cast("double") / stride.cast("double")).cast("int")
      def posOf(i: Column) = pmod(i, stride)
      def byteVal(i: Column): Column =
        when(posOf(i) >= w * 3, lit(0)).otherwise(
          pmod(col("doc_id") + (posOf(i) / 3).cast("int") * 3 + rowOf(i) * 7 +
            pmod(posOf(i), lit(3)) * 11, lit(256))).cast("int")
      val rawHex = array_join(
        transform(sequence(lit(0), n - 1), i => format_string("%02X", byteVal(i))), "")
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)),
        pmod((v / 65536).cast("int"), lit(256)),
        pmod((v / 16777216).cast("int"), lit(256)))
      val bmpHex = concat(
        lit("424D"), le32h(n + 54), lit("00000000"), le32h(lit(54)),
        lit("28000000"), le32h(w), le32h(h), lit("0100"), lit("1800"),
        lit("00000000"), le32h(n), lit("130B0000130B0000"),
        lit("0000000000000000"))
      val fullHex = concat(bmpHex, rawHex)
      val hex = when(col("doc_id") % 7 === 0,
        substring(fullHex, lit(1), length(fullHex) - 2)).otherwise(fullHex)
      Tables.documents(s, d)
        .select(col("doc_id"), bmp_pixel_stats(unhex(hex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"),
          col("p.sum_b").as("sum_b"), col("p.sum_g").as("sum_g"),
          col("p.sum_r").as("sum_r"),
          col("p.pixel_min").as("pixel_min"), col("p.pixel_max").as("pixel_max"))
        .orderBy(col("doc_id"))
    },

    // GIF PIXEL decode under the driver gate — the third payload-level
    // decoder (m5 audio, m6 PNG): per document, CONSTRUCT a complete
    // valid GIF89a whose LZW stream is assembled IN COLUMN ARITHMETIC —
    // 9-bit codes (Clear, the palette-index literals, End-Of-Information)
    // packed LSB-first by computing each output byte from the at-most-two
    // codes that straddle it (9-bit codes never span three bytes) — and
    // DECODE it with the full native LZW dictionary decoder
    // (gif_pixel_stats). Docs with doc_id % 8 == 0 declare a sub-block
    // length that overruns the buffer — the torn blob — and must
    // quarantine to NULL. The oracle states the expected index stats
    // arithmetically over the same pixel formula: an inversion check on
    // the decoder, not a restatement.
    "m7_gif_pixels" -> { (s, d) =>
      import graft.functions.GraftFunctions.gif_pixel_stats
      val w = (col("doc_id") % 12 + 1).cast("int")
      val h = (col("doc_id") % 6 + 1).cast("int")
      val n = w * h
      val m = n + 2 // Clear + literals + EOI
      val codesExpr = concat(
        array(lit(256)),
        transform(sequence(lit(0), n - 1),
          k => pmod(col("doc_id") * 13 + k * 5, lit(256)).cast("int")),
        array(lit(257)))
      val nbytes = floor((m * 9 + 7).cast("double") / 8.0).cast("int")
      // codes materializes in its OWN projection: the byte lambda below
      // reads it per element, and a lambda capture of the raw expression
      // would re-evaluate the whole array per byte (interpreted HOFs do
      // no CSE) — quadratic per row. CollapseProject keeps a non-cheap
      // multi-referenced projection un-inlined (the t35/CdcChunks note).
      val codes = col("codes")
      val lzwHex = array_join(transform(sequence(lit(0), col("nbytes") - 1), j => {
        val i0 = floor((j * 8).cast("double") / 9.0).cast("int")
        val sh = j * 8 - i0 * 9 // 0..8: low bits consumed from code i0
        val c0 = element_at(codes, i0 + 1)
        val c1 = when(i0 + 2 <= col("m"), element_at(codes, i0 + 2)).otherwise(lit(0))
        val lo = floor(c0.cast("double") / pow(lit(2.0), sh)).cast("int")
        val hi = (c1.cast("double") * pow(lit(2.0), lit(9) - sh)).cast("int")
        format_string("%02X", pmod(lo + hi, lit(256))) // disjoint bits: + is |
      }), "")
      // torn blob: declared sub-block size overruns the remaining bytes
      val declared = when(col("doc_id") % 8 === 0, col("nbytes") + 3)
        .otherwise(col("nbytes"))
      def le16h(v: Column) =
        format_string("%02X%02X", pmod(v, lit(256)), (v / 256).cast("int"))
      val gifHex = concat(
        lit("474946383961"), // "GIF89a"
        le16h(col("w")), le16h(col("h")), lit("000000"), // LSD: no GCT
        lit("2C00000000"), // image descriptor, left/top 0
        le16h(col("w")), le16h(col("h")), lit("00"), // no LCT, no interlace
        lit("08"), // LZW min code size
        format_string("%02X", declared), lzwHex,
        lit("00"), // sub-block terminator
        lit("3B")) // trailer
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"), h.as("h"), m.as("m"),
          codesExpr.as("codes"), nbytes.as("nbytes"))
        .select(col("doc_id"), gif_pixel_stats(unhex(gifHex)).as("p"))
        .select(col("doc_id"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.n_pixels").as("n_pixels"), col("p.idx_sum").as("idx_sum"),
          col("p.idx_min").as("idx_min"), col("p.idx_max").as("idx_max"))
        .orderBy(col("doc_id"))
    },

    // video_meta under the driver gate, same inversion pattern as m1/m2:
    // per document, CONSTRUCT a minimal-but-spec-shaped MP4 (ftyp + moov
    // with mvhd timescale/duration and one trak whose tkhd carries 16.16
    // fixed-point width x height, all BE32 per ISO 14496-12) and an AVI
    // (RIFF/LIST-hdrl/avih with LE32 fields), parse both back natively,
    // and emit the decoded metadata. The oracle restates the EXPECTED
    // values arithmetically — duration_ms through the same integer
    // division the spec implies (units * 1000 / timescale for MP4,
    // frames * usPerFrame / 1000 for AVI).
    // magic-byte triage over one blob per container family (doc_id % 21
    // picks the format; 7 is plain text) — the inversion oracle states
    // the expected routing directly
    "m4_media_format" -> { (s, d) =>
      import graft.operators.Multimodal.media_format
      val k = (col("doc_id") % 21).cast("int")
      val blob = when(k === 0, lit(Array[Byte](0x89.toByte, 'P'.toByte, 'N'.toByte,
          'G'.toByte, 0x0d, 0x0a, 0x1a, 0x0a)))
        .when(k === 1, lit("GIF89a").cast("binary"))
        .when(k === 2, lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)))
        .when(k === 3, concat(lit("RIFF").cast("binary"),
          lit(Array[Byte](16, 0, 0, 0)), lit("WAVEfmt ").cast("binary")))
        .when(k === 4, concat(lit("RIFF").cast("binary"),
          lit(Array[Byte](16, 0, 0, 0)), lit("AVI LIST").cast("binary")))
        .when(k === 5, concat(lit(Array[Byte](0, 0, 0, 24)),
          lit("ftypisom").cast("binary")))
        .when(k === 6, concat(lit("ID3").cast("binary"), lit(Array[Byte](3, 0))))
        // round 17: the archive/document families the engine now walks
        .when(k === 8, lit(Array[Byte](0x1F.toByte, 0x8B.toByte, 0x08.toByte, 0x00.toByte)))
        .when(k === 9, lit(Array[Byte](0x28.toByte, 0xB5.toByte, 0x2F.toByte, 0xFD.toByte)))
        .when(k === 10, concat(lit("PK").cast("binary"), lit(Array[Byte](3, 4, 20, 0))))
        .when(k === 11, lit("%PDF-1.4\n%junk").cast("binary"))
        .when(k === 12, lit("fLaC").cast("binary"))
        .when(k === 13, lit("WARC/1.0\r\nWARC-Type: response").cast("binary"))
        .when(k === 14, concat(unhex(lit("00" * 257)), lit("ustar").cast("binary")))
        // round 18: xz, ogg, bzip2, lz4
        .when(k === 15, unhex(lit("FD377A585A00")))
        .when(k === 16, lit("OggS").cast("binary"))
        .when(k === 17, lit("BZh91AY&SY").cast("binary"))
        .when(k === 18, unhex(lit("04224D186040")))
        // recognized-but-refused names: rar (v5 marker) and 7z
        .when(k === 19, unhex(lit("526172211A070100")))
        .when(k === 20, unhex(lit("377ABCAF271C")))
        .otherwise(lit("plain text bytes").cast("binary"))
      Tables.documents(s, d)
        .select(col("doc_id"), media_format(blob).as("fmt"))
        .orderBy(col("doc_id"))
    },

    "m3_video_meta" -> { (s, d) =>
      import graft.functions.GraftFunctions.video_meta
      val ts = element_at(array(lit(600), lit(1000), lit(90000), lit(24000)),
        (col("doc_id") % 4 + 1).cast("int"))
      val dur = (col("doc_id") % 100000 + 1000).cast("int")
      val w = (col("doc_id") % 1920 + 16).cast("int")
      val h = (col("doc_id") % 1080 + 16).cast("int")
      def be32h(v: Column) = format_string("%08X", v)
      val mp4 = unhex(concat(
        lit("000000106674797069736F6D00000000"), // ftyp(16): isom, minor 0
        lit("000000886D6F6F76"),                 // moov(136)
        lit("0000001C6D766864000000000000000000000000"), // mvhd(28) v0 +creation+mod
        be32h(ts), be32h(dur),
        lit("000000647472616B"),                 // trak(100)
        lit("0000005C746B68640000000000000000000000000000000100000000"),
        be32h(dur),                              // tkhd(92) v0: track duration
        lit("0000000000000000" + "00000000" + "00000000" + // reserved, layer/alt, volume
          "000100000000000000000000000000000001000000000000000000000000000040000000"), // identity matrix
        format_string("%04X0000", w), format_string("%04X0000", h)))
      val mspf = element_at(array(lit(33333), lit(40000), lit(16667), lit(41708)),
        (col("doc_id") % 4 + 1).cast("int"))
      val frames = (col("doc_id") % 5000 + 1).cast("int")
      val streams = (col("doc_id") % 3 + 1).cast("int")
      val w2 = (col("doc_id") % 1280 + 32).cast("int")
      val h2 = (col("doc_id") % 720 + 32).cast("int")
      def le32h(v: Column) = format_string("%02X%02X%02X%02X",
        v % 256, (v / 256).cast("int") % 256,
        (v / 65536).cast("int") % 256, (v / 16777216).cast("int") % 256)
      val avi = unhex(concat(
        lit("52494646"), le32h(lit(80)), lit("41564920"), // RIFF(80) "AVI "
        lit("4C495354"), le32h(lit(68)), lit("6864726C"), // LIST(68) hdrl
        lit("61766968"), le32h(lit(56)),                  // avih(56)
        le32h(mspf), le32h(lit(0)), le32h(lit(0)), le32h(lit(0)),
        le32h(frames), le32h(lit(0)), le32h(streams), le32h(lit(0)),
        le32h(w2), le32h(h2),
        lit("00000000000000000000000000000000"))) // 4 reserved LE32s
      Tables.documents(s, d)
        .select(col("doc_id"), video_meta(mp4).as("v"), video_meta(avi).as("a"))
        .select(col("doc_id"),
          col("v.format").as("mp4_format"), col("v.width").as("mp4_w"),
          col("v.height").as("mp4_h"), col("v.duration_ms").as("mp4_dur_ms"),
          col("v.tracks").as("mp4_tracks"),
          col("a.format").as("avi_format"), col("a.width").as("avi_w"),
          col("a.height").as("avi_h"), col("a.duration_ms").as("avi_dur_ms"),
          col("a.tracks").as("avi_tracks"))
        .orderBy(col("doc_id"))
    },

    // The full real-schema GeoParquet path under the driver gate: read
    // the committed golden fixture (footer-validated, WKB geometry),
    // ingest through the canonical path (keep-first dedup on
    // (id, metadata_text) ordered by name, DDL validation at dim 8),
    // and run the notebook's canonical search — Feature Layer filter,
    // point-in-polygon at Sanford FL, cosine top-5. The oracle reads the
    // SAME parquet bytes in DuckDB and decodes the WKB ring arithmetically
    // (hex -> little-endian u64 -> IEEE-754 double, exact for normal
    // doubles), so the geometry bytes themselves are under the gate —
    // point-in-rectangle is inclusive-BETWEEN over the decoded ring's
    // bbox, exact for the fixture's axis-aligned polygons (s1 precedent).
    "x2_geoparquet_search" -> { (s, d) =>
      val raw = graft.sources.LayersTable.readGeoParquet(s, GoldenFixture)
      val layers = graft.operators.Ingest.prepare(raw,
        orderCol = Some("name"), validateDim = Some(8))
      Search.plan(layers, SearchRequest(
        probe = ParcelProbe,
        typeFilter = Some(Seq("Feature Layer")),
        inputPoint = Some(Point(-81.27, 28.80)),
        limit = 5))
    },

    // The reference's FULL query path with the embedding step INSIDE the
    // engine boundary (`backend/app.py:46`: embed the request string,
    // then search): the documents table is batch-encoded by the F8 seam's
    // real default model (Embed.HashingEncoder — feature-hashing signed
    // projection, one encoder per partition), the query string is encoded
    // driver-side by the same model, and exact cosine top-10 runs over
    // the encodings. normalize=false keeps every component an exact
    // small integer in float32, so the double-precision cosine ranking
    // is bit-reproducible and the oracle can restate the WHOLE pipeline
    // (FNV-1a + splitmix64 + signed bucketing + cosine) in SQL.
    "x3_embed_search" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("id"), col("text"))
        .as[graft.operators.Embed.TextRow]
      val emb = graft.operators.Embed.embedText(docs, EmbedDim, normalize = false).toDF()
        // zero-norm guard (cosine undefined): squared norm is an exact
        // integer in double, so the predicate agrees with the oracle's
        .filter(dot_product(col("embedding"), col("embedding")) > 0)
      val probe = graft.operators.Embed.embedQuery(EmbedQuery, EmbedDim, normalize = false)
      // the unpartitioned window ranks the k=10 rows topK already
      // selected — k-sized, not data-sized, so the single-partition
      // WindowExec warning is benign at any scale
      Knn.topK(emb, col("embedding"), probe, k = 10, tieBreak = col("id"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("dist").asc, col("id").asc))
          .cast("long"))
        .select(col("id").as("doc_id"), col("rnk"))
    },

    // the SAME engine boundary served by the NEURAL encoder (F8 closed):
    // an integer-quantized 2-layer MLP over the hashed bag-of-words
    // (fastText architecture, int4-range weights) whose weight artifact
    // round-trips through parquet (generate -> save -> load — the
    // session-load path a trained model would take), broadcasts once,
    // and runs its forward pass per partition in exact integer
    // arithmetic. The oracle re-derives the weights from the splitmix64
    // formula and replays BOTH matrix products + ReLU + cosine in SQL —
    // a neural network hash-matched across engines.
    // CROSS-ENCODER RERANK (retrieve-then-rerank, Nogueira & Cho 2019):
    // BM25 nominates 50 candidates for the engine query, the quantized
    // integer pair-MLP (NeuralEmbed artifact, dOut=1, hashed
    // query-token x doc-token cross features) orders them, top-10 by
    // exact BIGINT score. The model rides the same save/load parquet
    // artifact contract as x4 — a trained cross-encoder export swaps in
    // without touching the execution path.
    "x8_cross_rerank" -> { (s, d) =>
      val path = Tables.fixture("ce", d)
      graft.operators.NeuralEmbed.save(s,
        graft.operators.NeuralEmbed.generate(EmbedDim, CrossHidden, 1), path)
      val model = graft.operators.NeuralEmbed.load(s, path)
      graft.operators.CrossEncoder.rerank(Tables.documents(s, d),
        "doc_id", "text", query = EmbedQuery, model,
        nCandidates = 50, k = 10)
        .orderBy(col("ce_score").desc, col("doc_id").asc)
    },

    // THE FULL MODERN RETRIEVAL STACK as one composed gate (the x6/x7
    // posture: every stage gated alone elsewhere, composed here):
    // lexical BM25 top-20 + dense cosine top-20 fuse via RRF (t19's
    // kernel) into a 12-candidate pool, the x8 cross-encoder re-scores
    // each (query, doc) pair exactly, top-8 by BIGINT score. One lazy
    // plan; only the two stage-1 retrievers touch the corpus.
    "x10_retrieval_stack" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val lex = graft.operators.Bm25.topK(docs, "doc_id", "text",
        terms = EmbedQuery.split(" ").toSeq, k = 20)
      val emb = Tables.embeddings(s, d)
      val probe = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val vec = Knn.topK(emb, col("embedding"), probe, 20, col("vec_id"))
        .select(col("vec_id").as("id"), (-col("dist")).as("score"))
      val fused = graft.operators.Hybrid.rrf(Seq(lex, vec), k = 12)
      val path = Tables.fixture("ce", d)
      graft.operators.NeuralEmbed.save(s,
        graft.operators.NeuralEmbed.generate(EmbedDim, CrossHidden, 1), path)
      val model = graft.operators.NeuralEmbed.load(s, path)
      graft.operators.CrossEncoder.rerankCandidates(docs, "doc_id", "text",
        fused.select(col("id")), EmbedQuery, model, k = 8)
        .orderBy(col("ce_score").desc, col("doc_id").asc)
    },

    // the F8 LOADED-ARTIFACT seam under the gate: the quantized MLP
    // travels as a REAL .onnx FILE (serialized and parsed through the
    // public ONNX protobuf wire format — graft.operators.OnnxMlp), so
    // the path a production deployment takes (export from a training
    // framework -> model file -> engine loads it once per process,
    // `backend/app.py:28-33`) is what the hash checks. Dims (48/24/32)
    // differ from x4's generated-weights gate on purpose: a shape bug
    // in the carrier (transposed W, swapped dims, truncated raw_data)
    // cannot hide behind x4's square shapes. If the codec misreads ONE
    // weight, every score diverges from the oracle's arithmetic
    // restatement of the same forward pass.
    "x11_onnx_embed_search" -> { (s, d) =>
      import s.implicits._
      val path = s"${Tables.fixture("onnx", d)}/model.onnx"
      graft.operators.OnnxMlp.writeFile(
        graft.operators.NeuralEmbed.generate(OnnxD0, OnnxHidden, OnnxOut), path)
      val model = graft.operators.OnnxMlp.readFile(path)
      val docs = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("id"), col("text"))
        .as[graft.operators.Embed.TextRow]
      val emb = graft.operators.NeuralEmbed.embedText(docs, model).toDF()
        .filter(dot_product(col("embedding"), col("embedding")) > 0)
      val probe = graft.operators.NeuralEmbed.embedQuery(EmbedQuery, model)
      Knn.topK(emb, col("embedding"), probe, k = 10, tieBreak = col("id"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("dist").asc, col("id").asc))
          .cast("long"))
        .select(col("id").as("doc_id"), col("rnk"))
    },

    // CORPUS LIFECYCLE as one flow — the x7/x10 composition posture
    // extended through the INDEX BUILD: raw docs -> curation gate
    // (language allowlist + quality threshold + fingerprint keep-first,
    // the d11 front half) -> neural encode (the x4 model) -> IVF build
    // + save -> serve. The gate checks the stage BOUNDARIES: full-probe
    // search over the built index must equal exact kNN over exactly the
    // curated-and-encoded corpus — a lost/duplicated doc at any seam
    // (curation dedup, encode filter, bucket assignment, save layout)
    // breaks the hash.
    "x12_lifecycle_pipeline" -> { (s, d) =>
      import s.implicits._
      val curated = graft.operators.Curate.kept(Tables.documents(s, d),
        "doc_id", "text", "lang", Seq("en", "de"), 0.5)
      val model = graft.operators.NeuralEmbed.generate(EmbedDim, NeuralHidden, EmbedDim)
      val emb = graft.operators.NeuralEmbed.embedText(
        curated.filter(length(trim(col("text"))) > 0)
          .select(col("doc_id").as("id"), col("text"))
          .as[graft.operators.Embed.TextRow], model).toDF()
        .filter(dot_product(col("embedding"), col("embedding")) > 0)
      val idx = graft.operators.Ivf.build(emb, "id", "embedding", nlist = 8, iters = 5)
      val path = Tables.fixture("ivf_x12", d)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.searchSaved(s, path,
        graft.operators.NeuralEmbed.embedQuery(EmbedQuery, model),
        k = 10, nprobe = 4096)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // the MAINTAINED lifecycle — x12 extended through the operational
    // seams the index accretes in production: curate -> encode -> IVF
    // build/save -> snapshot the drift baseline -> append a genuinely
    // different distribution (the docs the curation gate REJECTED:
    // other-language / low-quality text, encoded under the same model,
    // shifted ids) -> maintenanceDecision + maintainSaved act unattended
    // (skew arm 1.5x mean, drift arm 1.1x baseline) -> serve. The pin is
    // v38's posture inside x12's flow: full-probe search over the
    // maintained index must equal exact kNN over exactly the union
    // corpus — whatever the policy split, it lost/duplicated NOTHING,
    // and every stage boundary (curation dedup, encode filter, append
    // assignment, split rename, baseline bookkeeping) sits under the hash.
    "x13_maintained_lifecycle" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions.quality_score
      val docs = Tables.documents(s, d)
      val curated = graft.operators.Curate.kept(docs,
        "doc_id", "text", "lang", Seq("en", "de"), 0.5)
      val model = graft.operators.NeuralEmbed.generate(EmbedDim, NeuralHidden, EmbedDim)
      def encode(rows: org.apache.spark.sql.DataFrame) =
        graft.operators.NeuralEmbed.embedText(
          rows.filter(length(trim(col("text"))) > 0)
            .select(col("id"), col("text"))
            .as[graft.operators.Embed.TextRow], model).toDF()
          .filter(dot_product(col("embedding"), col("embedding")) > 0)
      val emb = encode(curated.select(col("doc_id").as("id"), col("text")))
      val idx = graft.operators.Ivf.build(emb, "id", "embedding", nlist = 8, iters = 5)
      val path = Tables.fixture("ivf_x13", d)
      graft.operators.Ivf.save(idx, path)
      graft.operators.Ivf.snapshotStats(s, path)
      val drifted = encode(docs
        .filter(!(col("lang").isInCollection(Seq("en", "de")) &&
          quality_score(col("text")) >= 0.5))
        .select((col("doc_id") + 10000000L).as("id"), col("text")))
      graft.operators.Ivf.appendSaved(s, path, drifted, "id", "embedding")
      graft.operators.Ivf.maintainSaved(s, path, sizeFactor = 1.5, driftFactor = 1.1)
      graft.operators.Ivf.searchSaved(s, path,
        graft.operators.NeuralEmbed.embedQuery(EmbedQuery, model),
        k = 10, nprobe = 4096)
        .select(col("id"))
        .orderBy(col("id"))
    },

    "x4_neural_embed_search" -> { (s, d) =>
      import s.implicits._
      val path = Tables.fixture("nn", d)
      graft.operators.NeuralEmbed.save(s,
        graft.operators.NeuralEmbed.generate(EmbedDim, NeuralHidden, EmbedDim), path)
      val model = graft.operators.NeuralEmbed.load(s, path)
      val docs = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("id"), col("text"))
        .as[graft.operators.Embed.TextRow]
      val emb = graft.operators.NeuralEmbed.embedText(docs, model).toDF()
        .filter(dot_product(col("embedding"), col("embedding")) > 0)
      val probe = graft.operators.NeuralEmbed.embedQuery(EmbedQuery, model)
      // k-sized rank window, same benign posture as x3
      Knn.topK(emb, col("embedding"), probe, k = 10, tieBreak = col("id"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("dist").asc, col("id").asc))
          .cast("long"))
        .select(col("id").as("doc_id"), col("rnk"))
    },

    // the FULL production pipeline as ONE composed plan (x4's neural
    // encoder feeding v26's SQ8 quantizer feeding the exact-cosine
    // refine): documents forward-pass to exact-integer embeddings,
    // per-dim bounds train on those, 8-bit codes rank an ADC pool, the
    // raw neural vectors re-rank the top-40 — every stage individually
    // gated elsewhere, composed here so the stage boundaries (the usual
    // integration-bug habitat) sit under the hash too. The embedding
    // table localCheckpoints once (encode-once; three consumers).
    "x6_neural_sq_pipeline" -> { (s, d) =>
      import s.implicits._
      val model = graft.operators.NeuralEmbed.generate(EmbedDim, NeuralHidden, EmbedDim)
      val docs = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("id"), col("text"))
        .as[graft.operators.Embed.TextRow]
      val emb = graft.operators.NeuralEmbed.embedText(docs, model).toDF()
        .filter(dot_product(col("embedding"), col("embedding")) > 0)
        .localCheckpoint(true)
      val sq = graft.operators.Sq.train(emb, "embedding")
      val codes = graft.operators.Sq.encode(emb, "id", "embedding", sq)
      val probe = graft.operators.NeuralEmbed.embedQuery(EmbedQuery, model)
      graft.operators.Sq.searchRefine(codes, "code", "id",
        emb, "id", "embedding", sq, probe, k = 10, r = 40)
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    }
  )

  /** x3's encoder width and query string (words drawn from the synthetic
    * corpus vocabulary so the top-k is semantically non-trivial).
    */
  private val EmbedDim = 64
  private val EmbedQuery = "spark window merge batch query join"

  /** x4's hidden width (input and output stay at EmbedDim). */
  private val NeuralHidden = 32

  /** x8's cross-encoder hidden width (d0 = EmbedDim buckets, dOut = 1). */
  private val CrossHidden = 16

  /** x11's ONNX-carried encoder shape — deliberately non-square so a
    * transposed or dim-swapped weight read cannot round-trip silently.
    */
  private val OnnxD0 = 48
  private val OnnxHidden = 24
  private val OnnxOut = 32

  /** DuckDB SQL decoding the IEEE-754 double stored little-endian at
    * 0-based byte offset `off` of the hex-encoded blob column `hexCol`.
    * Exact for normal doubles and +-0 (the only values in geographic
    * WKB): sign * (1 + mantissa/2^52) * 2^(exp-1023) — every factor is a
    * power-of-two scale or an exactly representable <= 2^52 integer, so
    * no rounding anywhere.
    */
  private def wkbDouble(hexCol: String, off: String): String = {
    def hexDigit(pos: String) =
      s"(strpos('0123456789ABCDEF', $hexCol[$pos:$pos]) - 1)"
    val u64 = (0 to 7).map { k =>
      val p = s"(($off) + $k)"
      val byte = s"(${hexDigit(s"2 * $p + 1")} * 16 + ${hexDigit(s"2 * $p + 2")})"
      s"CAST($byte AS UBIGINT) * ${java.lang.Long.toUnsignedString(1L << (8 * k))}"
    }.mkString(" + ")
    s"""(SELECT CASE WHEN (u & 9223372036854775807) = 0 THEN 0.0
       |  ELSE (CASE WHEN (u >> 63) = 1 THEN -1.0 ELSE 1.0 END)
       |    * (1.0 + CAST(u & 4503599627370495 AS DOUBLE) / 4503599627370496.0)
       |    * power(2.0, CAST((u >> 52) & 2047 AS BIGINT) - 1023) END
       | FROM (SELECT $u64 AS u))""".stripMargin
  }

  /** The x4 MLP forward pass as shared oracle CTEs (weights re-derived
    * from the splitmix64 formula, hashed BOW, W1x+b1 -> ReLU -> W2h+b2
    * for every document and the query): ends with `yd` (doc_id, k, y)
    * and `qy` (k, y), both exact-integer doubles — x4 ranks them
    * directly; x6 quantizes them through the v26 SQ stage first.
    */
  private def neuralForwardCtes(d0: Int = EmbedDim, d1: Int = NeuralHidden,
                                dOut: Int = EmbedDim,
                                src: String = "documents"): String = {
    import graft.operators.NeuralEmbed.{SeedW1, SeedB1, SeedW2, SeedB2}
    s"""dt AS (
         |  SELECT doc_id, unnest(${SketchSql.ToksSql}) AS s
         |  FROM $src WHERE len(trim(text)) > 0),
         |f AS (SELECT doc_id, ${SketchSql.FnvSql} AS z FROM dt),
         |${SketchSql.mixLayerCtes("f", Seq("doc_id"))},
         |db AS (
         |  SELECT doc_id, CAST((u >> 1) % $d0 AS INT) AS idx,
         |    CASE WHEN (u & 1) = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM fmu),
         |dvi AS (SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS v
         |        FROM db GROUP BY doc_id, idx),
         |qt AS (SELECT unnest(string_split_regex(trim('$EmbedQuery'), '\\s+')) AS s),
         |qf AS (SELECT 1 AS q1, ${SketchSql.FnvSql} AS z FROM qt),
         |${SketchSql.mixLayerCtes("qf", Seq("q1"))},
         |qb AS (
         |  SELECT CAST((u >> 1) % $d0 AS INT) AS idx,
         |    CASE WHEN (u & 1) = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM qfmu),
         |qvi AS (SELECT idx, CAST(SUM(sgn) AS BIGINT) AS v FROM qb GROUP BY idx),
         |w1z AS (SELECT t, CAST($SeedW1 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 * d0 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("w1z", Seq("t"))},
         |w1 AS (SELECT CAST(t // $d0 AS INT) AS i, CAST(t % $d0 AS INT) AS j,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM w1zmu),
         |b1z AS (SELECT t, CAST($SeedB1 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("b1z", Seq("t"))},
         |b1 AS (SELECT CAST(t AS INT) AS i,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM b1zmu),
         |w2z AS (SELECT t, CAST($SeedW2 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${dOut * d1 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("w2z", Seq("t"))},
         |w2 AS (SELECT CAST(t // $d1 AS INT) AS k, CAST(t % $d1 AS INT) AS i,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM w2zmu),
         |b2z AS (SELECT t, CAST($SeedB2 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${dOut - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("b2z", Seq("t"))},
         |b2 AS (SELECT CAST(t AS INT) AS k,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM b2zmu),
         |h0 AS (SELECT x.doc_id, w.i, SUM(w.w * x.v) AS s0
         |       FROM w1 w JOIN dvi x ON w.j = x.idx GROUP BY x.doc_id, w.i),
         |hd AS (SELECT dd.doc_id, b.i,
         |         GREATEST(b.w + COALESCE(h0.s0, 0), 0) AS h
         |       FROM (SELECT DISTINCT doc_id FROM dvi) dd CROSS JOIN b1 b
         |       LEFT JOIN h0 ON h0.doc_id = dd.doc_id AND h0.i = b.i),
         |y0 AS (SELECT h.doc_id, w.k, SUM(w.w * h.h) AS s0
         |       FROM w2 w JOIN hd h ON w.i = h.i GROUP BY h.doc_id, w.k),
         |yd AS MATERIALIZED (SELECT y0.doc_id, y0.k, CAST(b.w + y0.s0 AS DOUBLE) AS y
         |       FROM y0 JOIN b2 b ON b.k = y0.k),
         |qh0 AS (SELECT w.i, SUM(w.w * x.v) AS s0
         |        FROM w1 w JOIN qvi x ON w.j = x.idx GROUP BY w.i),
         |qh AS (SELECT b.i, GREATEST(b.w + COALESCE(qh0.s0, 0), 0) AS h
         |       FROM b1 b LEFT JOIN qh0 ON qh0.i = b.i),
         |qy0 AS (SELECT w.k, SUM(w.w * h.h) AS s0
         |        FROM w2 w JOIN qh h ON w.i = h.i GROUP BY w.k),
         |qy AS MATERIALIZED (SELECT qy0.k, CAST(b.w + qy0.s0 AS DOUBLE) AS y
         |       FROM qy0 JOIN b2 b ON b.k = qy0.k)""".stripMargin
  }

  def sql: Map[String, String] = Map(
    "x1_reference_search" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS id, source AS name, lang AS type,
         |  text AS description,
         |  'doc://' || CAST(doc_id AS VARCHAR) AS url,
         |  text AS metadata_text
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |WHERE lower(lang) IN ('en', 'fr')
         |  AND abs((doc_id * 7) % 360 - 180 - 0.5) <= $HalfW
         |  AND abs((doc_id * 3) % 180 - 90 - 0.5) <= $HalfW
         |ORDER BY 1 - list_cosine_similarity(embedding,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC,
         |  CAST(doc_id AS VARCHAR) ASC
         |LIMIT 8 OFFSET 2""".stripMargin,

    // x5 must equal x1 — the DataFrame plan and the SQL-surface plan
    // share one oracle statement
    "x5_sql_reference_search" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS id, source AS name, lang AS type,
         |  text AS description,
         |  'doc://' || CAST(doc_id AS VARCHAR) AS url,
         |  text AS metadata_text
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |WHERE lower(lang) IN ('en', 'fr')
         |  AND abs((doc_id * 7) % 360 - 180 - 0.5) <= $HalfW
         |  AND abs((doc_id * 3) % 180 - 90 - 0.5) <= $HalfW
         |ORDER BY 1 - list_cosine_similarity(embedding,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC,
         |  CAST(doc_id AS VARCHAR) ASC
         |LIMIT 8 OFFSET 2""".stripMargin,

    // the identical ranking replayed as plain ORDER BY/OFFSET over the
    // x4-lifted corpus; both sides re-sort the returned page by id
    "q13b_deep_page" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS VARCHAR) || '-' || CAST(r AS VARCHAR) AS id,
        |    source AS name, lang AS type, text AS description,
        |    'doc://' || CAST(doc_id AS VARCHAR) AS url,
        |    text AS metadata_text,
        |    1 - list_cosine_similarity(embedding,
        |      (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS dist
        |  FROM documents JOIN embeddings ON doc_id = vec_id
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)),
        |page AS (
        |  SELECT id, name, type, description, url, metadata_text
        |  FROM base ORDER BY dist ASC, id ASC
        |  LIMIT 10 OFFSET 1500)
        |SELECT * FROM page ORDER BY id""".stripMargin,

    // independent expectation: the parser must invert the header
    // construction exactly (GIF LE16, PNG BE32, colour-type-2 -> 3)
    "m1_image_meta" ->
      """SELECT doc_id,
        |  'gif' AS gif_format, CAST(doc_id % 1000 + 1 AS INT) AS gif_w,
        |  CAST(doc_id % 700 + 1 AS INT) AS gif_h, CAST(3 AS INT) AS gif_c,
        |  'png' AS png_format, CAST(doc_id % 1000 + 1 AS INT) AS png_w,
        |  CAST(doc_id % 700 + 1 AS INT) AS png_h, CAST(3 AS INT) AS png_c
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the inversion expectations restated from the same doc_id
    // arithmetic: VP8L packs (w-1, h-1) in 14-bit fields with alpha at
    // bit 28; VP8X carries canvas (w-1, h-1) as 24-bit LE
    // the oracle states the IFD fields arithmetically
    "m10_tiff_meta" ->
      """SELECT doc_id,
        |  'tiff' AS le_format, CAST(doc_id % 500 + 1 AS INT) AS le_w,
        |  CAST(doc_id % 300 + 1 AS INT) AS le_h,
        |  CAST(doc_id % 3 + 1 AS INT) AS le_c,
        |  'tiff' AS be_format, CAST(doc_id % 500 + 1 AS INT) AS be_w,
        |  CAST(doc_id % 300 + 1 AS INT) AS be_h,
        |  CAST(doc_id % 3 + 1 AS INT) AS be_c,
        |  'tiff' AS fmt_le, 'tiff' AS fmt_be
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m9_webp_meta" ->
      """SELECT doc_id,
        |  'webp' AS l_format, CAST(doc_id % 1000 + 1 AS INT) AS l_w,
        |  CAST(doc_id % 700 + 1 AS INT) AS l_h,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS INT) AS l_c,
        |  'webp' AS x_format, CAST(doc_id % 1000 + 1 AS INT) AS x_w,
        |  CAST(doc_id % 700 + 1 AS INT) AS x_h,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS INT) AS x_c,
        |  'webp' AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the inversion expectations: WAV fields restated from the same
    // doc_id arithmetic (kbps = byte_rate*8/1000 where byte_rate =
    // sr*ch*bits/8, i.e. sr*ch*bits // 1000 in exact integer math); MP3
    // fields through the public ISO 11172-3 tables as 1-indexed SQL lists
    "m2_audio_meta" ->
      """SELECT doc_id,
        |  'wav' AS wav_format, ch AS wav_ch, sr AS wav_sr, bits AS wav_bits,
        |  CAST(sr * ch * bits // 1000 AS INT) AS wav_kbps,
        |  'mp3' AS mp3_format,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT) AS mp3_ch,
        |  CAST(([44100, 48000, 32000])[CAST(doc_id % 3 AS INT) + 1] AS INT) AS mp3_sr,
        |  CAST(0 AS INT) AS mp3_bits,
        |  CAST(([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])
        |    [CAST(doc_id % 14 AS INT) + 1] AS INT) AS mp3_kbps
        |FROM (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INT) AS ch,
        |    CAST(([8000, 22050, 44100, 48000])[CAST(doc_id % 4 AS INT) + 1] AS INT) AS sr,
        |    CAST((doc_id % 3 + 1) * 8 AS INT) AS bits
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // the expected sample statistics by direct arithmetic over the same
    // formula the blob was synthesized from — torn blobs (doc_id % 7 = 0)
    // expected NULL across every stat
    "m5_pcm_stats" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 40 + 1 AS INT) AS n FROM documents),
        |ks AS (
        |  SELECT doc_id, unnest(generate_series(0, n - 1)) AS k FROM s),
        |samp AS (
        |  SELECT doc_id, (doc_id * 31 + k * 17) % 2048 - 1024 AS v FROM ks),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(v) AS BIGINT) AS sum_amp,
        |    CAST(MIN(v) AS INT) AS min_amp, CAST(MAX(v) AS INT) AS max_amp
        |  FROM samp GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_samples END AS n_samples,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE sum_amp END AS sum_amp,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE min_amp END AS min_amp,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE max_amp END AS max_amp
        |FROM agg ORDER BY doc_id""".stripMargin,

    // expected pixel statistics by direct arithmetic over the same
    // pixel formula the PNG was synthesized from — flipped-adler docs
    // (doc_id % 9 = 0) expected NULL across every field
    "m6_png_pixels" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS w,
        |         CAST(doc_id % 8 + 1 AS INT) AS h
        |  FROM documents),
        |ks AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS k FROM s),
        |px AS (
        |  SELECT doc_id, (doc_id + 3 * (k % w) + 7 * (k // w)) % 256 AS v FROM ks),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |    CAST(SUM(v) AS BIGINT) AS pixel_sum,
        |    CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE h END AS height,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE n_pixels END AS n_pixels,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE pixel_sum END AS pixel_sum,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE pixel_min END AS pixel_min,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE pixel_max END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // every unpacked STREAMINFO field restated arithmetically; torn
    // docs quarantine by absence
    "m25_flac_streaminfo" ->
      """SELECT doc_id,
        |  CAST((doc_id % 5 + 1) * 8000 AS INT) AS sample_rate,
        |  CAST(doc_id % 3 + 1 AS INT) AS channels,
        |  CAST(16 + (doc_id % 2) * 8 AS INT) AS bits_per_sample,
        |  CAST((doc_id * 100 + 1) % 68719476736 AS BIGINT) AS total_samples,
        |  printf('%08x%08x%08x%08x',
        |    CAST((doc_id * 2654435761) % 4294967296 AS BIGINT),
        |    CAST((doc_id * 40503 + 7) % 4294967296 AS BIGINT),
        |    CAST((doc_id + 123456789) % 4294967296 AS BIGINT),
        |    CAST((doc_id * 97 + 13) % 4294967296 AS BIGINT)) AS md5,
        |  CAST(2 AS INT) AS n_meta_blocks
        |FROM documents WHERE doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,

    // per-frame stats from the m11 closed form (block value 128+2*dc;
    // 16x8 videos carry a second 128-valued block); torn absent
    "m26_avi_mjpeg" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 3 + 2 AS nf,
        |    CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS wb
        |  FROM documents WHERE doc_id % 7 <> 0),
        |f AS (
        |  SELECT doc_id, wb, unnest(generate_series(0, nf - 1)) AS idx
        |  FROM s),
        |v AS (
        |  SELECT doc_id, idx, wb,
        |    144 + 2 * ((doc_id + idx) % 8) AS val
        |  FROM f)
        |SELECT doc_id, CAST(idx AS INT) AS idx,
        |  CAST(wb * 8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(wb * 64 AS BIGINT) AS n_pixels,
        |  CAST(64 * val + CASE WHEN wb = 2 THEN 8192 ELSE 0 END AS BIGINT)
        |    AS pixel_sum,
        |  CAST(CASE WHEN wb = 2 THEN 128 ELSE val END AS INT) AS pixel_min,
        |  CAST(val AS INT) AS pixel_max
        |FROM v ORDER BY doc_id, idx""".stripMargin,

    // survivors = not torn (%7), honest dims (%5), long enough (%3),
    // not overexposed (%8); duplicate class = (doc_id%8 values, nf) =
    // doc_id % 24 — the md5-of-frames key is injective on classes
    "x21_video_curation" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 3 + 2 AS nf FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
        |    AND doc_id % 3 <> 0 AND doc_id % 8 <> 7),
        |f AS (
        |  SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS idx
        |  FROM s),
        |lv AS (
        |  SELECT doc_id, nf,
        |    CAST(SUM(64 * (144 + 2 * ((doc_id + idx) % 8))) AS BIGINT)
        |      AS level_sum
        |  FROM f GROUP BY doc_id, nf)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |  CAST(MIN(nf) AS BIGINT) AS n_frames,
        |  CAST(MIN(nf) * 40 AS BIGINT) AS duration_ms,
        |  MIN(level_sum) AS level_sum
        |FROM lv GROUP BY doc_id % 24 ORDER BY doc_id""".stripMargin,

    // the chain's three hops restated arm-by-arm; torn absent
    "x25_epub_chain" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'OPS/content.opf'
        |       ELSE 'book/pkg.opf' END AS opf_path,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'OPS/' ELSE 'book/' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'text/intro.xhtml'
        |        ELSE 'ch1.xhtml' END) AS chapter_path,
        |  'Chapter ' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')
        |    || ' text & more' AS txt
        |FROM documents WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    // one kept row per content class — the <w:del> strip is proven by
    // the grouping (a naive extractor splits every class); torn absent
    "x24_docx_text" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 11 AS VARCHAR) AS c
        |  FROM documents WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'Doc ' || c || ' heading body & tail ' || c AS txt
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups, txt
        |FROM r GROUP BY txt ORDER BY doc_id""".stripMargin,

    // slide text with the <a:fld> strip restated: field docs (%5) keep
    // their authored runs only, torn (%7) absent — a naive <a:t> grep
    // would split every %5 class in two
    "x27_pptx_text" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 11 AS m FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'Slide ' || m || ' title bullet & point ' || m AS txt
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups, txt
        |FROM r GROUP BY txt ORDER BY doc_id""".stripMargin,

    // the CFB directory restated: names/types/sizes are construction
    // constants, content classed on %13; torn (%7, whole-sector
    // exact-cover breach) absent
    "m31_cfb_walk" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'meta class ' || lpad(CAST(m AS VARCHAR), 2, '0') AS meta_txt,
        |    'body ' || lpad(CAST(m AS VARCHAR), 2, '0') || ' alpha'
        |      || chr(10) || 'beta ' || lpad(CAST(m AS VARCHAR), 2, '0')
        |      || ' gamma' AS body_txt
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |  CAST(2 AS INT) AS n_streams, CAST(40 AS BIGINT) AS total_stream_bytes,
        |  meta_txt, body_txt
        |FROM r GROUP BY meta_txt, body_txt ORDER BY doc_id""".stripMargin,

    // both piece widths restated (the \r is piece 1's paragraph mark,
    // chr(8482) is piece 2's wide char); encrypted (%5) refused, torn
    // (%7) absent — the group counts prove both quarantines
    "x29_doc_text" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'Doc class ' || lpad(CAST(m AS VARCHAR), 2, '0')
        |      || ' body text.' || chr(13) || 'uni '
        |      || lpad(CAST(m AS VARCHAR), 2, '0') || chr(8482) AS txt
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups, txt
        |FROM r GROUP BY txt ORDER BY doc_id""".stripMargin,

    // the BIFF8 walk restated: SST strings resolve, RK ints decode,
    // the constant Number prints shortest-exact, BOTH sheets surface;
    // encrypted (%5, FilePass) refused, torn (%7) absent
    "x29b_xls_cells" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'name ' || lpad(CAST(m AS VARCHAR), 2, '0') || ' | '
        |      || CAST(m * 9 + 3 AS VARCHAR)
        |      || ' | 2.5 | qty & spare' AS sales_text,
        |    CAST(m * 5 + 1 AS VARCHAR) AS notes_text
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |  CAST(5 AS INT) AS n_cells, sales_text, notes_text
        |FROM r GROUP BY sales_text, notes_text ORDER BY doc_id""".stripMargin,

    // the cell walk restated: shared strings resolve, inline strings
    // read in place, numerics as-is; formula docs (%5) REFUSED, torn
    // (%7) absent — the group counts prove both quarantines
    "x26_xlsx_cells" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 11 AS m FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'name ' || m || ' | ' || (m * 7) || ' | inline ' || m
        |      || ' | qty & spare' AS row_text
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |  CAST(4 AS INT) AS n_cells, row_text
        |FROM r GROUP BY row_text ORDER BY doc_id""".stripMargin,

    // every identification-header field restated arithmetically; torn
    // (post-splice payload flip -> CRC mismatch) absent
    "m27_ogg_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
        |  CAST(doc_id % 3 + 1 AS INT) AS channels,
        |  CAST((doc_id % 6 + 1) * 8000 AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 312 ELSE 0 END AS INT) AS pre_skip,
        |  CAST(doc_id * 960 + 960 AS BIGINT) AS total_samples,
        |  CAST(2 AS INT) AS n_pages
        |FROM documents WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    // both title arms decode to the SAME string (the §7.9.2 contract);
    // absent /Producer is a null FIELD; torn docs absent
    "m24b_pdf_info" ->
      """SELECT doc_id,
        |  't ' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') AS title,
        |  'a graft' AS author,
        |  'D:20260816120000Z' AS creation_date,
        |  CAST(NULL AS VARCHAR) AS producer
        |FROM documents WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    // one kept row per PCM class with BOTH carrier kinds counted —
    // the cross-container collision is the hash's subject; torn absent
    "x23_cross_container_audio" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 9 AS m, doc_id % 2 AS carrier
        |  FROM documents WHERE doc_id % 7 <> 0),
        |g AS (
        |  SELECT m, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    CAST(SUM(CASE WHEN carrier = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wav,
        |    CAST(SUM(CASE WHEN carrier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flac
        |  FROM s GROUP BY m)
        |SELECT doc_id, n_dups, n_wav, n_flac,
        |  CAST(m % 5 + 8 AS BIGINT) AS n_samples
        |FROM g ORDER BY doc_id""".stripMargin,

    // survivors = honest frame size (%7), intact adler (%9), wordy
    // enough (%4); duplicate class = the content class doc_id % 13
    "x22_document_mirror" ->
      """WITH s AS (
        |  SELECT doc_id, lpad(CAST(doc_id % 13 AS VARCHAR), 7, '0') AS D
        |  FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 9 <> 0 AND doc_id % 4 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'doc ' || D || ' alpha' || chr(10) ||
        |    'beta ' || D || chr(10) ||
        |    'flate ' || D || chr(10) AS txt
        |  FROM s)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |  CAST(7 AS INT) AS n_tokens, txt
        |FROM r GROUP BY txt ORDER BY doc_id""".stripMargin,

    // version/pages/objects + the exact text the construction put in;
    // torn docs (flipped adler) quarantine by absence
    "m24_pdf_text" ->
      """SELECT doc_id, '1.4' AS version, CAST(2 AS INT) AS pages,
        |  CAST(6 AS INT) AS objects,
        |  'doc ' || D || ' alpha' || chr(10) ||
        |  'beta ' || D || chr(10) ||
        |  'flate ' || D || chr(10) AS txt
        |FROM (SELECT doc_id,
        |        lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') AS D
        |      FROM documents)
        |WHERE doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,

    // frame count + summed per-frame delays, all arithmetic; torn NULL
    "m23_gif_frames" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 4 + 1 AS nf FROM documents),
        |ds AS (
        |  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS j FROM s),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id + j * 3) % 50 + 1) AS BIGINT) AS total_delay
        |  FROM ds GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(nf AS BIGINT) END AS n_frames,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE total_delay END AS total_delay_cs,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE CAST(2 AS INT) END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE CAST(2 AS INT) END AS height
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // frame count and the 1152-samples-per-frame arithmetic; torn NULL
    "m22_mp3_duration" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(doc_id % 5 + 2 AS BIGINT) END AS n_frames,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(44100 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST((doc_id % 5 + 2) * 1152 AS BIGINT) END AS n_samples,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST((doc_id % 5 + 2) * 1152 * 1000 // 44100 AS BIGINT)
        |       END AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Adam7: the oracle is deliberately PASS-STRUCTURE-FREE — stats
    // over the plain (x,y) grid; only a correct 7-pass walk with exact
    // per-pass dimensions reproduces them through the length-checked
    // inflate
    "m21_png_interlaced" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 6 + 3 AS INT) AS w,
        |         CAST(doc_id % 4 + 3 AS INT) AS h
        |  FROM documents),
        |ks AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS k FROM s),
        |px AS (
        |  SELECT doc_id, (doc_id + 3 * (k % w) + 7 * (k // w)) % 256 AS v FROM ks),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |    CAST(SUM(v) AS BIGINT) AS pixel_sum,
        |    CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE h END AS height,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE n_pixels END AS n_pixels,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE pixel_sum END AS pixel_sum,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE pixel_min END AS pixel_min,
        |  CASE WHEN s.doc_id % 9 = 0 THEN NULL ELSE pixel_max END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the inversion expectations for the BMP decoder: per-channel sums
    // from the (doc_id + 3x + 7row + 11c) % 256 formula, padding never
    // entering the stats by construction; torn docs NULL
    // the pixel values stated arithmetically (the m8 inversion posture
    // — the oracle never parses a BMP), then the aHash bit rule as
    // cross-multiplied integer comparisons and d4's chunk/hamming pairs
        // survivors and their stats stated purely from the construction
    // arithmetic: the four gate predicates select the doc ids, the PCM
    // formula gives the per-m sample stats, dedup groups by m (the
    // payload is a pure function of doc_id % 13 for survivors)
    "x19_audio_curation" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 4 <> 0 AND doc_id % 6 <> 0
        |    AND (doc_id % 13) % 7 >= 2),
        |ks AS (
        |  SELECT m, unnest(generate_series(0, (m % 7) + 7)) AS k
        |  FROM (SELECT DISTINCT m FROM s) t),
        |amp AS (
        |  SELECT m,
        |    CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM((m * 31 + k * 17) % 2048 - 1024) AS BIGINT) AS sum_amp
        |  FROM ks GROUP BY m),
        |g AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups, m
        |  FROM s GROUP BY m)
        |SELECT g.doc_id, g.n_dups, CAST(16000 AS INT) AS sample_rate,
        |  amp.n_samples, amp.sum_amp
        |FROM g JOIN amp USING (m)
        |ORDER BY g.doc_id""".stripMargin,

    // the mirror path restated: the keeper's a_text is the DUPLICATE's
    // v2 (overwrite semantics under the hash), b_text the cp1252
    // decode, three listed entries (the pax header is meta, never
    // listed), torn gzip docs contribute nothing
    "x20_mirror_ingest" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'alpha ' || printf('%02d', m) || ' v2' AS a_text,
        |    'beta ' || printf('%02d', m) || ' '
        |      || chr(8220) || lang || chr(8221) AS b_text
        |  FROM s),
        |g AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    a_text, b_text
        |  FROM r GROUP BY a_text, b_text)
        |SELECT doc_id, n_dups, CAST(3 AS INT) AS n_entries, a_text, b_text
        |FROM g ORDER BY doc_id""".stripMargin,

    // the container swap is invisible under the hash: identical output
    // to x20 through the zstd frame instead of the gzip member
    "x20b_mirror_ingest_zstd" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'alpha ' || printf('%02d', m) || ' v2' AS a_text,
        |    'beta ' || printf('%02d', m) || ' '
        |      || chr(8220) || lang || chr(8221) AS b_text
        |  FROM s),
        |g AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    a_text, b_text
        |  FROM r GROUP BY a_text, b_text)
        |SELECT doc_id, n_dups, CAST(3 AS INT) AS n_entries, a_text, b_text
        |FROM g ORDER BY doc_id""".stripMargin,

    // the container swap is invisible under the hash: identical output
    // to x20/x20b through the XZ stream
    "x20c_mirror_ingest_xz" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'alpha ' || printf('%02d', m) || ' v2' AS a_text,
        |    'beta ' || printf('%02d', m) || ' '
        |      || chr(8220) || lang || chr(8221) AS b_text
        |  FROM s),
        |g AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    a_text, b_text
        |  FROM r GROUP BY a_text, b_text)
        |SELECT doc_id, n_dups, CAST(3 AS INT) AS n_entries, a_text, b_text
        |FROM g ORDER BY doc_id""".stripMargin,

    // the cross-container collision under the hash: every content
    // class keeps ONE doc while its members arrived in five different
    // containers (n_containers computed, not assumed); torn absent
    "x28_mixed_container_mirror" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 13 AS m, doc_id % 5 AS k FROM documents
        |  WHERE doc_id % 7 <> 0),
        |g AS (
        |  SELECT m, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    CAST(COUNT(DISTINCT k) AS BIGINT) AS n_containers
        |  FROM s GROUP BY m)
        |SELECT doc_id, n_dups, n_containers,
        |  'mirror doc class ' || printf('%02d', m) || ' corpus text body' AS txt
        |FROM g ORDER BY doc_id""".stripMargin,

    // decoded text restated; torn (flipped in-stream byte -> block CRC
    // refusal) absent — the round-trip rides the engine encoder but
    // the CRC-refusal arm and the Bzip2Spec CLI differential keep the
    // decoder honestly under test
    "m29_bzip2_inflate" ->
      """SELECT doc_id,
        |  'mirror doc ' || printf('%07d', doc_id % 10000000)
        |    || ' lang ' || lang || ' via bz2' AS text,
        |  CAST(strlen('mirror doc ' || printf('%07d', doc_id % 10000000)
        |    || ' lang ' || lang || ' via bz2') AS INT) AS n_bytes
        |FROM documents WHERE doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,

    // decoded text restated — an inversion check on the whole
    // column-arithmetic LZ4 frame assembly; torn (HC flip) absent
    "m30_lz4_inflate" ->
      """SELECT doc_id,
        |  'mirror doc ' || printf('%07d', doc_id % 10000000)
        |    || ' lang ' || lang || ' via lz4' AS text,
        |  CAST(strlen('mirror doc ' || printf('%07d', doc_id % 10000000)
        |    || ' lang ' || lang || ' via lz4') AS INT) AS n_bytes
        |FROM documents WHERE doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,

    // the container swap is invisible under the hash: identical output
    // to x20/x20b/x20c through the bzip2 stream
    "x20d_mirror_ingest_bz2" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 13 AS m FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    'alpha ' || printf('%02d', m) || ' v2' AS a_text,
        |    'beta ' || printf('%02d', m) || ' '
        |      || chr(8220) || lang || chr(8221) AS b_text
        |  FROM s),
        |g AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    a_text, b_text
        |  FROM r GROUP BY a_text, b_text)
        |SELECT doc_id, n_dups, CAST(3 AS INT) AS n_entries, a_text, b_text
        |FROM g ORDER BY doc_id""".stripMargin,

    // the decoded text restated arithmetically — an inversion check on
    // the whole column-arithmetic XZ stream assembly; torn absent
    "m28_xz_inflate" ->
      """SELECT doc_id,
        |  'mirror doc ' || printf('%07d', doc_id % 10000000)
        |    || ' lang ' || lang || ' via xz' AS text,
        |  CAST(strlen('mirror doc ' || printf('%07d', doc_id % 10000000)
        |    || ' lang ' || lang || ' via xz') AS INT) AS n_bytes
        |FROM documents WHERE doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,

    // d23's exact aHash derivation (pixel arithmetic -> cell means ->
    // 64-bit signature) with the three curation gates applied before
    // banding; the keep-first rule is NOT EXISTS over the same pair CTE
    "x18_multimodal_curation" ->
      s"""WITH ge AS (
         |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
         |    (doc_id // 4) % 5 + 8 AS w, (doc_id // 4) % 4 + 8 AS h
         |  FROM documents),
         |ks AS (
         |  SELECT doc_id, g, v, w, h,
         |    unnest(generate_series(0, w * h - 1)) AS p
         |  FROM ge),
         |gr AS (
         |  SELECT doc_id, w, h, p // w AS r, p % w AS x,
         |    ((CASE WHEN v > 0 AND p % w = v - 1 AND p // w = 0
         |           THEN (g * 13 + (p % w) * (g % 7 + 3)
         |                 + (p // w) * (g % 5 + 7)
         |                 + (p % w) * (p // w) * (g % 101 + 1) + 128) % 256
         |           ELSE (g * 13 + (p % w) * (g % 7 + 3)
         |                 + (p // w) * (g % 5 + 7)
         |                 + (p % w) * (p // w) * (g % 101 + 1)) % 256 END)
         |     + (g * 13 + (p % w) * (g % 7 + 3)
         |        + (p // w) * (g % 5 + 7)
         |        + (p % w) * (p // w) * (g % 101 + 1) + 11) % 256
         |     + (g * 13 + (p % w) * (g % 7 + 3)
         |        + (p // w) * (g % 5 + 7)
         |        + (p % w) * (p // w) * (g % 101 + 1) + 22) % 256) AS gray
         |  FROM ks),
         |cells AS (
         |  SELECT doc_id, ((r * 8) // h) * 8 + (x * 8) // w AS cell, gray
         |  FROM gr),
         |cs AS (SELECT doc_id, cell, CAST(SUM(gray) AS BIGINT) AS s,
         |        COUNT(*) AS n FROM cells GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS ts,
         |        COUNT(*) AS nt FROM gr GROUP BY 1),
         |sig AS MATERIALIZED (
         |  SELECT cs.doc_id,
         |    CAST(SUM(CASE WHEN cs.s * tot.nt > tot.ts * cs.n
         |         THEN CAST(CAST(1 AS UBIGINT) << cell AS HUGEINT) ELSE 0 END)
         |      & ${SketchSql.Mask64} AS UBIGINT) AS u
         |  FROM cs JOIN tot USING (doc_id) GROUP BY 1),
         |elig AS (
         |  SELECT s2.doc_id, s2.u, ge.w, ge.h
         |  FROM sig s2 JOIN ge USING (doc_id)
         |  WHERE s2.doc_id % 7 <> 0 AND ge.w >= 9 AND s2.doc_id % 9 <> 0),
         |chunked AS (
         |  SELECT doc_id, u, c, (u >> (c * 16)) & 65535 AS v2
         |  FROM elig, generate_series(0, 3) AS g2(c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM chunked a JOIN chunked b
         |    ON a.c = b.c AND a.v2 = b.v2 AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.u, b.u)) <= 3)
         |SELECT e.doc_id, CAST(e.w AS INT) AS width, CAST(e.h AS INT) AS height,
         |  'photo of item ' || CAST(e.doc_id % 17 AS VARCHAR) AS caption
         |FROM elig e
         |WHERE NOT EXISTS (SELECT 1 FROM cand c2 WHERE c2.id2 = e.doc_id)
         |ORDER BY e.doc_id""".stripMargin,

    "d23_image_near_dup" ->
      s"""WITH ge AS (
         |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
         |    (doc_id // 4) % 5 + 8 AS w, (doc_id // 4) % 4 + 8 AS h
         |  FROM documents),
         |ks AS (
         |  SELECT doc_id, g, v, w, h,
         |    unnest(generate_series(0, w * h - 1)) AS p
         |  FROM ge),
         |gr AS (
         |  SELECT doc_id, w, h, p // w AS r, p % w AS x,
         |    ((CASE WHEN v > 0 AND p % w = v - 1 AND p // w = 0
         |           THEN (g * 13 + (p % w) * (g % 7 + 3)
         |                 + (p // w) * (g % 5 + 7)
         |                 + (p % w) * (p // w) * (g % 101 + 1) + 128) % 256
         |           ELSE (g * 13 + (p % w) * (g % 7 + 3)
         |                 + (p // w) * (g % 5 + 7)
         |                 + (p % w) * (p // w) * (g % 101 + 1)) % 256 END)
         |     + (g * 13 + (p % w) * (g % 7 + 3)
         |        + (p // w) * (g % 5 + 7)
         |        + (p % w) * (p // w) * (g % 101 + 1) + 11) % 256
         |     + (g * 13 + (p % w) * (g % 7 + 3)
         |        + (p // w) * (g % 5 + 7)
         |        + (p % w) * (p // w) * (g % 101 + 1) + 22) % 256) AS gray
         |  FROM ks),
         |cells AS (
         |  SELECT doc_id, ((r * 8) // h) * 8 + (x * 8) // w AS cell, gray
         |  FROM gr),
         |cs AS (SELECT doc_id, cell, CAST(SUM(gray) AS BIGINT) AS s,
         |        COUNT(*) AS n FROM cells GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS ts,
         |        COUNT(*) AS nt FROM gr GROUP BY 1),
         |sig AS MATERIALIZED (
         |  SELECT cs.doc_id,
         |    CAST(SUM(CASE WHEN cs.s * tot.nt > tot.ts * cs.n
         |         THEN CAST(CAST(1 AS UBIGINT) << cell AS HUGEINT) ELSE 0 END)
         |      & ${SketchSql.Mask64} AS UBIGINT) AS u
         |  FROM cs JOIN tot USING (doc_id) GROUP BY 1),
         |chunked AS (
         |  SELECT doc_id, u, c, (u >> (c * 16)) & 65535 AS v2
         |  FROM sig, generate_series(0, 3) AS g2(c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM chunked a JOIN chunked b
         |    ON a.c = b.c AND a.v2 = b.v2 AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.u, b.u)) <= 3)
         |SELECT id1, id2 FROM cand ORDER BY id1, id2""".stripMargin,

    // the m8 inversion posture for JPEG: with q0 = 16 the IDCT of a
    // DC-only block is the exact integer 128 + 2*dc (dc*16/8, no
    // rounding), so the oracle states every stat from the diff pattern
    // alone — it never parses a byte of the stream the engine decodes
    "m11_jpeg_pixels" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 3 + 1 AS INT) AS wb,
        |    CAST(doc_id % 2 + 1 AS INT) AS hb
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, wb, hb,
        |    unnest(generate_series(0, wb * hb - 1)) AS i
        |  FROM s),
        |v AS (
        |  SELECT doc_id,
        |    CASE WHEN i % 2 = 0 THEN 8 + (doc_id + i // 2) % 8 ELSE 0 END AS dc
        |  FROM b),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(64 * (128 + 2 * dc)) AS BIGINT) AS ps,
        |    CAST(MIN(128 + 2 * dc) AS INT) AS mn,
        |    CAST(MAX(128 + 2 * dc) AS INT) AS mx
        |  FROM v GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * wb END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * hb END AS height,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(64 * wb * hb AS BIGINT) END AS n_pixels,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE ps END AS pixel_sum,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mn END AS pixel_min,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mx END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the m11 inversion posture for the progressive composition: block
    // b's pixel value is 128 + 2*((pred_b << 1) | refine_bit_b) — the
    // DC-first shift, the refine-bit merge, and the all-EOB AC band are
    // all under the hash; torn docs keep their row with NULL stats
    "m19_progressive_jpeg" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    8 + doc_id % 8 AS d0,
        |    8 + doc_id % 5 AS d1,
        |    doc_id % 2 AS b0,
        |    (doc_id // 2) % 2 AS b1
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    128 + 4 * d0 + 2 * b0 AS p0,
        |    128 + 4 * (d0 + d1) + 2 * b1 AS p1
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(16 AS INT) END AS width,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(8 AS INT) END AS height,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(128 AS BIGINT) END AS n_pixels,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(64 * (p0 + p1) AS BIGINT) END AS pixel_sum,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(LEAST(p0, p1) AS INT) END AS pixel_min,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(GREATEST(p0, p1) AS INT) END AS pixel_max
        |FROM p ORDER BY doc_id""".stripMargin,

    // per-block Y/Cb'/Cr' from the diff patterns, then the SAME 16-bit
    // fixed-point conversion as integer division on non-negative
    // operands (trunc == floor == arithmetic shift here; the engine's
    // samples never reach a clamp at these magnitudes by construction)
    "m12_jpeg_rgb" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INT) AS wb,
        |    CAST(doc_id % 3 + 1 AS INT) AS hb
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, wb, hb,
        |    unnest(generate_series(0, wb * hb - 1)) AS i
        |  FROM s),
        |v AS (
        |  SELECT doc_id,
        |    CASE WHEN i % 2 = 0 THEN 2 * (8 + (doc_id * 1 + i // 2) % 8) ELSE 0 END AS yv,
        |    CASE WHEN i % 2 = 0 THEN 2 * (8 + (doc_id * 3 + i // 2) % 8) ELSE 0 END AS cb,
        |    CASE WHEN i % 2 = 0 THEN 2 * (8 + (doc_id * 5 + i // 2) % 8) ELSE 0 END AS cr
        |  FROM b),
        |px AS (
        |  SELECT doc_id,
        |    128 + yv + (91881 * cr + 32768) // 65536 AS r,
        |    128 + yv - (22554 * cb + 46802 * cr + 32768) // 65536 AS g,
        |    128 + yv + (116130 * cb + 32768) // 65536 AS bch
        |  FROM v),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(64 * r) AS BIGINT) AS sr,
        |    CAST(SUM(64 * g) AS BIGINT) AS sg,
        |    CAST(SUM(64 * bch) AS BIGINT) AS sb,
        |    CAST(LEAST(MIN(r), MIN(g), MIN(bch)) AS INT) AS mn,
        |    CAST(GREATEST(MAX(r), MAX(g), MAX(bch)) AS INT) AS mx
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * wb END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * hb END AS height,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(64 * wb * hb AS BIGINT) END AS n_pixels,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sr END AS sum_r,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sg END AS sum_g,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sb END AS sum_b,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mn END AS pixel_min,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mx END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // 4:2:0: q enumerates Y blocks (4 per MCU, stream order), so the
    // MCU index is q // 4 and its single box-replicated chroma pair
    // applies to all 64 pixels of each Y block — the same per-block
    // fixed-point conversion as m12, indices shifted by the subsampling
    "m13_jpeg_420" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INT) AS wm,
        |    CAST(doc_id % 3 + 1 AS INT) AS hm
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, wm, hm,
        |    unnest(generate_series(0, wm * hm * 4 - 1)) AS q
        |  FROM s),
        |v AS (
        |  SELECT doc_id,
        |    CASE WHEN q % 2 = 0 THEN 2 * (8 + (doc_id * 1 + q // 2) % 8) ELSE 0 END AS yv,
        |    CASE WHEN (q // 4) % 2 = 0 THEN 2 * (8 + (doc_id * 3 + q // 8) % 8) ELSE 0 END AS cb,
        |    CASE WHEN (q // 4) % 2 = 0 THEN 2 * (8 + (doc_id * 5 + q // 8) % 8) ELSE 0 END AS cr
        |  FROM b),
        |px AS (
        |  SELECT doc_id,
        |    128 + yv + (91881 * cr + 32768) // 65536 AS r,
        |    128 + yv - (22554 * cb + 46802 * cr + 32768) // 65536 AS g,
        |    128 + yv + (116130 * cb + 32768) // 65536 AS bch
        |  FROM v),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(64 * r) AS BIGINT) AS sr,
        |    CAST(SUM(64 * g) AS BIGINT) AS sg,
        |    CAST(SUM(64 * bch) AS BIGINT) AS sb,
        |    CAST(LEAST(MIN(r), MIN(g), MIN(bch)) AS INT) AS mn,
        |    CAST(GREATEST(MAX(r), MAX(g), MAX(bch)) AS INT) AS mx
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 16 * wm END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 16 * hm END AS height,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(256 * wm * hm AS BIGINT) END AS n_pixels,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sr END AS sum_r,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sg END AS sum_g,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sb END AS sum_b,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mn END AS pixel_min,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mx END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // 4:1:1: identical block stream to m13 (4 Y + chroma pair per MCU),
    // raster turned sideways — only the width/height lines differ
    "m13b_jpeg_411" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INT) AS wm,
        |    CAST(doc_id % 3 + 1 AS INT) AS hm
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, wm, hm,
        |    unnest(generate_series(0, wm * hm * 4 - 1)) AS q
        |  FROM s),
        |v AS (
        |  SELECT doc_id,
        |    CASE WHEN q % 2 = 0 THEN 2 * (8 + (doc_id * 1 + q // 2) % 8) ELSE 0 END AS yv,
        |    CASE WHEN (q // 4) % 2 = 0 THEN 2 * (8 + (doc_id * 3 + q // 8) % 8) ELSE 0 END AS cb,
        |    CASE WHEN (q // 4) % 2 = 0 THEN 2 * (8 + (doc_id * 5 + q // 8) % 8) ELSE 0 END AS cr
        |  FROM b),
        |px AS (
        |  SELECT doc_id,
        |    128 + yv + (91881 * cr + 32768) // 65536 AS r,
        |    128 + yv - (22554 * cb + 46802 * cr + 32768) // 65536 AS g,
        |    128 + yv + (116130 * cb + 32768) // 65536 AS bch
        |  FROM v),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(64 * r) AS BIGINT) AS sr,
        |    CAST(SUM(64 * g) AS BIGINT) AS sg,
        |    CAST(SUM(64 * bch) AS BIGINT) AS sb,
        |    CAST(LEAST(MIN(r), MIN(g), MIN(bch)) AS INT) AS mn,
        |    CAST(GREATEST(MAX(r), MAX(g), MAX(bch)) AS INT) AS mx
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 32 * wm END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * hm END AS height,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(256 * wm * hm AS BIGINT) END AS n_pixels,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sr END AS sum_r,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sg END AS sum_g,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sb END AS sum_b,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mn END AS pixel_min,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mx END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the m8 inversion posture for ZIP: listing fields stated purely
    // from the construction arithmetic (entry sizes are the component
    // string lengths); torn docs contribute no rows
    "m16_zip_entries" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len('alpha ' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS l1,
        |    CAST(len('beta ' || lang || ' ' || CAST(doc_id % 7 AS VARCHAR)) AS BIGINT) AS l2
        |  FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id, CAST(0 AS INT) AS idx, 'a.txt' AS name,
        |    CAST(0 AS INT) AS method, l1 AS csize, l1 AS usize
        |  FROM s
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS INT), 'notes/b.txt',
        |    CAST(0 AS INT), l2, l2
        |  FROM s)
        |SELECT doc_id, idx, name, method, csize, usize
        |FROM r ORDER BY doc_id, idx""".stripMargin,

    // ZIP64 inversion: one stored entry whose sizes are the payload's
    // length, extraction is the payload itself; the two-disk torn arm
    // (doc_id % 7 == 0) contributes no rows
    "m16b_zip64_entries" ->
      """SELECT doc_id, CAST(0 AS INT) AS idx, 'big.bin' AS name,
        |  CAST(0 AS INT) AS method,
        |  CAST(len('payload ' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS csize,
        |  CAST(len('payload ' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS usize,
        |  'payload ' || CAST(doc_id AS VARCHAR) AS payload
        |FROM documents
        |WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    // the inversion posture for the meta prescan: each arm's decoded
    // string stated literally (233 = é via utf-8, 195/169 = Ã© when the
    // same bytes are DECLARED cp1252, 8220 = the cp1252 curly quote);
    // the lying declaration vanishes to NULL, the BOM overlay wins
    "m20_meta_charset" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 4 AS arm,
        |    'page ' || lang || ' ' || CAST(doc_id % 10 AS VARCHAR) || ' ' AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CASE
        |    WHEN doc_id % 11 = 0 THEN NULL
        |    WHEN doc_id % 13 = 0 THEN
        |      '<html><head><meta charset="windows-1252"></head><body>'
        |      || body || chr(233) || '</body></html>'
        |    WHEN arm = 0 THEN
        |      '<html><head><meta charset="windows-1252"></head><body>'
        |      || body || chr(195) || chr(169) || '</body></html>'
        |    WHEN arm = 1 THEN
        |      '<html><head><meta http-equiv="Content-Type" content="text/html; charset=utf-8"></head><body>'
        |      || body || chr(233) || '</body></html>'
        |    WHEN arm = 2 THEN
        |      '<html><head><!--<meta charset="windows-1252">--></head><body>'
        |      || body || chr(233) || '</body></html>'
        |    ELSE
        |      '<html><head></head><body>'
        |      || body || chr(8220) || '</body></html>'
        |  END AS text
        |FROM s ORDER BY doc_id""".stripMargin,

    // the bytes-to-corpus flow restated end to end by inversion: the
    // eligibility arms (torn WARC, 404, lying declaration) vanish up
    // front, the decoded text differs by parity exactly where the
    // declared charset made it differ (8220/8221 = the cp1252 curly
    // quotes around 'alpha'), boilerplate keeps the two prose blocks
    // (constant class string), the scrub rewrites the planted email/IP,
    // and keep-first groups on the redacted text itself
    "x16_bytes_to_corpus" ->
      """WITH e AS (
        |  SELECT doc_id, lang,
        |    CAST(doc_id % 13 AS VARCHAR) AS k, doc_id % 2 AS par
        |  FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0 AND doc_id % 11 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN par = 0 THEN 'alpha'
        |         ELSE chr(8220) || 'alpha' || chr(8221) END
        |    || ' ' || lang || ' ' || k
        |    || ' the of and to a is. contact <EMAIL> or <IP> beta '
        |    || lang || ' ' || k || ' the of and in it on.' AS redacted
        |  FROM e),
        |g AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    redacted
        |  FROM r GROUP BY redacted)
        |SELECT doc_id, n_dups, 'bad good good bad' AS classes, redacted
        |FROM g ORDER BY doc_id""".stripMargin,

    // the governance flow restated: t57's admission outcomes select the
    // arms, the schedule window runs over exactly those rows, torn
    // fetches (doc_id % 11 = 0) vanish before dedup, text stated by
    // inversion (UTF-16LE decodes to the source; CP1252 appends the
    // curly quotes), keep-first grouped by the text itself (fingerprint
    // is injective here), keeper's slot joined back by id
    "x15_crawl_governance" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 37 END AS host_id,
        |    doc_id % 5 AS priority
        |  FROM documents
        |  WHERE doc_id % 6 IN (1, 3, 5)),
        |sched AS (
        |  SELECT doc_id, lang, host_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host_id
        |      ORDER BY priority DESC, doc_id) - 1 AS BIGINT) AS slot,
        |    1 + host_id % 4 AS delay_s
        |  FROM c),
        |sched2 AS (
        |  SELECT doc_id, lang, host_id, slot,
        |    CAST((slot // 8) * 60 + (slot % 8) * delay_s AS BIGINT) AS fetch_offset_s
        |  FROM sched),
        |fetched AS (
        |  SELECT doc_id, host_id, slot, fetch_offset_s,
        |    'page ' || lang || ' ' || CAST(doc_id % 13 AS VARCHAR) ||
        |      CASE WHEN doc_id % 2 = 1 THEN chr(8220) || chr(8221) ELSE '' END AS text
        |  FROM sched2
        |  WHERE doc_id % 11 <> 0),
        |kept AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        |  FROM fetched GROUP BY text)
        |SELECT k.doc_id, k.n_dups, f.host_id, f.slot, f.fetch_offset_s
        |FROM kept k JOIN fetched f USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin,

    // the full cycle restated: discovery arms select the urls, the
    // staleness comparison and the robots decision gate them, the
    // schedule window runs over exactly the admitted rows (delay from
    // the robots construction), torn decodes vanish, redacted text
    // stated by inversion of the x16 page, keeper joined back by
    // (doc_id, text) — a doc's rows never collide with each other, so
    // the pair is unique
    "x17_crawl_cycle" ->
      """WITH kk AS (
        |  SELECT doc_id, lang, unnest(generate_series(1, 3)) AS k
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, CAST(k AS BIGINT) AS k,
        |    CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 37 END AS host_id,
        |    (doc_id + k) % 3 AS arm,
        |    (doc_id + k) % 5 AS priority,
        |    (doc_id + k) % 2 AS par,
        |    CAST((doc_id + k) % 13 AS VARCHAR) AS m
        |  FROM kk),
        |c2 AS (
        |  SELECT *,
        |    'https://h' || CAST(host_id AS VARCHAR) || '.example.com'
        |      || CASE arm WHEN 0 THEN '/private/x'
        |                  WHEN 1 THEN '/private/pub' ELSE '/open/' END
        |      || CAST(doc_id AS VARCHAR) || 'k' || CAST(k AS VARCHAR) AS url,
        |    printf('2024-03-%02d', (doc_id + k * 7) % 28 + 1) AS lastmod,
        |    printf('2024-03-%02d', (doc_id * 3 + k * 5) % 28 + 1) AS last_fetch
        |  FROM c),
        |adm AS (
        |  SELECT * FROM c2
        |  WHERE lastmod > last_fetch AND arm <> 0),
        |sched AS (
        |  SELECT *,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host_id
        |      ORDER BY priority DESC, url) - 1 AS BIGINT) AS slot,
        |    CASE WHEN host_id % 3 = 0 THEN 2
        |         ELSE 1 + host_id % 4 END AS delay_s
        |  FROM adm),
        |fetched AS (
        |  SELECT doc_id, k, slot,
        |    CAST((slot // 8) * 60 + (slot % 8) * delay_s AS BIGINT) AS fetch_offset_s,
        |    CASE WHEN par = 0 THEN 'alpha'
        |         ELSE chr(8220) || 'alpha' || chr(8221) END
        |    || ' ' || lang || ' ' || m
        |    || ' the of and to a is. contact <EMAIL> or <IP> beta '
        |    || lang || ' ' || m || ' the of and in it on.' AS redacted
        |  FROM sched
        |  WHERE (doc_id + k) % 11 <> 0),
        |kept AS (
        |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
        |    redacted
        |  FROM fetched GROUP BY redacted)
        |SELECT kt.doc_id, f.k, kt.n_dups, f.slot, f.fetch_offset_s, kt.redacted
        |FROM kept kt
        |JOIN fetched f ON kt.doc_id = f.doc_id AND kt.redacted = f.redacted
        |ORDER BY kt.doc_id, f.k""".stripMargin,

    // the m16 inversion posture for TAR: listing fields stated from the
    // construction arithmetic (entry 2's size is the component string
    // length; offsets are block arithmetic), the prefix join and the
    // extracted body stated literally; torn docs contribute no rows
    "m18_tar_entries" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'beta ' || lang || ' ' || CAST(doc_id % 7 AS VARCHAR) AS body_b
        |  FROM documents
        |  WHERE doc_id % 7 <> 0),
        |r AS (
        |  SELECT doc_id, CAST(0 AS INT) AS idx, 'a.txt' AS name,
        |    '0' AS typeflag, CAST(13 AS BIGINT) AS size,
        |    CAST(512 AS BIGINT) AS "offset", body_b
        |  FROM s
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS INT), 'docs/b.txt',
        |    '0', CAST(len(body_b) AS BIGINT), CAST(1536 AS BIGINT), body_b
        |  FROM s)
        |SELECT doc_id, idx, name, typeflag, size, "offset", body_b
        |FROM r ORDER BY doc_id, idx""".stripMargin,

    // the inversion posture for charset decode: label and decoded text
    // stated purely from the construction arithmetic — chr() of the
    // exact code points the constructed bytes spell (128512 = U+1F600
    // via the LE surrogate pair, 233 = é, 8212 = em dash, 8220/8221 =
    // the CP1252 curly quotes); torn docs keep their claimed label and
    // lose their text
    "m17_charset_decode" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' ' || lang AS src,
        |    doc_id % 5 AS arm
        |  FROM documents)
        |SELECT doc_id,
        |  CASE
        |    WHEN doc_id % 7 = 0 THEN 'utf-16le'
        |    WHEN arm = 0 THEN 'utf-16le'
        |    WHEN arm = 1 THEN 'utf-8-bom'
        |    WHEN arm = 2 AND doc_id % 2 = 0 THEN 'utf-8'
        |    WHEN arm = 2 THEN 'ascii'
        |    WHEN arm = 3 THEN 'windows-1252'
        |    ELSE 'utf-16be'
        |  END AS charset,
        |  CASE
        |    WHEN doc_id % 7 = 0 THEN NULL
        |    WHEN arm = 0 THEN src || chr(128512)
        |    WHEN arm = 1 THEN src || chr(233)
        |    WHEN arm = 2 AND doc_id % 2 = 0 THEN src || chr(8212)
        |    WHEN arm = 2 THEN src
        |    WHEN arm = 3 THEN src || chr(8220) || chr(233) || chr(8221)
        |    ELSE src
        |  END AS text
        |FROM s ORDER BY doc_id""".stripMargin,

    // the front door restated: bodies from the construction arithmetic
    // (404s and torn docs excluded up front — they never reach the
    // chain), then t54's scrub stages, x12's quality formula over the
    // REDACTED text, and d11's md5 keep-first — every boundary under
    // one hash
    "x14_crawl_front_door" ->
      """WITH raw0 AS (
        |  SELECT doc_id,
        |    'contact admin@example.com or 10.0.0.1 ' || text AS t
        |  FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0),
        |s1 AS (
        |  SELECT doc_id, regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM raw0),
        |s2 AS (
        |  SELECT doc_id, regexp_replace(t1,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, regexp_replace(t2,
        |    '\+?\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS redacted
        |  FROM s2),
        |q AS (
        |  SELECT doc_id, redacted,
        |    (LEAST(1.0, n_tok / 20.0)
        |     + n_distinct / GREATEST(n_tok, 1.0)
        |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
        |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
        |  FROM (
        |    SELECT doc_id, redacted,
        |      CAST(CASE WHEN len(trim(redacted)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(redacted), '\s+')) END AS DOUBLE) AS n_tok,
        |      CAST(CASE WHEN len(trim(redacted)) = 0 THEN 0
        |           ELSE len(list_distinct(string_split_regex(trim(redacted), '\s+'))) END AS DOUBLE) AS n_distinct,
        |      CAST(len(regexp_extract_all(redacted, '\b(the|a|of|to|and)\b')) AS DOUBLE) AS n_stop,
        |      CAST(len(regexp_replace(lower(redacted), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |      CAST(len(redacted) AS DOUBLE) AS n_chars
        |    FROM s3) t0),
        |g AS (SELECT doc_id, redacted FROM q WHERE quality >= 0.5),
        |k AS (
        |  SELECT MIN(doc_id) AS doc_id, fp FROM (
        |    SELECT doc_id,
        |      md5(regexp_replace(lower(trim(redacted)), '\s+', ' ', 'g')) AS fp
        |    FROM g)
        |  GROUP BY fp)
        |SELECT doc_id, fp FROM k ORDER BY doc_id""".stripMargin,

    // the m8 inversion posture for WARC: the oracle never parses a byte
    // — it states both records' fields from the construction arithmetic
    // (content lengths from component string lengths), and torn docs
    // contribute no rows at all (whole-blob quarantine)
    "m15_warc_records" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' ' || lang AS body,
        |    CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS status
        |  FROM documents
        |  WHERE doc_id % 7 <> 0),
        |recs AS (
        |  SELECT doc_id, CAST(0 AS INT) AS rec_idx,
        |    'warcinfo' AS rec_type,
        |    CAST(NULL AS VARCHAR) AS target_uri,
        |    CAST(15 AS BIGINT) AS content_length,
        |    CAST(NULL AS INT) AS http_status,
        |    'software: graft' AS body
        |  FROM s
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS INT),
        |    'response',
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
        |    CAST(45 + len(body) AS BIGINT),
        |    status,
        |    body
        |  FROM s)
        |SELECT doc_id, rec_idx, rec_type, target_uri, content_length,
        |  http_status, body
        |FROM recs ORDER BY doc_id, rec_idx""".stripMargin,

    // restart semantics in the statement itself: at interval 1 EVERY
    // block's dc is its own diff (the predictor reset), so dc = d_i for
    // all i — the un-reset chain would read a running sum instead and
    // nothing downstream could repair the hash
    "m14_jpeg_restart" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 3 + 1 AS INT) AS wb,
        |    CAST(doc_id % 2 + 1 AS INT) AS hb
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, wb, hb,
        |    unnest(generate_series(0, wb * hb - 1)) AS i
        |  FROM s),
        |v AS (
        |  SELECT doc_id, 8 + (doc_id + i) % 8 AS dc
        |  FROM b),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(64 * (128 + 2 * dc)) AS BIGINT) AS ps,
        |    CAST(MIN(128 + 2 * dc) AS INT) AS mn,
        |    CAST(MAX(128 + 2 * dc) AS INT) AS mx
        |  FROM v GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * wb END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE 8 * hb END AS height,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(64 * wb * hb AS BIGINT) END AS n_pixels,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE ps END AS pixel_sum,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mn END AS pixel_min,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE mx END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "m8_bmp_pixels" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 1 AS INT) AS w,
        |         CAST(doc_id % 3 + 1 AS INT) AS h
        |  FROM documents),
        |ks AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h * 3 - 1)) AS k FROM s),
        |px AS (
        |  SELECT doc_id, k % 3 AS c,
        |    (doc_id + 3 * ((k // 3) % w) + 7 * ((k // 3) // w) + 11 * (k % 3)) % 256 AS v
        |  FROM ks),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |    CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |    CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |    CAST(MIN(v) AS INT) AS pixel_min, CAST(MAX(v) AS INT) AS pixel_max
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE h END AS height,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL
        |       ELSE CAST(w * h AS BIGINT) END AS n_pixels,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sum_b END AS sum_b,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sum_g END AS sum_g,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE sum_r END AS sum_r,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE pixel_min END AS pixel_min,
        |  CASE WHEN s.doc_id % 7 = 0 THEN NULL ELSE pixel_max END AS pixel_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the inversion expectations for the GIF decoder: index stats from
    // the same (doc_id * 13 + 5k) % 256 pixel formula; torn docs NULL
    "m7_gif_pixels" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 12 + 1 AS INT) AS w,
        |         CAST(doc_id % 6 + 1 AS INT) AS h
        |  FROM documents),
        |ks AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS k FROM s),
        |px AS (
        |  SELECT doc_id, (doc_id * 13 + 5 * k) % 256 AS v FROM ks),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |    CAST(SUM(v) AS BIGINT) AS idx_sum,
        |    CAST(MIN(v) AS INT) AS idx_min, CAST(MAX(v) AS INT) AS idx_max
        |  FROM px GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.doc_id % 8 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN s.doc_id % 8 = 0 THEN NULL ELSE h END AS height,
        |  CASE WHEN s.doc_id % 8 = 0 THEN NULL ELSE n_pixels END AS n_pixels,
        |  CASE WHEN s.doc_id % 8 = 0 THEN NULL ELSE idx_sum END AS idx_sum,
        |  CASE WHEN s.doc_id % 8 = 0 THEN NULL ELSE idx_min END AS idx_min,
        |  CASE WHEN s.doc_id % 8 = 0 THEN NULL ELSE idx_max END AS idx_max
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the inversion expectations: MP4 fields from the same doc_id
    // arithmetic with duration_ms = units * 1000 // timescale (the ISO
    "m4_media_format" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 21 AS INT)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
        |    WHEN 3 THEN 'wav' WHEN 4 THEN 'avi' WHEN 5 THEN 'mp4'
        |    WHEN 6 THEN 'mp3'
        |    WHEN 8 THEN 'gzip' WHEN 9 THEN 'zstd' WHEN 10 THEN 'zip'
        |    WHEN 11 THEN 'pdf' WHEN 12 THEN 'flac' WHEN 13 THEN 'warc'
        |    WHEN 14 THEN 'tar'
        |    WHEN 15 THEN 'xz' WHEN 16 THEN 'ogg'
        |    WHEN 17 THEN 'bzip2' WHEN 18 THEN 'lz4'
        |    WHEN 19 THEN 'rar' WHEN 20 THEN '7z'
        |    ELSE 'unknown' END AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // 14496-12 movie-header semantics in exact integer math); AVI from
    // frames * usPerFrame // 1000 per the RIFF avih fields
    "m3_video_meta" ->
      """SELECT doc_id,
        |  'mp4' AS mp4_format, CAST(doc_id % 1920 + 16 AS INT) AS mp4_w,
        |  CAST(doc_id % 1080 + 16 AS INT) AS mp4_h,
        |  CAST((doc_id % 100000 + 1000) * 1000
        |    // ([600, 1000, 90000, 24000])[CAST(doc_id % 4 AS INT) + 1] AS BIGINT) AS mp4_dur_ms,
        |  CAST(1 AS INT) AS mp4_tracks,
        |  'avi' AS avi_format, CAST(doc_id % 1280 + 32 AS INT) AS avi_w,
        |  CAST(doc_id % 720 + 32 AS INT) AS avi_h,
        |  CAST((doc_id % 5000 + 1)
        |    * ([33333, 40000, 16667, 41708])[CAST(doc_id % 4 AS INT) + 1] // 1000 AS BIGINT) AS avi_dur_ms,
        |  CAST(doc_id % 3 + 1 AS INT) AS avi_tracks
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dedup (keep-first by name per (id, metadata_text)), WKB ring bbox
    // decoded from the raw geometry bytes (wkbDouble: header is
    // 1 byte order + 4 type + 4 nrings + 4 npts = 13 bytes, then 5
    // little-endian (x, y) double pairs), inclusive point-in-bbox,
    // lowered type filter, float32-exact probe literals, (dist, id)
    // tie-broken top-5 — clause for clause the engine's x2 plan.
    "x2_geoparquet_search" -> {
      val probeSql = ParcelProbe.map(_.toDouble.toString).mkString("[", ", ", "]")
      s"""WITH raw AS (
         |  SELECT *, hex(geometry) AS gh
         |  FROM read_parquet('$GoldenFixture')),
         |ded AS (
         |  SELECT * FROM raw
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id, metadata_text ORDER BY name ASC) = 1),
         |pts AS (
         |  SELECT id, ${wkbDouble("gh", "13 + g.i * 16")} AS px,
         |         ${wkbDouble("gh", "21 + g.i * 16")} AS py
         |  FROM ded, generate_series(0, 4) AS g(i)),
         |bbox AS (
         |  SELECT id, MIN(px) AS xmin, MAX(px) AS xmax,
         |         MIN(py) AS ymin, MAX(py) AS ymax
         |  FROM pts GROUP BY id)
         |SELECT d.id, d.name, d.type, d.description, d.url, d.metadata_text
         |FROM ded d JOIN bbox b USING (id)
         |WHERE lower(d.type) IN ('feature layer')
         |  AND -81.27 BETWEEN b.xmin AND b.xmax
         |  AND 28.80 BETWEEN b.ymin AND b.ymax
         |ORDER BY 1 - list_cosine_similarity(d.embeddings, $probeSql) ASC, d.id ASC
         |LIMIT 5""".stripMargin
    },

    // The hashing encoder restated end to end: FNV-1a over UTF-8 bytes
    // (SketchSql.FnvSql), splitmix64 finalizer (mixLayerCtes), signed
    // bucketing, per-doc signed-count vectors, then the identical
    // double-precision cosine (components are exact small integers, so
    // every sum/product is exact and sqrt/division round identically in
    // both engines — the ranking is bit-reproducible, not just close).
    "x3_embed_search" ->
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(${SketchSql.ToksSql}) AS s
         |  FROM documents WHERE len(trim(text)) > 0),
         |f AS (SELECT doc_id, ${SketchSql.FnvSql} AS z FROM dt),
         |${SketchSql.mixLayerCtes("f", Seq("doc_id"))},
         |db AS (
         |  SELECT doc_id, CAST((u >> 1) % $EmbedDim AS INT) AS idx,
         |    CASE WHEN (u & 1) = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM fmu),
         |dv AS (SELECT doc_id, idx, CAST(SUM(sgn) AS DOUBLE) AS v
         |       FROM db GROUP BY doc_id, idx),
         |dn AS (SELECT doc_id, SUM(v * v) AS nd FROM dv GROUP BY doc_id),
         |qt AS (SELECT unnest(string_split_regex(trim('$EmbedQuery'), '\\s+')) AS s),
         |qf AS (SELECT 1 AS q1, ${SketchSql.FnvSql} AS z FROM qt),
         |${SketchSql.mixLayerCtes("qf", Seq("q1"))},
         |qb AS (
         |  SELECT CAST((u >> 1) % $EmbedDim AS INT) AS idx,
         |    CASE WHEN (u & 1) = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM qfmu),
         |qv AS (SELECT idx, CAST(SUM(sgn) AS DOUBLE) AS v FROM qb GROUP BY idx),
         |qn AS (SELECT SUM(v * v) AS nq FROM qv),
         |dp AS (SELECT d.doc_id, SUM(d.v * q.v) AS dot
         |       FROM dv d JOIN qv q USING (idx) GROUP BY d.doc_id),
         |scored AS (
         |  SELECT dn.doc_id,
         |    1.0 - COALESCE(dp.dot, 0.0)
         |      / (SQRT(dn.nd) * SQRT((SELECT nq FROM qn))) AS dist
         |  FROM dn LEFT JOIN dp USING (doc_id)
         |  WHERE dn.nd > 0)
         |SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY dist, doc_id) AS BIGINT) AS rnk
         |FROM scored ORDER BY dist, doc_id LIMIT 10""".stripMargin,

    // the quantized MLP replayed end to end: weights re-derived from the
    // splitmix64 formula (seed + flat index, top bits mod 15, shift to
    // [-7,7]), hashed BOW -> W1x+b1 -> ReLU -> W2h+b2 for every document
    // AND the query, then the identical exact-integer cosine ranking.
    // Every activation is an exact integer (GREATEST is order-free), so
    // the doubles in the final sqrt/divide see identical inputs in both
    // engines — a neural forward pass that hash-matches.
    // stage 1 restates the t18 BM25 chain (the engine query's 6 terms,
    // LIMIT 50); stage 2 re-derives the dOut=1 weight artifact from the
    // splitmix formulas and runs the hashed-cross-feature forward pass
    // as exact-integer SQL
    "x8_cross_rerank" -> {
      import graft.operators.NeuralEmbed.{SeedW1, SeedB1, SeedW2, SeedB2}
      val d0 = EmbedDim; val d1 = CrossHidden
      s"""WITH toks AS (
         |  SELECT doc_id AS id, t.term
         |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(term)
         |  WHERE t.term <> ''),
         |dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY id),
         |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         |q(term) AS (VALUES ('spark'), ('window'), ('merge'), ('batch'),
         |            ('query'), ('join')),
         |dft AS (
         |  SELECT term, COUNT(DISTINCT id) AS df
         |  FROM toks JOIN q USING (term) GROUP BY term),
         |tf AS (
         |  SELECT id, term, COUNT(*) AS tf
         |  FROM toks JOIN q USING (term) GROUP BY id, term),
         |sc AS (
         |  SELECT tf.id,
         |    SUM(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * (1.2 + 1)
         |      / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / s.avgdl))) AS score
         |  FROM tf JOIN dft d USING (term) JOIN dl USING (id) CROSS JOIN stats s
         |  GROUP BY tf.id),
         |cand AS MATERIALIZED (SELECT id FROM sc ORDER BY score DESC, id ASC LIMIT 50),
         |qt AS (SELECT unnest(string_split_regex(lower('$EmbedQuery'), '\\s+')) AS qterm),
         |pf AS (
         |  SELECT toks.id, concat(qt.qterm, ':', toks.term) AS s
         |  FROM toks JOIN cand USING (id) CROSS JOIN qt),
         |f AS (SELECT id, ${SketchSql.FnvSql} AS z FROM pf),
         |${SketchSql.mixLayerCtes("f", Seq("id"))},
         |xb AS (
         |  SELECT id, CAST((u >> 1) % $d0 AS INT) AS idx,
         |    CASE WHEN (u & 1) = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM fmu),
         |xvi AS (SELECT id, idx, CAST(SUM(sgn) AS BIGINT) AS v
         |        FROM xb GROUP BY id, idx),
         |w1z AS (SELECT t, CAST($SeedW1 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 * d0 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("w1z", Seq("t"))},
         |w1 AS (SELECT CAST(t // $d0 AS INT) AS i, CAST(t % $d0 AS INT) AS j,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM w1zmu),
         |b1z AS (SELECT t, CAST($SeedB1 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("b1z", Seq("t"))},
         |b1 AS (SELECT CAST(t AS INT) AS i,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM b1zmu),
         |w2z AS (SELECT t, CAST($SeedW2 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("w2z", Seq("t"))},
         |w2 AS (SELECT CAST(t % $d1 AS INT) AS i,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM w2zmu),
         |b2z AS (SELECT t, CAST($SeedB2 + t AS UBIGINT) AS z
         |        FROM generate_series(0, 0) AS g(t)),
         |${SketchSql.mixLayerCtes("b2z", Seq("t"))},
         |b2 AS (SELECT CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM b2zmu),
         |h0 AS (SELECT x.id, w.i, SUM(w.w * x.v) AS s0
         |       FROM w1 w JOIN xvi x ON w.j = x.idx GROUP BY x.id, w.i),
         |hd AS (SELECT c.id, b.i, GREATEST(b.w + COALESCE(h0.s0, 0), 0) AS h
         |       FROM cand c CROSS JOIN b1 b
         |       LEFT JOIN h0 ON h0.id = c.id AND h0.i = b.i),
         |y0 AS (SELECT h.id, SUM(w.w * h.h) AS s0
         |       FROM w2 w JOIN hd h ON w.i = h.i GROUP BY h.id),
         |y AS (SELECT y0.id, CAST((SELECT w FROM b2) + y0.s0 AS BIGINT) AS ce_score
         |      FROM y0)
         |SELECT id AS doc_id, ce_score FROM y
         |ORDER BY ce_score DESC, doc_id ASC
         |LIMIT 10""".stripMargin
    },

    // t19's lexical/dense/RRF CTEs (the x8 query's 6 terms, probe 0)
    // produce the fused 12-pool; x8's cross-feature forward pass scores
    // it; top-8 exact BIGINT
    "x10_retrieval_stack" -> {
      import graft.operators.NeuralEmbed.{SeedW1, SeedB1, SeedW2, SeedB2}
      val d0 = EmbedDim; val d1 = CrossHidden
      s"""WITH toks AS (
         |  SELECT doc_id AS id, t.term
         |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(term)
         |  WHERE t.term <> ''),
         |dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY id),
         |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         |q(term) AS (VALUES ('spark'), ('window'), ('merge'), ('batch'),
         |            ('query'), ('join')),
         |dft AS (
         |  SELECT term, COUNT(DISTINCT id) AS df
         |  FROM toks JOIN q USING (term) GROUP BY term),
         |tf AS (
         |  SELECT id, term, COUNT(*) AS tf
         |  FROM toks JOIN q USING (term) GROUP BY id, term),
         |sc AS (
         |  SELECT tf.id,
         |    SUM(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * (1.2 + 1)
         |      / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / s.avgdl))) AS score
         |  FROM tf JOIN dft d USING (term) JOIN dl USING (id) CROSS JOIN stats s
         |  GROUP BY tf.id),
         |lex AS (
         |  SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rnk
         |  FROM sc QUALIFY rnk <= 20),
         |vec AS (
         |  SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY
         |    1 - list_cosine_similarity(embedding,
         |      (SELECT embedding FROM embeddings WHERE vec_id = 0)) ASC,
         |    vec_id ASC) AS rnk
         |  FROM embeddings QUALIFY rnk <= 20),
         |contrib AS (
         |  SELECT id, CAST(1.0 AS DOUBLE) / (rnk + 60) AS c FROM lex
         |  UNION ALL
         |  SELECT id, CAST(1.0 AS DOUBLE) / (rnk + 60) AS c FROM vec),
         |fused AS (
         |  SELECT id, SUM(c) AS rrf FROM contrib GROUP BY id),
         |cand0 AS (
         |  SELECT id FROM fused ORDER BY rrf DESC, id ASC LIMIT 12),
         |cand AS MATERIALIZED (
         |  -- the engine's rerank joins candidates back onto documents;
         |  -- an id with no document row never reaches the scorer
         |  SELECT DISTINCT c.id FROM cand0 c
         |  JOIN documents ON documents.doc_id = c.id),
         |qt AS (SELECT unnest(string_split_regex(lower('$EmbedQuery'), '\\s+')) AS qterm),
         |pf AS (
         |  SELECT toks.id, concat(qt.qterm, ':', toks.term) AS s
         |  FROM toks JOIN cand USING (id) CROSS JOIN qt),
         |f AS (SELECT id, ${SketchSql.FnvSql} AS z FROM pf),
         |${SketchSql.mixLayerCtes("f", Seq("id"))},
         |xb AS (
         |  SELECT id, CAST((u >> 1) % $d0 AS INT) AS idx,
         |    CASE WHEN (u & 1) = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM fmu),
         |xvi AS (SELECT id, idx, CAST(SUM(sgn) AS BIGINT) AS v
         |        FROM xb GROUP BY id, idx),
         |w1z AS (SELECT t, CAST($SeedW1 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 * d0 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("w1z", Seq("t"))},
         |w1 AS (SELECT CAST(t // $d0 AS INT) AS i, CAST(t % $d0 AS INT) AS j,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM w1zmu),
         |b1z AS (SELECT t, CAST($SeedB1 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("b1z", Seq("t"))},
         |b1 AS (SELECT CAST(t AS INT) AS i,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM b1zmu),
         |w2z AS (SELECT t, CAST($SeedW2 + t AS UBIGINT) AS z
         |        FROM generate_series(0, ${d1 - 1}) AS g(t)),
         |${SketchSql.mixLayerCtes("w2z", Seq("t"))},
         |w2 AS (SELECT CAST(t % $d1 AS INT) AS i,
         |       CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM w2zmu),
         |b2z AS (SELECT t, CAST($SeedB2 + t AS UBIGINT) AS z
         |        FROM generate_series(0, 0) AS g(t)),
         |${SketchSql.mixLayerCtes("b2z", Seq("t"))},
         |b2 AS (SELECT CAST((u >> 8) % 15 AS BIGINT) - 7 AS w FROM b2zmu),
         |h0 AS (SELECT x.id, w.i, SUM(w.w * x.v) AS s0
         |       FROM w1 w JOIN xvi x ON w.j = x.idx GROUP BY x.id, w.i),
         |hd AS (SELECT c.id, b.i, GREATEST(b.w + COALESCE(h0.s0, 0), 0) AS h
         |       FROM cand c CROSS JOIN b1 b
         |       LEFT JOIN h0 ON h0.id = c.id AND h0.i = b.i),
         |y0 AS (SELECT h.id, SUM(w.w * h.h) AS s0
         |       FROM w2 w JOIN hd h ON w.i = h.i GROUP BY h.id),
         |y AS (SELECT y0.id, CAST((SELECT w FROM b2) + y0.s0 AS BIGINT) AS ce_score
         |      FROM y0)
         |SELECT id AS doc_id, ce_score FROM y
         |ORDER BY ce_score DESC, doc_id ASC
         |LIMIT 8""".stripMargin
    },

    // the whole lifecycle restated: the d11 curation CTEs feed the x4
    // forward-pass template via its src hook, then exact cosine top-10
    // over the curated-and-encoded corpus — what the engine's IVF
    // full-probe serve must equal
    "x12_lifecycle_pipeline" ->
      s"""WITH q AS (
         |  SELECT doc_id, text, lang,
         |    (LEAST(1.0, n_tok / 20.0)
         |     + n_distinct / GREATEST(n_tok, 1.0)
         |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
         |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
         |  FROM (
         |    SELECT doc_id, text, lang,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS n_tok,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS DOUBLE) AS n_distinct,
         |      CAST(len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS DOUBLE) AS n_stop,
         |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |      CAST(len(text) AS DOUBLE) AS n_chars
         |    FROM documents) t0),
         |g AS (SELECT doc_id, text FROM q
         |      WHERE lang IN ('en', 'de') AND quality >= 0.5),
         |curated AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |    FROM g
         |    QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1)),
         |${neuralForwardCtes(src = "curated")},
         |dn AS (SELECT doc_id, SUM(y * y) AS nd FROM yd GROUP BY doc_id),
         |qn AS (SELECT SUM(y * y) AS nq FROM qy),
         |dp AS (SELECT d.doc_id, SUM(d.y * q2.y) AS dot
         |       FROM yd d JOIN qy q2 USING (k) GROUP BY d.doc_id),
         |scored AS (
         |  SELECT dn.doc_id,
         |    1.0 - dp.dot / (SQRT(dn.nd) * SQRT((SELECT nq FROM qn))) AS dist
         |  FROM dn JOIN dp USING (doc_id)
         |  WHERE dn.nd > 0)
         |SELECT id FROM (
         |  SELECT doc_id AS id FROM scored
         |  ORDER BY dist, doc_id LIMIT 10) t
         |ORDER BY id""".stripMargin,

    // x13 restates x12's lifecycle with the REJECTED slice unioned in:
    // maintenance is physical only (split buckets, refreshed baselines),
    // so the full-probe serve must still equal exact cosine top-10 over
    // the union corpus — curated docs at their ids, gate-rejected docs
    // at +10M, both through the same forward-pass template
    "x13_maintained_lifecycle" ->
      s"""WITH q AS (
         |  SELECT doc_id, text, lang,
         |    (LEAST(1.0, n_tok / 20.0)
         |     + n_distinct / GREATEST(n_tok, 1.0)
         |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
         |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
         |  FROM (
         |    SELECT doc_id, text, lang,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS n_tok,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS DOUBLE) AS n_distinct,
         |      CAST(len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS DOUBLE) AS n_stop,
         |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |      CAST(len(text) AS DOUBLE) AS n_chars
         |    FROM documents) t0),
         |g AS (SELECT doc_id, text FROM q
         |      WHERE lang IN ('en', 'de') AND quality >= 0.5),
         |curated AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |    FROM g
         |    QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1)),
         |rejected AS MATERIALIZED (
         |  SELECT doc_id + 10000000 AS doc_id, text FROM q
         |  WHERE NOT (lang IN ('en', 'de') AND quality >= 0.5)
         |    AND len(trim(text)) > 0),
         |corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM curated
         |  UNION ALL
         |  SELECT doc_id, text FROM rejected),
         |${neuralForwardCtes(src = "corpus")},
         |dn AS (SELECT doc_id, SUM(y * y) AS nd FROM yd GROUP BY doc_id),
         |qn AS (SELECT SUM(y * y) AS nq FROM qy),
         |dp AS (SELECT d.doc_id, SUM(d.y * q2.y) AS dot
         |       FROM yd d JOIN qy q2 USING (k) GROUP BY d.doc_id),
         |scored AS (
         |  SELECT dn.doc_id,
         |    1.0 - dp.dot / (SQRT(dn.nd) * SQRT((SELECT nq FROM qn))) AS dist
         |  FROM dn JOIN dp USING (doc_id)
         |  WHERE dn.nd > 0)
         |SELECT id FROM (
         |  SELECT doc_id AS id FROM scored
         |  ORDER BY dist, doc_id LIMIT 10) t
         |ORDER BY id""".stripMargin,

    // x11 restates the SAME forward-pass template at the ONNX gate's
    // non-square shape — the Spark side's weights arrived through the
    // .onnx carrier, the oracle's through the splitmix generators the
    // export serialized; equality IS the codec check
    "x11_onnx_embed_search" ->
      s"""WITH ${neuralForwardCtes(OnnxD0, OnnxHidden, OnnxOut)},
         |dn AS (SELECT doc_id, SUM(y * y) AS nd FROM yd GROUP BY doc_id),
         |qn AS (SELECT SUM(y * y) AS nq FROM qy),
         |dp AS (SELECT d.doc_id, SUM(d.y * q.y) AS dot
         |       FROM yd d JOIN qy q USING (k) GROUP BY d.doc_id),
         |scored AS (
         |  SELECT dn.doc_id,
         |    1.0 - dp.dot / (SQRT(dn.nd) * SQRT((SELECT nq FROM qn))) AS dist
         |  FROM dn JOIN dp USING (doc_id)
         |  WHERE dn.nd > 0)
         |SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY dist, doc_id) AS BIGINT) AS rnk
         |FROM scored ORDER BY dist, doc_id LIMIT 10""".stripMargin,

    "x4_neural_embed_search" ->
      s"""WITH ${neuralForwardCtes()},
         |dn AS (SELECT doc_id, SUM(y * y) AS nd FROM yd GROUP BY doc_id),
         |qn AS (SELECT SUM(y * y) AS nq FROM qy),
         |dp AS (SELECT d.doc_id, SUM(d.y * q.y) AS dot
         |       FROM yd d JOIN qy q USING (k) GROUP BY d.doc_id),
         |scored AS (
         |  SELECT dn.doc_id,
         |    1.0 - dp.dot / (SQRT(dn.nd) * SQRT((SELECT nq FROM qn))) AS dist
         |  FROM dn JOIN dp USING (doc_id)
         |  WHERE dn.nd > 0)
         |SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY dist, doc_id) AS BIGINT) AS rnk
         |FROM scored ORDER BY dist, doc_id LIMIT 10""".stripMargin,

    // the x4 forward-pass CTEs feeding the v26 SQ stage: bounds over the
    // zero-norm-filtered neural vectors (exact integers, so float min ==
    // double min), the same quantize/reconstruct/fold, the pool, and the
    // exact-cosine refine over the raw neural vectors
    "x6_neural_sq_pipeline" ->
      s"""WITH ${neuralForwardCtes()},
         |ydn AS MATERIALIZED (SELECT doc_id, SUM(y * y) AS nd FROM yd GROUP BY doc_id),
         |ydf AS MATERIALIZED (
         |  SELECT yd.doc_id, yd.k, yd.y
         |  FROM yd JOIN ydn USING (doc_id) WHERE ydn.nd > 0),
         |bounds AS MATERIALIZED (
         |  SELECT k AS i, MIN(y) AS mn, MAX(y) - MIN(y) AS rg FROM ydf GROUP BY k),
         |b2q AS MATERIALIZED (SELECT i, mn, rg, rg / 255.0 AS s FROM bounds),
         |codes AS MATERIALIZED (
         |  SELECT d.doc_id, b.i,
         |    CASE WHEN b.rg = 0 THEN 0
         |         ELSE CAST(LEAST(255, GREATEST(0,
         |           FLOOR((d.y - b.mn) / b.rg * 255.0 + 0.5))) AS BIGINT) END AS code
         |  FROM ydf d JOIN b2q b ON b.i = d.k),
         |term AS (
         |  SELECT c.doc_id, c.i,
         |    ((b.mn + CAST(c.code AS DOUBLE) * b.s) - q.y)
         |    * ((b.mn + CAST(c.code AS DOUBLE) * b.s) - q.y) AS t
         |  FROM codes c JOIN b2q b USING (i) JOIN qy q ON q.k = c.i),
         |adc AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY i)),
         |      (a, x) -> a + x) AS dist
         |  FROM term GROUP BY doc_id),
         |pool AS (SELECT doc_id FROM adc ORDER BY dist, doc_id LIMIT 40),
         |qn2 AS (SELECT SUM(y * y) AS nq FROM qy),
         |dp2 AS (SELECT d.doc_id, SUM(d.y * q.y) AS dot
         |        FROM ydf d JOIN qy q ON q.k = d.k GROUP BY d.doc_id),
         |ref AS (
         |  SELECT ydn.doc_id
         |  FROM ydn JOIN dp2 USING (doc_id) JOIN pool USING (doc_id)
         |  ORDER BY 1.0 - dp2.dot / (SQRT(ydn.nd) * SQRT((SELECT nq FROM qn2))),
         |    doc_id
         |  LIMIT 10)
         |SELECT doc_id FROM ref ORDER BY doc_id""".stripMargin
  )
}
