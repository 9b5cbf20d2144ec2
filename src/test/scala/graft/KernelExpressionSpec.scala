package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.functions.GraftFunctions.toCol

/** The kernel-expression contract ([[KernelExpression]]) over its
  * expressions: each gives the same rows interpreted and generated over a
  * null row, a valid row and a malformed row, and a wrong input type fails
  * analysis with `<name> expects <family>, got <type>`.
  *
  * Media and container kernels whose valid inputs need a format builder
  * are checked the same way next to their builders: MultimodalSpec (audio,
  * video, PNG/GIF/JPEG), BmpSpec, CfbSpec, PdfSpec, OggSpec and FlacSpec.
  */
class KernelExpressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def flipped(b: Array[Byte]): Array[Byte] = {
    val c = b.clone(); c(c.length / 2) = (c(c.length / 2) ^ 0x5A).toByte; c
  }
  private def written(f: java.io.OutputStream => java.io.OutputStream, b: Array[Byte]) = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = f(bos); out.write(b); out.close(); bos.toByteArray
  }

  private val payload = utf8("kernel payload " * 200)
  private val gz = written(new java.util.zip.GZIPOutputStream(_), payload)
  private val xz = written(new org.tukaani.xz.XZOutputStream(_, new org.tukaani.xz.LZMA2Options()),
    payload)
  private val lz4 = written(new net.jpountz.lz4.LZ4FrameOutputStream(_), payload)
  private val zip = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("a.txt")); z.write(payload); z.closeEntry()
    z.close(); bos.toByteArray
  }
  private val tar = {
    val bos = new java.io.ByteArrayOutputStream()
    val t = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(bos)
    val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry("a.txt")
    e.setSize(payload.length); t.putArchiveEntry(e); t.write(payload); t.closeArchiveEntry()
    t.close(); bos.toByteArray
  }
  private val warc = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 15\r\n\r\n" +
    "software: graft\r\n\r\n"
  private val html = "<html><head><meta charset=\"iso-8859-1\"></head><body>café</body></html>"
  private val robots = "User-agent: *\nDisallow: /x\nSitemap: https://example.org/s.xml\n"

  /** One expression over columns of `types`: its valid and malformed inputs. */
  private case class Case(name: String, types: Seq[DataType], valid: Seq[Any],
                          malformed: Seq[Any])(val build: Seq[Expression] => Expression)

  private def str(name: String, valid: String, malformed: String)(f: Expression => Expression) =
    Case(name, Seq(StringType), Seq(valid), Seq(malformed))(es => f(es.head))
  private def bin(name: String, valid: Array[Byte], malformed: Array[Byte])(
      f: Expression => Expression) =
    Case(name, Seq(BinaryType), Seq(valid), Seq(malformed))(es => f(es.head))

  private val tokens = ArrayType(StringType)
  private val floats = ArrayType(FloatType)
  private val ints = ArrayType(IntegerType)
  private val text = "alpha beta gamma delta epsilon zeta eta theta"
  private val codebooks = Array(0f, 0f, 1f, 1f, 2f, 2f, 3f, 3f) // m=2, k=2, subDim=2

  private val cases: Seq[Case] = Seq(
    str("rolling_hash", "héllo wörld", "")(RollingHash64(_)),
    str("fnv64", text, "")(Fnv64(_)),
    str("fnv64_mix", text, "")(Fnv64(_, mixed = true)),
    str("cm_buckets", text, "")(CmBuckets(_, 4, 64)),
    str("cdc_chunks", text, "")(CdcChunksExpr(_, 4)),
    str("html_to_markdown", "<h1>T</h1><p>a <b>b</b></p><ul><li>x</li></ul>",
      "<p><b>unclosed <i>tags")(HtmlToMarkdown(_)),
    str("html_to_markdown_blocks", "<h2>S</h2><p>one</p><p>two</p>",
      "</p></p><li>")(HtmlToMarkdownBlocks(_)),
    str("quality_score", text, "!!!")(QualityScore(_)),
    str("word_shingles", text, "one")(WordShingles(_, 3, distinct = true)),
    str("nfc_normalize", "é", "\u0000")(NfcNormalize(_)),
    str("url_canonicalize", "HTTP://Example.COM:80/a/./b/../c?q=1", "not a url")(
      UrlCanonicalize(_)),
    str("url_host", "https://Example.org/x", "::")(UrlHost(_)),
    str("snippet_window", text, "no hit here")(SnippetWindow(_, Seq("gamma"), 2)),
    str("robots_sitemaps", robots, "\u0000garbage")(RobotsSitemaps(_)),
    Case("minhash_signature", Seq(tokens), Seq(Seq("a b c", "b c d")), Seq(Seq()))(
      es => MinHashSignature(es.head, 8)),
    Case("simhash64", Seq(tokens), Seq(Seq("a b c", "b c d")), Seq(Seq()))(
      es => SimHash64(es.head)),
    Case("hashing_tf", Seq(tokens), Seq(Seq("a", "b", "a")), Seq(Seq()))(
      es => HashingTfVector(es.head, 16)),
    Case("hyperplane_bands", Seq(floats), Seq(Seq(0.5f, -1f, 2f)), Seq(Seq()))(
      es => HyperplaneBands(es.head, 4, 8, 7L)),
    Case("hyperplane_bands", Seq(ArrayType(DoubleType)), Seq(Seq(0.5, -1.0, 2.0)), Seq(Seq()))(
      es => HyperplaneBands(es.head, 4, 8, 7L)),
    Case("signed_project", Seq(floats), Seq(Seq(1f, -2f, 3f)), Seq(Seq()))(
      es => SignedProject(es.head, 8, 3L)),
    Case("pq_encode", Seq(floats), Seq(Seq(0.1f, 0.2f, 2.9f, 3.1f)), Seq(Seq(1f)))(
      es => PqEncode(es.head, codebooks, 2, 2, 2)),
    Case("pq_decode", Seq(ints), Seq(Seq(0, 1)), Seq(Seq(0, 5)))(
      es => PqDecode(es.head, codebooks, 2, 2, 2)),
    Case("pq_adc", Seq(ints), Seq(Seq(0, 1)), Seq(Seq(7)))(
      es => PqAdcDistance(es.head, Array(0.5, 1.5, 2.5, 3.5), 2, 2)),
    Case("le_hex", Seq(LongType), Seq(305419896L), Seq(-1L))(es => LeHex(es.head, 4)),
    Case("le_hex", Seq(IntegerType), Seq(4660), Seq(Int.MinValue))(es => LeHex(es.head, 2)),
    Case("morton_code", Seq(DoubleType, DoubleType), Seq(12.5, 41.9), Seq(Double.NaN, 1e9))(
      es => MortonCode(es(0), es(1))),
    bin("gunzip", gz, flipped(gz))(Gunzip(_)),
    bin("zunbz2", Bzip2Deflate.deflate(payload), Bzip2Deflate.deflate(payload).dropRight(9))(
      Zunbz2(_)),
    bin("bzip2_deflate", payload, Array.emptyByteArray)(Bzip2Deflate(_)),
    bin("zunxz", xz, flipped(xz))(Zunxz(_)),
    bin("zunstd", com.github.luben.zstd.Zstd.compress(payload), utf8("(µ/ý junk"))(
      Zunstd(_)),
    bin("zunlz4", lz4, lz4.dropRight(6))(Zunlz4(_)),
    bin("warc_records", utf8(warc), utf8(warc + "junk"))(WarcRecords(_)),
    bin("charset_detect", html.getBytes("ISO-8859-1"), Array(0xC3.toByte))(CharsetDetect(_)),
    bin("charset_decode", html.getBytes("ISO-8859-1"), Array(0xC3.toByte))(CharsetDecode(_)),
    bin("charset_decode_html", html.getBytes("ISO-8859-1"), Array(0xC3.toByte))(
      CharsetDecodeHtml(_)),
    bin("zip_entries", zip, zip.dropRight(10))(ZipEntries(_)),
    bin("tar_entries", tar, tar.take(100))(TarEntries(_)),
    Case("zip_extract", Seq(BinaryType, StringType), Seq(zip, "a.txt"),
      Seq(flipped(zip), "a.txt"))(es => ZipExtract(es(0), es(1))),
    Case("tar_extract", Seq(BinaryType, StringType), Seq(tar, "a.txt"),
      Seq(tar.take(600), "a.txt"))(es => TarExtract(es(0), es(1))))

  test("every kernel expression gives the same rows interpreted and generated") {
    for (c <- cases) {
      val schema = StructType(c.types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
      val rows = Seq(Row.fromSeq(c.types.map(_ => null)), Row.fromSeq(c.valid),
        Row.fromSeq(c.malformed))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      val e = c.build(schema.fieldNames.toSeq.map(CodegenParity.input))
      assert(e.prettyName === c.name)
      val (interpreted, generated) = CodegenParity.rows(df, toCol(e))
      assert(interpreted === generated, c.name)
      assert(interpreted.head === "[null]", s"${c.name}: null in, null out")
      assert(interpreted(1) !== "[null]", s"${c.name}: the valid row computes")
    }
  }

  test("a quarantining kernel's null result is nullable; a total kernel's is not") {
    val notNull = Literal.create(Array[Byte](1, 2), BinaryType)
    assert(Gunzip(notNull).nullable)
    assert(PqAdcDistance(Literal.create(Seq(0, 1), ints), Array(0.5, 1.5, 2.5, 3.5), 2, 2).nullable)
    assert(!SimHash64(Literal.create(Seq("a"), tokens)).nullable)
    assert(!MortonCode(Literal(1.0), Literal(2.0)).nullable)
    assert(MortonCode(Literal(1.0), Literal.create(null, DoubleType)).nullable)
  }

  test("a wrong input type fails analysis with the family's message, one case per family") {
    val wrong: Seq[(Expression, String)] = Seq(
      Gunzip(Literal(1)) -> "gunzip expects binary, got int",
      Fnv64(Literal(1L)) -> "fnv64 expects string, got bigint",
      SnippetWindow(Literal(1), Seq("a"), 2) -> "snippet_window expects string, got int",
      RobotsSitemaps(Literal(1)) -> "robots_sitemaps expects string robots_txt, got int",
      SimHash64(Literal("a")) -> "simhash64 expects array<string>, got string",
      SignedProject(Literal.create(Seq(1.0), ArrayType(DoubleType)), 8, 3L) ->
        "signed_project expects array<float>, got array<double>",
      PqDecode(Literal.create(Seq(1L), ArrayType(LongType)), codebooks, 2, 2, 2) ->
        "pq_decode expects array<int>, got array<bigint>",
      HyperplaneBands(Literal.create(Seq(1), ints), 4, 8, 7L) ->
        "hyperplane_bands expects array<float> or array<double> arguments, got array<int>",
      LeHex(Literal(1.5), 4) -> "le_hex expects an integral value, got double",
      LeHex(Literal(1), 9) -> "le_hex width must be 1..8, got 9",
      MortonCode(Literal(1), Literal(2.0)) ->
        "morton_code expects (double lon, double lat), got (int, double)",
      ZipExtract(Literal("z"), Literal("a.txt")) ->
        "zip_extract expects (binary, string), got (string, string)")
    for ((e, message) <- wrong) {
      val err = intercept[AnalysisException](spark.range(1).select(toCol(e)).collect())
      assert(err.getMessage.contains(message), err.getMessage)
    }
  }
}
