package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WarcRecords

class WarcSpec extends AnyFunSuite {

  private def rec(version: String, headers: Seq[(String, String)],
                  block: String): String =
    version + "\r\n" + headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
      "\r\n" + block + "\r\n\r\n"

  private def parse(s: String) =
    WarcRecords.parse(s.getBytes("UTF-8"))

  private def rows(s: String): Seq[(String, String, Long, Option[Int], String)] = {
    val arr = parse(s)
    assert(arr !== null, s"refused:\n$s")
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 5)
      (r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        r.getUTF8String(4).toString)
    }
  }

  test("two records split in order; warcinfo surfaces whole block, response strips HTTP headers") {
    val info = rec("WARC/1.0",
      Seq("WARC-Type" -> "warcinfo", "Content-Length" -> "15"),
      "software: graft")
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhello world"
    val resp = rec("WARC/1.1",
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://x.org/a",
        "Content-Length" -> http.length.toString),
      http)
    val got = rows(info + resp)
    assert(got === Seq(
      ("warcinfo", null, 15L, None, "software: graft"),
      ("response", "https://x.org/a", http.length.toLong, Some(200), "hello world")))
  }

  test("header names are case-insensitive; unknown headers carried over silently") {
    val http = "HTTP/1.1 404 Not Found\r\nX: y\r\n\r\ngone"
    val r = rec("WARC/1.0",
      Seq("warc-type" -> "response", "CONTENT-LENGTH" -> http.length.toString,
        "WARC-Record-ID" -> "<urn:uuid:1>", "Warc-Target-Uri" -> "http://a/b"),
      http)
    assert(rows(r) === Seq(("response", "http://a/b", http.length.toLong, Some(404), "gone")))
  }

  test("a response block that is not HTTP surfaces whole with a NULL status") {
    val r = rec("WARC/1.0",
      Seq("WARC-Type" -> "response", "Content-Length" -> "9",
        "WARC-Target-URI" -> "x"),
      "not-http!")
    assert(rows(r) === Seq(("response", "x", 9L, None, "not-http!")))
  }

  test("strict refusals: every malformation quarantines the whole blob") {
    val good = rec("WARC/1.0",
      Seq("WARC-Type" -> "warcinfo", "Content-Length" -> "3"), "abc")
    assert(parse(good) !== null)
    // wrong version
    assert(parse(good.replace("WARC/1.0", "WARC/2.0")) === null)
    // missing Content-Length
    assert(parse(rec("WARC/1.0", Seq("WARC-Type" -> "warcinfo"), "abc")) === null)
    // content-length overruns the buffer
    assert(parse(rec("WARC/1.0",
      Seq("WARC-Type" -> "warcinfo", "Content-Length" -> "9999"), "abc")) === null)
    // bad record separator (one CRLF, not two)
    assert(parse(good.dropRight(2)) === null)
    // header line without a colon
    assert(parse("WARC/1.0\r\nWARC-Type warcinfo\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n") === null)
    // torn mid-headers
    assert(parse("WARC/1.0\r\nWARC-Type: warc") === null)
    // HTTP block with a malformed status line
    val badHttp = "HTTP/1.1 2x0 OK\r\n\r\nbody"
    assert(parse(rec("WARC/1.0",
      Seq("WARC-Type" -> "response", "Content-Length" -> badHttp.length.toString),
      badHttp)) === null)
    // HTTP block whose headers never terminate inside the block
    val unterminated = "HTTP/1.1 200 OK\r\nContent-Type: text/plain"
    assert(parse(rec("WARC/1.0",
      Seq("WARC-Type" -> "response", "Content-Length" -> unterminated.length.toString),
      unterminated)) === null)
    // trailing garbage after the last record
    assert(parse(good + "junk") === null)
    // a SECOND good record after a good one still parses (and in order)
    assert(rows(good + good).map(_._1) === Seq("warcinfo", "warcinfo"))
  }

  test("gunzip: per-record gzip members (the .warc.gz layout) inflate to the same records") {
    import graft.functions.Gunzip
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close(); bos.toByteArray
    }
    val info = rec("WARC/1.0",
      Seq("WARC-Type" -> "warcinfo", "Content-Length" -> "15"),
      "software: graft")
    val http = "HTTP/1.1 200 OK\r\n\r\npayload"
    val resp = rec("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "https://x.org/a",
        "Content-Length" -> http.length.toString),
      http)
    // Common Crawl's layout: one gzip MEMBER per record, concatenated
    val multi = gz(info) ++ gz(resp)
    val inflated = Gunzip.inflate(multi)
    assert(inflated !== null, "multi-member stream refused")
    assert(new String(inflated, "UTF-8") === info + resp)
    assert(rows(info + resp).map(_._1) === Seq("warcinfo", "response"))
    // refusals: not gzip, truncated trailer, corrupt deflate byte
    assert(Gunzip.inflate("not gzip at all!!!".getBytes("UTF-8")) === null)
    assert(Gunzip.inflate(gz(info).dropRight(2)) === null)
    val corrupt = gz(info)
    corrupt(14) = (corrupt(14) ^ 0x55).toByte
    assert(Gunzip.inflate(corrupt) === null)
    assert(Gunzip.inflate(Array[Byte]()) === null)
    // bomb: 300 MB of zeros gzips to ~300 KB; inflation past the shared
    // cap refuses, as bzip2/zstd/xz/lz4 do (Bzip2Spec, ZstdSpec, XzSpec, Lz4Spec)
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(new Array[Byte](300 * 1024 * 1024)); g.close()
    assert(bos.size < (1 << 20), "fixture: the bomb really is tiny")
    assert(Gunzip.inflate(bos.toByteArray) === null)
  }

  test("binary-safe bodies: content-length covers bytes, not chars") {
    // a body with CRLFCRLF INSIDE it must not be mistaken for a separator
    val tricky = "a\r\n\r\nb"
    val r = rec("WARC/1.0",
      Seq("WARC-Type" -> "metadata", "Content-Length" -> tricky.length.toString),
      tricky)
    assert(rows(r) === Seq(("metadata", null, 6L, None, tricky)))
  }
}
