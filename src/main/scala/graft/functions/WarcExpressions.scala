package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC record extraction — the container format web crawls actually
  * arrive in (ISO 28500; Common Crawl's distribution format), closing
  * the crawl-side source gap the same way the m-family closed the
  * image/audio/video container gaps: a scan-fused codegen expression
  * that splits one WARC blob into its records and surfaces the typed
  * fields a curation pipeline routes on, with the m5-m8 torn-blob
  * posture (any malformed byte quarantines the WHOLE blob to NULL —
  * refuse loudly, never crash the job, never silently resync).
  *
  * Scope: uncompressed WARC/1.0 and WARC/1.1 bytes. Header names are
  * case-insensitive per the spec; `Content-Length` is mandatory and
  * must exactly cover the block; records are separated by CRLF CRLF.
  * For `response` records whose block carries an HTTP/1.x response, the
  * status code is parsed and the returned body EXCLUDES the HTTP
  * headers (the payload a text pipeline wants); any other block is
  * returned whole with a NULL status. At 100 TB scale the blob column
  * arrives from a binary-file or streaming source partitioned by
  * segment; this operator is the per-row record splitter behind
  * `posexplode` — no shuffle, no driver involvement. (Common Crawl's
  * `.warc.gz` wraps each record in its own gzip member; inflating those
  * members is a separate, composable step — this expression takes the
  * inflated bytes.)
  *
  * Output: array of (rec_type, target_uri, content_length, http_status,
  * body) — one element per record, in file order.
  */
case class WarcRecords(child: Expression)
    extends UnaryKernel("warc_records", KernelInput.Binary, WarcRecords.Schema, "WarcRecords.parse",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any = WarcRecords.parse(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WarcRecords {
  val RecordSchema: StructType = StructType(Seq(
    StructField("rec_type", StringType),
    StructField("target_uri", StringType),
    StructField("content_length", LongType),
    StructField("http_status", IntegerType),
    StructField("body", StringType)))
  val Schema: DataType = ArrayType(RecordSchema, containsNull = false)

  /** Refuse-before-walking bound on records per blob (a runaway header
    * loop on garbage bytes must not allocate unboundedly).
    */
  val MaxRecords: Int = 1 << 20

  private val Crlf = Array[Byte]('\r', '\n')

  /** Parse one WARC blob into its records; null on ANY malformation. */
  def parse(b: Array[Byte]): GenericArrayData = {
    if (b == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var pos = 0
    def lineEnd(from: Int): Int = { // index of the \r of the next CRLF
      var i = from
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) -1 else i
    }
    def ascii(from: Int, until: Int): String =
      new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
    while (pos < b.length) {
      if (out.length >= MaxRecords) return null
      // version line
      val vEnd = lineEnd(pos)
      if (vEnd < 0) return null
      val version = ascii(pos, vEnd)
      if (version != "WARC/1.0" && version != "WARC/1.1") return null
      pos = vEnd + 2
      // header lines until the empty line
      var recType: String = null
      var targetUri: String = null
      var contentLength = -1L
      var open = true
      while (open) {
        val hEnd = lineEnd(pos)
        if (hEnd < 0) return null
        if (hEnd == pos) { open = false; pos += 2 } // empty line: headers done
        else {
          val line = ascii(pos, hEnd)
          val colon = line.indexOf(':')
          if (colon <= 0) return null
          val name = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          name match {
            case "warc-type" => recType = value
            case "warc-target-uri" => targetUri = value
            case "content-length" =>
              if (!value.forall(_.isDigit) || value.isEmpty || value.length > 18) return null
              contentLength = value.toLong
            case _ => () // other headers carried but not surfaced
          }
          pos = hEnd + 2
        }
      }
      if (recType == null || contentLength < 0) return null
      if (pos + contentLength > b.length) return null // torn block
      val blockStart = pos
      val blockEnd = pos + contentLength.toInt
      pos = blockEnd
      // record separator: exactly CRLF CRLF
      if (pos + 4 > b.length ||
          b(pos) != '\r' || b(pos + 1) != '\n' ||
          b(pos + 2) != '\r' || b(pos + 3) != '\n') return null
      pos += 4
      // HTTP response payload: strip the HTTP headers, surface the status
      var status: Integer = null
      var bodyStart = blockStart
      val isHttp = contentLength >= 12 &&
        ascii(blockStart, blockStart + 5) == "HTTP/"
      if (isHttp) {
        val sEnd = lineEnd(blockStart)
        if (sEnd < 0 || sEnd > blockEnd) return null
        val statusLine = ascii(blockStart, sEnd)
        val parts = statusLine.split(" ")
        if (parts.length < 2 || !parts(1).forall(_.isDigit) ||
            parts(1).length > 3 || parts(1).isEmpty) return null
        status = Integer.valueOf(parts(1).toInt)
        // first CRLFCRLF inside the block ends the HTTP headers
        var i = sEnd
        var found = -1
        while (found < 0 && i + 3 < blockEnd) {
          if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
            found = i
          i += 1
        }
        if (found < 0) return null
        bodyStart = found + 4
      }
      out += new GenericInternalRow(Array[Any](
        UTF8String.fromString(recType),
        if (targetUri == null) null else UTF8String.fromString(targetUri),
        contentLength,
        status,
        UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(b, bodyStart, blockEnd))))
    }
    new GenericArrayData(out.toArray[Any])
  }
}
