package graft.serve

import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.HttpExchange

/** The request path `/search` and `/mcp` share: method check, body cap,
  * reply. Each endpoint supplies only its error envelope and its handler.
  */
object Http {

  /** Hard cap on a POST body (4 MiB) — far above any legitimate search
    * request or JSON-RPC tool call, far below anything that could
    * pressure the serving JVM's heap (shared with Spark).
    */
  val MaxBodyBytes: Int = 4 * 1024 * 1024

  /** How much of a refused body is read and dropped before the connection
    * closes. Closing a socket that still holds unread request bytes sends
    * an RST, which can destroy the 413 before the client reads it; the
    * JDK server itself drains only ~64 KB. Past this bound the connection
    * is cut anyway.
    */
  private val MaxDiscardBytes: Long = 2L * MaxBodyBytes

  /** Answer one exchange and close it: 405 unless POST, 413 past
    * [[MaxBodyBytes]] (with `Connection: close`), otherwise
    * `handle(body)`'s status and reply (a `None` reply sends the status
    * with no body). `refuse` wraps a refusal message in the endpoint's
    * error envelope.
    */
  def post(ex: HttpExchange, refuse: String => JValue)
          (handle: String => (Int, Option[JValue])): Unit =
    try {
      val (status, body) =
        if (ex.getRequestMethod != "POST")
          (405, Some(refuse("method not allowed: POST to this endpoint")))
        else readBody(ex) match {
          case Some(b) => handle(b)
          case None =>
            discard(ex.getRequestBody)
            ex.getResponseHeaders.set("Connection", "close")
            (413, Some(refuse(s"request body exceeds $MaxBodyBytes bytes")))
        }
      body match {
        case Some(b) =>
          val bytes = b.render.getBytes(UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(status, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        case None => ex.sendResponseHeaders(status, -1L)
      }
    } finally ex.close()

  /** The body as UTF-8, or None past the cap. A declared Content-Length
    * refuses before anything is buffered; chunked or unlabelled bodies
    * are cut off on read.
    */
  private def readBody(ex: HttpExchange): Option[String] = {
    val declared =
      Option(ex.getRequestHeaders.getFirst("Content-Length")).flatMap(_.toLongOption)
    if (declared.exists(_ > MaxBodyBytes)) None
    else {
      val raw = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
      if (raw.length > MaxBodyBytes) None else Some(new String(raw, UTF_8))
    }
  }

  /** Read and drop what is left of a refused body, up to
    * [[MaxDiscardBytes]]; nothing read here is kept. */
  private def discard(in: java.io.InputStream): Unit = {
    val buf = new Array[Byte](64 * 1024)
    var left = MaxDiscardBytes
    var n = 0
    while (left > 0 && { n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt); n > 0 })
      left -= n
  }
}
