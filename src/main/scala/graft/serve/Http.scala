package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The request path `/search` and `/mcp` share: server start, method
  * check, body cap, reply. Each endpoint supplies only its path, its
  * error envelope and its handler.
  *
  * The accepted sockets run with TCP_NODELAY. The JDK server sends a
  * reply's headers as one TCP segment and its body as a second small
  * write; with Nagle's algorithm on, that write waits for the client to
  * ACK the headers, and clients delay that ACK (~40 ms on Linux), so every
  * kept-alive reply stalled for longer than the request's own work.
  */
object Http {

  // The JDK server reads this once, in `sun.net.httpserver.ServerConfig`'s
  // static initializer, at the first `HttpServer.create` in the JVM. It is
  // JVM-wide: set here, before any server exists, it covers every launcher
  // and the test JVM alike. Nothing else may create a
  // `com.sun.net.httpserver.HttpServer` before this object is initialized
  // (no suite or main does; Spark's UI is off and runs on Jetty anyway).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Handler threads per server; requests past this many wait in the
    * server's queue. */
  private val PoolSize = 8

  /** Serve POST `path` on `port` (0 = ephemeral; read the bound port off
    * the returned server) through [[post]], on a pool of [[PoolSize]]
    * daemon threads: `stop` ends the server's own thread, and the idle
    * pool keeps no JVM alive.
    */
  def serve(port: Int, path: String, refuse: String => JValue)
           (handle: String => (Int, Option[JValue])): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext(path, (ex: HttpExchange) => post(ex, refuse)(handle))
    val n = new AtomicInteger()
    val daemons: ThreadFactory = { r =>
      val t = new Thread(r, s"graft-http$path-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    server.setExecutor(Executors.newFixedThreadPool(PoolSize, daemons))
    server.start()
    server
  }

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
  private def post(ex: HttpExchange, refuse: String => JValue)
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
