package graft.serve

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame

import graft.operators.Search

/** The reference's MCP surface (`backend/mcp.py`): one `gis_layer_search`
  * tool whose result is the /search envelope with every string passed
  * through HTML→markdown (`backend/mcp.py:12-20,33-35`). Re-expressed as
  * a dependency-free MCP stdio server — JSON-RPC 2.0, one message per
  * line, per the public MCP specification (2024-11-05 revision):
  * initialize / notifications/initialized / tools/list / tools/call.
  *
  * Where the reference's MCP process proxies HTTP to the backend
  * container, this one calls [[Search]] in-process — same seam, one hop
  * fewer; the envelope bytes are what parity is judged on. Tool errors
  * follow MCP semantics: validation failures surface as `isError: true`
  * tool results (the HTTP 422 analogue at the tool boundary), engine
  * errors ride inside the envelope's `error` field exactly like the
  * reference's SearchResponse.
  */
final class McpServer(layers: DataFrame, encoder: String => Array[Float]) {

  val ServerName = "govgis_nov2023"
  val ProtocolVersion = "2024-11-05"

  /** Handle one JSON-RPC request; None for notifications (no reply). */
  def handle(msg: JValue): Option[JValue] = {
    val obj = msg match {
      case o: JObj => o
      case _ => return Some(error(JNull, -32600, "request must be an object"))
    }
    // a message WITHOUT an id is a notification — JSON-RPC 2.0 / MCP
    // forbid sending ANY response to it (even method-not-found); a
    // conforming client treats an unsolicited reply as a protocol
    // violation
    if (!obj.fields.contains("id")) return None
    val id = obj.fields.getOrElse("id", JNull)
    val method = obj.get("method") match {
      case Some(JStr(m)) => m
      case _ => return Some(error(id, -32600, "missing method"))
    }
    val params = obj.get("params").getOrElse(JObj.of())
    method match {
      case "initialize" => Some(result(id, JObj.of(
        "protocolVersion" -> JStr(ProtocolVersion),
        "capabilities" -> JObj.of("tools" -> JObj.of()),
        "serverInfo" -> JObj.of(
          "name" -> JStr(ServerName), "version" -> JStr("0.0.1")))))
      case "notifications/initialized" => None
      case "ping" => Some(result(id, JObj.of()))
      case "tools/list" => Some(result(id, JObj.of("tools" -> JArr(Vector(toolSpec)))))
      case "tools/call" => Some(toolCall(id, params))
      case _ => Some(error(id, -32601, s"method not found: $method"))
    }
  }

  /** Input schema mirrors `SemanticSearchRequest` (backend/models.py:75-102),
    * constraints included so MCP clients can pre-validate. */
  private def toolSpec: JObj = JObj.of(
    "name" -> JStr("gis_layer_search"),
    "description" -> JStr("Hybrid semantic and spatial search over GIS layers."),
    "inputSchema" -> JObj.of(
      "type" -> JStr("object"),
      "properties" -> JObj.of(
        "request_string" -> JObj.of("type" -> JStr("string")),
        "type_filter" -> JObj.of(
          "type" -> JStr("array"), "items" -> JObj.of("type" -> JStr("string"))),
        "input_point" -> JObj.of(
          "type" -> JStr("object"),
          "properties" -> JObj.of(
            "longitude" -> JObj.of("type" -> JStr("number")),
            "latitude" -> JObj.of("type" -> JStr("number")),
            "epsg" -> JObj.of("type" -> JStr("integer"), "default" -> JNum(4326))),
          "required" -> JArr(Vector(JStr("longitude"), JStr("latitude")))),
        "skip" -> JObj.of("type" -> JStr("integer"), "minimum" -> JNum(0),
          "default" -> JNum(0)),
        "limit" -> JObj.of("type" -> JStr("integer"), "minimum" -> JNum(1),
          "maximum" -> JNum(10), "default" -> JNum(5))),
      "required" -> JArr(Vector(JStr("request_string")))))

  private def toolCall(id: JValue, params: JValue): JValue = {
    val p = params match {
      case o: JObj => o
      case _ => return error(id, -32602, "params must be an object")
    }
    p.get("name") match {
      case Some(JStr("gis_layer_search")) => ()
      case other => return error(id, -32602, s"unknown tool: $other")
    }
    val args = p.get("arguments").getOrElse(JObj.of())
    try {
      val req = SearchServer.decodeRequest(args, encoder)
      val envelope = SearchServer.markdownifyAllStrings(
        SearchServer.encodeResponse(Search.search(layers, req)))
      result(id, JObj.of(
        "content" -> JArr(Vector(JObj.of(
          "type" -> JStr("text"), "text" -> JStr(envelope.render)))),
        "structuredContent" -> envelope,
        "isError" -> JBool(false)))
    } catch {
      // tool-level failure, not protocol-level: MCP reports it as an
      // isError result so the model can read the message
      case e @ (_: JsonParseException | _: IllegalArgumentException) =>
        result(id, JObj.of(
          "content" -> JArr(Vector(JObj.of(
            "type" -> JStr("text"), "text" -> JStr(e.getMessage)))),
          "isError" -> JBool(true)))
    }
  }

  private def result(id: JValue, r: JValue): JObj =
    JObj.of("jsonrpc" -> JStr("2.0"), "id" -> id, "result" -> r)

  private def error(id: JValue, code: Int, msg: String): JObj =
    JObj.of("jsonrpc" -> JStr("2.0"), "id" -> id,
      "error" -> JObj.of("code" -> JNum(code.toLong), "message" -> JStr(msg)))

  /** Serve the SAME JSON-RPC handler over HTTP POST — the MCP
    * streamable-http transport, matching the reference's deployment
    * shape (`docker-compose.yml:48-63` serves FastMCP streamable-http
    * on 8081; `backend/mcp.py:7,23-29`). Minimal conforming server per
    * the public MCP transport spec (2025-03-26 revision):
    *  - POST with a request (has `id`) → one application/json JSON-RPC
    *    response body;
    *  - POST with a notification (no `id`) → 202 Accepted, empty body;
    *  - malformed JSON → -32700 error response (id null);
    *  - GET → 405 (this server opens no server-initiated SSE streams,
    *    which the spec permits);
    *  - a body past [[Http.MaxBodyBytes]] → 413, before buffering.
    * Port 0 = ephemeral; read the bound port off the returned server.
    * Handlers run on [[Http.serve]]'s bounded pool; concurrent calls are
    * safe (Spark actions are thread-safe on a shared session).
    */
  def startHttp(port: Int = 8081): HttpServer =
    Http.serve(port, "/mcp", error(JNull, -32600, _)) { body =>
      val resp =
        try handle(Json.parse(body))
        catch { case e: JsonParseException =>
          Some(error(JNull, -32700, s"parse error: ${e.getMessage}")) }
      // a notification gets NO body — 202 per the MCP spec
      (if (resp.isDefined) 200 else 202, resp)
    }

  /** Serve line-delimited JSON-RPC until EOF (the MCP stdio transport). */
  def serve(in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    val writer = new PrintWriter(out, true)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val reply =
          try handle(Json.parse(line))
          catch { case e: JsonParseException =>
            Some(error(JNull, -32700, s"parse error: ${e.getMessage}")) }
        reply.foreach(r => writer.println(r.render))
      }
      line = reader.readLine()
    }
  }
}
