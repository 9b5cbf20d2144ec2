package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Geo
import graft.serve._

/** Serving-layer parity: the JDK HTTP endpoint and the MCP stdio server
  * in front of Search, against the reference's contract
  * (`backend/app.py:38-57`, `backend/models.py:75-102`, `backend/mcp.py`).
  */
class ServeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val PolySanford = "POLYGON ((-81.4 28.7, -81.1 28.7, -81.1 28.9, -81.4 28.9, -81.4 28.7))"
  val PolyKelso = "POLYGON ((-123.0 46.0, -122.8 46.0, -122.8 46.25, -123.0 46.25, -123.0 46.0))"

  val schema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("type", StringType), StructField("description", StringType),
    StructField("url", StringType), StructField("metadata_text", StringType),
    StructField("embeddings", ArrayType(FloatType, containsNull = false)),
    StructField("geom", BinaryType)))

  private def wkb(wkt: String): Array[Byte] = Geo.toWkb(Geo.fromWkt(wkt))

  private def layer(id: String, typ: String, poly: String, emb: Array[Float],
                    desc: String = ""): Row =
    Row(id, s"name-$id", typ, if (desc.isEmpty) s"desc-$id" else desc,
      s"http://x/$id", s"meta-$id", emb.toSeq, wkb(poly))

  lazy val layers: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(
      layer("L1", "Feature Layer", PolySanford, Array(1f, 0f, 0f, 0f),
        desc = "<b>flood</b> zones"),
      layer("L2", "Feature Layer", PolySanford, Array(0.9f, 0.43588989f, 0f, 0f)),
      layer("L3", "Table", PolyKelso, Array(0f, 1f, 0f, 0f)),
      layer("L4", "feature layer", PolyKelso, Array(0.8f, 0.6f, 0f, 0f))),
    schema)

  // the F8 seam as a test double: named probes, not a real model
  val encoder: String => Array[Float] = {
    case "red" => Array(1f, 0f, 0f, 0f)
    case "green" => Array(0f, 1f, 0f, 0f)
    case s => Array(s.length.toFloat, 1f, 0f, 0f)
  }

  // --- JSON codec ---

  test("json: round-trips nesting, escapes, and integer fidelity") {
    val text = """{"a":[1,2.5,-3e2],"b":{"s":"q\"\\\n\u0041","t":true,"n":null}}"""
    val v = Json.parse(text)
    val again = Json.parse(v.render)
    assert(again === v)
    assert(Json.parse("\"\\u0041\"") === JStr("A"))
    assert(JNum("7").toIntExact === 7)
    intercept[IllegalArgumentException] { JNum("7.5").toIntExact }
    intercept[JsonParseException] { Json.parse("{\"a\":}") }
    intercept[JsonParseException] { Json.parse("[1,2] trailing") }
  }

  // --- HTTP endpoint ---

  private def withServer[A](f: (HttpClient, Int) => A): A = {
    val server = SearchServer.start(layers, encoder, port = 0)
    try f(HttpClient.newHttpClient(), server.getAddress.getPort)
    finally server.stop(0)
  }

  private def post(client: HttpClient, port: Int, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("http: the reference's canonical query — filters, ordering, envelope") {
    withServer { (c, port) =>
      val r = post(c, port,
        """{"request_string":"red","type_filter":["FEATURE LAYER"],
          |"input_point":{"longitude":-81.27,"latitude":28.80},"limit":10}""".stripMargin)
      assert(r.statusCode() === 200)
      val JObj(fs) = Json.parse(r.body()): @unchecked
      assert(fs("error") === JNull)
      val JArr(ls) = fs("layers"): @unchecked
      val ids = ls.map { case o: JObj => o.fields("id"); case x => fail(s"expected object: $x") }
      assert(ids === Vector(JStr("L1"), JStr("L2")))
      // TEXT_FIELDS only — embeddings/geom never serialize
      val JObj(row) = ls.head: @unchecked
      assert(row.keySet === Set("id", "name", "type", "description", "url",
        "metadata_text"))
    }
  }

  test("http: defaults apply (limit=5, skip=0, no filters)") {
    withServer { (c, port) =>
      val r = post(c, port, """{"request_string":"red"}""")
      assert(r.statusCode() === 200)
      val JObj(fs) = Json.parse(r.body()): @unchecked
      val JArr(ls) = fs("layers"): @unchecked
      assert(ls.size === 4) // whole fixture ranked, under the default cap
    }
  }

  test("http: validation is 422, not a clamp — limit, skip, coordinates, schema") {
    withServer { (c, port) =>
      def detail(body: String): (Int, String) = {
        val r = post(c, port, body)
        val msg = Json.parse(r.body()) match {
          case o: JObj => o.fields("detail").render
          case other => other.render
        }
        (r.statusCode(), msg)
      }
      assert(detail("""{"request_string":"red","limit":11}""")._1 === 422)
      assert(detail("""{"request_string":"red","limit":0}""")._1 === 422)
      assert(detail("""{"request_string":"red","skip":-1}""")._1 === 422)
      // raw coordinates checked BEFORE reprojection (the F6 quirk)
      val (code, msg) = detail(
        """{"request_string":"red","input_point":{"longitude":240.0,"latitude":0.0,"epsg":3857}}""")
      assert(code === 422 && msg.contains("longitude"))
      assert(detail("""{"limit":3}""")._1 === 422) // request_string required
      assert(detail("""{"request_string":"red","limit":2.5}""")._1 === 422)
      assert(detail("not json")._1 === 422)
      assert(detail("""{"request_string":"red","input_point":{"longitude":-81.27}}""")._1 === 422)
    }
  }

  test("http: engine errors land in the envelope, not a 5xx (backend/app.py:49-53)") {
    // 3-dim probe vs the fixture's 4-dim embeddings: an execution error
    val bad: String => Array[Float] = _ => Array(1f, 0f, 0f)
    val server = SearchServer.start(layers, bad, port = 0)
    try {
      val c = HttpClient.newHttpClient()
      val r = post(c, server.getAddress.getPort, """{"request_string":"red"}""")
      assert(r.statusCode() === 200)
      val JObj(fs) = Json.parse(r.body()): @unchecked
      assert(fs("layers") === JNull)
      assert(fs("error") !== JNull)
    } finally server.stop(0)
  }

  test("http: concurrent requests share the session safely (bounded pool)") {
    withServer { (c, port) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val bodies = Seq(
        """{"request_string":"red","limit":3}""",
        """{"request_string":"green","limit":2}""",
        """{"request_string":"red","type_filter":["table"],"limit":10}""",
        """{"request_string":"green","limit":11}""") // one 422 among them
      val codes = Await.result(
        Future.sequence(bodies.map(b => Future(post(c, port, b).statusCode()))),
        60.seconds)
      assert(codes.sorted === Seq(200, 200, 200, 422))
    }
  }

  test("http: method gate") {
    withServer { (c, port) =>
      val r = c.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/search")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 405)
    }
  }

  // --- MCP server ---

  private def rpc(mcp: McpServer, json: String): JObj =
    mcp.handle(Json.parse(json)).get match { case o: JObj => o; case x => fail(s"expected object: $x") }

  test("mcp: initialize / tools list / tool call with the markdownified envelope") {
    val mcp = new McpServer(layers, encoder)
    val init = rpc(mcp, """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
    assert(init.fields("result").render.contains("govgis_nov2023"))
    assert(mcp.handle(Json.parse(
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""")) === None)

    val tools = rpc(mcp, """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
    assert(tools.fields("result").render.contains("gis_layer_search"))
    assert(tools.fields("result").render.contains("request_string"))

    val call = rpc(mcp,
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{
        |"name":"gis_layer_search","arguments":{"request_string":"red","limit":1}}}""".stripMargin)
    val result = call.fields("result") match { case o: JObj => o; case x => fail(s"expected object: $x") }
    assert(result.fields("isError") === JBool(false))
    val env = result.fields("structuredContent") match { case o: JObj => o; case x => fail(s"expected object: $x") }
    val JArr(ls) = env.fields("layers"): @unchecked
    val JObj(l1) = ls.head: @unchecked
    assert(l1("id") === JStr("L1"))
    // backend/mcp.py:12-20: every string markdownified — L1's HTML bold
    assert(l1("description") === JStr("**flood** zones"))
  }

  test("mcp: validation failures are isError tool results; unknown method is -32601") {
    val mcp = new McpServer(layers, encoder)
    val bad = rpc(mcp,
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{
        |"name":"gis_layer_search","arguments":{"request_string":"red","limit":99}}}""".stripMargin)
    val result = bad.fields("result") match { case o: JObj => o; case x => fail(s"expected object: $x") }
    assert(result.fields("isError") === JBool(true))
    val unknown = rpc(mcp, """{"jsonrpc":"2.0","id":5,"method":"nope"}""")
    assert(unknown.fields("error").render.contains("-32601"))
    // but an unknown-method NOTIFICATION (no id) must get NO response at
    // all — JSON-RPC 2.0 forbids replying to notifications, even with
    // method-not-found
    assert(mcp.handle(Json.parse(
      """{"jsonrpc":"2.0","method":"nope/nothing"}""")) === None)
  }

  test("mcp: stdio transport serves line-delimited JSON-RPC until EOF") {
    val mcp = new McpServer(layers, encoder)
    val in = new java.io.ByteArrayInputStream(
      ("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""" + "\n" +
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""" + "\n" +
        """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""" + "\n").getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    mcp.serve(in, out)
    val lines = out.toString("UTF-8").trim.split("\n")
    assert(lines.length === 2) // the notification gets no reply
    assert(lines(0).contains("\"id\":1") && lines(1).contains("gis_layer_search"))
  }

  // --- MCP streamable-http transport ---

  private def withMcpHttp[A](f: (HttpClient, Int) => A): A = {
    val server = new McpServer(layers, encoder).startHttp(port = 0)
    try f(HttpClient.newHttpClient(), server.getAddress.getPort)
    finally server.stop(0)
  }

  private def postMcp(client: HttpClient, port: Int, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/mcp"))
      .header("Content-Type", "application/json")
      .header("Accept", "application/json, text/event-stream")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("mcp http: initialize / notification(202) / tools/list / tools/call over a live socket") {
    withMcpHttp { (client, port) =>
      val init = postMcp(client, port,
        """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
      assert(init.statusCode === 200)
      assert(init.headers.firstValue("Content-Type").get === "application/json")
      assert(init.body.contains("\"protocolVersion\":\"2024-11-05\""))
      assert(init.body.contains("govgis_nov2023"))
      // notifications get 202 and NO body (the transport-spec contract)
      val note = postMcp(client, port,
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      assert(note.statusCode === 202)
      assert(note.body.isEmpty)
      val list = postMcp(client, port, """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
      assert(list.statusCode === 200 && list.body.contains("gis_layer_search"))
      val call = postMcp(client, port,
        """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{
          |"name":"gis_layer_search","arguments":{"request_string":"red","limit":3}}}""".stripMargin)
      assert(call.statusCode === 200)
      val JObj(fs) = Json.parse(call.body): @unchecked
      val result = fs("result") match { case o: JObj => o; case x => fail(s"not an object: $x") }
      assert(result.fields("isError") === JBool(false))
      // the markdownify envelope rides through HTTP too: L1's HTML bold
      val env = result.fields("structuredContent") match {
        case o: JObj => o; case x => fail(s"not an object: $x")
      }
      val JArr(ls) = env.fields("layers"): @unchecked
      val JObj(l1) = ls.head: @unchecked
      assert(l1("description") === JStr("**flood** zones"))
    }
  }

  test("mcp http: GET is 405; malformed JSON is a -32700 response; validation is isError") {
    withMcpHttp { (client, port) =>
      val get = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/mcp")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode === 405)
      val bad = postMcp(client, port, """{"jsonrpc":"2.0","id":""")
      assert(bad.statusCode === 200 && bad.body.contains("-32700"))
      val inval = postMcp(client, port,
        """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":{
          |"name":"gis_layer_search","arguments":{"request_string":"red","limit":99}}}""".stripMargin)
      assert(inval.statusCode === 200 && inval.body.contains("\"isError\":true"))
    }
  }

  test("ServeMain.start: boots both endpoints from a layers parquet (docker-compose shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve").toString + "/layers"
    layers.write.mode("overwrite").parquet(dir)
    val (http, mcp) = ServeMain.start(spark, dir, httpPort = 0, mcpPort = 0)
    try {
      val client = HttpClient.newHttpClient()
      val sr = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${http.getAddress.getPort}/search"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"request_string":"red","limit":2}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(sr.statusCode === 200)
      assert(sr.body.contains("\"layers\":["))
      val mr = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${mcp.getAddress.getPort}/mcp"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"jsonrpc":"2.0","id":1,"method":"tools/list"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(mr.statusCode === 200 && mr.body.contains("gis_layer_search"))
    } finally { http.stop(0); mcp.stop(0) }
  }

  test("ServeMain.start: once both servers stop, no non-daemon thread of theirs runs") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-stop").toString + "/layers"
    layers.write.mode("overwrite").parquet(dir)
    def threads() = Thread.getAllStackTraces.keySet.asScala.toSet
    val before = threads()
    val (http, mcp) = ServeMain.start(spark, dir, httpPort = 0, mcpPort = 0)
    try {
      // one request each, so each server's pool has started a thread
      val client = HttpClient.newHttpClient()
      for ((server, path, body) <- Seq(
          (http, "search", """{"request_string":"red"}"""),
          (mcp, "mcp", """{"jsonrpc":"2.0","id":1,"method":"tools/list"}"""))) {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode === 200)
      }
    } finally { http.stop(0); mcp.stop(0) }
    val left = (threads() -- before).filter(t => t.isAlive && !t.isDaemon)
    assert(left.isEmpty, s"still running: ${left.map(_.getName).mkString(", ")}")
  }

  /** One kept-alive HTTP/1.1 connection that sends each request in one
    * write and reads the reply by its Content-Length: the shape of the
    * benchmark's Python `http.client` connection. */
  private final class KeptAlive(port: Int) extends AutoCloseable {
    private val sock = new java.net.Socket("127.0.0.1", port)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    def post(path: String, body: String): (Int, String) = {
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write((s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ b)
      out.flush()
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) {
        val c = in.read()
        assert(c >= 0, s"connection closed after: $head")
        head += c.toChar
      }
      val lines = head.toString.split("\r\n")
      val length = lines.tail.collectFirst {
        case h if h.toLowerCase(java.util.Locale.ROOT).startsWith("content-length:") =>
          h.substring(h.indexOf(':') + 1).trim.toInt
      }.getOrElse(0)
      (lines.head.split(" ")(1).toInt,
        new String(in.readNBytes(length), java.nio.charset.StandardCharsets.UTF_8))
    }

    def close(): Unit = sock.close()
  }

  test("ServeMain.start: kept-alive replies do not wait for the client's delayed ACK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-nodelay").toString + "/layers"
    layers.write.mode("overwrite").parquet(dir)
    val (http, mcp) = ServeMain.start(spark, dir, httpPort = 0, mcpPort = 0)
    try {
      val search = """{"request_string":"red","limit":2}"""
      val tool = """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{""" +
        """"name":"gis_layer_search","arguments":{"request_string":"red","limit":2}}}"""
      for ((server, path, body) <- Seq((http, "/search", search), (mcp, "/mcp", tool))) {
        val conn = new KeptAlive(server.getAddress.getPort)
        try {
          (1 to 5).foreach(_ => conn.post(path, body)) // codegen and class loading
          val ms = (1 to 25).map { _ =>
            val t0 = System.nanoTime()
            val (status, reply) = conn.post(path, body)
            val t = (System.nanoTime() - t0) / 1e6
            assert(status === 200 && reply.contains("\"id\":\"L1\""), reply)
            t
          }.sorted
          // a stalled reply waits ~40 ms for the ACK; the request's own
          // work over this corpus is a few ms
          assert(ms(ms.size / 2) < 15.0, s"$path median ${ms(ms.size / 2)} ms; all: $ms")
        } finally conn.close()
      }
    } finally { http.stop(0); mcp.stop(0) }
  }

  test("ServeMain.start: boots with an .onnx encoder artifact (the F8 loaded-model seam)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-onnx").toString
    layers.write.mode("overwrite").parquet(s"$dir/layers")
    // corpus is 4-dim; the model's output width must match (dim check)
    val m = graft.operators.NeuralEmbed.generate(16, 8, 4)
    graft.operators.OnnxMlp.writeFile(m, s"$dir/encoder.onnx")
    val (http, mcp) = ServeMain.start(spark, s"$dir/layers",
      httpPort = 0, mcpPort = 0, weightsPath = Some(s"$dir/encoder.onnx"))
    try {
      val client = HttpClient.newHttpClient()
      val sr = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${http.getAddress.getPort}/search"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"request_string":"flood zones","limit":2}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(sr.statusCode === 200 && sr.body.contains("\"layers\":["))
      // the ranking must come from the LOADED model, not the hash fallback
      val probe = graft.operators.NeuralEmbed.embedQuery("flood zones", m)
      assert(probe.toSeq === graft.operators.NeuralEmbed.embedQuery("flood zones",
        graft.operators.OnnxMlp.readFile(s"$dir/encoder.onnx")).toSeq)
      // a mismatched output width refuses at boot
      graft.operators.OnnxMlp.writeFile(
        graft.operators.NeuralEmbed.generate(16, 8, 5), s"$dir/bad.onnx")
      intercept[IllegalArgumentException] {
        ServeMain.start(spark, s"$dir/layers", httpPort = 0, mcpPort = 0,
          weightsPath = Some(s"$dir/bad.onnx"))
      }
    } finally { http.stop(0); mcp.stop(0) }
  }

  test("http: a /search body over the cap is 413, not buffered") {
    withServer { (c, port) =>
      val pad = "x" * (Http.MaxBodyBytes + 1024)
      val r = post(c, port, s"""{"request_string":"$pad"}""")
      assert(r.statusCode() === 413)
      // the same server still answers a normal request afterwards
      assert(post(c, port, """{"request_string":"red"}""").statusCode() === 200)
    }
  }

  test("mcp http: oversized bodies refuse with 413 before buffering") {
    withMcpHttp { (client, port) =>
      val pad = "x" * (Http.MaxBodyBytes + 1024)
      val r = postMcp(client, port,
        s"""{"jsonrpc":"2.0","id":1,"method":"tools/list","params":{"pad":"$pad"}}""")
      assert(r.statusCode === 413)
    }
  }

  test("mcp http: concurrent tool calls share the session safely") {
    withMcpHttp { (client, port) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val bodies = (1 to 6).map { i =>
        s"""{"jsonrpc":"2.0","id":$i,"method":"tools/call","params":{
           |"name":"gis_layer_search","arguments":{"request_string":"red","limit":2}}}""".stripMargin
      }
      val rs = Await.result(
        Future.sequence(bodies.map(b => Future(postMcp(client, port, b)))), 90.seconds)
      assert(rs.forall(_.statusCode === 200))
      assert(rs.forall(_.body.contains("\"isError\":false")))
    }
  }
}
