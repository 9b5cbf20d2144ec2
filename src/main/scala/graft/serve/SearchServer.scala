package graft.serve

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame

import graft.operators.Search
import graft.operators.Search.{Point, SearchRequest}

/** The reference's serving layer (`backend/app.py:38-57` POST /search),
  * re-expressed dependency-free on the JDK's own HTTP server: the same
  * request schema, validation split, and response envelope in front of
  * [[graft.operators.Search]].
  *
  * Contract parity (`backend/models.py:75-102`, `backend/app.py:49-56`):
  *  - body = {request_string, type_filter?, input_point?{longitude,
  *    latitude, epsg=4326}, skip=0, limit=5};
  *  - schema/validation failures (missing request_string, limit outside
  *    [1,10], skip<0, coordinates out of range BEFORE reprojection) are
  *    HTTP 422 with a {"detail":[{msg, loc}]} body — the FastAPI/pydantic
  *    analogue; request_string is embedded server-side via the injected
  *    encoder (the F8 seam, `backend/app.py:28-33`);
  *  - execution errors are HTTP 200 with {"layers": null, "error": msg}
  *    (the reference catches engine errors into the envelope);
  *  - success is HTTP 200 {"layers":[{id,name,type,description,url,
  *    metadata_text}...], "error": null}.
  *
  * Scale posture: the endpoint is presentation, not data plane — request
  * bodies are probe-sized (capped at [[Http.MaxBodyBytes]], 413 past it)
  * and responses are limit<=10 rows. `Search.plan` answers a small corpus
  * from a driver copy with no Spark job, and scans a larger one with one
  * job per request. Handlers run on a bounded pool; concurrent requests
  * are safe (the driver copy is shared read-only, each handler thread
  * scans it through its own prepared predicate and projections, and Spark
  * actions are thread-safe on a shared session).
  */
object SearchServer {

  /** Pydantic-analogue request decode: wrong types, missing fields, and
    * constraint violations all become [[JsonParseException]] →  422. */
  def decodeRequest(body: JValue, encoder: String => Array[Float]): SearchRequest = {
    val obj = body match {
      case o: JObj => o
      case _ => fail("body", "request body must be a JSON object")
    }
    val text = obj.get("request_string") match {
      case Some(JStr(s)) => s
      case Some(_) => fail("request_string", "must be a string")
      case None => fail("request_string", "field required")
    }
    val typeFilter = obj.get("type_filter").map {
      case JArr(xs) => xs.map {
        case JStr(s) => s
        case _ => fail("type_filter", "must be a list of strings")
      }.toSeq
      case _ => fail("type_filter", "must be a list of strings")
    }
    val point = obj.get("input_point").map {
      case p: JObj =>
        Point(reqNum(p, "input_point.longitude", "longitude"),
          reqNum(p, "input_point.latitude", "latitude"),
          p.get("epsg") match {
            case Some(n: JNum) => intOr422(n, "input_point.epsg")
            case Some(_) => fail("input_point.epsg", "must be an integer")
            case None => 4326
          })
      case _ => fail("input_point", "must be an object")
    }
    val skip = obj.get("skip") match {
      case Some(n: JNum) => intOr422(n, "skip")
      case Some(_) => fail("skip", "must be an integer")
      case None => 0
    }
    val limit = obj.get("limit") match {
      case Some(n: JNum) => intOr422(n, "limit")
      case Some(_) => fail("limit", "must be an integer")
      case None => Search.DefaultLimit
    }
    SearchRequest(encoder(text), typeFilter, point, skip, limit)
  }

  private def reqNum(p: JObj, loc: String, key: String): Double = p.get(key) match {
    case Some(n: JNum) => n.toDouble
    case Some(_) => fail(loc, "must be a number")
    case None => fail(loc, "field required")
  }

  private def intOr422(n: JNum, loc: String): Int =
    try n.toIntExact
    catch { case e: IllegalArgumentException => fail(loc, e.getMessage) }

  private def fail(loc: String, msg: String): Nothing =
    throw new JsonParseException(s"$loc: $msg")

  def encodeResponse(resp: Search.SearchResponse): JObj =
    JObj.of(
      "layers" -> resp.layers.map(ls => JArr(ls.toVector.map(l =>
        JObj.of("id" -> JStr(l.id), "name" -> JStr(l.name),
          "type" -> JStr(l.`type`), "description" -> JStr(l.description),
          "url" -> JStr(l.url), "metadata_text" -> JStr(l.metadata_text)))))
        .getOrElse(JNull),
      "error" -> resp.error.map(JStr(_)).getOrElse(JNull))

  /** The MCP wrapper's response post-processing (`backend/mcp.py:12-20`):
    * every string anywhere in the envelope through HTML→markdown. Driver-
    * side on a k<=10-row envelope — the corpus-sized form of the same
    * kernel is the t9 `html_to_markdown` expression.
    */
  def markdownifyAllStrings(v: JValue): JValue = v match {
    case JStr(s) =>
      JStr(graft.functions.HtmlToMarkdown.convert(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
    case JArr(xs) => JArr(xs.map(markdownifyAllStrings))
    case JObj(fs) => JObj(fs.map { case (k, x) => k -> markdownifyAllStrings(x) })
    case other => other
  }

  /** Start the endpoint on `port` (0 = ephemeral; read the bound port off
    * the returned server). Caller owns the layers plan and the encoder —
    * the server adds no engine state of its own. `Search.search`
    * validates the request outside its envelope, so a violation is a 422
    * like a decode failure.
    */
  def start(layers: DataFrame, encoder: String => Array[Float], port: Int = 8080): HttpServer =
    Http.serve(port, "/search", detail) { body =>
      try (200, Some(encodeResponse(Search.search(layers, decodeRequest(Json.parse(body), encoder)))))
      catch {
        case e: JsonParseException => (422, Some(detail(e.getMessage)))
        case e: IllegalArgumentException => (422, Some(detail(e.getMessage)))
      }
    }

  private def detail(msg: String): JObj =
    JObj.of("detail" -> JArr(Vector(JObj.of("msg" -> JStr(msg)))))
}
