package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.operators.{Embed, Search}
import graft.serve._

/** One request as the server received it: endpoint and raw body text. */
final case class Req(index: Int, endpoint: String, body: String)

object Req {
  /** `<index>\t<endpoint>\t<body>` lines, as run.py writes them. */
  def load(path: String): Vector[Req] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(i, ep, body) = line.split("\t", 3)
      Req(i.toInt, ep, body)
    }.toVector
    finally src.close()
  }
}

/** Replays requests in the benchmark's JVM by calling each serve layer's
  * public function in the order the HTTP handlers call them:
  * `Json.parse` -> `SearchServer.decodeRequest` (with the embedding
  * encoder) -> `Search.validate` -> `Search.plan` -> collect ->
  * `SearchServer.encodeResponse` [-> `markdownifyAllStrings` for MCP]
  * -> render. Each layer is timed; Spark counters come from the job
  * group set around the request.
  */
final class Replay(spark: SparkSession, layers: DataFrame, dim: Int,
                   listener: Option[OpListener], spans: Option[Spans]) {

  private val embedNs = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val encoder: String => Array[Float] = { q =>
    val t = System.nanoTime()
    val v = Embed.embedQuery(q, dim)
    embedNs.set(embedNs.get + (System.nanoTime() - t))
    v
  }

  private def us(ns: Long): Double = ns / 1000.0

  /** Sum of rows the plan's leaves (the cached-corpus scans) produced. */
  private def leafRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => leafRows(a.executedPlan)
    case q: QueryStageExec => leafRows(q.plan)
    case p if p.children.isEmpty && p.subqueries.isEmpty =>
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => p.children.map(leafRows).sum + p.subqueries.map(leafRows).sum
  }

  /** Handle one request the way its endpoint's handler does; returns the
    * per-layer record (instrumented) or just the total time. */
  def handle(r: Req, instrumented: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val group = s"req-${r.index}"
    if (instrumented) sc.setJobGroup(group, group, interruptOnCancel = false)
    embedNs.set(0L)
    val sp = if (instrumented) spans else None
    def timed[T](name: String, parent: Long)(f: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val v = sp match {
        case Some(s) => s.span(name, group, parent)(_ => f)
        case None => f
      }
      (v, System.nanoTime() - t0)
    }
    val t0 = System.nanoTime()
    val body = (root: Long) => {
      val (msg, parseNs) = timed("serve.parse", root)(Json.parse(r.body))
      val (rpcId, args) =
        if (r.endpoint == "mcp") {
          val o = msg.asInstanceOf[JObj]
          val params = o.get("params").get.asInstanceOf[JObj]
          (o.fields("id"), params.get("arguments").getOrElse(JObj.of()))
        } else (JNull, msg)
      val (req, decodeNs) = timed("serve.decode", root) {
        val q = SearchServer.decodeRequest(args, encoder)
        Search.validate(q)
        q
      }
      val embed = embedNs.get.longValue
      val (df, planNs) = timed("search.plan", root)(Search.plan(layers, req))
      val ((resp, rows), execNs) = timed("search.execute", root) {
        try {
          val rows = df.collect().toSeq.map(x => Search.LayerResult(x.getString(0),
            x.getString(1), x.getString(2), x.getString(3), x.getString(4), x.getString(5)))
          (Search.SearchResponse(Some(rows), None), rows)
        } catch {
          case e: Exception => (Search.SearchResponse(None, Some(e.getMessage)), Nil)
        }
      }
      val (envelope, encodeNs) = timed("serve.render", root)(SearchServer.encodeResponse(resp))
      val (md, mdNs) =
        if (r.endpoint == "mcp") timed("serve.markdown", root)(SearchServer.markdownifyAllStrings(envelope))
        else (envelope, 0L)
      val (_, renderNs) = timed("serve.render", root) {
        val out =
          if (r.endpoint == "mcp") JObj.of("jsonrpc" -> JStr("2.0"), "id" -> rpcId,
            "result" -> JObj.of(
              "content" -> JArr(Vector(JObj.of("type" -> JStr("text"), "text" -> JStr(md.render)))),
              "structuredContent" -> md, "isError" -> JBool(false)))
          else md
        out.render.getBytes(UTF_8)
      }
      val phases = df.queryExecution.tracker.phases
      def phaseMs(name: String): Double = phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
      Map[String, Any](
        "parse_us" -> us(parseNs), "decode_us" -> us(decodeNs - embed), "embed_us" -> us(embed),
        "plan_us" -> us(planNs), "execute_ms" -> execNs / 1e6,
        "render_us" -> us(encodeNs + renderNs), "markdown_us" -> us(mdNs),
        "analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
        "planning_ms" -> phaseMs("planning"),
        "rows_scanned" -> leafRows(df.queryExecution.executedPlan),
        "rows_returned" -> rows.size, "error" -> resp.error,
        "ids" -> rows.map(_.id))
    }
    val rec =
      try {
        if (instrumented) sp match {
          case Some(s) => s.span(s"replay.${r.endpoint}", group)(body)
          case None => body(0L)
        } else {
          body(0L)
          Map.empty[String, Any]
        }
      } finally if (instrumented) sc.clearJobGroup()
    val total = System.nanoTime() - t0
    rec ++ Map("i" -> r.index, "endpoint" -> r.endpoint, "total_ms" -> total / 1e6)
  }

  /** Replay `reqs` with `clients` threads taking requests in sequence
    * order, as the HTTP clients do; records come back in index order. */
  def run(reqs: Seq[Req], clients: Int, instrumented: Boolean): Seq[Map[String, Any]] = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
    val pool = Executors.newFixedThreadPool(clients)
    (1 to clients).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var k = next.getAndIncrement()
          while (k < reqs.size) {
            val rec =
              try handle(reqs(k), instrumented)
              catch { case e: Exception =>
                Map[String, Any]("i" -> reqs(k).index, "endpoint" -> reqs(k).endpoint,
                  "failed" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
              }
            out.put(k, rec)
            k = next.getAndIncrement()
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    // counters are read once every request has finished: the listener bus
    // delivers asynchronously, and concurrent requests keep it busy
    listener.filter(_ => instrumented).foreach(_.quiesce())
    reqs.indices.map { k =>
      val rec = out.get(k)
      listener.filter(_ => instrumented)
        .fold(rec)(l => rec + ("spark" -> l.take(s"req-${reqs(k).index}")))
    }
  }
}
