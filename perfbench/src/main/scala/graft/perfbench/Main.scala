package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine_distance, st_intersects, st_point, vector_lit}
import graft.operators.{Embed, Ingest}
import graft.serve.ServeMain
import graft.sources.LayersTable

/** The benchmark's JVM. Two modes, both driven by `perfbench/run.py`:
  *
  *   batch  --docs D --out O --seconds S [--trace 1 --spans F
  *          --probe-raw R --probe-layers L --dim K --requests Q --clients C]
  *   replay --layers L --requests Q --warm W --count N --clients C --spans F
  *          --docs D --out O
  *
  * `batch` runs dedup passes until `S` seconds of warm passes have run.
  * `replay` (and a traced `batch`, as a probe) replays serve requests in
  * process. Results go to stdout as `PB {json}` lines.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val opt = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = opt.get("trace").contains("1") || mode == "replay"
    val t0 = System.nanoTime()
    val spark = session(mode)
    val spans = if (traced) Some(new Spans) else None
    val listener = if (traced) Some(new OpListener) else None
    val queries = if (traced) Some(new QueryCounter) else None
    queries.foreach(spark.listenerManager.register)
    listener.foreach(spark.sparkContext.addSparkListener)
    try {
      mode match {
        case "batch" => batch(spark, opt, t0, listener, spans)
        case "replay" =>
          val layersDir = opt("layers")
          traceSearch(spark, opt, serving(spark, layersDir), listener, spans)
          batchProbe(spark, opt, listener, spans)
      }
      spans.foreach(_.write(opt("spans")))
      Out.emit("done", "rss_peak_mb" -> vmHwmMb(),
        "query_executions" -> queries.map(_.ok.get), "query_failures" -> queries.map(_.failed.get))
    } finally spark.stop()
    // the probe's HTTP servers leave non-daemon handler pools behind
    sys.exit(0)
  }

  /** `replay` runs under the deployed entrypoints' session settings
    * (`ServeMain`/`IngestMain`); `batch` under the harness the dedup
    * gates are benched in (`graft.Bench`): one shuffle partition per
    * core, AQE, and the spatial pushdown rule. */
  private def session(mode: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder().appName("perfbench").config("spark.ui.enabled", "false")
    val spark = (mode match {
      case "replay" => b.master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions", "32")
      case _ => b.master(s"local[$cores]").config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.adaptive.enabled", "true")
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "batch")
      spark.experimental.extraOptimizations ++= Seq(graft.plans.SpatialFilterPushdown)
    spark
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def batch(spark: SparkSession, opt: Map[String, String], t0: Long,
                    listener: Option[OpListener], spans: Option[Spans]): Unit = {
    val b = new Batch(spark, opt("docs"), opt("out"), listener, spans)
    Out.emit("oracle", "sql" -> b.oracleSql)
    Out.emit("pass", b.pass(0).toSeq: _*)
    Out.emit("setup", "seconds" -> (System.nanoTime() - t0) / 1e9)
    val window = opt("seconds").toDouble * 1e9
    val start = System.nanoTime()
    var p = 1
    while (System.nanoTime() - start < window) {
      Out.emit("pass", b.pass(p).toSeq: _*)
      p += 1
    }
    if (listener.isDefined) {
      Out.emit("lsh", "candidates" -> b.lshCandidates())
      // the search layers idle in this workload: measure them on a probe
      val layersDir = opt("probe-layers")
      val ingestT = System.nanoTime()
      Ingest.run(spark, opt("probe-raw"), layersDir, validateDim = Some(opt("dim").toInt),
        geoParquet = true)
      Out.emit("ingest", "seconds" -> (System.nanoTime() - ingestT) / 1e9)
      val bootT = System.nanoTime()
      val (http, mcp) = ServeMain.start(spark, layersDir, 0, 0)
      Out.emit("serving", "boot_seconds" -> (System.nanoTime() - bootT) / 1e9,
        "search_port" -> http.getAddress.getPort, "mcp_port" -> mcp.getAddress.getPort)
      // run.py sends its HTTP calls now, then writes the number of
      // warm-up and measured calls it made: "<warm> <count>"
      val Array(warm, count) = scala.io.StdIn.readLine().trim.split(" ")
      http.stop(0); mcp.stop(0)
      traceSearch(spark, opt ++ Map("warm" -> warm, "count" -> count),
        serving(spark, layersDir), listener, spans)
    }
  }

  /** The layers plan exactly as `ServeMain.start` builds and caches it. */
  private def serving(spark: SparkSession, layersDir: String): (DataFrame, Int) = {
    val layers = LayersTable.fromGeoParquet(spark.read.parquet(layersDir)).cache()
    val dim = layers.select("embeddings").head().getSeq[Float](0).length
    val n = layers.count()
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    Out.emit("layers", "rows" -> n, "dim" -> dim, "cache_mb" -> cachedMb)
    (layers, dim)
  }

  /** Replay the warm-up requests, then the measured ones instrumented,
    * then the measured ones again without instrumentation (the tracing
    * overhead), then time the kernels with standalone selects. */
  private def traceSearch(spark: SparkSession, opt: Map[String, String], served: (DataFrame, Int),
                          listener: Option[OpListener], spans: Option[Spans]): Unit = {
    val (layers, dim) = served
    val sc = spark.sparkContext
    val reqs = Req.load(opt("requests"))
    val warm = opt("warm").toInt
    val count = opt("count").toInt
    val clients = opt("clients").toInt
    val measured = reqs.slice(warm, warm + count)
    listener.foreach(sc.removeSparkListener)
    new Replay(spark, layers, dim, None, None).run(reqs.take(warm), clients, instrumented = false)
    listener.foreach(sc.addSparkListener)
    val traced = new Replay(spark, layers, dim, listener, spans).run(measured, clients, instrumented = true)
    traced.foreach(r => Out.emit("req", r.toSeq: _*))
    listener.foreach(sc.removeSparkListener)
    val plain = new Replay(spark, layers, dim, None, None).run(measured, clients, instrumented = false)
    listener.foreach(sc.addSparkListener)
    Out.emit("overhead", "traced_ms" -> traced.map(_("total_ms")),
      "plain_ms" -> plain.map(_("total_ms")))

    val probe = vector_lit(Embed.embedQuery("spark query vector", dim))
    val rows = layers.count()
    def rate(f: => Any): Seq[Double] = (1 to 5).map { _ =>
      val t = System.nanoTime(); f; rows / ((System.nanoTime() - t) / 1e9)
    }
    Out.emit("functions",
      "cosine_rows_per_s" -> rate(layers.select(max(cosine_distance(col("embeddings"), probe))).collect()),
      "intersects_rows_per_s" -> rate(layers.select(max(
        st_intersects(col("geom"), st_point(lit(10.5), lit(20.5))).cast("int"))).collect()))
  }

  /** The dedup layers idle in the search workload: one pass over a
    * document prefix, so every layer reports on every workload. */
  private def batchProbe(spark: SparkSession, opt: Map[String, String],
                         listener: Option[OpListener], spans: Option[Spans]): Unit = {
    val b = new Batch(spark, opt("docs"), opt("out"), listener, spans)
    Out.emit("pass", b.pass(0).toSeq: _*)
    Out.emit("lsh", "candidates" -> b.lshCandidates())
  }
}
