package graft.serve

import org.apache.spark.sql.SparkSession

/** Runnable deployment entry point — the docker-compose shape of the
  * reference (`docker-compose.yml`: app on 8080, MCP streamable-http
  * on 8081) as one JVM:
  *
  *   sbt "runMain graft.ServeMain <layersParquet> [httpPort] [mcpPort] [weightsPath]"
  *
  * Reads the layers corpus (plain or GeoParquet — the geo footer is
  * honored when present), starts POST /search on `httpPort` and the
  * MCP streamable-http endpoint (POST /mcp) on `mcpPort`, and blocks
  * until killed. The embedding seam: with a `weightsPath` the
  * quantized-MLP artifact loads behind the encoder (the x4 contract —
  * a trained export drops in); without one the hashing encoder runs at
  * the corpus' embedding width (the x3 default). Both servers share
  * ONE SparkSession and ONE cached layers plan. Boot materializes the
  * cache and, when it is under `Search.LocalMaxBytes`, collects the
  * driver copy that answers every request without a Spark job; a larger
  * corpus is scanned by one job per request (`Search.plan`).
  */
object ServeMain {

  /** Boot both endpoints against a layers parquet; returns the live
    * servers (ServeSpec drives them on ephemeral ports).
    */
  def start(spark: SparkSession, path: String, httpPort: Int, mcpPort: Int,
            weightsPath: Option[String] = None)
      : (com.sun.net.httpserver.HttpServer, com.sun.net.httpserver.HttpServer) = {
    val raw = spark.read.parquet(path)
    val layers = graft.sources.LayersTable.fromGeoParquet(raw).cache()
    val rows = layers.count() // materializes the cache
    val dim = layers.select("embeddings").head().getSeq[Float](0).length
    val encoder: String => Array[Float] = weightsPath match {
      case Some(wp) =>
        // .onnx loads through the ONNX carrier; anything else is the
        // parquet weight-table artifact — same NeuralModel either way
        val model =
          if (wp.endsWith(".onnx")) graft.operators.OnnxMlp.readFile(wp)
          else graft.operators.NeuralEmbed.load(spark, wp)
        require(model.dOut == dim,
          s"weight artifact emits ${model.dOut}-dim vectors, corpus is $dim-dim")
        q => graft.operators.NeuralEmbed.embedQuery(q, model)
      case None =>
        q => graft.operators.Embed.embedQuery(q, dim)
    }
    val served =
      if (graft.operators.Search.collectDriverCopy(layers)) "from a driver copy, no job per request"
      else s"by a Spark job per request (cache over ${graft.operators.Search.LocalMaxBytes >> 20} MiB)"
    val http = SearchServer.start(layers, encoder, port = httpPort)
    val mcp = new McpServer(layers, encoder).startHttp(port = mcpPort)
    println(s"[serve] /search on ${http.getAddress.getPort}, " +
      s"/mcp on ${mcp.getAddress.getPort}; corpus $rows layers, dim $dim, served $served")
    (http, mcp)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ServeMain <layersParquet> [httpPort=8080] [mcpPort=8081] [weightsPath]")
    val spark = graft.Session(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    start(spark, args(0),
      if (args.length > 1) args(1).toInt else 8080,
      if (args.length > 2) args(2).toInt else 8081,
      if (args.length > 3) Some(args(3)) else None)
    // block until the JVM is killed (the container entrypoint shape)
    Thread.currentThread().join()
  }
}
