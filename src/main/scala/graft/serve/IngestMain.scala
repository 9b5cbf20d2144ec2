package graft.serve

/** One-shot ingest CLI — the deployment analogue of the reference's
  * `postgres-init` service (`docker-compose.yml:11-25` runs
  * `python load_data.py` once before the backend boots): load a raw
  * layers parquet through the full ingest pipeline (rename/project,
  * dimension + geometry-type validation, idempotence gate, atomic
  * commit, GeoParquet footer stamp) and exit. Safe to re-run: the S6
  * gate makes an already-committed target a no-op, which is exactly the
  * `service_completed_successfully` contract compose expects.
  *
  * usage: IngestMain <rawParquet> <layersParquet> [embeddingDim]
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IngestMain <rawParquet> <layersParquet> [embeddingDim]")
    val spark = graft.Session(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val dim = if (args.length > 2) Some(args(2).toInt) else None
    val loaded = graft.operators.Ingest.run(
      spark, args(0), args(1), validateDim = dim, geoParquet = true)
    println(if (loaded) s"[ingest] loaded ${args(1)}"
            else s"[ingest] ${args(1)} already committed — skipped (idempotent)")
    spark.stop()
  }
}
