package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical access to the driver-generated parquet tables
  * (`/root/repo/TESTDATA.md`). One parquet file per table under the
  * scale-factor directory passed to every query.
  *
  * All reads go through `spark.read.parquet` so Catalyst gets schema from
  * the footer and can push filters / prune columns into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Where a gate saves a fixture it builds and reads back (an index, a
    * model, a rewritten table): `/dev/shm/graft_<name>_<sf>`, with `sf` the
    * last component of the scale-factor directory, so runs at different
    * scales stay apart. Memory-backed, because the files are small and a
    * stalling root disk would time the disk instead of the gate.
    */
  def fixture(name: String, sfDir: String): String =
    s"/dev/shm/graft_${name}_${new java.io.File(sfDir).getName}"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    if (name == "events") readEvents(spark, dir) else
      spark.read.parquet(s"$dir/$name.parquet")
  }

  /** events.ts has shipped as both parquet TIMESTAMP(MICROS) and
    * TIMESTAMP(NANOS) across testdata generations. Spark reads micros
    * natively but rejects nanos, so branch on the footer's declared unit
    * rather than baking either generation's quirk into the reader:
    *
    *   - micros (or anything Spark reads natively): plain
    *     `spark.read.parquet` — footer schema, pushdown, pruning all work.
    *   - nanos: read the column as a raw long via an explicit schema (no
    *     session-global legacy conf that would leak LongType into every
    *     later nanos read) and floor-convert `div 1000` to microsecond
    *     TimestampType — the same truncation DuckDB applies when it
    *     narrows nanos to its native micros, so oracle comparisons agree.
    */
  private def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEventsPath(spark, s"$dir/events.parquet")

  private[graft] def readEventsPath(spark: SparkSession, path: String): DataFrame =
    if (tsIsNanos(spark, path))
      spark.read
        .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING")
        .parquet(path)
        .withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
    else {
      // Micros with isAdjustedToUTC=false infers as TimestampNTZType;
      // normalize to TimestampType so downstream window/session/watermark
      // logic sees one type regardless of which unit the data shipped in.
      // Every entry point pins spark.sql.session.timeZone=UTC, so the
      // NTZ->TZ cast is numerically the identity and matches DuckDB's
      // naive-timestamp reading of the same file.
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    }

  /** True iff the parquet footer annotates `ts` as TIMESTAMP(NANOS).
    * Inspects one data file's footer with parquet-mr directly — cheaper
    * and more explicit than provoking Spark's nanos rejection and
    * branching on the exception text.
    */
  private[graft] def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory) {
        val dataFiles = fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
        if (dataFiles.isEmpty)
          throw new IllegalArgumentException(
            s"no parquet data files under $path (only markers/hidden files) — " +
              "cannot inspect the ts footer unit")
        dataFiles.minBy(_.getName) // deterministic pick; one footer decides for all
      } else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      if (!schema.containsField("ts")) false
      else schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
        .getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }
    } finally reader.close()
  }

  /** Round-robin-spread a scan that is narrower than the cluster: a
    * single small parquet file scans as ONE partition, which serializes
    * any heavy per-row kernel downstream (regex ladders, levenshtein
    * blocks, LSH banding — the round-4 v8 lesson). At real scale the
    * input already arrives in many partitions and this is a no-op —
    * never a shuffle tax. Apply ONLY where per-row kernel work dominates
    * the query; cheap scans don't earn the exchange.
    */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd reads the partition count off the Dataset's
    // OWN lazily-cached physical plan — df.rdd would wrap the tree in a
    // second QueryExecution (row deserializer) and re-plan it per call.
    // When no repartition is needed the later action reuses the same
    // cached plan, so the check costs nothing extra.
    if (df.queryExecution.toRdd.getNumPartitions < par) df.repartition(par) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
