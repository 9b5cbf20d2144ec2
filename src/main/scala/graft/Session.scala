package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test
  * session come through here, so the served endpoints, the bench and the
  * oracle dump all plan with the same optimizer. The policy:
  *  - shuffle partitions = the context's `defaultParallelism` (one per
  *    core on a local master), not a constant;
  *  - session time zone UTC, UI off, AQE at Spark's default (on);
  *  - graft's SQL functions and optimizer rule, installed once per session
  *    ([[graft.plans.GraftExtensions.install]]).
  * Only deployment settings are per caller: the master URL and an optional
  * scratch directory (`spark.local.dir`).
  */
object Session {
  def apply(master: String, scratchDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    scratchDir.foreach(builder.config("spark.local.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** `local[$SPARK_GRAFT_CPUS]` — the harness mains' master. */
  def localMaster(defaultCpus: Int): String =
    s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)}]"
}
