package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SpatialFilterPushdown

/** The session policy every entry point gets from [[graft.Session]]. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("calling the factory twice installs SpatialFilterPushdown exactly once") {
    val again = Session("local[4]")
    assert(again eq spark) // getOrCreate hands back the live session
    assert(spark.experimental.extraOptimizations.count(_ == SpatialFilterPushdown) === 1)
    val inOptimizer = spark.sessionState.optimizer.batches
      .flatMap(_.rules).count(_ == SpatialFilterPushdown)
    assert(inOptimizer === 1)
  }

  test("shuffle partitions equal the context's defaultParallelism") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
  }

  test("the session time zone is UTC and the UI is off") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sql("SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' AS LONG)").head().getLong(0) === 0L)
  }

  test("a graft SQL function resolves") {
    val d = spark.sql("SELECT cosine_distance(array(1.0F, 0.0F), array(0.0F, 1.0F))").head()
    assert(d.getDouble(0) === 1.0)
  }
}
