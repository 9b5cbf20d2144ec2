package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection main: for the named queries (or all), prints the
  * executed plan of every SQL execution the query ran while it was built
  * (guard aggregates, eager `localCheckpoint`s), then explain("formatted")
  * of the returned DataFrame. Used to keep the physical plans honest at
  * scale — check for PushedFilters on scans, broadcast joins on dims,
  * TakeOrderedAndProject on top-k, and WholeStageCodegen coverage.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queryMap = SparkEntry.queries ++ SparkEntry.benchOnly
    val names = if (args.length > 1) args.drop(1).toSeq
      else queryMap.keys.toSeq.sorted
    val spark = Session("local[4]")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val (df, ran) = executedPlans(spark)(queryMap(n)(spark, sfDir))
        ran.foreach { case (func, plan) =>
          println(s"---------- executed: $func ----------")
          println(plan.treeString)
        }
        df.explain("formatted")
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** Runs `body` and returns its value with the (funcName, executed plan)
    * of every SQL execution of `spark` that finished inside it, in order
    * of completion. An eager step (a guard's `head`, a
    * `localCheckpoint(true)`) shows up here with its full plan — AQE's
    * final plan included — while the DataFrame it leaves behind plans as
    * a scan of the realized rows. A marker query drains the listener bus
    * before the list is read.
    */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[(String, SparkPlan)]) = {
    val marker = "graft_explain_drain"
    val ran = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def record(func: String, qe: QueryExecution): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) drained.countDown()
        else ran.add(func -> qe.executedPlan)
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        record(func, qe)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        record(func, qe)
    }
    spark.listenerManager.register(listener)
    try {
      val value = body
      spark.range(1).toDF(marker).collect()
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (value, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
