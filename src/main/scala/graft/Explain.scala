package graft

/** Plan-inspection main: prints explain("formatted") for the named
  * queries (or all). Used to keep the physical plans honest at scale —
  * check for PushedFilters on scans, broadcast joins on dims,
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
      try queryMap(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
