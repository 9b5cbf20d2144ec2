package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, Knn}

/** One pass of the batch dedup pipeline over a documents directory: the
  * d2 (exact Jaccard), d4 (SimHash) and v8 (LSH) near-duplicate operator
  * calls with the gates' parameters, `Dedup.nearDupClusters` over the d2
  * pairs, and the keepers written to parquet. */
final class Batch(spark: SparkSession, docsDir: String, outDir: String,
                  listener: Option[OpListener], spans: Option[Spans]) {

  /** The oracle-checked gate each operator call reproduces. */
  val Gates: Seq[(String, String)] = Seq(
    "d2" -> "d2_jaccard_near_dup", "d4" -> "d4_simhash_near_dup", "v8" -> "v8_lsh_near_dup")

  private val queries = SparkEntry.queries

  private def rows(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map((r: Row) => r.toSeq))

  def pass(p: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val groups = scala.collection.mutable.LinkedHashMap[String, String]()
    def op[T](name: String, parent: Long)(f: => T): T = {
      val group = s"pass$p.$name"
      if (listener.isDefined) sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try spans.fold(f)(_.span(s"batch.$name", s"pass$p", parent)(_ => f))
      finally {
        times(name) = (System.nanoTime() - t0) / 1e9
        groups(name) = group
        if (listener.isDefined) sc.clearJobGroup()
      }
    }
    val t0 = System.nanoTime()
    val body = (root: Long) => {
      val (d2df, d2) = op("d2", root) {
        val df = queries("d2_jaccard_near_dup")(spark, docsDir)
        (df, rows(df))
      }
      val d4 = op("d4", root)(rows(queries("d4_simhash_near_dup")(spark, docsDir)))
      val v8 = op("v8", root)(rows(queries("v8_lsh_near_dup")(spark, docsDir)))
      val clusters = op("clusters", root)(rows(
        Dedup.nearDupClusters(d2df).select(col("id").as("doc_id"), col("keeper"))))
      val dropped = clusters._2.collect { case Seq(id: Long, keeper: Long) if id != keeper => id }
      op("write", root) {
        import spark.implicits._
        Tables.documents(spark, docsDir)
          .join(broadcast(dropped.toDF("doc_id")), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(outDir)
      }
      Map("d2" -> d2, "d4" -> d4, "v8" -> v8, "clusters" -> clusters)
    }
    val results = spans.fold(body(0L))(_.span("batch.pass", s"pass$p")(body))
    val total = (System.nanoTime() - t0) / 1e9
    val counters = listener.map { l =>
      l.quiesce()
      groups.map { case (name, g) => name -> l.take(g) }.toMap
    }
    Map("pass" -> p, "seconds" -> total, "op_seconds" -> times.toMap,
      "results" -> results.map { case (k, (cols, rs)) => k -> Map("columns" -> cols, "rows" -> rs) },
      "spark" -> counters)
  }

  /** LSH candidate pairs behind v8 (the gate's banding), for the yield. */
  def lshCandidates(): Long =
    Knn.lshCandidatePairs(graft.queries.Vectors.docVectors(spark, docsDir), "doc_id", "vec",
      bands = 64, rowsPerBand = 12, seed = 42L).count()

  def oracleSql: Map[String, String] = Gates.map { case (k, g) => k -> SparkEntry.oracleSql(g) }.toMap
}
