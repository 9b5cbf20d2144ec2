package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{st_geomfromtext, st_intersects, st_point}

/** Measurement main for S5 (the GiST-index analogue): quantifies how
  * much of the corpus the s1 point-in-rectangle predicate actually
  * READS on a Z-ordered layout (SpatialLayout.cluster +
  * SpatialFilterPushdown's derived bbox conjuncts in PushedFilters)
  * versus the same rows written in hash order.
  *
  * What is measured and why: Spark's parquet scan lists every file
  * either way — the skipping happens in the reader, which consults each
  * ROW GROUP's min/max stats against the pushed bbox conjuncts and
  * skips groups that cannot match. The decisive evidence is therefore
  * the executor task INPUT metrics: `recordsRead` counts only rows the
  * reader actually decoded (skipped groups decode nothing), `bytesRead`
  * the bytes pulled. On the Z-ordered layout each file/row group covers
  * a compact curve cell, so groups outside the query rectangle prune;
  * on the hash layout every group spans the whole extent and nothing
  * can prune. Results are appended to BASELINE.md by hand (round-10
  * verdict task 6).
  *
  * Usage: `sbt "runMain graft.SpatialSkipBench [nRows]"` (default 4M —
  * the sf1-like scale; the synthetic s1 coordinate formula).
  */
object SpatialSkipBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 4000000L
    val spark = Session(Session.localMaster(32), Some("/dev/shm/graft-spark"))

    val records = new LongAdder; val bytes = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val im = t.taskMetrics.inputMetrics
        records.add(im.recordsRead); bytes.add(im.bytesRead)
      }
    })

    // the s1 synthetic point cloud: neighbors by id are FAR apart
    // spatially, so a hash layout has full-extent row groups
    val pts = spark.range(1L, n + 1L).select(
      col("id").as("c_custkey"),
      (col("id") * 7 % 360 - 180 + (col("id") % 25) / 100.0).as("x"),
      (col("id") * 3 % 180 - 90 + (col("id") % 25) / 100.0).as("y"))

    val zPath = "/dev/shm/graft_skip_z"
    val hPath = "/dev/shm/graft_skip_h"
    graft.sources.SpatialLayout.write(pts, col("x"), col("y"), 64, zPath)
    pts.repartition(64, col("c_custkey")).write.mode("overwrite").parquet(hPath)

    def runOnce(path: String): (Long, Long, Long, Long) = {
      records.reset(); bytes.reset()
      val t0 = System.nanoTime()
      val matched = spark.read.parquet(path)
        .filter(st_intersects(
          st_geomfromtext(lit("POLYGON ((-50 -20, 40 -20, 40 35, -50 35, -50 -20))")),
          st_point(col("x"), col("y"))))
        .agg(count(lit(1))).head().getLong(0)
      val ms = (System.nanoTime() - t0) / 1000000L
      // listener events drain asynchronously (the bus API is
      // private[spark]): poll until the sums hold still for three
      // consecutive samples — a single equal pair can catch a
      // momentarily idle bus mid-drain and under-count
      var last = -1L
      var stable = 0
      while (stable < 3) {
        val cur = records.sum()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(300L)
      }
      (matched, records.sum(), bytes.sum(), ms)
    }

    // warm both paths once (page cache, codegen), then measure
    Seq(zPath, hPath).foreach(runOnce)
    val (mz, rz, bz, tz) = runOnce(zPath)
    val (mh, rh, bh, th) = runOnce(hPath)
    require(mz == mh, s"layouts disagree on the result: $mz vs $mh")
    println(s"""{"rows":$n,"matched":$mz,""" +
      s""""zorder":{"records_read":$rz,"bytes_read":$bz,"ms":$tz},""" +
      s""""hash":{"records_read":$rh,"bytes_read":$bh,"ms":$th},""" +
      s""""records_skipped_pct":${math.round(10000.0 * (rh - rz) / rh) / 100.0}}""")
    spark.stop()
  }
}
