package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Measurement main for q45's generic Z-order layout: quantifies how
  * much of a fact table a conjunctive filter over BOTH clustering
  * columns actually READS on the multi-column curve layout
  * (ZOrderLayout.cluster) versus (a) the same rows hash-written and
  * (b) sorted by the FIRST column only — the single-column sort that
  * helps its leading column and nothing else. Evidence is the executor
  * input metrics (recordsRead / bytesRead), exactly the
  * SpatialSkipBench methodology: skipped row groups decode nothing.
  *
  * Usage: `sbt "runMain graft.ZOrderSkipBench [nRows]"` (default 4M).
  * Results are appended to BASELINE.md by hand.
  */
object ZOrderSkipBench {

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

    // synthetic fact: two independent pseudo-random key columns, so id
    // order correlates with NEITHER (hash layout = full-extent groups)
    val rows = spark.range(1L, n + 1L).select(
      col("id"),
      (col("id") * 48271 % 100000).as("a"),
      (col("id") * 16807 % 50000).as("b"),
      (col("id") % 97).cast("double").as("v"))

    val zPath = "/dev/shm/graft_zskip_z"
    val aPath = "/dev/shm/graft_zskip_a"
    val hPath = "/dev/shm/graft_zskip_h"
    graft.sources.ZOrderLayout.write(rows, Seq("a", "b"), bits = 6,
      numPartitions = 64, zPath)
    rows.repartitionByRange(64, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(aPath)
    rows.repartition(64, col("id")).write.mode("overwrite").parquet(hPath)

    def runOnce(path: String, bOnly: Boolean): (Long, Long, Long, Long) = {
      records.reset(); bytes.reset()
      val t0 = System.nanoTime()
      // conjunctive probe (~1% on a, ~2% on b) AND the b-ONLY probe —
      // the second is where a single-column sort is helpless and the
      // curve still prunes: every clustering column gets tight stats
      val pred = if (bOnly) col("b").between(20000, 21000)
        else col("a").between(10000, 11000) && col("b").between(20000, 21000)
      val matched = spark.read.parquet(path)
        .filter(pred)
        .agg(count(lit(1))).head().getLong(0)
      val ms = (System.nanoTime() - t0) / 1000000L
      // listener events drain asynchronously: require three consecutive
      // stable samples (the SpatialSkipBench quiesce rule)
      var last = -1L
      var stable = 0
      while (stable < 3) {
        val cur = records.sum()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(300L)
      }
      (matched, records.sum(), bytes.sum(), ms)
    }

    for (b <- Seq(false, true)) Seq(zPath, aPath, hPath).foreach(runOnce(_, b)) // warm
    def sweep(bOnly: Boolean): String = {
      val (mz, rz, bz, tz) = runOnce(zPath, bOnly)
      val (ma, ra, _, _) = runOnce(aPath, bOnly)
      val (mh, rh, _, _) = runOnce(hPath, bOnly)
      require(mz == mh && ma == mh, s"layouts disagree: $mz / $ma / $mh")
      s""""matched":$mz,"records_read":{"zorder":$rz,"sort_a":$ra,"hash":$rh},""" +
        s""""z_skip_pct":${math.round(10000.0 * (rh - rz) / rh) / 100.0},""" +
        s""""a_skip_pct":${math.round(10000.0 * (rh - ra) / rh) / 100.0}"""
    }
    println(s"""{"rows":$n,"probe_a_and_b":{${sweep(false)}},""" +
      s""""probe_b_only":{${sweep(true)}}}""")
    spark.stop()
  }
}
