package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rolling-window distinct actives (DAU / WAU / MAU family) — the
  * sliding COUNT(DISTINCT) that SQL windows cannot express (no engine
  * supports DISTINCT aggregates over moving frames) and that a naive
  * per-day self-join would turn into |days| scans of the fact table.
  *
  * The scalable rewrite: (1) one exchange reduces events to DISTINCT
  * (day, key) pairs; (2) each pair EXPLODES into the w report days it
  * contributes to — a bounded factor-w blowup, NOT a join; (3) a second
  * distinct-then-count collapses multi-day actives per report day.
  * Total cost at 100 TB: two key-ish shuffles of the (day, key) pair
  * volume, each a fraction of the raw event volume, independent of the
  * number of days in the window except for the w-fold pair expansion.
  *
  * Report days are restricted to days with any activity (the join
  * target every dashboard uses); the day dimension is broadcast — it is
  * thousands of rows forever.
  */
object Rolling {

  /** Per activity day: same-day distinct actives (`dau1`) and
    * trailing-`windowDays` distinct actives (`dauW`). Day is emitted as
    * epoch microseconds of the day boundary (`day_us`).
    */
  def rollingDistinctDaily(df: DataFrame, tsCol: Column, keyCol: Column,
                           windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val du = df.select(date_trunc("day", tsCol).as("d"), keyCol.as("k"))
      .distinct()
    val days = du.select(col("d")).distinct()
    val contrib = du
      .select(explode(sequence(col("d"),
        col("d") + expr(s"interval ${windowDays - 1} days"),
        expr("interval 1 day"))).as("rd"), col("k"))
      .distinct()
      .join(broadcast(days.withColumnRenamed("d", "rd")), "rd")
    val dauW = contrib.groupBy(col("rd")).agg(count(lit(1)).as("dau_w"))
    val dau1 = du.groupBy(col("d")).agg(count(lit(1)).as("dau1"))
    dau1.join(dauW, col("d") === col("rd"))
      .select(unix_micros(col("d")).as("day_us"), col("dau1"), col("dau_w"))
  }

  /** BOUNDED-STATE form of [[rollingDistinctDaily]]'s trailing distinct
    * (the e19 HLL registers composed per trailing window): per-day
    * register tables (days × 256 state — user-cardinality-INDEPENDENT)
    * rolled up with the e19b union-max over each trailing window. The
    * exact form's exploded (day, user) contribution volume grows with
    * distinct actives; this one's shuffle carries days × W × 256 rows
    * at ANY corpus size — the 100 TB route, priced in accuracy only
    * (~6.5% standard error at p=8, spec-gated in HllSpec against the
    * exact counts). Output: (day_us, bucket, max_rho) per ACTIVITY day;
    * [[Hll.estimate]] over day_us yields the approximate dau_w.
    */
  def rollingHllRegisters(df: DataFrame, tsCol: Column, keyCol: Column,
                          windowDays: Int): DataFrame =
    rollupRegisters(Hll.registers(
      df.select(date_trunc("day", tsCol).as("d"), keyCol.as("k")),
      Seq("d"), col("k")), windowDays)

  /** The trailing-window union-max TAIL alone, over an existing per-day
    * register table `(d, bucket, max_rho)` — the read a DAU/WAU
    * dashboard runs against a maintained register table; also e28b's
    * second half.
    */
  def rollupRegisters(perDay: DataFrame, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val days = perDay.select(col("d")).distinct()
    perDay
      .select(explode(sequence(col("d"),
        col("d") + expr(s"interval ${windowDays - 1} days"),
        expr("interval 1 day"))).as("rd"), col("bucket"), col("max_rho"))
      .join(broadcast(days.withColumnRenamed("d", "rd")), "rd")
      .groupBy(col("rd"), col("bucket")).agg(max(col("max_rho")).as("max_rho"))
      .select(unix_micros(col("rd")).as("day_us"), col("bucket"), col("max_rho"))
  }

  /** Depth-truncated integer EWMA (alpha = 1/2) per key sequence:
    * ewma_s = sum_{j=0..depth-1} value(t-j) * 2^(depth-1-j) — the
    * current observation carries weight 2^(depth-1), each older one
    * half that, over the PRE-QUANTIZED integer `value` (callers floor
    * their doubles; floor is the one rounding both engines agree on).
    * The scaled form keeps everything BIGINT — bit-reproducible where a
    * float recurrence would accumulate engine-specific error — and the
    * fixed depth makes the smoother expressible as `depth` lag() reads
    * of ONE window pass (a true infinite-horizon EWMA is a sequential
    * recurrence no parallel window computes; at depth 8 the dropped
    * tail weighs < 0.4% of the total).
    *
    * NULL until a full depth of history exists (lag shortfalls
    * propagate) — a deliberate contract: a half-warm smoother reads as
    * noise, not data. One key-partitioned shuffle; the frame is the
    * depth, so state never exceeds `depth` rows per key in the sort.
    */
  def ewmaScaled(df: DataFrame, keyCol: Column, tsCol: Column,
                 tieCol: Column, valueScaled: Column, depth: Int = 8): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth must be in [1, 62], got $depth")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(tsCol, tieCol)
    val ewma = (0 until depth).map { j =>
      lag(valueScaled, j).over(w) * lit(1L << (depth - 1 - j))
    }.reduce(_ + _)
    df.select(keyCol.as("key"), tieCol.as("tie"), ewma.as("ewma_s"))
  }
}
