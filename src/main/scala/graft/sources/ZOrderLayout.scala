package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic MULTI-COLUMN Z-order clustering — the lake-layout optimization
  * the Delta/Iceberg `OPTIMIZE ZORDER BY` command performs, re-expressed
  * over plain parquet (the spatial case clusters on the x/y columns):
  * quantile-bucket each clustering column, bit-interleave the bucket
  * ids into one curve key, range-partition + sort by it, write. Each
  * output file then covers a compact cell of the multi-column space, so
  * parquet min/max stats are tight on EVERY clustering column at once
  * and a selective filter on ANY of them skips most row groups — the
  * property a single-column sort gives only its leading column.
  *
  * Quantile bucketing (not min/max scaling) is what makes the curve
  * skew-proof: each of the 2^bits buckets holds ~equal row mass
  * regardless of value distribution — a hot key cannot collapse the
  * curve. Boundaries come from one `approxQuantile` pass (driver-side
  * state bounded at columns x 2^bits doubles); bucket lookup is a
  * codegen'd array scan over the broadcast-literal boundaries; the
  * interleave is pure integer shifts. Layout changes NOTHING
  * semantically — the q45 gate pins content equality through the
  * round trip; the skipping win (87.7% of row groups skipped for a
  * probe on the second column, 4M rows) is recorded in BASELINE.md.
  */
object ZOrderLayout {

  /** Bit-interleaved curve key over the bucket ids `bs` (bits each). */
  private def interleave(bs: Seq[Column], bits: Int): Column = {
    val k = bs.length
    val terms = for {
      j <- 0 until bits
      i <- 0 until k
    } yield shiftleft(
      shiftrightunsigned(bs(i), j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_ + _)
  }

  /** Cluster `df` on the curve over `cols` (numeric), `bits` per column. */
  def cluster(df: DataFrame, cols: Seq[String], bits: Int = 6,
              numPartitions: Int = 32): DataFrame = {
    require(cols.nonEmpty && cols.size <= 8,
      s"zorder: 1..8 clustering columns, got ${cols.size}")
    require(bits >= 1 && bits <= 16, s"zorder: bits must be in [1, 16], got $bits")
    // the curve key is ONE long and Spark's shiftleft masks its shift
    // count mod 64 — a config whose interleaved width exceeds 63 bits
    // would silently alias high bucket bits onto low positions (results
    // stay correct, skipping silently vanishes); refuse instead
    require(bits * cols.size <= 63,
      s"zorder: bits*columns = ${bits * cols.size} exceeds the 63-bit " +
        "curve key; lower bits or cluster fewer columns")
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    // quantile boundaries for ALL clustering columns in ONE bounded
    // pass (the multi-column approxQuantile overload — a per-column
    // loop would re-scan the table per column)
    val allCuts = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    val buckets = cols.zip(allCuts).map { case (c, cuts) =>
      // bucket = #boundaries <= value, as a SUM of plain comparisons:
      // higher-order array functions (the previous size(filter(...))
      // form) are CodegenFallback — evaluated interpreted per row, and
      // the range partitioner's sampling pass pays that cost a second
      // time. A literal comparison chain stays inside whole-stage
      // codegen (guide §4: built-in expressions over closures/HOFs);
      // same null/NaN semantics (null value -> 0, NaN -> all cuts).
      val v = col(c).cast("double")
      cuts.map(cut => when(lit(cut) <= v, 1L).otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L))
    }
    df.withColumn("__z", interleave(buckets, bits))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Cluster and write. */
  def write(df: DataFrame, cols: Seq[String], bits: Int,
            numPartitions: Int, path: String): Unit =
    cluster(df, cols, bits, numPartitions).write.mode("overwrite").parquet(path)
}
