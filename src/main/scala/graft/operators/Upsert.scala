package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE (upsert) for plain parquet tables — the
  * `MERGE INTO target USING updates ON key` statement table formats ship,
  * re-expressed for a format-less directory: matching keys take the
  * update row, unmatched update keys insert, unmatched target rows
  * survive. The CDC companion to [[Compact.latestByKey]] (e11): Compact
  * collapses a version LOG, Upsert applies a batch of changes to a
  * STANDING table.
  *
  * Scale design: precedence is resolved by ONE `max_by` aggregate on the
  * key — map-side partial combine ships a single candidate row per
  * (key, map task), never sorting the union through a window. The update
  * batch is typically tiny next to the target; Catalyst/AQE picks the
  * join-free aggregate plan either way. The on-disk commit reuses the
  * [[Ingest.compact]] three-step swap: the merged table is fully
  * committed to a sibling tmp dir (with `_SUCCESS`) before the original
  * moves aside, so every crash boundary leaves a readable table.
  *
  * A true 100 TB deployment rewrites only affected partitions (or moves
  * to a manifest-versioned format); this operator is the leaf-directory
  * primitive that such a partition-wise driver loops over — same posture
  * as [[Ingest.compact]].
  */
object Upsert {

  /** Merge `updates` over `target` (both already loaded): for each key,
    * the winning row is the max of (precedence, versionCols) where
    * updates carry precedence 1 and target rows 0 — so an update beats
    * the standing row for its key, and among duplicate update rows the
    * highest `versionCols` wins (ties deterministic only if versionCols
    * are). Schemas must match by name.
    */
  def merge(target: DataFrame, updates: DataFrame, keyCols: Seq[String],
            versionCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "merge: need at least one key column")
    require(target.columns.sorted.sameElements(updates.columns.sorted),
      s"merge: schema mismatch — target ${target.columns.sorted.mkString(",")} " +
        s"vs updates ${updates.columns.sorted.mkString(",")}")
    val cols = target.columns.toIndexedSeq
    val all = target.withColumn("__prec", lit(0))
      .unionByName(updates.withColumn("__prec", lit(1)))
    Compact.latestByKey(all, keyCols, "__prec" +: versionCols)
      .select(cols.map(col): _*)
  }

  /** Apply `updates` to the parquet table at `path` copy-on-write and
    * swap the result in (commit-then-swap, recoverable at every
    * boundary). Returns the merged row count.
    *
    * Durability vs visibility: every crash boundary is RECOVERABLE —
    * the next `into()` rolls the swap forward (`.tmp` was fully written
    * and validated before the first rename) or back (only `.old` left)
    * automatically — but the two renames are not one atomic op, so a
    * concurrent reader can observe a moment with no table at `path`.
    * Run against a quiesced table (the same posture as
    * [[Ivf.rebalanceSaved]]); readers that must never block should front
    * this with a catalog/symlink indirection.
    */
  def into(spark: SparkSession, path: String, updates: DataFrame,
           keyCols: Seq[String], versionCols: Seq[String]): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(dir.getParent, s".${dir.getName}.upsert.tmp")
    val old = new org.apache.hadoop.fs.Path(dir.getParent, s".${dir.getName}.upsert.old")
    // auto-recover a crashed predecessor before reading the target:
    // .old exists      + dir exists            -> swap completed, stale .old: drop it
    // .old exists      + no dir + .tmp exists  -> crashed between renames; .tmp was
    //                                             fully written+validated: roll forward
    // .old exists      + no dir + no .tmp      -> crashed after dir went aside with no
    //                                             replacement: roll back
    if (fs.exists(old)) {
      if (fs.exists(dir)) fs.delete(old, true)
      else if (fs.exists(tmp)) {
        if (!fs.rename(tmp, dir))
          throw new java.io.IOException(s"upsert recovery: failed installing $tmp at $dir")
        fs.delete(old, true)
      } else if (!fs.rename(old, dir))
        throw new java.io.IOException(s"upsert recovery: failed restoring $old to $dir")
    }
    val merged = merge(spark.read.parquet(path), updates, keyCols, versionCols)
    merged.write.mode("overwrite").parquet(tmp.toString)
    val n = spark.read.parquet(tmp.toString).count()
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"upsert swap failed renaming $dir aside")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // best-effort rollback to the original
      throw new java.io.IOException(s"upsert swap failed installing $tmp at $dir")
    }
    fs.delete(old, true)
    n
  }
}
