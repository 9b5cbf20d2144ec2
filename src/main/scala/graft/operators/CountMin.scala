package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cm_buckets

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a register TABLE:
  * a `depth x width` grid of counters, here materialized as the sparse
  * `(r, b, cnt)` rows with cnt > 0. Point estimate for a token = MIN over
  * the depth rows of its bucket counter — an overestimate with error
  * <= 2N/width at probability >= 1 - 2^-depth, never an underestimate.
  *
  * Why a table and not a driver-side array: the registers ARE the
  * operator's output contract. As rows they stay mergeable (union +
  * sum — the sketch is linear), persistable, joinable against probe
  * tokens, and the whole build is one combinable aggregation.
  *
  * Scale shape (the reason this sketch earns its place next to the exact
  * t22 path): the shuffle is bounded by `partitions x depth x width`
  * rows REGARDLESS of vocabulary size. [[CmBuckets]] emits each token's
  * depth buckets from one codegen'd loop, `posexplode` inflates rows
  * x depth BEFORE the partial aggregate (map-side combine collapses a
  * partition to at most depth*width groups), and the final exchange
  * moves fixed-size register fragments — the exact property that makes
  * CMS the standard frequency summary for unbounded-vocabulary streams
  * at 100 TB, where even one row per distinct token (t22's recount
  * input, HeavyHitters' rationale) is already the bottleneck.
  *
  * Tokenization is the engine's canonical whitespace split of lowercased
  * text with empties dropped (the BM25/t18/t22 convention).
  */
object CountMin {

  /** The canonical token stream (one row per occurrence). */
  def tokens(docs: DataFrame, textCol: String): DataFrame = docs
    .select(explode(split(lower(col(textCol)), "\\s+")).as("token"))
    .filter(col("token") =!= "")

  /** Register table over an arbitrary item column (one sketch increment
    * per row) — the general form: a plain combinable count whose shuffle
    * is bounded at depth x width by construction.
    */
  def registersOver(items: DataFrame, item: org.apache.spark.sql.Column,
                    depth: Int, width: Int): DataFrame =
    items
      .select(posexplode(cm_buckets(item, depth, width)))
      .select(col("pos").cast("long").as("r"), col("col").cast("long").as("b"))
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Build the sparse register table `(r, b, cnt)` over the corpus. */
  def registers(docs: DataFrame, textCol: String,
                depth: Int, width: Int): DataFrame =
    registersOver(tokens(docs, textCol), col("token"), depth, width)

  /** GROUPED registers: one sketch grid per key tuple (the e22 HLL
    * pattern for frequencies — e.g. one grid per hour). State and
    * shuffle are bounded at |keys| x depth x width; each key's grid
    * merges/estimates independently with the ungrouped operators.
    */
  def registersGroupedOver(items: DataFrame, keys: Seq[String],
                           item: org.apache.spark.sql.Column,
                           depth: Int, width: Int): DataFrame = {
    require(keys.nonEmpty, "cm grouped: need at least one key column")
    val kc = keys.map(col)
    items
      .select(kc :+ posexplode(cm_buckets(item, depth, width)): _*)
      .select(kc ++ Seq(col("pos").cast("long").as("r"),
        col("col").cast("long").as("b")): _*)
      .groupBy((kc ++ Seq(col("r"), col("b"))): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two register tables built with the same (depth, width): the
    * sketch is linear, so union + per-cell sum equals the single-pass
    * registers over the concatenated corpora exactly (the t44b gate).
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("r"), col("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for a probe-token table (column `token`): MIN over
    * the depth rows of the token's counters. The probes LEFT-join the
    * register table (broadcast — it is depth x width bounded by
    * construction): a sparse cell is a zero counter, so a probe token
    * none of whose cells collided with anything reports its true count
    * 0 instead of vanishing from the result.
    */
  def estimates(registers: DataFrame, probes: DataFrame,
                depth: Int, width: Int): DataFrame = {
    val pb = probes
      .select(col("token"), posexplode(cm_buckets(col("token"), depth, width)))
      .select(col("token"),
        col("pos").cast("long").as("r"), col("col").cast("long").as("b"))
    pb.join(broadcast(registers), Seq("r", "b"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Gate composition (t44): estimate the corpus' exact top-k tokens and
    * report (token, exact_cnt, est) — est >= exact_cnt row by row (the
    * CMS overestimate guarantee, property-tested in CountMinSpec). The
    * exact side is gate scaffolding at vocabulary cost; production
    * callers keep only [[registers]]/[[estimates]].
    */
  def estimateTopK(docs: DataFrame, textCol: String, k: Int,
                   depth: Int, width: Int): DataFrame = {
    val toks = tokens(docs, textCol)
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
      .limit(k)
    val regs = registers(docs, textCol, depth, width)
    estimates(regs, top.select(col("token")), depth, width)
      .join(broadcast(top), Seq("token"))
      .select(col("token"), col("exact_cnt"), col("est"))
      .orderBy(col("token"))
  }
}
