package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bucket pair generation: every unordered pair of distinct elements that
  * share a bucket, emitted once — the primitive under shingle posting
  * lists (d2/d10/d19), LSH bands (d3/v8), simhash chunks (d4/d23),
  * link-prediction wedges through a center (g5/g7/g7b) and triangle
  * wedges at a pivot (g2/g8). This object decides how those pairs are
  * generated, counted and keyed.
  *
  * Generation ([[within]]): each bucket's elements are grouped into ONE
  * sorted array and posexplode + slice emits (arr[i], arr[j]) for i < j,
  * exactly n(n-1)/2 rows per n-element bucket. The bucket self-join
  * generated n^2 rows and filtered half of them plus the diagonal away:
  * the array form generates half the rows (guide §2.3) through one
  * groupBy exchange instead of the join's two (§2.4). Skew is no worse
  * (the join already generated a bucket's pairs in one task).
  *
  * Volume ([[volume]], [[guard]]): the arrays are bounded by bucket size
  * and nothing else, so one hot bucket becomes one |bucket|-sized row —
  * an OOM / 2 GB-row failure at scale (guide §2.5). The pair count is
  * EXACTLY the sum of n(n-1)/2 over bucket sizes, one combinable
  * aggregate, so callers count first and refuse loudly past a cap (which
  * also bounds the largest bucket at ~sqrt(2 * cap) elements). The
  * shingle-posting family (d2/d10/d19) collects its arrays through
  * [[bounded]] beside the exact count, so its arrays are bounded too:
  * none outgrows [[bound]], even in a bucket the guard then refuses.
  *
  * Pair keys ([[Key]]): a caller keys its pairs on ONE column, whose
  * shape this object picks from the id range the caller's guard
  * aggregate already reads ([[idRange]]). Integral ids proven to lie in
  * [0, 2^31) travel as ONE long (u << 32 | v) — half the key bytes
  * through the pair exchange and a primitive-long hash in the aggregate
  * (guide §2.3 "narrower types"). Any other ids (negative, past 2^31,
  * strings) travel as struct(u, v). Both shapes order like (u, v), so a
  * caller's repartition, aggregate, edge anti-join and (x desc, key)
  * top-k are written once, and results are the same either way.
  */
object Pairs {

  /** The bucket-size column [[within]] carries. */
  val Size = "bucket_size"

  /** Each unordered pair of distinct `elem` values that share a `keys`
    * bucket, exactly once, lower element first. Elements must be distinct
    * within a bucket (ids, or structs led by an id).
    *
    * Output: the bucket keys, the bucket size as a long ([[Size]]), and
    * the pair (`as._2`, `as._3`); `as._1` names the bucket array. The keys
    * and the size ride along so a filter on them (a degree gate) pushes
    * below the generation and drops a bucket before any of its pairs
    * exist; unread, they are pruned from the plan.
    *
    * With `orderBy`, a bucket's elements are ordered by (orderBy, elem)
    * instead of by elem, and the first element of each pair is the lower
    * one in that order (the triangle orientation order).
    */
  def within(df: DataFrame, keys: Seq[String], elem: String,
             as: (String, String, String) = ("ids", "id1", "id2"),
             orderBy: Option[String] = None): DataFrame = {
    val (arr, first, second) = as
    val k = keys.map(col)
    val grouped = orderBy match {
      case None =>
        df.groupBy(k: _*).agg(sort_array(collect_list(col(elem))).as(arr))
      case Some(o) =>
        df.groupBy(k: _*)
          .agg(sort_array(collect_list(struct(col(o), col(elem)))).as(arr + "s"))
          .select(k :+ col(s"${arr}s.$elem").as(arr): _*)
    }
    explodePairs(
      grouped.select(k ++ Seq(col(arr), size(col(arr)).cast("long").as(Size)): _*),
      arr, keys :+ Size, first, second)
  }

  /** Each pair (arr[i], arr[j]), i < j, of every row's `arr` array, as
    * `first` and `second`, with the `carry` columns alongside: n(n-1)/2
    * rows per n-element array, through posexplode + slice. [[within]]
    * and callers that hold their buckets as arrays already (the shingle
    * postings of [[Dedup]]) emit pairs here.
    */
  def explodePairs(arrays: DataFrame, arr: String, carry: Seq[String],
                   first: String, second: String): DataFrame = {
    val c = carry.map(col)
    arrays
      .select(c ++ Seq(col(arr), posexplode(col(arr)).as(Seq("i", first))): _*)
      .select(c ++ Seq(col(first),
        explode(expr(s"slice($arr, i + 2, size($arr))")).as(second)): _*)
  }

  /** The number of pairs [[within]] emits from buckets of size `n`: the
    * exact sum of n(n-1)/2, as a long, 0 over no rows. Null sizes (a
    * `when` gate) count nothing.
    */
  def volume(n: Column): Column =
    coalesce(shiftright(sum(n * (n - lit(1L))), 1), lit(0L))

  /** Counts the pairs a per-bucket size table (`n` = bucket size) would
    * generate and refuses past `cap` with the caller's `refusal` text,
    * given the count.
    */
  def guard(sizes: DataFrame, n: String, cap: Long)(refusal: Long => String): Unit = {
    val pairs = sizes.agg(volume(col(n))).head().getLong(0)
    require(pairs <= cap, refusal(pairs))
  }

  /** The most elements [[bounded]] collects per bucket: `maxSize`, or
    * floor(sqrt(2 cap)) + 2 if that is smaller, and at least 1. A bucket
    * past floor(sqrt(2 cap)) + 2 elements emits more than `cap` pairs on
    * its own (the + 2 absorbs the double rounding of the root).
    */
  def bound(maxSize: Option[Int], cap: Long): Int = {
    val byCap = math.floor(math.sqrt(2.0 * math.max(cap, 0L))) + 2
    math.max(1, math.min(maxSize.getOrElse(Int.MaxValue).toDouble, byCap).toInt)
  }

  /** A bucket's `elem` values as an array of at most [[bound]] elements:
    * the aggregate to take beside the bucket's exact size (`count(1)`).
    * A bucket larger than `maxSize` is one the caller drops; one larger
    * than the bound but not `maxSize` pushes the caller's [[volume]] past
    * `cap` by itself, so a guard on the exact sizes refuses before any
    * truncated array is read. Either way no array outgrows the bound.
    */
  def bounded(elem: Column, maxSize: Option[Int], cap: Long): Column = {
    import graft.functions.GraftFunctions.{toCol, toExpr}
    toCol(graft.functions.CollectBounded(toExpr(elem), bound(maxSize, cap)).toAggregateExpression())
  }

  /** Partitions for an aggregate over `pairs` raw pair rows: ~`perTask`
    * rows each, at least the session parallelism, at most 4096. A pair
    * stage otherwise inherits its upstream exchange's AQE-coalesced
    * partition count and aggregates a quadratic volume nearly unparallelized.
    */
  def partitions(spark: SparkSession, pairs: Long, perTask: Long): Int =
    math.max(spark.sparkContext.defaultParallelism,
      math.min(4096L, pairs / perTask + 1L).toInt)

  /** The id-range aggregates a [[Key]] is built from: min and max of `id`
    * as longs. Ids that do not cast (strings) give nulls, not an error.
    */
  def idRange(id: Column): Seq[Column] =
    Seq(min(id.try_cast("long")), max(id.try_cast("long")))

  /** The key of a pair of ids (u, v): ONE column that orders like (u, v),
    * so `repartition(key)`, `groupBy(key)`, a `left_anti` join on the key
    * and `orderBy(x desc, key)` mean what they would on the two columns.
    * Build it with [[Key.apply]].
    *
    * The packed long ([[pack]]) is used when the ids are integral and
    * their range [[fits]]; otherwise the key is `struct(u AS u, v AS v)`.
    * Struct equality matches null fields to each other where the
    * two-column `u = a AND v = b` never matches a null, but
    * [[within]] drops null elements (`collect_list`), so no wedge id is
    * null and an anti-join on either key shape drops the same rows as the
    * two-column join.
    */
  final class Key private (packed: Boolean, idType: DataType) {

    /** The key of the pair (u, v). */
    def of(u: Column, v: Column): Column =
      if (packed) pack(u, v) else struct(u.as("u"), v.as("v"))

    /** The (u, v) ids of the key `k`, as the id type. */
    def ids(k: Column): (Column, Column) =
      if (packed) unpack(k, idType) else (k("u").cast(idType), k("v").cast(idType))
  }

  object Key {

    /** The key for ids of `idType` whose [[idRange]] sits at `range(at)`,
      * `range(at + 1)`.
      */
    def apply(range: Row, at: Int, idType: DataType): Key = {
      val integral = idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      new Key(integral && fits(range, at), idType)
    }
  }

  /** Whether the ids whose [[idRange]] sits at `row(at)`, `row(at + 1)`
    * lie in [0, 2^31), the precondition of [[pack]]. An empty or
    * non-castable range (nulls) does not fit.
    */
  private[graft] def fits(row: Row, at: Int): Boolean =
    !row.isNullAt(at) && !row.isNullAt(at + 1) &&
      row.getLong(at) >= 0L && row.getLong(at + 1) < (1L << 31)

  /** One long for the pair (u, v) of ids that [[fits]]: u << 32 | v. For
    * such ids the packed order is the (u, v) order.
    */
  private[graft] def pack(u: Column, v: Column): Column =
    shiftleft(u.cast("long"), 32) + v.cast("long")

  /** The (u, v) ids of a [[pack]]ed key, cast back to `idType`. */
  private[graft] def unpack(pk: Column, idType: DataType): (Column, Column) =
    (shiftrightunsigned(pk, 32).cast(idType), pk.bitwiseAND(lit(0xFFFFFFFFL)).cast(idType))
}
