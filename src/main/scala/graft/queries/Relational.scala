package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Pairs

/** Relational operator coverage over the TPC-H-ish synthetic tables:
  * scan, filter, projection, hash/sort aggregate, inner/semi/anti join,
  * broadcast join, window functions, set ops, rollup, having, top-k,
  * offset pagination. All are Spark built-ins — SURVEY.md §2.3/§2.4/§2.6
  * notes the reference delegates these to PostgreSQL; here Catalyst plans
  * them (broadcast for genuinely-fixed-size dims, partial aggregation,
  * TakeOrderedAndProject for top-k).
  *
  * Scale notes (100 TB design):
  *  - only `region`/`nation` get explicit broadcast hints — they are
  *    fixed-size; `customer`/`orders`/`lineitem` scale with SF, so their
  *    joins are left to Catalyst/AQE (sort-merge or shuffled-hash, with
  *    AQE skew splitting);
  *  - every top-k goes through orderBy+limit so Catalyst plans
  *    TakeOrderedAndProject (per-partition heap, no global sort);
  *  - aggregates route doubles through DECIMAL(18,2) — exact, associative,
  *    so partial (map-side) aggregation stays correct and the DuckDB
  *    compare is bit-exact.
  */
object Relational extends QueryPack {

  /** g3's oracle: the k-core peel unrolled `rounds` deep over the sparse
    * co-purchase graph — each round recomputes degrees and drops sub-k
    * nodes; rounds past convergence are no-ops, so any convergence
    * within the unroll hash-matches the engine's fixpoint (the engine
    * refuses past its matching maxRounds rather than diverging).
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val base =
      """lo AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS s
        |       FROM lineitem WHERE l_linenumber <= 2),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b
        |       FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s)""".stripMargin
    val peels = (0 until rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, COUNT(*) AS c FROM (
         |  SELECT a AS n FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY n),
         |e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
         |  WHERE a NOT IN (SELECT n FROM d$i WHERE c < $k)
         |    AND b NOT IN (SELECT n FROM d$i WHERE c < $k))""".stripMargin
    }
    val fin =
      s"""df AS (SELECT n, COUNT(*) AS c FROM (
         |  SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds) GROUP BY n)
         |SELECT n AS node, CAST(c AS BIGINT) AS deg FROM df
         |WHERE c >= $k ORDER BY node""".stripMargin
    "WITH " + (Seq(base) ++ peels).mkString(",\n") + ",\n" + fin
  }

  /** g4's oracle: deterministic synchronous label propagation unrolled
    * `rounds` deep over the same sparse co-purchase graph as g3 — each
    * round counts neighbor labels per node and adopts the plurality
    * label with smallest-label tie-break, restating
    * [[graft.operators.LabelProp.run]]'s argmax exactly.
    */
  private def labelPropSql(rounds: Int): String = {
    val base =
      """lo AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS s
        |       FROM lineitem WHERE l_linenumber <= 2),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b
        |       FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |       UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.src AS node, l.lab AS lab, COUNT(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT node, lab FROM (
         |  SELECT node, lab,
         |    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
         |  FROM c$i) WHERE rn = 1)""".stripMargin
    }
    val fin =
      s"""SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS lab
         |FROM l$rounds ORDER BY node""".stripMargin
    "WITH " + (Seq(base) ++ steps).mkString(",\n") + "\n" + fin
  }

  /** g1's oracle: the PageRank integer fixed-point iteration unrolled in
    * DuckDB CTEs — same scale (1e12 units), same floor divisions in the
    * same order, same 85/100 damping arithmetic as
    * [[graft.operators.PageRank.run]].
    */
  private def pagerankSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""dang$i AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN out = 0 THEN r END), 0) AS BIGINT)
         |    // (SELECT n FROM base) AS dsh
         |  FROM $p),
         |ctb$i AS (
         |  SELECT e.dst AS node, CAST(SUM(p.r // p.out) AS BIGINT) AS contrib
         |  FROM e JOIN $p p ON e.src = p.node
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT od.node, od.out,
         |    (SELECT b FROM base)
         |      + ((COALESCE(c.contrib, 0) + (SELECT dsh FROM dang$i)) * 85) // 100 AS r
         |  FROM od LEFT JOIN ctb$i c ON od.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS src, 1000000000 + l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |od AS (
       |  SELECT node, CAST(COALESCE(dg.c, 0) AS BIGINT) AS out
       |  FROM nodes LEFT JOIN (SELECT src, COUNT(*) AS c FROM e GROUP BY src) dg
       |    ON node = dg.src),
       |base AS (SELECT (1000000000000 // n) AS pern,
       |                ((1000000000000 // n) * 15) // 100 AS b, n FROM consts),
       |r0 AS (SELECT node, out, (SELECT pern FROM base) AS r FROM od),
       |$iterCtes
       |SELECT CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END AS kind,
       |  CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank
       |FROM r$iters
       |ORDER BY rank DESC, node ASC
       |LIMIT 20""".stripMargin
  }

  /** g6's oracle: the g1 fixed-point unroll with the teleport mass
    * (restart base, dangling share, and the r0 vector) conditional on
    * the seed predicate — PageRank.personalized's arithmetic verbatim.
    */
  private def pprSql(iters: Int, seedPred: String): String = {
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""dang$i AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN out = 0 THEN r END), 0) AS BIGINT)
         |    // (SELECT s FROM base) AS dsh
         |  FROM $p),
         |ctb$i AS (
         |  SELECT e.dst AS node, CAST(SUM(p.r // p.out) AS BIGINT) AS contrib
         |  FROM e JOIN $p p ON e.src = p.node
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT od.node, od.out, od.seed,
         |    CASE WHEN od.seed THEN (SELECT b FROM base) ELSE 0 END
         |      + ((COALESCE(c.contrib, 0)
         |          + CASE WHEN od.seed THEN (SELECT dsh FROM dang$i) ELSE 0 END)
         |         * 85) // 100 AS r
         |  FROM od LEFT JOIN ctb$i c ON od.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS src, 1000000000 + l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |od AS (
       |  SELECT node, CAST(COALESCE(dg.c, 0) AS BIGINT) AS out,
       |         ($seedPred) AS seed
       |  FROM nodes LEFT JOIN (SELECT src, COUNT(*) AS c FROM e GROUP BY src) dg
       |    ON node = dg.src),
       |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM od WHERE seed),
       |base AS (SELECT (1000000000000 // s) AS pers,
       |                ((1000000000000 // s) * 15) // 100 AS b, s FROM consts),
       |r0 AS (SELECT node, out, seed,
       |       CASE WHEN seed THEN (SELECT pers FROM base) ELSE 0 END AS r FROM od),
       |$iterCtes
       |SELECT CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END AS kind,
       |  CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank
       |FROM r$iters
       |WHERE r > 0
       |ORDER BY rank DESC, node ASC
       |LIMIT 20""".stripMargin
  }

  /** Exact, order-insensitive sum of a double column via DECIMAL(18,2). */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  private def dsum(c: String): Column = dsum(col(c))

  /** Co-purchase edge list (parts sharing an order, p1 < p2): the
    * [[graft.operators.Pairs.within]] pairs of each order's distinct
    * parts — per order, each unordered pair once, k(k-1)/2 rows per
    * k-part order. Order sizes are bounded (TPC-H ships <= 7
    * lines/order), so the arrays are tiny. `maxLine` applies the g3/g4
    * sparsification filter before pairing.
    */
  private def coPurchasePairs(s: SparkSession, d: String,
                              maxLine: Option[Int] = None): DataFrame = {
    val li = Tables.lineitem(s, d)
    val lo = maxLine.fold(li)(m => li.filter(col("l_linenumber") <= m))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    Pairs.within(lo, Seq("o"), "p", ("ps", "p1", "p2"))
      .select(col("p1"), col("p2"))
  }

  /** q53's oracle: one FNV -> splitmix64 -> trailing-zeros chain per
    * geometric draw (suffixes |r1|1 and |r1|2 mirror Privacy's tags);
    * tz = bit_count(u ^ (u-1)) - 1 with the zero-word and sign-bit-only
    * guards Privacy.tz carries.
    */
  private def dpCountsSql: String = {
    def chain(p: String, suffix: String) =
      s"""${p}k AS (SELECT c_nationkey, c_mktsegment, n,
         |  CAST(c_nationkey AS VARCHAR) || chr(1) || c_mktsegment || '$suffix' AS s
         |  FROM g),
         |${p}f AS (SELECT c_nationkey, c_mktsegment, n, ${SketchSql.FnvSql} AS z FROM ${p}k),
         |${SketchSql.mixLayerCtes(s"${p}f", Seq("c_nationkey", "c_mktsegment", "n"))},
         |${p}t AS (SELECT c_nationkey, c_mktsegment, n,
         |  CASE WHEN u = 0 THEN 64
         |       WHEN u = 9223372036854775808 THEN 63
         |       ELSE CAST(bit_count(xor(u, u - 1)) AS BIGINT) - 1 END AS tz
         |  FROM ${p}fmu)""".stripMargin
    s"""WITH g AS MATERIALIZED (
       |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
       |  FROM customer GROUP BY 1, 2),
       |${chain("d1", "|r1|1")},
       |${chain("d2", "|r1|2")}
       |SELECT d1t.c_nationkey, d1t.c_mktsegment,
       |  d1t.n + (d1t.tz - d2t.tz) AS n_noisy
       |FROM d1t JOIN d2t USING (c_nationkey, c_mktsegment)
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin
  }

  /** revenue = sum(extendedprice * (1 - discount)), decimal-exact. */
  private def revenue: Column =
    sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(18, 2))))
      .cast("double")
  private val revenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  /** q22's sketch geometry: relative standard deviation passed to
    * approx_count_distinct, and the gate's error bound at 3x that rsd.
    * HLL error has no hard bound, so the 3-sigma assertion is a
    * statistical gate; deriving the Spark rsd, the Spark predicate, and
    * the oracle SQL's documented bound from this ONE pair keeps them in
    * lockstep if the geometry ever changes (round-5 advice).
    */
  private val HllRsd = 0.05
  private[graft] val HllErrorBound = 3 * HllRsd

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregation -----------------------------------------------------
    "q1_pricing_summary" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_base_price"),
          revenue.as("sum_disc_price"),
          (dsum("l_quantity") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // --- top-k scan (TakeOrderedAndProject) ------------------------------
    "q2_top_orders" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    },

    // --- 3-way fact join + group + top-k ---------------------------------
    "q3_shipping_priority" -> { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },

    // --- semi join (EXISTS) ----------------------------------------------
    "q4_priority_count" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // --- 5-way join with broadcast dims ----------------------------------
    "q5_nation_revenue" -> { (s, d) =>
      val r = broadcast(Tables.region(s, d))
      val n = broadcast(Tables.nation(s, d))
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1999-01-01 00:00:00"))
      val l = Tables.lineitem(s, d)
      r.join(n, r("r_regionkey") === n("n_regionkey"))
        .join(c, n("n_nationkey") === c("c_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // --- filter + global aggregate ---------------------------------------
    "q6_forecast_revenue" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") < 24 &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(18, 2))).cast("double")
            .as("promo_revenue"),
          count(lit(1)).as("n_items"))
    },

    // --- window: rank within group ---------------------------------------
    "q7_top_customers_per_nation" -> { (s, d) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, d)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rnk"))
    },

    // --- window: running total --------------------------------------------
    "q8_running_order_total" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .withColumn("running_total",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },

    // --- window: RANGE frame (trailing time window) -----------------------
    // 7-day trailing revenue per ship day: daily pre-aggregation first, so
    // the unpartitioned RANGE window runs over |days| rows, not the fact
    // table — the standard shape for time-frame windows at scale
    "q25_trailing_revenue" -> { (s, d) =>
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_shipdate").as("day"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev"))
        .withColumn("epoch", col("day").cast("timestamp").cast("long"))
      val w = Window.orderBy(col("epoch"))
        .rangeBetween(-6L * 86400L, Window.currentRow)
      daily
        .withColumn("trailing_7d", sum(col("rev")).over(w).cast("double"))
        .select(col("day"), col("rev").cast("double").as("rev"), col("trailing_7d"))
        .orderBy(col("day"))
    },

    // --- distinct aggregation ---------------------------------------------
    "q9_distinct_counts" -> { (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
    },

    // --- set operations ----------------------------------------------------
    "q10_setops" -> { (s, d) =>
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val withOrders = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey")).distinct()
      val bigSpenders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.intersect(withOrders).except(bigSpenders)
        .orderBy(col("c_custkey"))
    },

    // multiset set ops (the ALL variants q10's distinct forms skip):
    // INTERSECT ALL / EXCEPT ALL preserve duplicate multiplicities —
    // orderkey appears once per qualifying lineitem, so the bag
    // semantics are live and the counts gate them
    "q35_setops_all" -> { (s, d) =>
      val l = Tables.lineitem(s, d)
      val shipped = l.filter(col("l_shipdate") < ts("1998-01-01 00:00:00"))
        .select(col("l_orderkey"))
      val returned = l.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      val highqty = l.filter(col("l_quantity") >= 45)
        .select(col("l_orderkey"))
      shipped.intersectAll(returned).exceptAll(highqty)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("l_orderkey"))
    },

    // --- anti join ----------------------------------------------------------
    "q11_customers_without_orders" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // --- rollup -------------------------------------------------------------
    "q12_rollup" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // --- offset pagination (SURVEY §2.5 V3) ----------------------------------
    "q13_offset_page" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(20)
        .limit(10)
    },

    // --- group + having -------------------------------------------------------
    "q14_brand_stats" -> { (s, d) =>
      Tables.part(s, d)
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          (dsum("p_retailprice") / count(lit(1))).as("avg_price"),
          max(col("p_size")).as("max_size"))
        .filter(col("n_parts") >= 5)
        .orderBy(col("p_brand"))
    },

    // --- string functions (reference F1 lower + friends) ----------------------
    "q16_string_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(lower(col("p_name")).like("%gold%") ||
          upper(col("p_brand")) === "BRAND#11")
        .select(col("p_partkey"),
          concat_ws("/", col("p_brand"), substring(col("p_name"), 1, 8)).as("tag"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy(col("p_partkey"))
    },

    // --- date part extraction --------------------------------------------------
    "q17_orders_by_year" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy(col("yr"), col("mo"))
    },

    // --- per-group comparison (orders above their customer's average) ---------
    "q18_above_avg_orders" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, d)
        .withColumn("cust_avg",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double") /
            count(lit(1)).over(w))
        .filter(col("o_totalprice") > col("cust_avg") * 1.5)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },

    // --- union all across heterogeneous projections ----------------------------
    "q19_union_all" -> { (s, d) =>
      val buyers = Tables.customer(s, d)
        .select(col("c_custkey").as("key"), lit("customer").as("kind"))
      val sellers = Tables.supplier(s, d)
        .select(col("s_suppkey").as("key"), lit("supplier").as("kind"))
      buyers.unionAll(sellers)
        .groupBy(col("kind")).agg(count(lit(1)).as("n"), min(col("key")).as("min_key"))
        .orderBy(col("kind"))
    },

    // --- moment statistics from integer-exact cent sums ------------------------
    // variance/stddev/correlation computed explicitly from exact moments so
    // both engines evaluate the identical double formula (built-in
    // STDDEV/CORR accumulate doubles in row order — not reproducible across
    // engines). Quantization goes through round(x * 100) CENTS, not a
    // double->decimal cast: x * 100 and its round are IEEE/shortest-repr
    // identical on both engines, whereas each engine's double->decimal cast
    // rounds through its own path (the last cross-engine wiggle — sd_price
    // differed by ~7e-12 at sf0.001 under the old DECIMAL(18,2) cast).
    // Squared-cent sums route through DECIMAL(38,0): pc^2 reaches 1e14 and
    // a 600k-row group sum would overflow a long.
    "q21_moment_stats" -> { (s, d) =>
      val dec38 = DecimalType(38, 0)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long").as("qc"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("qc")).cast("double").as("sq"),
          sum((col("qc") * col("qc")).cast(dec38)).cast("double").as("sqq"),
          sum(col("pc")).cast("double").as("sp"),
          sum((col("pc") * col("pc")).cast(dec38)).cast("double").as("spp"),
          sum((col("qc") * col("pc")).cast(dec38)).cast("double").as("sqp"))
        .select(col("l_returnflag"), col("n"),
          ((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1) / 10000.0).as("var_qty"),
          (sqrt((col("spp") - col("sp") * col("sp") / col("n")) / (col("n") - 1)) / 100.0).as("sd_price"),
          ((col("sqp") - col("sq") * col("sp") / col("n")) /
            sqrt((col("sqq") - col("sq") * col("sq") / col("n")) *
              (col("spp") - col("sp") * col("sp") / col("n")))).as("corr_qp"))
        .orderBy(col("l_returnflag"))
    },

    // --- HLL sketch distinct (rows-only oracle: sketch internals are
    // engine-specific; ScalaTest bounds the error vs exact) ------------------
    // HLL sketch under a bounded-error oracle: DuckDB's HLL is a different
    // sketch, so a hash-match on the approximate value is impossible —
    // instead the compared relation carries the EXACT distinct count (a
    // real cross-engine check) plus the assertion |approx-exact|/exact
    // within 3x the sketch's rsd (HllRsd/HllErrorBound — ONE constant
    // feeds the Spark rsd, the Spark-side predicate, and the oracle SQL's
    // documentation, so the pieces cannot desync), which the oracle
    // states as TRUE. The exact sibling rides along only to make the bound
    // checkable; the production shape at scale is the sketch alone.
    "q22_approx_distinct" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), HllRsd).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) / col("exact_parts") < HllErrorBound)
            .as("within_bound"))
        .orderBy(col("l_returnflag"))
    },

    // approximate percentile sketch under the gate — the q22 pattern
    // applied to rank sketches: approx_percentile (Greenwald-Khanna
    // style) guarantees rank error <= 1/accuracy, so each approx value
    // must lie between the EXACT interpolated percentiles at q -+ 0.01
    // (accuracy 100). The engine computes the brackets and emits the
    // booleans; the oracle states the exact percentiles (q23 already
    // pins percentile == quantile_cont hash-exact) plus TRUE.
    "q26_approx_percentile" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, array(0.5, 0.95), 100)").as("ap"),
          expr("percentile(l_quantity, 0.49)").as("p50lo"),
          expr("percentile(l_quantity, 0.51)").as("p50hi"),
          expr("percentile(l_quantity, 0.94)").as("p95lo"),
          expr("percentile(l_quantity, 0.96)").as("p95hi"),
          expr("percentile(l_quantity, 0.5)").as("p50_exact"),
          expr("percentile(l_quantity, 0.95)").as("p95_exact"))
        .select(col("l_returnflag"), col("p50_exact"), col("p95_exact"),
          (element_at(col("ap"), 1).between(col("p50lo"), col("p50hi")))
            .as("p50_within"),
          (element_at(col("ap"), 2).between(col("p95lo"), col("p95hi")))
            .as("p95_within"))
        .orderBy(col("l_returnflag"))
    },

    // Bloom-filter semi-join reduction: lineitem rows probe a compact
    // filter of the urgent orders' keys BEFORE the join shuffle, so
    // non-matching fact rows never enter the exchange; no false
    // negatives, so the result is exactly the plain join's (the
    // oracle states the plain join). See operators/BloomJoin.scala.
    "q27_bloom_join" -> { (s, d) =>
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.BloomJoin
        .join(Tables.lineitem(s, d), "l_orderkey", dim, "o_orderkey")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
        .orderBy(col("yr"))
    },

    // top-k per group via the bounded-heap topk_by aggregate: the
    // exchange carries groups x partitions x k rows (a per-group
    // TakeOrderedAndProject), where the ROW_NUMBER window the oracle
    // states would shuffle and sort the whole table. Descending price
    // rides the ord struct as its negation (exact for doubles).
    "q28_topk_per_group" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.GraftFunctions.topk_by(
          struct((-col("o_totalprice")).as("np"), col("o_orderkey")),
          struct(col("o_orderkey"), col("o_totalprice")), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("rnk", "r")))
        .select(col("o_orderpriority"), (col("rnk") + 1).cast("long").as("rnk"),
          col("r.o_orderkey").as("o_orderkey"),
          col("r.o_totalprice").as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    },

    // deterministic integer PageRank over the customer->supplier graph
    // (distinct trade edges from orders x lineitem; suppliers offset by
    // 1e9 into a disjoint id space). 5 synchronous iterations in exact
    // long fixed-point arithmetic — reproducible across engines and
    // partitionings — then the top-20 nodes by rank.
    "g1_pagerank" -> { (s, d) =>
      val edges = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000000L)).as("dst"))
      graft.operators.PageRank.run(edges, "src", "dst", iters = 5)
        .select(
          when(col("node") >= 1000000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("node"), col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    },

    // PERSONALIZED PageRank (random walk with restart) over the same
    // bipartite graph: all teleport mass — restart and dangling — goes
    // to the seed customers (custkey <= 50), so ranks concentrate in
    // their purchase neighborhoods; identical integer fixed-point and
    // per-iteration cost as g1, only the base vector differs
    "g6_personalized_pagerank" -> { (s, d) =>
      val edges = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000000L)).as("dst"))
      graft.operators.PageRank.personalized(edges, "src", "dst",
          seedPred = col("node") <= 50L, iters = 5)
        .filter(col("rank") > 0L) // untouched nodes carry exact zero
        .select(
          when(col("node") >= 1000000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("node"), col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    },

    // triangle counting over the part co-purchase graph (parts sharing
    // an order), degree-oriented so wedge work is O(m^1.5) regardless of
    // hub skew; top-15 parts by triangle participation. The oracle states
    // the id-ordered 3-way self-join — a different formulation whose
    // equality is exactly the orientation argument.
    "g2_triangles" -> { (s, d) =>
      graft.operators.Triangles.perNode(coPurchasePairs(s, d), "p1", "p2")
        .orderBy(col("n_tri").desc, col("node").asc)
        .limit(15)
    },

    // neighborhood-overlap LINK PREDICTION over the same co-purchase
    // graph: top-20 non-adjacent part pairs by common-neighbor count,
    // with exact-integer Jaccard ppm — wedge enumeration (one center
    // equi-join) + combinable count + edge anti-join + degree joins,
    // guarded against the hub-quadratic regime like d2
    "g5_link_prediction" -> { (s, d) =>
      val edges = coPurchasePairs(s, d).distinct()
      // the cap is raised DELIBERATELY (d2-style): the bench scale
      // (sf0.1) carries ~148M wedges through the exact baseline (4.5x
      // faster than the DuckDB oracle's 82 s on the same data); the
      // 50M default still refuses the hub-quadratic regime for
      // library callers
      graft.operators.LinkPredict.commonNeighbors(edges, "p1", "p2", k = 20,
        maxWedgeEstimate = 200000000L)
    },

    // g5's 100×-SCALE ROUTE: degree-capped candidate generation (wedges
    // centered on deg<=140 nodes only — volume n·D·(D−1)/2 by
    // construction, no refusal possible) + exact rescoring of the
    // 200-pair pool. Same output contract as g5 (true counts, true
    // degrees, integer Jaccard); what the cap costs in recall is
    // measured by g7b, not assumed. This gate COMPLETES at sf10 where
    // g5's exact wedge count (14.8B) refuses.
    "g7_link_prediction_capped" -> { (s, d) =>
      graft.operators.LinkPredict.commonNeighborsCapped(
        coPurchasePairs(s, d).distinct(), "p1", "p2",
        maxDegree = 140L, k = 20, refineFactor = 10)
    },

    // DOULION sampled triangle counting (Tsourakakis et al. 2009,
    // public) — the measured-accuracy approximate arm for the triangle
    // family, the g7b posture applied to g2: keep each edge with
    // p = 1/2 via the t24 md5-threshold (deterministic, no RNG state),
    // count triangles among the survivors, scale by 1/p^3 = 8 (exact
    // integer). A triangle survives with p^3, so the estimator is
    // unbiased and the wedge volume drops ~4x per halving — the knob
    // that keeps g2 running when m^1.5 outgrows the budget. One row:
    // exact, sampled, estimate, measured error.
    "g8_sampled_triangles" -> { (s, d) =>
      val edges = coPurchasePairs(s, d).distinct()
      val keep = expr("cast(conv(substring(md5(concat('tri:', " +
        "cast(p1 as string), ':', cast(p2 as string))), 1, 1), 16, 10) " +
        "as int) < 8")
      val exact = graft.operators.Triangles.perNode(edges, "p1", "p2")
        .agg(expr("sum(n_tri) div 3").as("n_exact"))
      val samp = graft.operators.Triangles.perNode(edges.filter(keep), "p1", "p2")
        .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("n_sampled"))
      exact.crossJoin(samp)
        .select(col("n_exact"), col("n_sampled"),
          (col("n_sampled") * 8).as("est"),
          expr("(abs(n_sampled * 8 - n_exact) * 1000000L) " +
            "div nullif(n_exact, 0)").as("err_ppm"))
    },

    // QUANTILE SKETCH registers (the rank member of the sketch family —
    // HLL=distinct, CMS/MG=frequency, this=quantiles, all in the
    // registers-are-the-artifact posture): log-binned counts per
    // return flag over floor(price*100) — bin = bitlen*16 + 4 mantissa
    // bits, exact integer arithmetic both engines state identically;
    // the exchange carries flags x <=1040 bins at ANY row count.
    // Estimate accuracy (<=1/16 relative by construction) is
    // spec-gated; mergeability is q57b.
    "q57_quantile_registers" -> { (s, d) =>
      graft.operators.QuantileSketch.registers(
        Tables.lineitem(s, d), Seq("l_returnflag"),
        floor(col("l_extendedprice") * 100))
        .orderBy(col("l_returnflag"), col("bin"))
    },

    // CROSS-SHARD merge (the e19b property for ranks): odd/even shards
    // sketch independently, merge by count ADDITION, and must equal the
    // single-pass registers — the oracle IS q57's single-pass SQL
    "q57b_quantile_merge" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val a = graft.operators.QuantileSketch.registers(
        li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"),
        floor(col("l_extendedprice") * 100))
      val b = graft.operators.QuantileSketch.registers(
        li.filter(col("l_orderkey") % 2 =!= 0), Seq("l_returnflag"),
        floor(col("l_extendedprice") * 100))
      graft.operators.QuantileSketch.merge(Seq("l_returnflag"), Seq(a, b))
        .orderBy(col("l_returnflag"), col("bin"))
    },

    // (g7's sf10-scale variant lives in `benchDefs` as g7x_capped_d100 —
    // same operator with the cap dialed for 100× node count, measured by
    // TimeQueries for the asymptotics table, not oracle-gated because it
    // is g7 with a different knob position.)

    // RECALL CURVE for the capped generator (the v33 nprobe-curve
    // posture): capped-generate top-200 / exact-refine top-20 vs the
    // exact top-20, one row per cap D in {100, 140, 180}. ONE wedge
    // pass scores every D at once: a wedge centered on c contributes to
    // cap D iff deg(c) <= D, so per-pair capped counts are conditional
    // sums over the center's degree bucket — the sweep costs ~1 exact
    // run, not 4 (operator-equality with commonNeighborsCapped is
    // pinned by LinkPredictSpec).
    "g7b_capped_recall" -> { (s, d) =>
      val e = coPurchasePairs(s, d)
        .select(col("p1").as("a"), col("p2").as("b"))
        .distinct()
        // persisted: read by the adjacency (twice), the anti-join, and
        // the range/volume pre-aggregate below (the g7bx lifecycle — the
        // co-purchase construction runs once)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val adj = e.select(col("a").as("c"), col("b").as("n"))
          .unionAll(e.select(col("b").as("c"), col("a").as("n")))
        // ONE pre-aggregate over the cached edges reads off the FULL
        // wedge volume (this gate runs the unguarded exact baseline, so
        // the aggregate parallelism is sized to the exact arm) and the id
        // range for the pair key
        val pre = adj.groupBy(col("c")).agg(count(lit(1)).as("dd"))
          .agg(Pairs.volume(col("dd")), Pairs.idRange(col("c")): _*).head()
        val key = Pairs.Key(pre, 1, e.schema("a").dataType)
        val parts = Pairs.partitions(s, pre.getLong(0), 900000L)
        // wedge pairs per center with the center's degree (its bucket
        // size: neighbors are distinct) carried along — no deg join, no
        // wedge self-join
        val wedges = Pairs.within(adj, Seq("c"), "n", ("ns", "u", "v"))
          .select(col("u"), col(Pairs.Size).as("dg"), col("v"))
        val sums = Seq(
          sum(when(col("dg") <= 100L, 1L).otherwise(0L)).as("ccn100"),
          sum(when(col("dg") <= 140L, 1L).otherwise(0L)).as("ccn140"),
          sum(when(col("dg") <= 180L, 1L).otherwise(0L)).as("ccn180"),
          count(lit(1)).as("cn"))
        // raw-wedge repartition before the pair aggregate (the
        // LinkPredict.scoreWedges lesson: distinct pairs ~0.7x wedges,
        // so map-side combining spills for nothing); the anti-join reuses
        // the aggregate's partitioning. The pairs stay KEYED through the
        // top-k arms and the semi-join — (x desc, pkey) == (x desc, u, v)
        // (Pairs.Key), and the output is counts only.
        val scored = wedges.select(key.of(col("u"), col("v")).as("pkey"), col("dg"))
          .repartition(parts, col("pkey"))
          .groupBy(col("pkey")).agg(sums.head, sums.tail: _*)
          .join(e.select(key.of(col("a"), col("b")).as("pkey")), Seq("pkey"), "left_anti")
          .persist()
        try {
          val exact20 = scored.orderBy(col("cn").desc, col("pkey"))
            .limit(20).select(col("pkey")).localCheckpoint(true)
          def cap20(ccn: String) = scored.filter(col(ccn) > 0L)
            .orderBy(col(ccn).desc, col("pkey")).limit(200)
            .orderBy(col("cn").desc, col("pkey")).limit(20)
            .select(col("pkey"))
          Seq(100L -> "ccn100", 140L -> "ccn140", 180L -> "ccn180")
            .map { case (dcap, ccn) =>
              exact20.agg(count(lit(1)).as("n_exact"))
                .crossJoin(exact20.join(cap20(ccn), Seq("pkey"), "left_semi")
                  .agg(count(lit(1)).as("n_hit")))
                .select(lit(dcap).as("max_degree"), col("n_exact"), col("n_hit"),
                  expr("(n_hit * 1000000L) div nullif(n_exact, 0)").as("recall_ppm"))
            }
            .reduce(_ unionAll _)
            .orderBy(col("max_degree"))
            .localCheckpoint(true)
        } finally scored.unpersist()
      } finally e.unpersist()
    },

    // the same triangle count served through the BUCKETED physical
    // design: the orientation subtree (co-purchase construction + degree
    // orientation) materializes ONCE as a u-bucketed external table, the
    // wedge stage reads the bucket layout exchange-free, and only the
    // wedge volume shuffles for the closing join — the alternative to
    // g2's fully-declarative plan, kept gated so the two physical
    // designs stay result-identical and bench-comparable.
    //
    // Crossover, re-adjudicated r20: the r19 array restructure removed
    // the orientation-subtree double-read this design existed to
    // amortize, so declarative g2 now WINS the single-query comparison —
    // interleaved A/B (OPTIMIZATION_r20.md chg 4) warm passes: g2 6.9-7.6 s
    // vs g2b 8.0-8.5 s (clustered write; 9.8-10.0 unclustered). g2b's
    // remaining premise is the one it documents for a REUSED layout:
    // the build-once cost amortizes across downstream readers (g2b's
    // read side is exchange-free), not within one query. The gate stays
    // as the priced physical-design comparison.
    "g2b_triangles_bucketed" -> { (s, d) =>
      val path = Tables.fixture("tri", d)
      graft.operators.Triangles.perNodeBucketed(coPurchasePairs(s, d), "p1", "p2",
        table = "graft_tri_oriented", path = path)
        .orderBy(col("n_tri").desc, col("node").asc)
        .limit(15)
    },

    // CSV sink + source round-trip (SURVEY §2.1 widening: the engine's
    // text-format codec under the hash gate): orders columns — longs,
    // a double, a string, a timestamp — write as headered CSV and read
    // back with an explicit schema; the aggregate over the ROUND-TRIPPED
    // rows must equal the oracle's aggregate over the ORIGINAL table, so
    // the gate pins shortest-round-trip double formatting and timestamp
    // codec fidelity, not just the aggregate
    "q32_csv_roundtrip" -> { (s, d) =>
      val path = Tables.fixture("csv", d)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderdate"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE, " +
          "o_orderstatus STRING, o_orderdate TIMESTAMP")
        .csv(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          min(col("o_orderdate")).cast("string").as("first_date"))
        .orderBy("o_orderstatus")
    },

    // JSON-lines sink + source round-trip (same posture for the JSON
    // codec; e3 covers json PARSING, this covers the sink/source pair)
    "q33_json_roundtrip" -> { (s, d) =>
      val path = Tables.fixture("json", d)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .json(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"),
          max(col("event_id")).as("max_id"))
        .orderBy("event_type")
    },

    // ORC sink + source round-trip (the third columnar codec next to
    // q32/q33): the oracle states the aggregate over the ORIGINAL
    // table, so equality pins codec fidelity end to end
    "q37_orc_roundtrip" -> { (s, d) =>
      val path = Tables.fixture("orc", d)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
          col("l_shipdate"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum("l_quantity").as("sum_qty"),
          min(col("l_shipdate")).cast("string").as("first_ship"))
        .orderBy("l_returnflag")
    },

    // DYNAMIC partition pruning: the fact table is laid out partitioned
    // by ship month; the quarter filter lives on a DIM attribute parquet
    // cannot see statically, so only runtime subquery pruning (DPP) can
    // skip the ~3/4 of fact partitions outside the quarter — the layout
    // + plan feature that turns a 100 TB date-partitioned scan into a
    // quarter-sized one. PlanShapeSpec pins dynamicpruningexpression in
    // the fact scan's partition filters.
    "q38_dynamic_partition_pruning" -> { (s, d) =>
      val sfx = new java.io.File(d).getName.replace('.', '_')
      val factPath = Tables.fixture("dpp_fact", sfx)
      val dimPath = Tables.fixture("dpp_dim", sfx)
      val li = Tables.lineitem(s, d)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      li.select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("ship_month"))
        // cluster by the partition column before the partitioned write
        // (guide §6 small-files): without it every write task emits one
        // file into every month directory — tasks x months tiny files
        // (~2.6k at sf0.1, 84x that contribution at 100 TB), paid again
        // by the read-back's per-file open cost. One exchange keyed on
        // ship_month makes each month exactly one writer's file. Layout
        // only — the gate's aggregate is over the same rows.
        .repartition(col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(factPath)
      li.select(col("ship_month")).distinct()
        .withColumn("quarter",
          expr("(cast(substring(ship_month, 6, 2) as int) - 1) div 3 + 1"))
        .write.mode("overwrite").parquet(dimPath)
      val fact = s.read.parquet(factPath)
      val dim = s.read.parquet(dimPath).filter(col("quarter") === 2)
      fact.join(broadcast(dim), Seq("ship_month"))
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n"), revenue.as("revenue"))
        .orderBy(col("ship_month"))
    },

    // bucketed CO-LOCATED join: both sides written bucketBy(8) + sortBy
    // on the join key, so the orders-lineitem join runs as a sort-merge
    // with ZERO exchange under it (PlanShapeSpec pins the absence) —
    // the pre-partitioned layout that removes the dominant shuffle of
    // every repeated fact-fact join at 100 TB. Table names carry the sf
    // suffix; the in-session catalog is recreated per run.
    "q39_bucketed_join" -> { (s, d) =>
      // table identifier: dots AND dashes (the staged sf1 dirs are
      // named graft-sf1x) must sanitize
      val sfx = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")
      // idempotence across SESSIONS: the in-memory catalog forgets the
      // table on restart but its warehouse directory survives, and
      // saveAsTable refuses a location it did not create — drop the
      // catalog entry (same-session rerun) AND the leftover location
      // (fresh session)
      for (t <- Seq(s"graft_q39_ord_$sfx", s"graft_q39_li_$sfx")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      }
      // pre-shuffle each side by its bucket key into `buckets` partitions
      // (guide §6 small-files): Spark's bucketed writer otherwise emits
      // one file per (write task x bucket) — 32 x 8 = 256 tiny files per
      // side here, every one re-opened by the join's scan. The
      // repartition uses the SAME HashPartitioning the bucket-id
      // assignment uses, so each task holds exactly one bucket and each
      // bucket becomes exactly one file. Layout only; join rows unchanged.
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"graft_q39_ord_$sfx")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"graft_q39_li_$sfx")
      // merge hint: at gate scale Catalyst would broadcast the small
      // side, hiding exactly the property the layout exists for — at
      // production scale BOTH sides are fact-sized and the only choice
      // is SMJ-with-shuffle vs SMJ-on-buckets. The hint pins the
      // fact-fact shape; the bucket layout then removes every exchange
      // under the join (PlanShapeSpec asserts it).
      s.table(s"graft_q39_ord_$sfx").hint("merge")
        .join(s.table(s"graft_q39_li_$sfx"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), revenue.as("revenue"),
          dsum("o_totalprice").as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },

    // relational PIVOT (groupBy().pivot() with explicit value list —
    // the two-scan-free reshape; absent combinations stay NULL exactly
    // as the oracle's FILTER aggregates do)
    "q40_pivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum("l_quantity"))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy(col("l_returnflag"))
    },

    // identical engine plan to q40; the oracle is DuckDB's native PIVOT
    "q40b_pivot_native" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum("l_quantity"))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy(col("l_returnflag"))
    },

    // the full CUBE lattice (all 2^k grouping sets in one pass) —
    // completes the OLAP grouping family next to q12's ROLLUP and
    // q31's explicit GROUPING SETS; grouping_id disambiguates NULL
    // group values from NULL lattice levels on both sides
    "q46_cube" -> { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("cast(grouping_id(l_returnflag, l_linestatus) as bigint)").as("gid"),
          count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // the ranking-window zoo (ntile / percent_rank / cume_dist /
    // nth_value with an explicit full frame), completing §2.5 next to
    // q7/q8/q18/q25's rank/running/comparison/RANGE windows. The window
    // ordering is made TOTAL (price, then key) so bucket boundaries and
    // rank fractions are engine-independent; both engines then compute
    // the identical integer-derived fractions in IEEE doubles. The
    // window runs over the FULL table (one hash partitioning by
    // priority — at 100 TB this is one shuffle, no sort ambiguity) and
    // only then samples keys, so every emitted fraction reflects the
    // whole partition, not the sample.
    "q47_window_zoo" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first_value(col("o_totalprice")).over(wFull).as("min_price"),
          nth_value(col("o_totalprice"), 2).over(wFull).as("second_price"))
        .filter(col("o_orderkey") % 97 === 0)
        .orderBy(col("o_orderkey"))
    },

    // k-ANONYMITY audit (governance over training data): group sizes on
    // the quasi-identifier pair (nation, segment), each group flagged
    // when fewer than k=5 rows share its identifiers, plus the group's
    // size under the one-level generalization that drops the segment —
    // the number a re-identification attacker faces after coarsening.
    // One combinable count per level on one scan; the generalized level
    // broadcasts back onto the fine level (nations are tiny forever).
    "q48_k_anonymity" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val fine = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      val coarse = c.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_generalized"))
      fine.join(broadcast(coarse), "c_nationkey")
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          (col("n") < 5).as("at_risk"), col("n_generalized"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },

    // the HIGHER-ORDER array-function surface (transform/filter/
    // aggregate/zip_with/sort_array/array_distinct) over per-order
    // quantity lists: all lambdas run inside codegen per row, no UDF,
    // no shuffle beyond the one collect_list groupBy; sort_array makes
    // the collected SET deterministic (collect_list order is not), and
    // every quantity is an exactly-integral double -> BIGINT, so the
    // lambda arithmetic is bit-stable cross-engine
    "q49_higher_order" -> { (s, d) =>
      val qs = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_quantity").cast("long").as("q"))
        .groupBy(col("o"))
        .agg(sort_array(collect_list(col("q"))).as("qs"))
      qs.filter(col("o") % 201 === 0)
        .select(col("o"),
          size(col("qs")).cast("long").as("n_items"),
          element_at(col("qs"), 1).as("q_min"),
          aggregate(col("qs"), lit(0L), (acc, x) => acc + x).as("q_total"),
          size(filter(col("qs"), _ >= 40)).cast("long").as("n_big"),
          size(array_distinct(col("qs"))).cast("long").as("n_dist"),
          // zip_with exercised on the self-pair (elementwise squares);
          // the oracle states the same value as list_transform(x -> x*x)
          aggregate(zip_with(col("qs"), col("qs"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("q_sumsq"))
        .orderBy(col("o"))
    },

    // INCREMENTAL AGGREGATE MAINTENANCE (the materialized-view pattern):
    // combinable state (count/sum/min/max) computed on a base batch,
    // folded with an insert-only delta batch's state via the monoid
    // merge, presentation values derived at read time — gated equal to
    // the oracle's FULL recompute over base+delta. The merge shuffles
    // only group-sized state, never rows: the 100 TB rollup refresh.
    "q50_incremental_agg" -> { (s, d) =>
      import graft.operators.IncrementalAgg
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_returnflag", "l_linestatus")
      val base = IncrementalAgg.state(
        li.filter(col("l_orderkey") % 10 =!= 0), keys, col("l_extendedprice"))
      val delta = IncrementalAgg.state(
        li.filter(col("l_orderkey") % 10 === 0), keys, col("l_extendedprice"))
      IncrementalAgg.present(IncrementalAgg.merge(base, delta, keys), keys)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // SNAPSHOT DIFF (table-versioning audit): yesterday's orders vs
    // today's — inserts (new keys), deletes (dropped keys), updates
    // (price bumped), unchanged — classified by ONE null-safe full
    // outer join; the gate aggregates per class and also emits the
    // 15 smallest changed keys so the row-level classification is
    // hashed, not just the counts
    "q51_snapshot_diff" -> { (s, d) =>
      import graft.operators.SnapshotDiff
      val orders = Tables.orders(s, d)
      val old = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val now = orders.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
      SnapshotDiff.diff(old, now, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("change_type"))
    },

    // LATERAL correlated-subquery surface: per nation, the top-2 orders
    // of its customers by price — the correlated inner query references
    // the outer row (Spark plans it as a correlated join + ranking, the
    // DecorrelateInnerQuery path); the q28/q7 semantics through the SQL
    // dialect feature itself
    "q54_lateral_topk" -> { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation_q54")
      Tables.customer(s, d).createOrReplaceTempView("customer_q54")
      Tables.orders(s, d).createOrReplaceTempView("orders_q54")
      s.sql("""
        SELECT n.n_name, t.o_orderkey, t.o_totalprice
        FROM nation_q54 n,
        LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM orders_q54 o JOIN customer_q54 c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
          LIMIT 2) t
        ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey ASC""")
    },

    // the NOT IN three-valued-logic trap, pinned: a NULL anywhere in
    // the subquery makes NOT IN unsatisfiable (x <> NULL is UNKNOWN),
    // so the with-nulls arm returns 0 rows while the filtered arm
    // returns the intuitive complement — both engines must agree on
    // BOTH arms. Spark plans the null-aware anti join; the gate exists
    // because this is the most common silent-wrong-answer rewrite
    // (NOT IN -> anti join without the null check).
    "q56_not_in_nulls" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer_q56")
      Tables.orders(s, d).createOrReplaceTempView("orders_q56")
      s.sql("""
        WITH probe AS (
          SELECT CASE WHEN o_orderkey % 1000 = 0 THEN CAST(NULL AS BIGINT)
                      ELSE o_custkey % 20 END AS v
          FROM orders_q56)
        SELECT 'with_nulls' AS variant, COUNT(*) AS n
        FROM customer_q56
        WHERE CAST(c_nationkey AS BIGINT) NOT IN (SELECT v FROM probe)
        UNION ALL
        SELECT 'nulls_filtered' AS variant, COUNT(*) AS n
        FROM customer_q56
        WHERE CAST(c_nationkey AS BIGINT) NOT IN
          (SELECT v FROM probe WHERE v IS NOT NULL)
        ORDER BY variant""")
    },

    // DIFFERENTIALLY-PRIVATE count release (geometric mechanism, Ghosh
    // et al. 2009): two-sided geometric noise derived as trailing-zero
    // counts of the seeded splitmix64(FNV) stream over the group key —
    // exact-integer, engine-deterministic, memoized per key ("sticky"
    // noise). One combinable count, then per-row hash arithmetic on the
    // group-sized table.
    "q53_dp_counts" -> { (s, d) =>
      graft.operators.Privacy.dpCounts(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), tag = "r1")
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },

    // l-DIVERSITY audit (q48's sibling, Machanavajjhala et al. 2006):
    // per quasi-identifier group (nation), how many DISTINCT sensitive
    // values (segment) exist — a group that is k-anonymous but
    // l-homogeneous still leaks the attribute; one combinable
    // count_distinct per group, flag at l < 3
    "q52_l_diversity" -> { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("l"))
        .select(col("c_nationkey"), col("n"), col("l"),
          (col("l") < 3).as("homogeneous"))
        .orderBy(col("c_nationkey"))
    },

    // generic multi-column Z-ORDER layout (the OPTIMIZE ZORDER BY shape
    // over plain parquet): lineitem rewritten clustered on
    // (l_partkey, l_suppkey), then a selective filter on BOTH columns
    // reads it back — the gate pins that the layout changed NOTHING
    // (oracle over the ORIGINAL table); the row-group skipping the
    // layout exists for is measured in BASELINE.md (round 12)
    "q45_zorder_layout" -> { (s, d) =>
      val path = Tables.fixture("zorder", d)
      // hermetic rep: remove any previous layout FIRST so every run
      // does identical work whether or not the path exists (overwrite
      // mode deletes too, but then rep 1 and rep N time different
      // filesystem work — the r18 q45 floor-drift watch item; the
      // adjudication showed the drift is host-epoch common-mode, and
      // this removes the one query-local variance source)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
      graft.sources.ZOrderLayout.write(Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_returnflag")),
        Seq("l_partkey", "l_suppkey"), bits = 6, numPartitions = 16, path)
      s.read.parquet(path)
        .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 40)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // parquet SCHEMA EVOLUTION: two table generations — the older
    // written before o_orderstatus existed — read together under
    // mergeSchema; rows from the pre-schema files surface the new
    // column as NULL. The oracle states the same semantics over the
    // original table, pinning that evolution loses and invents nothing.
    // At 100 TB this is how a lake actually grows: columns appear over
    // time, history is never rewritten.
    "q44_schema_evolution" -> { (s, d) =>
      val base = Tables.fixture("evo", d)
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/v1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy(coalesce(col("o_orderstatus"), lit("<pre-schema>")).as("status"))
        .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("sum_price"))
        .orderBy(col("status"))
    },

    // typed cogroup (KeyValueGroupedDataset.cogroup): per-key
    // reconciliation of the orders and lineitem streams with imperative
    // merge logic — the typed seam for per-key algorithms the
    // relational layer can't express. Scale: both sides shuffle once on
    // the key, exactly like the equivalent outer join; when the logic
    // IS relational (as here), prefer the declarative form — this gate
    // pins the equivalence (the oracle is the aggregated FULL JOIN).
    // Decimal-exact quantity sums keep the fold order-insensitive.
    "q43_cogroup_reconcile" -> { (s, d) =>
      import s.implicits._
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
        .as[(Long, Double)]
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("v"))
        .as[(Long, Double)]
      ord.groupByKey(_._1).cogroup(li.groupByKey(_._1)) { (k, os, ls) =>
        var nOrders = 0L
        while (os.hasNext) { os.next(); nOrders += 1 }
        var nLines = 0L
        var sumQty = BigDecimal(0).setScale(2)
        while (ls.hasNext) {
          sumQty += BigDecimal(ls.next()._2).setScale(2)
          nLines += 1
        }
        Iterator((k, nOrders, nLines, sumQty.toDouble))
      }.toDF("orderkey", "n_orders", "n_lines", "sum_qty")
        .orderBy(col("orderkey"))
    },

    // EXACT interpolated percentiles (R type-7 / NIST method, the
    // definition both engines implement): probe points restricted to
    // exact binary fractions (.25/.5/.75) over integer-valued doubles,
    // so position, interpolation weight, and the blended value are all
    // EXACT doubles — cross-engine hash equality without a quantize
    // step. percentile() is a full-sort-per-group aggregate; the
    // approx_percentile sketch (q22's posture) is the 100 TB path, this
    // gates the exact definition the sketch approximates.
    "q41_percentiles" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25_qty"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.75)").as("p75_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // relational UNPIVOT (melt): the wide per-flag aggregate reshaped to
    // (key, metric, value) rows — the inverse surface of q40's pivot
    "q42_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(dsum("l_quantity").as("qty"), dsum("l_extendedprice").as("price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price")), "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },

    // correlated scalar subqueries under the hash gate — including the
    // classic COUNT bug: the count subquery must return 0 (not NULL)
    // for orders with no qualifying lineitem, which is exactly what
    // Catalyst's decorrelation rewrite must preserve while turning both
    // subqueries into aggregated outer joins
    "q36_correlated_subquery" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_q36")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q36")
      s.sql("""
        SELECT o_orderkey, o_totalprice,
          (SELECT COUNT(*) FROM lineitem_q36
           WHERE l_orderkey = o_orderkey AND l_quantity >= 49) AS n_big,
          (SELECT MAX(l_quantity) FROM lineitem_q36
           WHERE l_orderkey = o_orderkey AND l_quantity >= 49) AS max_big
        FROM orders_q36
        WHERE o_totalprice > 400000
        ORDER BY o_orderkey""")
    },

    // WITH RECURSIVE (Spark 4.1's UnionLoop execution) under the hash
    // gate: depth-bounded BFS from the minimum part over the sparse
    // co-purchase graph, reporting hop distance AND path multiplicity —
    // exact integers, so the recursion's exact row multiset is gated,
    // not just reachability. The level bound makes the recursion finite
    // and engine-independent.
    "q34_recursive_reach" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q34")
      s.sql("""
        WITH RECURSIVE und AS (
          SELECT a.p AS a, b.p AS b
          FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem_q34 WHERE l_linenumber <= 2) a
          JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem_q34 WHERE l_linenumber <= 2) b
            ON a.o = b.o AND a.p <> b.p),
        reach(node, lvl) AS (
          SELECT CAST(MIN(l_partkey) AS BIGINT), 0 FROM lineitem_q34
          UNION ALL
          SELECT u.b, r.lvl + 1
          FROM reach r JOIN und u ON u.a = r.node
          WHERE r.lvl < 2)
        SELECT node, CAST(MIN(lvl) AS BIGINT) AS lvl, COUNT(*) AS n_paths
        FROM reach GROUP BY node ORDER BY node""")
    },

    // GROUPING SETS beyond q12's ROLLUP / q24's pivot: an explicit
    // grouping-set lattice with the grouping_id disambiguator (the
    // standard way to tell a NULL group key from a rolled-up one); the
    // SQL surface is part of the engine (spark.sql over the registered
    // table), planned as ONE Expand + hash aggregate pass
    "q31_grouping_sets" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q31")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n
        FROM lineitem_q31
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    },

    // k-core extraction over a SPARSER co-purchase graph (line numbers
    // 1-2 only, so the k=4 peel actually cascades: 2 rounds at sf0.01,
    // 4 at sf1x): iterative deletion of sub-k-degree nodes to the unique
    // maximal min-degree->=k fixpoint. The oracle unrolls the identical
    // peel 12 rounds deep (idempotent after convergence); the engine
    // REFUSES past 12 rounds rather than silently returning a
    // non-fixpoint, so the bound is a shared contract, not a hidden cap.
    "g3_kcore" -> { (s, d) =>
      graft.operators.KCore.kCore(coPurchasePairs(s, d, Some(2)), "p1", "p2", k = 4)
        .orderBy(col("node"))
    },

    // deterministic synchronous label propagation over g3's co-purchase
    // graph: plurality neighbor label, min-label tie-break, 3 rounds as
    // the shared engine/oracle contract (sync LPA can oscillate, so
    // "to convergence" is ill-defined — see LabelProp's scaladoc). The
    // per-round argmax is one combinable max(struct) aggregation, never
    // a partition-wide window
    "g4_label_prop" -> { (s, d) =>
      graft.operators.LabelProp.run(coPurchasePairs(s, d, Some(2)),
        "p1", "p2", rounds = 3)
        .orderBy(col("node"))
    },

    // single-pass table profile (the ANALYZE surface): per-column nulls,
    // exact distincts, typed min/max — 4x|cols| aggregates over ONE scan,
    // unpivoted with stack()
    "q29_profile" -> { (s, d) =>
      graft.operators.Profile.table(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
        .orderBy(col("column"))
    },

    // distribution-position window family: ntile / percent_rank /
    // cume_dist per priority (tie-free total order -> deterministic;
    // each ratio one IEEE division of exact integers)
    "q30_window_stats" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .filter(col("o_orderkey") % 50 === 0)
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },

    // exact interpolated percentiles per group (corpus length/value
    // distribution stats — the exact sibling of q22's sketch)
    "q23_percentiles" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.95)").as("p95_qty"))
        .orderBy(col("l_returnflag"))
    },

    // pivot (long -> wide): order counts per priority x status. The
    // explicit value list keeps the schema static (no extra distinct-scan
    // job at scale); empty cells fill 0 to match the oracle's FILTER form
    "q24_pivot_status" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))
    },

    // --- grouping sets ---------------------------------------------------------
    "q20_grouping_sets" -> { (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // --- conditional aggregation ----------------------------------------------
    "q15_conditional_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_quantity") >= 40, 1L).otherwise(0L)).as("n_high_qty"),
          sum(when(col("l_discount") >= 0.05,
            col("l_extendedprice").cast(DecimalType(18, 2))).otherwise(lit(BigDecimal(0))))
            .cast("double").as("discounted_base"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }
  )

  def sql: Map[String, String] = Map(
    // quantile_cont uses the same sorted-interpolation formula as Spark's
    // exact percentile; l_quantity values are small integers stored as
    // double, so the interpolation arithmetic is IEEE-identical
    "q24_pivot_status" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // the exact count is the cross-engine check; the bound assertion is
    // stated TRUE by the oracle and computed by the engine (see defs) —
    // the interpolated comment pins the bound the engine actually applied
    "q22_approx_distinct" ->
      s"""SELECT l_returnflag,
         |  COUNT(DISTINCT l_partkey) AS exact_parts,
         |  -- engine-computed |approx - exact| / exact < $HllErrorBound (3 x rsd $HllRsd)
         |  TRUE AS within_bound
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    "q26_approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_exact,
        |  quantile_cont(l_quantity, 0.95) AS p95_exact,
        |  -- engine-computed: approx value within the exact q -+ 0.01 bracket
        |  TRUE AS p50_within, TRUE AS p95_within
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the PLAIN join — the Bloom reduction must be invisible in the result
    "q27_bloom_join" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY yr
        |ORDER BY yr""".stripMargin,

    // the ROW_NUMBER statement of per-group top-k the heap must equal
    "q28_topk_per_group" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    // the same integer fixed-point iteration unrolled: every division a
    // floor `//`, every sum a long sum — bit-identical by construction
    "g1_pagerank" -> pagerankSql(iters = 5),

    "g6_personalized_pagerank" -> pprSql(iters = 5, seedPred = "node <= 50"),

    // the identical peel, 12 unrolled rounds (matching the engine's
    // maxRounds refusal bound; idempotent once converged)
    "g3_kcore" -> kcoreSql(k = 4, rounds = 12),

    // the identical 3-round synchronous plurality/min-tie unroll
    "g4_label_prop" -> labelPropSql(rounds = 3),

    // identical correlated subqueries — DuckDB's decorrelation preserves
    // the same 0-vs-NULL count semantics
    "q36_correlated_subquery" ->
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_quantity >= 49) AS n_big,
        |  (SELECT MAX(l_quantity) FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_quantity >= 49) AS max_big
        |FROM orders
        |WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin,

    // the identical recursion (und IS MATERIALIZED: the undirected
    // co-order edge set is computed once up front and re-joined on every
    // iteration, matching the Spark side's persisted edge table)
    "q34_recursive_reach" ->
      """WITH RECURSIVE und AS MATERIALIZED (
        |  SELECT a.p AS a, b.p AS b
        |  FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |        FROM lineitem WHERE l_linenumber <= 2) a
        |  JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |        FROM lineitem WHERE l_linenumber <= 2) b
        |    ON a.o = b.o AND a.p <> b.p),
        |reach(node, lvl) AS (
        |  SELECT CAST(MIN(l_partkey) AS BIGINT), 0 FROM lineitem
        |  UNION ALL
        |  SELECT u.b, r.lvl + 1
        |  FROM reach r JOIN und u ON u.a = r.node
        |  WHERE r.lvl < 2)
        |SELECT node, CAST(MIN(lvl) AS BIGINT) AS lvl, COUNT(*) AS n_paths
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,

    // stated over the ORIGINAL table: equality gates the CSV round-trip
    "q32_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_date
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // same posture for the ORC codec — stated over the ORIGINAL table
    "q37_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS first_ship
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the dim join is semantically the quarter predicate (the dim table
    // is distinct months + derived quarter); DPP is a plan property,
    // not a semantic one — PlanShapeSpec owns the pruning assertion
    "q38_dynamic_partition_pruning" ->
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, COUNT(*) AS n,
         |  $revenueSql AS revenue
         |FROM lineitem
         |WHERE (CAST(strftime(l_shipdate, '%m') AS INT) - 1) // 3 + 1 = 2
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    // bucketing is a layout property — the join semantics are plain
    "q39_bucketed_join" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_items,
         |  $revenueSql AS revenue,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,

    // the identical lattice and grouping_id convention
    "q46_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    // the identical total window ordering; DuckDB's ntile/percent_rank/
    // cume_dist implement the same integer-derived definitions
    "q47_window_zoo" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  first_value(o_totalprice) OVER wf AS min_price,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |QUALIFY o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // the same two aggregation levels joined back
    "q48_k_anonymity" ->
      """WITH fine AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |coarse AS (
        |  SELECT c_nationkey, COUNT(*) AS n_generalized
        |  FROM customer GROUP BY 1)
        |SELECT c_nationkey, c_mktsegment, n, n < 5 AS at_risk, n_generalized
        |FROM fine JOIN coarse USING (c_nationkey)
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // DuckDB's list lambdas restate the higher-order pipeline; zip_with
    // on the self-pair is stated as list_transform(x -> x*x)
    "q49_higher_order" ->
      """WITH qs AS (
        |  SELECT l_orderkey AS o,
        |         list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
        |  FROM lineitem GROUP BY 1)
        |SELECT o,
        |  CAST(len(qs) AS BIGINT) AS n_items,
        |  qs[1] AS q_min,
        |  CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_total,
        |  CAST(len(list_filter(qs, x -> x >= 40)) AS BIGINT) AS n_big,
        |  CAST(len(list_distinct(qs)) AS BIGINT) AS n_dist,
        |  CAST(list_aggregate(list_transform(qs, x -> x * x), 'sum') AS BIGINT) AS q_sumsq
        |FROM qs WHERE o % 201 = 0
        |ORDER BY o""".stripMargin,

    // the oracle is the FULL recompute — the incremental fold must be
    // indistinguishable from never having split the batches
    "q50_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |       / COUNT(*) AS avg,
        |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS mn,
        |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS mx
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q51_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 7 <> 0),
        |now AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |diff AS (
        |  SELECT COALESCE(old.o_orderkey, now.o_orderkey) AS k,
        |    CASE WHEN old.o_orderkey IS NULL THEN 'insert'
        |         WHEN now.o_orderkey IS NULL THEN 'delete'
        |         WHEN old.o_totalprice IS DISTINCT FROM now.o_totalprice
        |           OR old.o_orderstatus IS DISTINCT FROM now.o_orderstatus
        |           THEN 'update'
        |         ELSE 'unchanged' END AS change_type
        |  FROM old FULL OUTER JOIN now ON old.o_orderkey = now.o_orderkey)
        |SELECT change_type, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
        |FROM diff GROUP BY 1 ORDER BY change_type""".stripMargin,

    // the identical FNV + splitmix64 + trailing-zeros noise restated
    // through the shared SketchSql primitives, one chain per draw
    "q53_dp_counts" -> dpCountsSql,

    "q56_not_in_nulls" ->
      """WITH probe AS (
        |  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN CAST(NULL AS BIGINT)
        |              ELSE o_custkey % 20 END AS v
        |  FROM orders)
        |SELECT 'with_nulls' AS variant, COUNT(*) AS n
        |FROM customer
        |WHERE CAST(c_nationkey AS BIGINT) NOT IN (SELECT v FROM probe)
        |UNION ALL
        |SELECT 'nulls_filtered' AS variant, COUNT(*) AS n
        |FROM customer
        |WHERE CAST(c_nationkey AS BIGINT) NOT IN
        |  (SELECT v FROM probe WHERE v IS NOT NULL)
        |ORDER BY variant""".stripMargin,

    // DuckDB's LATERAL with the same correlated top-2
    "q54_lateral_topk" ->
      """SELECT n.n_name, t.o_orderkey, t.o_totalprice
        |FROM nation n,
        |LATERAL (
        |  SELECT o.o_orderkey, o.o_totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
        |  LIMIT 2) t
        |ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey ASC""".stripMargin,

    "q52_l_diversity" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  COUNT(DISTINCT c_mktsegment) AS l,
        |  COUNT(DISTINCT c_mktsegment) < 3 AS homogeneous
        |FROM customer GROUP BY 1
        |ORDER BY c_nationkey""".stripMargin,

    // the layout is semantics-free: the oracle is the plain filter
    "q45_zorder_layout" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey <= 100 AND l_suppkey <= 40
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // evolution semantics over the original table: even keys predate
    // the column, odd keys carry it
    "q44_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
        |       ELSE o_orderstatus END AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY status""".stripMargin,

    // the declarative restatement of the cogroup's imperative merge
    "q43_cogroup_reconcile" ->
      """WITH o AS (SELECT o_orderkey AS k, COUNT(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |l AS (SELECT l_orderkey AS k, COUNT(*) AS n_lines,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY 1)
        |SELECT COALESCE(o.k, l.k) AS orderkey,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_lines, 0) AS n_lines,
        |  COALESCE(sum_qty, 0.0) AS sum_qty
        |FROM o FULL JOIN l ON o.k = l.k
        |ORDER BY orderkey""".stripMargin,

    // quantile_cont == percentile: both engines implement the same
    // linear interpolation; the probe points keep every step exact
    "q41_percentiles" ->
      """SELECT l_returnflag, l_linestatus,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.75) AS p75_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // UNPIVOT == UNION ALL of the per-metric projections
    "q42_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'price' AS metric, price AS value FROM a
        |ORDER BY l_returnflag, metric""".stripMargin,

    // PIVOT == conditional aggregation; absent combos NULL on both sides
    // q40's pivot validated EXTERNALLY (the e34 posture): DuckDB's
    // NATIVE PIVOT statement as the oracle instead of our
    // FILTER-aggregate restatement — two independent implementations
    // of the reshape must agree
    "q40b_pivot_native" ->
      """SELECT l_returnflag, CAST("F" AS DOUBLE) AS qty_f,
        |  CAST("O" AS DOUBLE) AS qty_o FROM (
        |  PIVOT (SELECT l_returnflag, l_linestatus,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS q FROM lineitem)
        |  ON l_linestatus IN ('F', 'O') USING SUM(q)
        |  GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q40_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // same posture for the JSON-lines codec
    "q33_json_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  MAX(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // DuckDB's GROUPING(a, b) emits the same bit vector as Spark's
    // grouping_id(a, b) (verified: 0 / 1 / 3 across the lattice)
    "q31_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    // id-ordered triangle enumeration (x<y<z with all three canonical
    // edges present) vs the engine's degree-oriented wedge join
    "g2_triangles" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS (SELECT DISTINCT a.s AS a, b.s AS b
        |      FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS node FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY node
        |ORDER BY n_tri DESC, node ASC
        |LIMIT 15""".stripMargin,

    // the declarative wedge-count restatement; MATERIALIZED pins DuckDB
    // to one expansion of the adjacency (the g3 CTE-inlining lesson)
    "g5_link_prediction" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b
        |      FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |adj AS MATERIALIZED (SELECT a AS c, b AS n FROM e
        |      UNION ALL SELECT b, a FROM e),
        |deg AS MATERIALIZED (SELECT c, COUNT(*) AS d FROM adj GROUP BY 1),
        |cnp AS (
        |  SELECT l.n AS u, r.n AS v, COUNT(*) AS cn
        |  FROM adj l JOIN adj r ON l.c = r.c AND l.n < r.n
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT u, v, cn FROM cnp
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cnp.u AND e.b = cnp.v))
        |SELECT cand.u AS a, cand.v AS b, cn,
        |  da.d AS deg_a, db.d AS deg_b,
        |  CAST(cn * 1000000 // (da.d + db.d - cn) AS BIGINT) AS jac_ppm
        |FROM cand JOIN deg da ON da.c = cand.u JOIN deg db ON db.c = cand.v
        |ORDER BY cn DESC, a ASC, b ASC
        |LIMIT 20""".stripMargin,

    // g2's id-ordered triangle enumeration twice — full edge set and
    // the md5-threshold survivors — then the exact 8x scale-up
    "g8_sampled_triangles" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b
        |      FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |tri AS (SELECT COUNT(*) AS n_exact
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |ke AS MATERIALIZED (
        |  SELECT a, b FROM e
        |  WHERE CAST(concat('0x', substr(md5(concat('tri:', a, ':', b)), 1, 1))
        |        AS INT) < 8),
        |stri AS (SELECT COUNT(*) AS n_sampled
        |         FROM ke e1 JOIN ke e2 ON e2.a = e1.b
        |         JOIN ke e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT n_exact, n_sampled,
        |  CAST(n_sampled * 8 AS BIGINT) AS est,
        |  CAST(abs(n_sampled * 8 - n_exact) * 1000000
        |       // nullif(n_exact, 0) AS BIGINT) AS err_ppm
        |FROM tri, stri""".stripMargin,

    // the identical bit-length/mantissa bin arithmetic (bin() strips
    // leading zeros in both engines — the e19 rho convention)
    "q57_quantile_registers" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag, v,
        |    CASE WHEN v = 0 THEN 0 ELSE len(bin(v)) END AS L
        |  FROM t)
        |SELECT l_returnflag,
        |  CAST(L * 16 + ((v >> GREATEST(L - 5, 0)) & 15) AS INT) AS bin,
        |  COUNT(*) AS cnt
        |FROM b GROUP BY 1, 2
        |ORDER BY l_returnflag, bin""".stripMargin,

    // merging is count addition: the single-pass statement is the
    // oracle for the two-shard merge (hash equality IS the property)
    "q57b_quantile_merge" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag, v,
        |    CASE WHEN v = 0 THEN 0 ELSE len(bin(v)) END AS L
        |  FROM t)
        |SELECT l_returnflag,
        |  CAST(L * 16 + ((v >> GREATEST(L - 5, 0)) & 15) AS INT) AS bin,
        |  COUNT(*) AS cnt
        |FROM b GROUP BY 1, 2
        |ORDER BY l_returnflag, bin""".stripMargin,

    // capped generate (wedge centers deg<=140 only, top-200 by capped
    // count) + exact refine (true counts over the FULL adjacency for
    // just those 200 pairs), then g5's output contract
    "g7_link_prediction_capped" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b
        |      FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |adj AS MATERIALIZED (SELECT a AS c, b AS n FROM e
        |      UNION ALL SELECT b, a FROM e),
        |deg AS MATERIALIZED (SELECT c, COUNT(*) AS d FROM adj GROUP BY 1),
        |ok AS (SELECT c FROM deg WHERE d <= 140),
        |cadj AS MATERIALIZED (SELECT adj.c, adj.n FROM adj JOIN ok USING (c)),
        |cnp AS (
        |  SELECT l.n AS u, r.n AS v, COUNT(*) AS ccn
        |  FROM cadj l JOIN cadj r ON l.c = r.c AND l.n < r.n
        |  GROUP BY 1, 2),
        |gen AS MATERIALIZED (
        |  SELECT u, v FROM cnp
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cnp.u AND e.b = cnp.v)
        |  ORDER BY ccn DESC, u ASC, v ASC LIMIT 200),
        |ref AS (
        |  SELECT gen.u, gen.v, COUNT(*) AS cn
        |  FROM gen JOIN adj au ON au.n = gen.u
        |           JOIN adj av ON av.n = gen.v AND av.c = au.c
        |  GROUP BY 1, 2)
        |SELECT ref.u AS a, ref.v AS b, cn,
        |  da.d AS deg_a, db.d AS deg_b,
        |  CAST(cn * 1000000 // (da.d + db.d - cn) AS BIGINT) AS jac_ppm
        |FROM ref JOIN deg da ON da.c = ref.u JOIN deg db ON db.c = ref.v
        |ORDER BY cn DESC, a ASC, b ASC
        |LIMIT 20""".stripMargin,

    // the engine's one-pass sweep restated: per-pair capped counts are
    // conditional sums over the wedge center's degree, generate/refine/
    // top-20 per cap, hits counted against the exact top-20
    "g7b_capped_recall" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b
        |      FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |adj AS MATERIALIZED (SELECT a AS c, b AS n FROM e
        |      UNION ALL SELECT b, a FROM e),
        |deg AS MATERIALIZED (SELECT c, COUNT(*) AS d FROM adj GROUP BY 1),
        |adjd AS (SELECT adj.c, adj.n, deg.d FROM adj JOIN deg ON adj.c = deg.c),
        |scored AS MATERIALIZED (
        |  SELECT l.n AS u, r.n AS v,
        |    CAST(SUM(CASE WHEN l.d <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS ccn100,
        |    CAST(SUM(CASE WHEN l.d <= 140 THEN 1 ELSE 0 END) AS BIGINT) AS ccn140,
        |    CAST(SUM(CASE WHEN l.d <= 180 THEN 1 ELSE 0 END) AS BIGINT) AS ccn180,
        |    COUNT(*) AS cn
        |  FROM adjd l JOIN adj r ON l.c = r.c AND l.n < r.n
        |  GROUP BY 1, 2),
        |cand AS MATERIALIZED (
        |  SELECT * FROM scored
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = scored.u AND e.b = scored.v)),
        |exact20 AS MATERIALIZED (
        |  SELECT u, v FROM cand ORDER BY cn DESC, u ASC, v ASC LIMIT 20),
        |nex AS (SELECT COUNT(*) AS n_exact FROM exact20),
        |gen100 AS (SELECT u, v, cn FROM cand WHERE ccn100 > 0
        |           ORDER BY ccn100 DESC, u ASC, v ASC LIMIT 200),
        |cap100 AS (SELECT u, v FROM gen100 ORDER BY cn DESC, u ASC, v ASC LIMIT 20),
        |h100 AS (SELECT COUNT(*) AS n_hit FROM exact20 SEMI JOIN cap100 USING (u, v)),
        |gen140 AS (SELECT u, v, cn FROM cand WHERE ccn140 > 0
        |           ORDER BY ccn140 DESC, u ASC, v ASC LIMIT 200),
        |cap140 AS (SELECT u, v FROM gen140 ORDER BY cn DESC, u ASC, v ASC LIMIT 20),
        |h140 AS (SELECT COUNT(*) AS n_hit FROM exact20 SEMI JOIN cap140 USING (u, v)),
        |gen180 AS (SELECT u, v, cn FROM cand WHERE ccn180 > 0
        |           ORDER BY ccn180 DESC, u ASC, v ASC LIMIT 200),
        |cap180 AS (SELECT u, v FROM gen180 ORDER BY cn DESC, u ASC, v ASC LIMIT 20),
        |h180 AS (SELECT COUNT(*) AS n_hit FROM exact20 SEMI JOIN cap180 USING (u, v))
        |SELECT * FROM (
        |  SELECT CAST(100 AS BIGINT) AS max_degree, n_exact, n_hit,
        |    CAST(n_hit * 1000000 // nullif(n_exact, 0) AS BIGINT) AS recall_ppm
        |  FROM h100, nex
        |  UNION ALL
        |  SELECT CAST(140 AS BIGINT), n_exact, n_hit,
        |    CAST(n_hit * 1000000 // nullif(n_exact, 0) AS BIGINT) FROM h140, nex
        |  UNION ALL
        |  SELECT CAST(180 AS BIGINT), n_exact, n_hit,
        |    CAST(n_hit * 1000000 // nullif(n_exact, 0) AS BIGINT) FROM h180, nex)
        |ORDER BY max_degree""".stripMargin,

    // identical oracle: the bucketed physical design must produce the
    // same logical result as g2's declarative plan
    "g2b_triangles_bucketed" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS (SELECT DISTINCT a.s AS a, b.s AS b
        |      FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS node FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY node
        |ORDER BY n_tri DESC, node ASC
        |LIMIT 15""".stripMargin,

    // one UNION ALL branch per column: same counts, same typed min/max
    // slots (numeric as DOUBLE values, temporal/string as text)
    "q29_profile" ->
      """SELECT 'l_orderkey' AS "column", COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(l_orderkey) AS n_null, COUNT(l_orderkey) AS n_non_null,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(MIN(l_orderkey) AS DOUBLE) AS min_num,
        |  CAST(MAX(l_orderkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
        |  COUNT(l_quantity), COUNT(DISTINCT l_quantity),
        |  CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
        |  NULL, NULL
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
        |  COUNT(l_returnflag), COUNT(DISTINCT l_returnflag),
        |  NULL, NULL,
        |  CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
        |  COUNT(l_shipdate), COUNT(DISTINCT l_shipdate),
        |  NULL, NULL,
        |  CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
        |FROM lineitem
        |ORDER BY "column"""".stripMargin,

    "q30_window_stats" ->
      """SELECT o_orderpriority, o_orderkey, quartile, pct_rank, cume FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |    percent_rank() OVER w AS pct_rank,
        |    cume_dist() OVER w AS cume
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice ASC, o_orderkey ASC)) t
        |WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q23_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.95) AS p95_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  %REV% AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("%REV%", revenueSql),

    "q2_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, %REV% AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin.replace("%REV%", revenueSql),

    "q4_priority_count" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q5_nation_revenue" ->
      """SELECT r_name, n_name, %REV% AS revenue, COUNT(*) AS n_items
        |FROM region, nation, customer, orders, lineitem
        |WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin.replace("%REV%", revenueSql),

    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount >= 0.05 AND l_discount <= 0.07""".stripMargin,

    "q7_top_customers_per_nation" ->
      """SELECT c_nationkey, rnk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 3
        |ORDER BY c_nationkey, rnk""".stripMargin,

    "q8_running_order_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders
        |WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q25_trailing_revenue" ->
      """WITH daily AS (
        |  SELECT l_shipdate AS day,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS rev,
        |  CAST(SUM(rev) OVER (ORDER BY epoch(day)
        |    RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
        |FROM daily
        |ORDER BY day""".stripMargin,

    "q9_distinct_counts" ->
      """SELECT COUNT(DISTINCT l_suppkey) AS n_supp,
        |       COUNT(DISTINCT l_partkey) AS n_part,
        |       COUNT(*) AS n_rows
        |FROM lineitem""".stripMargin,

    "q10_setops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | INTERSECT
        | SELECT o_custkey AS c_custkey FROM orders)
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY c_custkey""".stripMargin,

    "q11_customers_without_orders" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // the same bag algebra: DuckDB's ALL variants carry multiplicities
    "q35_setops_all" ->
      """SELECT l_orderkey, COUNT(*) AS multiplicity
        |FROM (
        |  (SELECT l_orderkey FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |   INTERSECT ALL
        |   SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |  EXCEPT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,

    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q13_offset_page" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10 OFFSET 20""".stripMargin,

    "q14_brand_stats" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  MAX(p_size) AS max_size
        |FROM part
        |GROUP BY p_brand
        |HAVING COUNT(*) >= 5
        |ORDER BY p_brand""".stripMargin,

    "q16_string_funcs" ->
      """SELECT p_partkey,
        |  concat_ws('/', p_brand, substring(p_name, 1, 8)) AS tag,
        |  length(p_name) AS name_len
        |FROM part
        |WHERE lower(p_name) LIKE '%gold%' OR upper(p_brand) = 'BRAND#11'
        |ORDER BY p_partkey""".stripMargin,

    "q17_orders_by_year" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY yr, mo
        |ORDER BY yr, mo""".stripMargin,

    "q18_above_avg_orders" ->
      """SELECT o_orderkey, o_custkey FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
        |  FROM orders) t
        |WHERE o_totalprice > cust_avg * 1.5
        |ORDER BY o_orderkey""".stripMargin,

    "q19_union_all" ->
      """SELECT kind, COUNT(*) AS n, MIN(key) AS min_key FROM (
        |  SELECT c_custkey AS key, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, 'supplier' AS kind FROM supplier) t
        |GROUP BY kind
        |ORDER BY kind""".stripMargin,

    "q21_moment_stats" ->
      """SELECT l_returnflag, n,
        |  (sqq - sq * sq / n) / (n - 1) / 10000.0 AS var_qty,
        |  sqrt((spp - sp * sp / n) / (n - 1)) / 100.0 AS sd_price,
        |  (sqp - sq * sp / n) / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)) AS corr_qp
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(qc) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(qc * qc AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
        |    CAST(SUM(pc) AS DOUBLE) AS sp,
        |    CAST(SUM(CAST(pc * pc AS DECIMAL(38,0))) AS DOUBLE) AS spp,
        |    CAST(SUM(CAST(qc * pc AS DECIMAL(38,0))) AS DOUBLE) AS sqp
        |  FROM (SELECT l_returnflag,
        |          CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |          CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |        FROM lineitem) raw
        |  GROUP BY l_returnflag) m
        |ORDER BY l_returnflag""".stripMargin,

    "q20_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q15_conditional_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_qty,
        |  CAST(SUM(CASE WHEN l_discount >= 0.05
        |                THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS discounted_base,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )

  /** Bench/asymptotics-only variants (no oracle entry — knob positions of
    * gated operators, semantics pinned by the gate siblings). */
  def benchDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // g7 with the cap dialed for 100× node count: at sf10 the corpus has
    // 2M parts and D=140 admits 10.2B wedges (a ~200 GB shuffle — past a
    // single node, right at scale on a cluster); D=100 admits 1.65B,
    // which COMPLETES locally where g5's exact 14.8B refuses. The knob
    // is the point: capped volume is n·D·(D−1)/2, so D comes down as n
    // goes up, and g7b prices what each position costs in recall.
    "g7x_capped_d100" -> { (s, d) =>
      graft.operators.LinkPredict.commonNeighborsCapped(
        coPurchasePairs(s, d).distinct(), "p1", "p2",
        maxDegree = 100L, k = 20, refineFactor = 10)
    },

    // g7b's PRODUCTION arm alone (the g8x precedent): the ONE-PASS capped
    // candidate sweep for all three caps D in {100,140,180} WITHOUT the
    // unguarded exact wedge baseline the gate runs to measure recall.
    // Centers are degree-filtered to the LARGEST cap BEFORE the wedge
    // self-join — wedge volume is bounded by n*Dmax*(Dmax-1)/2 by
    // construction, the g7 scale argument — and the per-cap conditional
    // sums price what a production recall-knob sweep costs. The 24 s
    // exact arm stays gate-only (Verify), out of the hot bench suite.
    "g7bx_capped_sweep_only" -> { (s, d) =>
      val e = coPurchasePairs(s, d)
        .select(col("p1").as("a"), col("p2").as("b"))
        .distinct()
        // persisted: read by the adjacency (twice), the anti-join, and
        // the range/volume pre-aggregate below — the commonNeighbors
        // lifecycle (the co-purchase construction runs once)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val adj = e.select(col("a").as("c"), col("b").as("n"))
          .unionAll(e.select(col("b").as("c"), col("a").as("n")))
        // ONE pre-aggregate over the cached edges reads off the capped
        // wedge volume (aggregate parallelism) and the id range (pair key)
        val pre = adj.groupBy(col("c")).agg(count(lit(1)).as("dd"))
          .agg(Pairs.volume(when(col("dd") <= 180L, col("dd"))),
            Pairs.idRange(col("c")): _*).head()
        val key = Pairs.Key(pre, 1, e.schema("a").dataType)
        val parts = Pairs.partitions(s, pre.getLong(0), 900000L)
        val (pu, pv) = key.ids(col("pkey"))
        // wedge pairs per center with the degree carried along (the g7b
        // shape); the Dmax gate on it pushes below the generation, so no
        // hub wedge exists and volume stays n*Dmax*(Dmax-1)/2
        val wedges = Pairs.within(adj, Seq("c"), "n", ("ns", "u", "v"))
          .filter(col(Pairs.Size) <= 180L)
          .select(col("u"), col(Pairs.Size).as("dg"), col("v"))
        val sums = Seq(
          sum(when(col("dg") <= 100L, 1L).otherwise(0L)).as("ccn100"),
          sum(when(col("dg") <= 140L, 1L).otherwise(0L)).as("ccn140"),
          count(lit(1)).as("ccn180"))
        // raw-wedge repartition before the aggregate (the g7b note).
        // (r19 note: a single-pass 3 x topk_by(200) ungrouped aggregate
        // was tried in place of persist + 3 TakeOrdered and measured 2x
        // SLOWER — 63.9 s vs 32.6 s at sf0.1: the TypedImperativeAggregate
        // heap runs interpreted per row over the ~40M scored pairs while
        // TakeOrderedAndProject stays inside whole-stage codegen. The
        // persist shape stands.)
        val scored = wedges.select(key.of(col("u"), col("v")).as("pkey"), col("dg"))
          .repartition(parts, col("pkey"))
          .groupBy(col("pkey")).agg(sums.head, sums.tail: _*)
          .join(e.select(key.of(col("a"), col("b")).as("pkey")), Seq("pkey"), "left_anti")
          .persist() // ONE wedge pass feeds all three cap arms (the gate's shape)
        try {
          Seq("ccn100", "ccn140", "ccn180").map { ccn =>
            // (ccn desc, pkey) == (ccn desc, u, v); split after the limit
            scored.filter(col(ccn) > 0L)
              .orderBy(col(ccn).desc, col("pkey")).limit(200)
              .select(lit(ccn.drop(3).toLong).as("max_degree"),
                pu.as("u"), pv.as("v"), col(ccn).as("ccn"))
          }.reduce(_ unionAll _).localCheckpoint(true)
        } finally scored.unpersist()
      } finally e.unpersist()
    },

    // g8's PRODUCTION arm alone (the gate runs exact + sampled to
    // measure error; at scale only this runs): p=1/2 md5-threshold
    // edges -> triangle count -> exact 8x scale-up
    "g8x_sampled_only" -> { (s, d) =>
      val edges = coPurchasePairs(s, d).distinct()
      val keep = expr("cast(conv(substring(md5(concat('tri:', " +
        "cast(p1 as string), ':', cast(p2 as string))), 1, 1), 16, 10) " +
        "as int) < 8")
      graft.operators.Triangles.perNode(edges.filter(keep), "p1", "p2")
        .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("n_sampled"))
        .select(col("n_sampled"), (col("n_sampled") * 8).as("est"))
    }
  )
}
