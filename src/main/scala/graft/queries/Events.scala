package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Event-log operator coverage over the `events` table (event_id, ts,
  * user_id, event_type, value, props), checked against the DuckDB oracle:
  * tumbling-window aggregation, gap-based sessionization, JSON extraction.
  */
object Events extends QueryPack {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // hourly tumbling window x event_type. `hour` is cast to
    // TIMESTAMP_NTZ so the parquet output matches the oracle's
    // naive-microsecond timestamps (session TZ is UTC, so the cast is
    // value-preserving)
    "e1_hourly_by_type" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },

    // first-order Markov transition matrix over per-user event
    // sequences: one user-keyed window pass emits consecutive-pair
    // edges, one combinable count per (from, to), and the tiny
    // per-from totals broadcast back for exact ppm probabilities —
    // the "what happens next" model next to e25's fixed funnel
    "e27_markov_transitions" -> { (s, d) =>
      graft.operators.Markov.transitions(Tables.events(s, d),
        col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // trailing-7-day distinct actives per day (rolling DAU/WAU): the
    // sliding COUNT(DISTINCT) no SQL window expresses, rewritten as
    // distinct day-user pairs -> bounded 7-way contribution explode ->
    // distinct -> count; two pair-volume shuffles at any scale
    "e28_rolling_actives" -> { (s, d) =>
      graft.operators.Rolling.rollingDistinctDaily(Tables.events(s, d),
        col("ts"), col("user_id"), windowDays = 7)
        .orderBy(col("day_us"))
    },

    // e28's BOUNDED-STATE sibling: per-day HLL registers (days x 256,
    // user-cardinality-independent) rolled up with the e19b union-max
    // over each trailing 7-day window — the shuffle carries
    // days x 7 x 256 rows at ANY corpus size where e28's exploded
    // contribution volume grows with distinct actives. The gated
    // artifact is the integer windowed register table (the e19
    // posture); the derived estimate's error vs e28's exact counts is
    // spec-gated (HllSpec)
    "e28b_rolling_actives_hll" -> { (s, d) =>
      graft.operators.Rolling.rollingHllRegisters(Tables.events(s, d),
        col("ts"), col("user_id"), windowDays = 7)
        .orderBy(col("day_us"), col("bucket"))
    },

    // depth-8 integer EWMA (alpha=1/2) of the quantized event value per
    // user sequence: eight lag() reads of ONE user-keyed window pass,
    // all arithmetic BIGINT (floor-quantized — the one rounding both
    // engines agree on); NULL until a full depth of history exists.
    // The user filter selects WHOLE sequences, so it commutes with the
    // per-user window and Catalyst pushes it below the sort.
    "e29_ewma" -> { (s, d) =>
      graft.operators.Rolling.ewmaScaled(
        Tables.events(s, d).filter(col("user_id") % 7 === 0),
        col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1000).cast("long"), depth = 8)
        .orderBy(col("key"), col("tie"))
    },

    // e5's as-of join validated EXTERNALLY: the same engine plan, but
    // the oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
    // implementation of the semantics rather than our union-sort
    // restatement (e5 keeps that form; both must agree). Tie safety:
    // the corpus has no same-(user, ts) click pairs at any sweep scale,
    // so ASOF's single-match pick is deterministic.
    "e34_asof_native" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.operators.AsOf.joinPrior(
        left = ev.filter(col("event_type") === "purchase"),
        right = ev.filter(col("event_type") === "click"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        valueCol = "value", asofCol = "last_click_value")
        .select(col("event_id"), col("user_id"), col("last_click_value"))
        .orderBy(col("event_id"))
    },

    // PEAK CONCURRENCY (interval-overlap sweep line): each event opens
    // a 10-minute activity window; per day, the maximum number open at
    // once and the first instant attaining it — the capacity-planning
    // number. Global running level via the t20-style two-pass prefix
    // sum (range partitions + bases), never a single-partition window.
    "e33_peak_concurrency" -> { (s, d) =>
      val iv = Tables.events(s, d)
        .select(unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + lit(600000000L)).as("e_us"))
      graft.operators.Occupancy.peakDaily(iv, col("s_us"), col("e_us"))
        .orderBy(col("day_us"))
    },

    // sliding-window RATE audit (abuse detection): for each event, the
    // count of the same user's events in the trailing 60 seconds — a
    // RANGE frame over epoch seconds (numeric range, both engines) on
    // ONE user-keyed window pass; only flagged rows leave the engine
    "e32_rate_audit" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch"))
        .rangeBetween(-59L, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("epoch"))
        .withColumn("n_60s", count(lit(1)).over(w))
        .filter(col("n_60s") >= 3)
        .select(col("user_id"), col("event_id"), col("n_60s"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // top event-type TRIGRAM paths (sequential pattern mining's heavy
    // hitters, e27's order-3 sibling): two lead() reads of the same
    // user-keyed window pass emit each consecutive triple once, one
    // combinable count, TakeOrderedAndProject exit — never a per-user
    // collect or a cross-user window
    "e31_event_paths" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("t1"),
          lead(col("event_type"), 1).over(w).as("t2"),
          lead(col("event_type"), 2).over(w).as("t3"))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(15)
    },

    // exactly-once from at-least-once: the doubled event log (simulated
    // redelivery) collapsed by key. No arrival-order state is needed —
    // dropDuplicates keeps an arbitrary row per event_id, which is the
    // first arrival whenever redelivery is byte-identical (the
    // at-least-once contract; rows that DIFFER under one id are upstream
    // corruption to surface, not resolve). One key exchange; at 100 TB
    // this is the keys-not-log shuffle d1 uses. The aggregate hashes
    // per-type counts AND id sums so a surviving duplicate cannot cancel
    // out
    "e30_stream_dedup" -> { (s, d) =>
      val ev = Tables.events(s, d)
      ev.unionAll(ev).dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("event_type"))
    },

    // hourly top-3 trending event types: per hour, the 3 most frequent
    // types with deterministic (count desc, type asc) ranking. The
    // topk_by bounded-heap aggregate (q28's operator) runs on top of the
    // hourly count — the exchange carries hours x partitions x 3 rows,
    // never the full (hour, type) table through a sort
    "e12_top_types" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("hour"))
        .agg(graft.functions.GraftFunctions.topk_by(
          struct((-col("n")).as("nn"), col("event_type")),
          struct(col("event_type"), col("n")), 3).as("top"))
        .select(col("hour"), posexplode(col("top")).as(Seq("rnk0", "r")))
        .select(col("hour"), (col("rnk0") + 1).cast("long").as("rnk"),
          col("r.event_type").as("event_type"), col("r.n").as("n"))
        .orderBy(col("hour"), col("rnk"))
    },

    // trailing-window volume anomalies: the exact integer z-test
    // (n*c - s)^2 > z^2*(c*q - s^2) over the previous 24 observed hours
    // per type — no float anywhere, bit-reproducible
    "e13_count_anomalies" -> { (s, d) =>
      graft.operators.Anomaly.trailingCountAnomalies(
        Tables.events(s, d), "ts", "event_type")
        .orderBy(col("hour"), col("event_type"))
    },

    // weekly retention cohorts: users bucketed by first-seen week, the
    // distinct-user count per (cohort, weeks-since) cell — two combinable
    // aggregates and one user-keyed join, all integer arithmetic
    "e14_retention_cohorts" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val firstWeek = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), date_trunc("week", col("first_ts")).as("cohort"))
      val activity = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      activity.join(firstWeek, Seq("user_id"))
        .withColumn("weeks_since", (datediff(col("wk"), col("cohort")) / 7).cast("long"))
        .groupBy(col("cohort").cast("timestamp_ntz").as("cohort_week"), col("weeks_since"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    },

    // dimension-enriched hourly counts: events join the customer
    // dimension on user_id and aggregate per (hour, market segment). The
    // dimension is genuinely fixed-size relative to the event log, so it
    // broadcasts
    "e15_enriched_hourly" -> { (s, d) =>
      Tables.events(s, d)
        .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
          col("user_id") === col("c_custkey"))
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .orderBy(col("hour"), col("segment"))
    },

    // per-session rows via Spark's NATIVE dynamic-gap session_window: one
    // row per (user, session) with the session's start and event count —
    // the built-in sibling of e2's per-user totals, with window merging
    // left to the planner. Boundary semantics: an event at exactly the
    // 30-minute gap after its predecessor STARTS a new session (the
    // window extends [ts, ts+gap))
    "e16_session_windows" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("sw.start").cast("timestamp_ntz").as("sess_start"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    },

    // per-type inter-arrival latency profile: exact median/p95 of the
    // second-granularity gaps between consecutive events of a user —
    // the dwell/cadence analytic (lag window + exact percentiles over
    // integer diffs, the q23 machinery)
    "e18_interarrival_stats" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("gap_s",
          (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
            .cast("long"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile(gap_s, 0.5)").as("p50_gap_s"),
          expr("percentile(gap_s, 0.95)").as("p95_gap_s"))
        .orderBy(col("event_type"))
    },

    // HLL distinct-user registers per event type: the sketch ITSELF is
    // the gated artifact — every register an integer from the engine's
    // FNV-1a stream (the d3/d4 kernel the oracle already restates), the
    // corpus pass one combinable max aggregate whose exchange carries
    // types x 256 rows regardless of user cardinality. Accuracy of the
    // derived estimate is spec-gated (HllSpec); the float estimate is
    // deliberately not oracle-compared (sum order is engine-chosen).
    "e19_hll_registers" -> { (s, d) =>
      graft.operators.Hll.registers(
        Tables.events(s, d), Seq("event_type"), col("user_id"))
        .orderBy(col("event_type"), col("bucket"))
    },

    // TIME-BUCKETED registers (the windowed-analytics form of e19):
    // distinct users per (hour, type) as one combinable sketch pass —
    // the exchange carries hours x types x 256 rows, mergeable across
    // days by construction (e19b's union-max applies unchanged)
    // the WINDOWED funnel: each stage must land within 2 hours of the
    // previous one (the attribution-window form) — conversion drops
    // where e25's unbounded funnel still counts
    "e26_funnel_windowed" -> { (s, d) =>
      graft.operators.Funnel.stages(Tables.events(s, d),
        "user_id", "event_type", "ts",
        steps = Seq("view", "click", "purchase"),
        maxGapSeconds = Some(7200L))
        .withColumnRenamed("user", "user_id")
        .orderBy(col("user_id"))
    },

    // ordered funnel view -> click -> purchase: per user, each stage's
    // earliest time STRICTLY AFTER the previous stage's — an aggregate
    // chain (one combinable min per stage on one reused user
    // partitioning), never a per-user event sort
    "e25_funnel" -> { (s, d) =>
      graft.operators.Funnel.stages(Tables.events(s, d),
        "user_id", "event_type", "ts",
        steps = Seq("view", "click", "purchase"))
        .withColumnRenamed("user", "user_id")
        .orderBy(col("user_id"))
    },

    // TIME-BUCKETED CMS: one register grid per hour (e22's HLL pattern
    // for frequencies) — per-hour event-type frequency estimates whose
    // state is hours x depth x width, each hour's grid independently
    // mergeable with the t44b union-sum
    "e24_hourly_countmin" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("hr", unix_micros(date_trunc("hour", col("ts"))))
      graft.operators.CountMin.registersGroupedOver(
        ev.select(col("hr"), col("event_type")), Seq("hr"),
        col("event_type"), depth = 4, width = 64)
        .orderBy(col("hr"), col("r"), col("b"))
    },

    // CMS registers over event types: one combinable count whose shuffle
    // is bounded at depth x width
    "e23_event_countmin" -> { (s, d) =>
      graft.operators.CountMin.registersOver(
        Tables.events(s, d).select(col("event_type")), col("event_type"),
        depth = 4, width = 64)
        .orderBy(col("r"), col("b"))
    },

    "e22_hourly_hll" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("hr", unix_micros(date_trunc("hour", col("ts"))))
      graft.operators.Hll.registers(ev, Seq("hr", "event_type"), col("user_id"))
        .orderBy(col("hr"), col("event_type"), col("bucket"))
    },

    // CROSS-SHARD register merge: two disjoint event shards build their
    // registers independently, merge via union + the same max aggregate,
    // and must equal the single-pass registers — the "mergeable by
    // construction" claim under the hash gate (the oracle IS e19's
    // single-pass SQL; equality of hashes is the merge property)
    "e19b_hll_merge" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val a = graft.operators.Hll.registers(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), col("user_id"))
      val b = graft.operators.Hll.registers(
        ev.filter(col("event_id") % 2 =!= 0), Seq("event_type"), col("user_id"))
      graft.operators.Hll.merge(Seq("event_type"), Seq(a, b))
        .orderBy(col("event_type"), col("bucket"))
    },

    // SCD TYPE-2 interval build (the classic warehouse dimension shape):
    // each user's event_type attribute becomes validity intervals —
    // change rows open a segment (lag-inequality flag), lead() closes it
    // (NULL = current). Timestamps leave as epoch micros so the compare
    // is integer-exact; per-user windows only, no global partition.
    "e21_scd2_intervals" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val segs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      segs
        .withColumn("valid_to", unix_micros(lead(col("ts"), 1).over(w)))
        .select(col("user_id"), col("event_id").as("seg_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from"), col("valid_to"))
        .orderBy(col("user_id"), col("valid_from"), col("seg_id"))
    },

    // gap-based sessionization: a session ends after 30 minutes of user
    // inactivity (lag + running flag sum)
    "e2_sessionization" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > expr("INTERVAL '30' MINUTE"), 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    // JSON property extraction + aggregation (props is a JSON string)
    "e3_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // as-of join: each purchase attached to the user's most recent
    // at-or-before click value (graft.operators.AsOf — window composition,
    // no range cross-product)
    "e5_asof_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.operators.AsOf.joinPrior(
        left = ev.filter(col("event_type") === "purchase"),
        right = ev.filter(col("event_type") === "click"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        valueCol = "value", asofCol = "last_click_value")
        .select(col("event_id"), col("user_id"), col("last_click_value"))
        .orderBy(col("event_id"))
    },

    // forward as-of: for each click, the value of the user's NEXT
    // purchase at-or-after it (merge_asof forward; same one-window
    // composition as e5 with the frame reversed)
    "e17_asof_next" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.operators.AsOf.joinNext(
        left = ev.filter(col("event_type") === "click"),
        right = ev.filter(col("event_type") === "purchase"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        valueCol = "value", asofCol = "next_purchase_value")
        .select(col("event_id"), col("user_id"), col("next_purchase_value"))
        .orderBy(col("event_id"))
    },

    // per-user conditional event counts (funnel-style)
    "e4_user_funnel" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
        .filter(col("n_views") > 0)
        .orderBy(col("user_id"))
    },

    // left-outer attribution: EVERY purchase appears — with its
    // in-window clicks, or with a NULL click_id when none preceded it
    // (the "unattributed conversion" gap report e6's inner join cannot
    // express). Same equi+range plan shape as e6
    "e20_attribution_gaps" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      p.join(c, expr(
        "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 hour AND p_ts"),
        "left_outer")
        .select(col("purchase_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    },

    // click->purchase attribution: every (purchase, click) pair for the
    // same user with the click in the hour before (inclusive) the
    // purchase. Equality join on user_id with the time bound as a
    // post-join range filter — Spark plans a hash/SMJ on user_id, never a
    // cross product
    "e6_attribution_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      p.join(c, "user_id")
        .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    },

    // hopping (sliding) window counts: 1-hour windows every 30 minutes,
    // each event contributing to two windows (Spark's window() is usable
    // in batch plans directly)
    "e9_hopping_counts" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    },

    // time-series densification (gap fill): the hourly event counts of e1
    // re-gridded onto the complete hour range per event_type, missing
    // hours filled with zero — the resampling step before any windowed
    // model sees the series. sequence() generates the grid (one row per
    // type, exploded), the observed counts LEFT-join onto it; at scale
    // the grid side is |types| x |hours| rows, trivially broadcastable.
    "e8_gap_fill" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val grid = bounds
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
        .crossJoin(ev.select(col("event_type")).distinct())
      grid.join(hourly, Seq("hour", "event_type"), "left")
        .select(col("hour").cast("timestamp_ntz").as("hour"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hour"), col("event_type"))
    },

    // keyLESS interval-containment join (RangeJoin.bucketed): every
    // purchase inside ANY error's 30-minute aftermath window — no user
    // equi-key exists, so a naive theta join is a BroadcastNestedLoop/
    // cartesian (PlanShapeSpec pins that ours is not); the bucket
    // rewrite makes it a shuffled equi-join on the time bin
    "e10_range_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val win = 30L * 60 * 1000000 // 30 min in micros
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), unix_micros(col("ts")).as("p_us"))
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), unix_micros(col("ts")).as("lo_us"),
          (unix_micros(col("ts")) + win).as("hi_us"))
      graft.operators.RangeJoin.bucketed(purchases, windows,
        "p_us", "lo_us", "hi_us", bucketWidth = win)
        .select(col("error_id"), col("purchase_id"))
        .orderBy(col("error_id"), col("purchase_id"))
    },

    // CDC compaction: newest event per user via Compact.latestByKey —
    // a map-side-combinable max_by aggregate, not a window sort, so the
    // exchange carries one candidate per (key, partition) instead of
    // the full version log
    "e11_latest_by_key" -> { (s, d) =>
      graft.operators.Compact.latestByKey(Tables.events(s, d),
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"),
          // timestamp_ntz for the dump, like every ts-bearing e-query:
          // session TZ is UTC so the wall-clock value is unchanged, and
          // the parquet annotation matches the oracle's TIMESTAMP unit
          col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
        .orderBy(col("user_id"))
    },

    // cohort aggregation through the SALTED join (Skew.saltedJoin):
    // fact rows scatter across `salts` replicas of the per-user dim so a
    // hot user cannot straggle one task — semantics equal the plain
    // inner join, which is exactly what the oracle states.
    "e7_salted_cohort" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val firstSeen = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
      graft.operators.Skew.saltedJoin(ev, firstSeen, "user_id", salts = 8)
        .groupBy(date_trunc("day", col("first_ts")).cast("timestamp_ntz").as("cohort_day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_value"))
        .orderBy(col("cohort_day"))
    }
  )

  def sql: Map[String, String] = Map(
    // the identical lead window under the identical total ordering;
    // probabilities as exact integer parts-per-million on both sides
    "e27_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |tr AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, SUM(n) AS t FROM tr GROUP BY 1)
        |SELECT from_type, to_type, n,
        |  CAST(n * 1000000 // t AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // the declarative restatement: per existing day, distinct users
    // active in the trailing 7-day interval (DuckDB can afford the
    // range join at oracle scale; the engine's explode rewrite must
    // equal it exactly)
    "e28_rolling_actives" ->
      """WITH du AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM du),
        |w AS (
        |  SELECT days.d, COUNT(DISTINCT du.user_id) AS dau_w
        |  FROM days JOIN du
        |    ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        |  GROUP BY 1),
        |d1 AS (SELECT d, COUNT(*) AS dau1 FROM du GROUP BY 1)
        |SELECT epoch_us(d1.d) AS day_us, dau1, dau_w
        |FROM d1 JOIN w ON d1.d = w.d
        |ORDER BY day_us""".stripMargin,

    // eight lag() reads of the same window restate the depth-8 smoother;
    // NULL propagation through + gives the warmup contract for free
    "e29_ewma" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(FLOOR(value * 1000) AS BIGINT) AS vq
        |  FROM events WHERE user_id % 7 = 0)
        |SELECT user_id AS key, event_id AS tie,
        |  lag(vq, 0) OVER w * 128 + lag(vq, 1) OVER w * 64
        |  + lag(vq, 2) OVER w * 32 + lag(vq, 3) OVER w * 16
        |  + lag(vq, 4) OVER w * 8 + lag(vq, 5) OVER w * 4
        |  + lag(vq, 6) OVER w * 2 + lag(vq, 7) OVER w * 1 AS ewma_s
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY key, tie""".stripMargin,

    "e34_asof_native" ->
      """SELECT p.event_id, p.user_id, c.value AS last_click_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // the same sweep: closing deltas before opening ones at an instant
    // (delta asc), the default RANGE frame reading the level after the
    // whole peer group — the [start, end) instantaneous level
    "e33_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT epoch_us(ts) AS s_us, epoch_us(ts) + 600000000 AS e_us
        |  FROM events),
        |d AS (
        |  SELECT s_us AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL SELECT e_us, -1 FROM iv),
        |r AS (
        |  SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta) AS BIGINT) AS run
        |  FROM d),
        |g AS (SELECT t - t % 86400000000 AS day_us, t, run FROM r),
        |p AS (SELECT day_us, MAX(run) AS peak FROM g GROUP BY 1)
        |SELECT g.day_us, p.peak, MIN(g.t) AS at_us
        |FROM g JOIN p ON g.day_us = p.day_us AND g.run = p.peak
        |GROUP BY g.day_us, p.peak
        |ORDER BY g.day_us""".stripMargin,

    // the same RANGE frame over floor-of-epoch seconds (tied seconds
    // are peers in a RANGE frame on both engines — that is why the
    // frame is RANGE, not ROWS)
    "e32_rate_audit" ->
      """SELECT user_id, event_id, n_60s FROM (
        |  SELECT user_id, event_id,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS n_60s
        |  FROM events) x
        |WHERE n_60s >= 3
        |ORDER BY user_id, event_id""".stripMargin,

    "e31_event_paths" ->
      """SELECT t1, t2, t3, COUNT(*) AS n FROM (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) x
        |WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3
        |LIMIT 15""".stripMargin,

    "e30_stream_dedup" ->
      """WITH doubled AS (
        |  SELECT * FROM events UNION ALL SELECT * FROM events),
        |deduped AS (SELECT DISTINCT * FROM doubled)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |  COUNT(DISTINCT user_id) AS users
        |FROM deduped GROUP BY 1
        |ORDER BY event_type""".stripMargin,

    "e1_hourly_by_type" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour, event_type""".stripMargin,

    // the ROW_NUMBER statement the bounded heap must equal
    "e12_top_types" ->
      """SELECT hour, rnk, event_type, n FROM (
        |  SELECT hour, event_type, n,
        |    ROW_NUMBER() OVER (PARTITION BY hour
        |      ORDER BY n DESC, event_type ASC) AS rnk
        |  FROM (
        |    SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
        |    FROM events
        |    GROUP BY 1, 2) c) t
        |WHERE rnk <= 3
        |ORDER BY hour, rnk""".stripMargin,

    // same hourly pre-aggregate, same ROWS frame, same integer z-test
    "e13_count_anomalies" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT hour, event_type, n,
        |    COUNT(n) OVER w AS base_cnt,
        |    COALESCE(SUM(n) OVER w, 0) AS base_sum,
        |    COALESCE(SUM(n * n) OVER w, 0) AS base_sq
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT hour, event_type, n, CAST(base_cnt AS BIGINT) AS base_cnt,
        |  base_cnt >= 8 AND
        |    (n * base_cnt - base_sum) * (n * base_cnt - base_sum)
        |      > 4 * (base_cnt * base_sq - base_sum * base_sum) AS flag
        |FROM b
        |ORDER BY hour, event_type""".stripMargin,

    // same two aggregates + join; weeks_since the same exact day-diff // 7
    "e14_retention_cohorts" ->
      """WITH fw AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
        |SELECT fw.cohort AS cohort_week,
        |  CAST(date_diff('day', fw.cohort, act.wk) // 7 AS BIGINT) AS weeks_since,
        |  COUNT(DISTINCT act.user_id) AS n_users
        |FROM act JOIN fw USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_week, weeks_since""".stripMargin,

    "e15_enriched_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, c_mktsegment AS segment,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2
        |ORDER BY hour, segment""".stripMargin,

    // gaps-and-islands with the session_window boundary rule: an event
    // exactly `gap` after its predecessor STARTS a new session (>=)
    "e16_session_windows" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM o)
        |SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n_events
        |FROM s
        |GROUP BY user_id, sess
        |ORDER BY user_id, sess_start""".stripMargin,

    // gaps as integer micros floor-divided to seconds (the exact
    // unix_timestamp arithmetic), exact interpolated percentiles (q23)
    "e18_interarrival_stats" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 1000000)
        |      - (epoch_us(lag(ts) OVER w) // 1000000) AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |               ORDER BY ts ASC, event_id ASC))
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  quantile_cont(gap_s, 0.5) AS p50_gap_s,
        |  quantile_cont(gap_s, 0.95) AS p95_gap_s
        |FROM g
        |WHERE gap_s IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the same FNV+splitmix stream (SketchSql.FnvSql + mixLayerCtes over
    // the stringified id), top-8-bit bucket, 57 - bitlength(remaining 56
    // bits) rho; DISTINCT first is a pure optimization (max over
    // duplicates is unchanged)
    "e19_hll_registers" ->
      s"""WITH v AS (
         |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS s FROM events),
         |h AS (SELECT event_type, ${SketchSql.FnvSql} AS z FROM v),
         |${SketchSql.mixLayerCtes("h", Seq("event_type"))},
         |r AS (
         |  SELECT event_type,
         |    CAST(u >> 56 AS INT) AS bucket,
         |    CASE WHEN (u & 72057594037927935) = 0 THEN 57
         |         ELSE 57 - len(bin(CAST(u & 72057594037927935 AS BIGINT))) END AS rho
         |  FROM hmu)
         |SELECT event_type, bucket, CAST(MAX(rho) AS INT) AS max_rho
         |FROM r GROUP BY 1, 2
         |ORDER BY event_type, bucket""".stripMargin,

    // e19's register chain keyed by day, then the trailing-window
    // union-max per report day (a range join DuckDB affords at oracle
    // scale; the engine's bounded explode must equal it exactly)
    "e28b_rolling_actives_hll" ->
      s"""WITH du AS (
         |  SELECT DISTINCT date_trunc('day', ts) AS d,
         |    CAST(user_id AS VARCHAR) AS s FROM events),
         |h AS (SELECT d, ${SketchSql.FnvSql} AS z FROM du),
         |${SketchSql.mixLayerCtes("h", Seq("d"))},
         |r AS (
         |  SELECT d,
         |    CAST(u >> 56 AS INT) AS bucket,
         |    CASE WHEN (u & 72057594037927935) = 0 THEN 57
         |         ELSE 57 - len(bin(CAST(u & 72057594037927935 AS BIGINT))) END AS rho
         |  FROM hmu),
         |pd AS MATERIALIZED (
         |  SELECT d, bucket, MAX(rho) AS mr FROM r GROUP BY 1, 2),
         |days AS (SELECT DISTINCT d FROM pd)
         |SELECT epoch_us(days.d) AS day_us, pd.bucket,
         |  CAST(MAX(pd.mr) AS INT) AS max_rho
         |FROM pd JOIN days
         |  ON pd.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
         |GROUP BY 1, 2
         |ORDER BY day_us, bucket""".stripMargin,

    // the e19 stream keyed by (hour, type); epoch-micros hours
    // the identical chain with the 2-hour inclusive window per stage
    "e26_funnel_windowed" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 7200 SECOND
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |    AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 7200 SECOND
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT v.user_id,
        |  CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached,
        |  epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us, epoch_us(t3) AS t3_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // the identical stage chain: strict-after mins, left-joined stages
    "e25_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT v.user_id,
        |  CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached,
        |  epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us, epoch_us(t3) AS t3_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // per-hour token counts through the identical register arithmetic,
    // hr carried through the mix layers
    "e24_hourly_countmin" ->
      s"""WITH et AS (
         |  SELECT epoch_us(date_trunc('hour', ts)) AS hr, event_type AS s
         |  FROM events),
         |hc AS MATERIALIZED (SELECT hr, s, COUNT(*) AS c FROM et GROUP BY 1, 2),
         |hf AS (SELECT hr, c, ${SketchSql.FnvSql} AS h FROM hc),
         |hrs AS (SELECT hr, c, g.r AS r, xor(h, ${SketchSql.cmSeedSql("g.r")}) AS z
         |        FROM hf CROSS JOIN generate_series(0, 3) AS g(r)),
         |${SketchSql.mixLayerCtes("hrs", Seq("hr", "c", "r"))}
         |SELECT hr, CAST(r AS BIGINT) AS r, CAST((u >> 1) % 64 AS BIGINT) AS b,
         |  CAST(SUM(c) AS BIGINT) AS cnt
         |FROM hrsmu GROUP BY 1, 2, 3
         |ORDER BY hr, r, b""".stripMargin,

    // the t44 register grid over event types (CountMin.registersOver)
    "e23_event_countmin" ->
      s"""WITH ${SketchSql.cmRegisterCtesFrom("ec", 4, 64,
             "SELECT event_type AS s FROM events")}
         |SELECT r, b, cnt FROM ecregs ORDER BY r, b""".stripMargin,

    "e22_hourly_hll" ->
      s"""WITH v AS (
         |  SELECT DISTINCT epoch_us(date_trunc('hour', ts)) AS hr, event_type,
         |    CAST(user_id AS VARCHAR) AS s
         |  FROM events),
         |h AS (SELECT hr, event_type, ${SketchSql.FnvSql} AS z FROM v),
         |${SketchSql.mixLayerCtes("h", Seq("hr", "event_type"))},
         |r AS (
         |  SELECT hr, event_type,
         |    CAST(u >> 56 AS INT) AS bucket,
         |    CASE WHEN (u & 72057594037927935) = 0 THEN 57
         |         ELSE 57 - len(bin(CAST(u & 72057594037927935 AS BIGINT))) END AS rho
         |  FROM hmu)
         |SELECT hr, event_type, bucket, CAST(MAX(rho) AS INT) AS max_rho
         |FROM r GROUP BY 1, 2, 3
         |ORDER BY hr, event_type, bucket""".stripMargin,

    // deliberately the SAME single-pass SQL: union-max of the two
    // shards' registers must hash-equal one pass over the whole corpus
    "e19b_hll_merge" ->
      s"""WITH v AS (
         |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS s FROM events),
         |h AS (SELECT event_type, ${SketchSql.FnvSql} AS z FROM v),
         |${SketchSql.mixLayerCtes("h", Seq("event_type"))},
         |r AS (
         |  SELECT event_type,
         |    CAST(u >> 56 AS INT) AS bucket,
         |    CASE WHEN (u & 72057594037927935) = 0 THEN 57
         |         ELSE 57 - len(bin(CAST(u & 72057594037927935 AS BIGINT))) END AS rho
         |  FROM hmu)
         |SELECT event_type, bucket, CAST(MAX(rho) AS INT) AS max_rho
         |FROM r GROUP BY 1, 2
         |ORDER BY event_type, bucket""".stripMargin,

    // the identical change-flag + lead closure; epoch micros both sides
    "e21_scd2_intervals" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT * FROM m WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_id AS seg_id, event_type,
        |  epoch_us(ts) AS valid_from,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to
        |FROM s
        |ORDER BY user_id, valid_from, seg_id""".stripMargin,

    "e2_sessionization" ->
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |            > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events) t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // the plain theta join the bucket rewrite must equal (DuckDB's IEJoin
    // executes it directly); inclusive on both window ends
    "e10_range_join" ->
      """SELECT e.event_id AS error_id, p.event_id AS purchase_id
        |FROM events e JOIN events p
        |  ON e.event_type = 'error' AND p.event_type = 'purchase'
        | AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 30 MINUTE
        |ORDER BY error_id, purchase_id""".stripMargin,

    // the ROW_NUMBER statement of "newest version per key"; (ts,
    // event_id) is a total order so both formulations pick one winner
    "e11_latest_by_key" ->
      """SELECT user_id, event_id, ts, event_type
        |FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "e9_hopping_counts" ->
      """WITH e2 AS (
        |  SELECT event_type,
        |    unnest([time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
        |            time_bucket(INTERVAL 30 MINUTE, ts)]) AS win_start
        |  FROM events)
        |SELECT win_start, event_type, COUNT(*) AS n
        |FROM e2
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,

    "e8_gap_fill" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        |  FROM events),
        |grid AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour, t.event_type
        |  FROM bounds, (SELECT DISTINCT event_type FROM events) t)
        |SELECT g.hour, g.event_type,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN hourly h
        |  ON g.hour = h.hour AND g.event_type = h.event_type
        |ORDER BY g.hour, g.event_type""".stripMargin,

    "e7_salted_cohort" ->
      """WITH fs AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id)
        |SELECT date_trunc('day', fs.first_ts) AS cohort_day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN fs ON e.user_id = fs.user_id
        |GROUP BY 1
        |ORDER BY cohort_day""".stripMargin,

    "e3_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n_k, MAX(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events) t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "e6_attribution_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,

    // NULL and non-NULL click_id never share a purchase_id (an
    // unmatched purchase has exactly one row), so the engines' opposite
    // NULL-sort defaults cannot reorder rows
    "e20_attribution_gaps" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p LEFT JOIN events c ON c.user_id = p.user_id
        |  AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, click_id""".stripMargin,

    "e5_asof_join" ->
      """SELECT event_id, user_id, last_click_value FROM (
        |  SELECT event_id, user_id, is_left,
        |    last_value(rv IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts ASC, is_left ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
        |  FROM (
        |    SELECT event_id, ts, user_id, 1 AS is_left, CAST(NULL AS DOUBLE) AS rv
        |    FROM events WHERE event_type = 'purchase'
        |    UNION ALL
        |    SELECT event_id, ts, user_id, 0 AS is_left, value AS rv
        |    FROM events WHERE event_type = 'click') u) t
        |WHERE is_left = 1
        |ORDER BY event_id""".stripMargin,

    "e17_asof_next" ->
      """SELECT event_id, user_id, next_purchase_value FROM (
        |  SELECT event_id, user_id, is_left,
        |    first_value(rv IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts ASC, is_left DESC, event_id ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_value
        |  FROM (
        |    SELECT event_id, ts, user_id, 1 AS is_left, CAST(NULL AS DOUBLE) AS rv
        |    FROM events WHERE event_type = 'click'
        |    UNION ALL
        |    SELECT event_id, ts, user_id, 0 AS is_left, value AS rv
        |    FROM events WHERE event_type = 'purchase') u) t
        |WHERE is_left = 1
        |ORDER BY event_id""".stripMargin,

    "e4_user_funnel" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |FROM events
        |GROUP BY user_id
        |HAVING SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
        |ORDER BY user_id""".stripMargin
  )
}
