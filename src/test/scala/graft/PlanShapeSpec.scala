package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the flagship queries: PLANS.md
  * documents the intended shapes; these asserts keep later edits from
  * silently regressing them (e.g. a refactor that breaks the
  * TakeOrderedAndProject pattern into a global sort, or loses the
  * region/nation broadcasts to shuffle joins).
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.sfDir

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def assertNoShuffle(plan: String, label: String): Unit =
    for (marker <- Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
        "Exchange SinglePartition"))
      assert(!plan.contains(marker), s"$label grew a shuffle ($marker):\n$plan")

  test("v1 kNN: per-partition top-k heaps, zero corpus shuffle") {
    val plan = planOf("v1_knn_top10")
    assert(plan.contains("TakeOrderedAndProject"), s"v1 lost TakeOrderedAndProject:\n$plan")
    assertNoShuffle(plan, "v1")
  }

  test("v1w widened kNN keeps the v1 shape at 1024-dim: top-k heaps, zero corpus shuffle") {
    val plan = graft.queries.Vectors.benchDefs("v1w_knn_1024")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"v1w lost TakeOrderedAndProject:\n$plan")
    assertNoShuffle(plan, "v1w")
  }

  test("x1 reference search: top-k heaps + broadcast join only, zero corpus shuffle") {
    val plan = planOf("x1_reference_search")
    assert(plan.contains("TakeOrderedAndProject"), s"x1 lost TakeOrderedAndProject:\n$plan")
    assertNoShuffle(plan, "x1")
  }

  test("q5 five-way join: region and nation arrive broadcast, not shuffled") {
    val plan = planOf("q5_nation_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"q5 expected >=2 broadcast joins, got $broadcasts:\n$plan")
  }

  test("s1 point-in-polygon: derived envelope conjuncts survive optimization") {
    val df = SparkEntry.queries("s1_point_in_rect")(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains(">=") && optimized.contains("<="),
      s"s1 lost the derived envelope conjuncts:\n$optimized")
    assert(optimized.contains("st_intersects"),
      s"s1 must retain the exact JTS predicate:\n$optimized")
  }

  test("s3 radius query: derived bbox conjuncts survive optimization (row-reducing pre-filter)") {
    val df = SparkEntry.queries("s3_within_distance")(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains(">=") && optimized.contains("<="),
      s"s3 lost the derived bbox range conjuncts:\n$optimized")
    assert(optimized.contains("st_distance"),
      s"s3 must retain the exact JTS predicate:\n$optimized")
  }

  test("s8 polygon overlap join: shuffled equi-join on the cell id, never a nested loop") {
    val plan = planOf("s8_polygon_overlap_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"s8 must not nest-loop:\n$plan")
    assert(plan.contains("st_intersects"),
      s"s8 must retain the exact JTS refine on the candidates:\n$plan")
  }

  test("v5 centroids: one vector_centroid buffer per label, no posexplode before the aggregate") {
    val plan = planOf("v5_label_centroids")
    assert(plan.contains("vector_centroid"), s"v5 lost the typed aggregate:\n$plan")
    // the explode to (label, pos) rows must sit ABOVE the aggregate — a
    // posexplode below it would restore the rows x dim shuffle
    val aggIdx = plan.indexOf("ObjectHashAggregate")
    val explodeIdx = plan.indexOf("Generate posexplode")
    assert(aggIdx >= 0, s"v5 expected ObjectHashAggregate:\n$plan")
    assert(explodeIdx >= 0 && explodeIdx < aggIdx,
      s"v5 explode must be above (planned before) the aggregate:\n$plan")
  }

  test("v3w/v5w keep their 64-dim shapes at 1024-dim: no cross product; buffer-per-label aggregate") {
    val v3w = graft.queries.Vectors.benchDefs("v3w_knn_join_1024")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!v3w.contains("CartesianProduct"), s"v3w grew a cross product:\n$v3w")
    assert(v3w.contains("MapPartitions"), s"v3w lost the bounded-heap partials:\n$v3w")
    val v5w = graft.queries.Vectors.benchDefs("v5w_centroids_1024")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val aggIdx = v5w.indexOf("ObjectHashAggregate")
    val explodeIdx = v5w.indexOf("Generate posexplode")
    assert(aggIdx >= 0 && explodeIdx >= 0 && explodeIdx < aggIdx,
      s"v5w lost the buffer-per-label aggregate shape:\n$v5w")
  }

  test("d5 contamination: the eval shingle universe arrives broadcast") {
    val plan = planOf("d5_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"d5 lost the broadcast eval-universe join:\n$plan")
  }

  test("knnJoinApprox hot-centroid skew: AQE splits the skewed bucket partition") {
    // The 100 TB claim assumes the bucket-keyed shuffle join tolerates a
    // hot centroid (bucket sizes follow the data distribution). Build a
    // corpus where ~94% of vectors share one direction -> one bucket
    // holds almost everything, lower the AQE skew thresholds so the hot
    // partition qualifies at spec scale, force the non-broadcast path,
    // and assert the ADAPTIVE plan actually performed the skew split —
    // documentation-by-test that no shape in knnJoinApprox (window
    // included) blocks OptimizeSkewedJoin.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dim = 16
    val corpus = (0 until 4000).map { i =>
      val v = new Array[Float](dim)
      if (i % 16 == 0) { v(i % dim) = 1f }                   // spread minority
      else { v(0) = 1f; v(1 + i % (dim - 1)) = 0.05f }       // hot direction
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") % 100 === 0)
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val idx = graft.operators.Ivf.build(corpus, "vec_id", "embedding",
        nlist = 4, iters = 3, sampleSize = 100000)
      val joined = graft.operators.Ivf.knnJoinApprox(idx, probes,
        "vec_id", "embedding", k = 3, nprobe = 1)
      val rows = joined.collect()
      assert(rows.nonEmpty)
      // the FINAL adaptive plan carries the skew marker on the join
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"hot-centroid join did not skew-split under AQE:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("t18 BM25: one token-stream aggregation, stats branch reuses its exchange at runtime") {
    val df = SparkEntry.queries("t18_bm25_search")(spark, sfDir)
    df.collect() // AQE dedupes identical shuffle stages during execution
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Checkpoint"), s"tokenize pass must not materialize:\n$plan")
    // the per-doc conditional aggregation shuffles once; the 1-row stats
    // branch rides the SAME shuffle stage (reused, not recomputed)
    assert(plan.contains("ReusedExchange") ||
      "Scan parquet".r.findAllIn(plan).size == 1,
      s"expected the stats branch to reuse the per-doc aggregation exchange:\n$plan")
  }

  test("g2 triangles: wedges generate from adjacency arrays, oriented subtree exchanges reused") {
    val df = SparkEntry.queries("g2_triangles")(spark, sfDir)
    df.collect() // AQE exchange reuse materializes during execution
    val plan = df.queryExecution.executedPlan.toString
    // r19 shape: wedges come from per-pivot sorted adjacency arrays
    // (groupBy + posexplode/slice), NOT a self-join of the oriented
    // edges — the closing join is the only join fed by wedge volume,
    // and the duplicated oriented subtree (adjacency groupBy + closing
    // side) still shares its internal exchanges at runtime
    assert(plan.contains("ReusedExchange"),
      s"expected the duplicated oriented-edge subtree to reuse exchanges:\n$plan")
    assert(plan.contains("posexplode"),
      s"expected array-generated wedges (posexplode), got:\n$plan")
  }

  test("promoted kernels compile to direct static calls in generated code") {
    // the round-3 promotion replaced CodegenFallback's boxed
    // references[i].eval(row) with a static kernel call — assert the
    // generated code actually contains it, per hot query
    import org.apache.spark.sql.execution.ExplainMode
    // AQE leaves the codegen explain empty until execution; turn it off
    // just for this plan derivation
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    def codegenOf(name: String): String =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("codegen"))
    try {
      spark.conf.set(key, "false")
      assert(codegenOf("t5_shingle_stats").contains("graft.functions.WordShingles.compute"))
      assert(codegenOf("t8_rolling_fp").contains("graft.functions.RollingHash64.compute"))
      assert(codegenOf("t2_quality_score").contains("graft.functions.QualityScore.compute"))
    } finally spark.conf.set(key, prev)
  }

  test("t35/m7 per-row gates: the only exchange is the output sort") {
    for (q <- Seq("t35_line_repetition", "m7_gif_pixels")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q grew a hash shuffle:\n$plan")
      assert(plan.contains("Exchange rangepartitioning"), s"$q output sort")
    }
  }

  test("t37 chunk manifest runs on the native kernel inside codegen") {
    val plan = planOf("t37_cdc_chunks")
    assert(plan.contains("cdc_chunks"), s"native kernel expected:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  test("t38 scoring join arrives broadcast; the stats branch never re-shuffles text") {
    val plan = planOf("t38_importance_weights")
    assert(plan.contains("BroadcastHashJoin"), s"bucket table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge anywhere:\n$plan")
  }

  test("s9 kNN-within join: grid equi-join + bounded heap, never a nested loop") {
    val plan = planOf("s9_knn_within_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"s9 must never nested-loop:\n$plan")
    assert(plan.contains("topk_by"), s"bounded per-probe heap expected:\n$plan")
  }

  test("e19 registers: one combinable aggregate pair, types x 256 exchange") {
    val plan = planOf("e19_hll_registers")
    assert(!plan.contains("SortAggregate"), s"hash aggregate expected:\n$plan")
    assert(!plan.contains("Generate"), s"no explode in the register path:\n$plan")
  }

  test("x4 neural embed-search: scan -> forward pass -> top-k heaps, zero corpus shuffle") {
    val plan = planOf("x4_neural_embed_search")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k heaps expected:\n$plan")
    // the forward pass runs per partition; the corpus never shuffles
    // (only the k-sized rank window may single-partition downstream)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the neural encode path must not shuffle the corpus:\n$plan")
  }

  test("v26 SQ8: the ADC ranks through TakeOrdered heaps with no pre-heap shuffle") {
    val plan = planOf("v26_sq8_refine")
    assert(plan.contains("TakeOrderedAndProject"), s"ADC top-k heaps expected:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the refine path is filter + heap only:\n$plan")
  }

  test("d18/d19 dedup signals never nested-loop or cartesian") {
    for (q <- Seq("d18_novelty", "d19_containment_pairs")) {
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q must stay on equi-joins:\n$plan")
    }
  }

  test("d2/d10/d19 shingle once, after the spread's exchange; one d2 call scans documents once") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.WordShingles
    // walks AQE's final plans, through their query stages
    object Plans extends AdaptiveSparkPlanHelper
    for (q <- Seq("d2_jaccard_near_dup", "d10_substring_pairs", "d19_containment_pairs")) {
      val (_, ran) = Explain.executedPlans(spark)(SparkEntry.queries(q)(spark, sfDir))
      val plans = ran.map(_._2)
      // the corpus is one parquet file, so Tables.spread round-robins it
      val spreads = plans.flatMap(Plans.collect(_) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      })
      assert(spreads.nonEmpty, s"$q lost the spread: ${ran.map(_._1)}")
      for (e <- spreads) {
        val shingling = Plans.collect(e.child) {
          case p if p.expressions.exists(_.find(_.isInstanceOf[WordShingles]).isDefined) => p
        }
        assert(shingling.isEmpty, s"$q shingles below the spread's exchange:\n$e")
      }
      if (q == "d2_jaccard_near_dup") {
        val scans = plans.flatMap(Plans.collect(_) { case f: FileSourceScanExec => f })
        assert(scans.size === 1, s"d2 scanned documents ${scans.size} times: ${ran.map(_._1)}")
      }
    }
  }

  test("q34 recursion executes as UnionLoop, not an unrolled plan") {
    val plan = planOf("q34_recursive_reach")
    assert(plan.contains("UnionLoop"), s"recursive execution expected:\n$plan")
  }

  test("q38: the fact scan carries a runtime dynamic-pruning partition filter") {
    val plan = planOf("q38_dynamic_partition_pruning")
    assert(plan.contains("dynamicpruningexpression"),
      s"q38 lost DPP — the quarter filter no longer prunes fact partitions at runtime:\n$plan")
  }

  test("q39: bucketed SMJ joins with zero exchange under it") {
    val plan = planOf("q39_bucketed_join")
    assert(plan.contains("SortMergeJoin"), s"q39 lost its SMJ shape:\n$plan")
    assert(plan.contains("Bucketed: true"), s"q39 scans stopped being bucketed:\n$plan")
    for (key <- Seq("o_orderkey", "l_orderkey"))
      assert(!plan.contains(s"Exchange hashpartitioning($key"),
        s"q39 shuffled on $key despite the bucket layout:\n$plan")
  }

  test("v29: the JL pool is top-k heaps over the projection, zero corpus shuffle") {
    val plan = planOf("v29_jl_project_refine")
    assert(plan.contains("TakeOrderedAndProject"), s"v29 lost the heap shape:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the projection pool must not shuffle the corpus:\n$plan")
  }

  test("t45: the chunk manifest never exchanges before the gate sort") {
    val plan = planOf("t45_chunk_manifest")
    assert(plan.contains("Generate"), s"t45 lost its explode shape:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking is per-row work; a hash exchange appeared:\n$plan")
  }

  test("g4: per-round argmax aggregates, never a partition-wide window sort") {
    val plan = planOf("g4_label_prop")
    assert(!plan.contains("Window"),
      s"g4 grew a window — the argmax must stay max(struct):\n$plan")
  }

  test("g5 link prediction: equi-join wedges + TakeOrdered exit, never a nested loop") {
    // the gate's result is eagerly realized (the cache-lifecycle fix
    // checkpoints the k rows before unpersisting e/adj/deg), so its
    // own plan is a Scan of the realized rows — pin the executed plan of
    // that localCheckpoint instead, on the same co-purchase edges
    import org.apache.spark.sql.functions.col
    val lo = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val edges = lo.toDF("o", "p1").join(lo.toDF("o", "p2"), "o")
      .filter(col("p1") < col("p2"))
      .select(col("p1"), col("p2"))
      .distinct()
    val (_, ran) = Explain.executedPlans(spark)(
      graft.operators.LinkPredict.commonNeighbors(edges, "p1", "p2", k = 20))
    val checkpoints = ran.collect { case ("localCheckpoint", p) => p.toString }
    assert(checkpoints.size === 1, s"g5 ran ${ran.map(_._1)}")
    val plan = checkpoints.head
    assert(plan.contains("TakeOrderedAndProject"), s"g5 lost the heap exit:\n$plan")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!plan.contains(bad), s"g5 grew a $bad:\n$plan")
  }

  test("x10 retrieval stack: candidate pool broadcasts, top-k heap exit, no nested loop beyond the 1-row stats combine") {
    val plan = planOf("x10_retrieval_stack")
    // the rerank joins the k-sized pool back onto documents via a
    // broadcast, and the final top-8 exits through the heap
    assert(plan.contains("TakeOrderedAndProject"), s"x10 lost the heap exit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"x10 lost the pool broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"x10 grew a cartesian product:\n$plan")
  }

  test("v37 data map: per-cluster top-k via the bounded heap, never a vocabulary-wide window") {
    val plan = planOf("v37_cluster_labels")
    assert(!plan.contains("Window"),
      s"v37 grew a window — the label top-k must stay the topk_by heap:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"v37 grew a cartesian product:\n$plan")
  }

  test("q54 lateral top-k decorrelates to WindowGroupLimit with the nation side broadcast") {
    val plan = planOf("q54_lateral_topk")
    // the per-outer-row LIMIT must become a rank group-limit (with the
    // map-side partial before the exchange), not a per-row nested loop
    assert(plan.contains("WindowGroupLimit"), s"q54 lost group-limit pushdown:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"q54 lost the broadcast dim join:\n$plan")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!plan.contains(bad), s"q54 grew a $bad:\n$plan")
  }

  test("x12 lifecycle SERVE plan: partition-pruned index scan + top-k heap, zero exchanges") {
    // all pipeline stages before the serve ran at BUILD time — the
    // returned plan must be the v1 kNN shape over the saved index
    val df = SparkEntry.queries("x12_lifecycle_pipeline")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"x12 lost the top-k heap:\n$plan")
    assert(plan.contains("PartitionFilters"), s"x12 lost bucket pruning:\n$plan")
    assertNoShuffle(plan, "x12")
  }

  test("x13 POST-MAINTENANCE serve plan keeps x12's shape: pruned scan + top-k heap, zero exchanges") {
    // build, drift-append, and the unattended split/baseline bookkeeping
    // all ran at build time; what serves afterwards must still be the
    // partition-pruned TakeOrderedAndProject over the (now re-bucketed)
    // saved index — maintenance may not cost the serve path anything
    val df = SparkEntry.queries("x13_maintained_lifecycle")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"x13 lost the top-k heap:\n$plan")
    assert(plan.contains("PartitionFilters"), s"x13 lost bucket pruning:\n$plan")
    assertNoShuffle(plan, "x13")
  }

  test("t54 scrub and m15 WARC-split plans: scan-fused per-row work, only the output sort shuffles") {
    for (name <- Seq("t54_pii_scrub", "m15_warc_records")) {
      val plan = planOf(name)
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange SinglePartition"),
        s"$name grew a data shuffle (only the ORDER BY range exchange is expected):\n$plan")
    }
  }

  test("x14 front door: one fp-keyed exchange with map-side partial, everything else fused") {
    val plan = planOf("x14_crawl_front_door")
    // extraction (Generate) + scrub + quality all fuse into the scan side;
    // the keep-first dedup is a partial-then-final aggregate pair around
    // the ONE hash exchange; the only other exchange is the output sort
    assert(plan.contains("Generate"), s"x14 lost the record explode:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1, s"x14 needs exactly one data shuffle, found $hashExchanges:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"x14 lost the map-side partial aggregate:\n$plan")
  }

  test("m17/m18/m19 decode gates: scan-fused per-row kernels, only the output sort shuffles") {
    for (name <- Seq("m17_charset_decode", "m18_tar_entries", "m19_progressive_jpeg")) {
      val plan = planOf(name)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name grew a data shuffle:\n$plan")
      assert("Exchange rangepartitioning".r.findAllIn(plan).size === 1,
        s"$name should shuffle only for the output sort:\n$plan")
    }
  }

  test("x15 governance: exactly two data exchanges — the host-keyed window and the fp-keyed keep-first") {
    val plan = planOf("x15_crawl_governance")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 2,
      s"x15 needs exactly two data shuffles (window + dedup), found $hashExchanges:\n$plan")
    assert(plan.contains("Window"), s"x15 lost the schedule window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"x15 lost the map-side partial aggregate:\n$plan")
  }

  test("x17 crawl cycle: the host window + fp keep-first shuffles, plus at most the history join") {
    val plan = planOf("x17_crawl_cycle")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // the url history join broadcasts at gate scale (2 exchanges); at
    // fact-to-fact scale it becomes an SMJ (3) — both are the designed
    // shape, anything more is a regression
    assert(hashExchanges >= 2 && hashExchanges <= 3,
      s"x17 should pay window + dedup (+ history join), found $hashExchanges:\n$plan")
    assert(plan.contains("Window"), s"x17 lost the schedule window:\n$plan")
    // min_by on a string payload plans as SortAggregate — the map-side
    // partial stage is what matters
    assert(plan.contains("partial_min"),
      s"x17 lost the map-side partial aggregate:\n$plan")
  }

  test("x18 curation: banded-pair + keep-first shuffles only; the anti-join may cross broadcast->SMJ") {
    val plan = planOf("x18_multimodal_curation")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // the banded candidate stage is ONE groupBy exchange (r19: per-chunk
    // sorted posting arrays replaced the chunk self-join's exchange
    // pair) + the pair DISTINCT; the keep-first anti-join side
    // broadcasts at gate scale and crosses to an SMJ exchange pair at
    // image-corpus scale — both are the designed shape (the x17
    // history-join convention), anything past the window is a regression
    assert(hashExchanges >= 2 && hashExchanges <= 4,
      s"x18 should pay banded arrays + dedup (+ keep-first SMJ), found $hashExchanges:\n$plan")
    assert(plan.contains("LeftAnti"), s"x18 lost the keep-first anti-join:\n$plan")
    assert("(SortMergeJoin|BroadcastHashJoin) .*LeftAnti".r
      .findFirstIn(plan).nonEmpty,
      s"x18 anti-join is neither hash nor sort-merge:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"x18 anti-join degraded to a nested loop:\n$plan")
    // the banded candidate join itself (id1 < id2 under the bit_count
    // refinement) must stay an equi-join on the band key
    assert(plan.contains("bit_count"),
      s"x18 lost the hamming refinement before the distinct:\n$plan")
  }

  test("x21 video curation: per-video re-agg + keep-first only; demux/decode/gates fuse") {
    val plan = planOf("x21_video_curation")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 2,
      s"x21 needs exactly two data shuffles (re-agg + dedup), found $hashExchanges:\n$plan")
  }

  test("x22/x23 mirror pipelines: ONE content-keyed exchange; inflate/extract/gates fuse") {
    for (name <- Seq("x22_document_mirror", "x23_cross_container_audio")) {
      val plan = planOf(name)
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges === 1,
        s"$name needs exactly one data shuffle (keep-first), found $hashExchanges:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name lost the map-side partial aggregate:\n$plan")
    }
  }

  test("t58 frontier: one host-keyed exchange feeding the rank window") {
    val plan = planOf("t58_crawl_schedule")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"t58 needs exactly one data shuffle:\n$plan")
    assert(plan.contains("Window"), s"t58 lost the rank window:\n$plan")
  }

  test("m20/t59 page pipelines: scan-fused, only the output sort shuffles") {
    for (name <- Seq("m20_meta_charset", "t59_boilerplate")) {
      val plan = planOf(name)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name grew a data shuffle:\n$plan")
    }
  }

  test("x16 bytes-to-corpus: ONE fp-keyed exchange; extract/decode/boilerplate/scrub all fuse") {
    val plan = planOf("x16_bytes_to_corpus")
    assert(plan.contains("Generate"), s"x16 lost the record explode:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"x16 needs exactly one data shuffle (the keep-first), found $hashExchanges:\n$plan")
    // min_by on strings pushes the aggregate to sort-based; the
    // partial/final pair around the exchange is what matters
    assert("(Hash|Sort)Aggregate".r.findAllIn(plan).size >= 2,
      s"x16 lost the map-side partial aggregate:\n$plan")
  }

  test("t52 post-compaction read keeps t28's pruned-and-pushed scan shape") {
    val df = SparkEntry.queries("t52_index_compaction")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // directory pruning AND row-group pushdown must both survive the
    // segment rewrite
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
      s"t52 lost tb directory pruning:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"t52 lost the term pushdown:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"t52 lost the top-k heap:\n$plan")
  }
}
