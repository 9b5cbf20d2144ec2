package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{minhash_signature, simhash64}
import graft.functions.TextFunctions._

/** Document deduplication operators (BASELINE.json north star: exact,
  * MinHash-LSH, SimHash, n-gram Jaccard). The exact variants are the
  * verified baselines; the sketch variants are the 100 TB scale paths —
  * candidate generation touches only hash buckets, never the full pair
  * space.
  *
  * Scale notes:
  *  - [[jaccardNearDupPairs]] shuffles on shingle value; ubiquitous
  *    shingles create both skew and candidate blow-up, so `maxDf` drops
  *    shingles seen in more than that many docs (standard blocking trick;
  *    a shingle shared by >maxDf docs carries ~no discriminating signal);
  *  - [[minhashLshNearDupPairs]] shuffles (bands x docs) fixed-size keys
  *    and verifies only bucket-colliding candidates — the pair space never
  *    materializes. Band/row geometry tunes the S-curve:
  *    P(candidate) = 1 - (1 - j^rows)^bands;
  *  - [[simhashNearDupPairs]] blocks on 16-bit simhash chunks (pigeonhole:
  *    hamming distance <= 3 over 64 bits guarantees one equal chunk).
  */
object Dedup {

  /** Exact duplicate groups by canonical-text fingerprint: one keeper
    * (min id) per group plus the group size. The groupBy is a hash
    * aggregate on a 32-char key — fully map-side combinable.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Keep-BEST exact dedup: one keeper per canonical-text fingerprint,
    * chosen by the HIGHEST `score` (ties break to the lowest id) — the
    * policy curation pipelines actually want when duplicates differ in
    * provenance quality, where [[exactDupGroups]] keeps the first id.
    * Same map-side-combinable `max_by` aggregate shape: one candidate
    * per (fingerprint, map task) crosses the exchange.
    */
  def exactDupGroupsBest(docs: DataFrame, idCol: String, textCol: String,
                         score: Column): DataFrame =
    docs
      .select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"), score.as("q"))
      .groupBy(col("fp"))
      .agg(max_by(col("id"), struct(col("q"), (-col("id")).as("ni"))).as("keeper"),
        count(lit(1)).as("n_copies"))

  /** Round-robin-spread a corpus whose scan arrived in fewer partitions
    * than the cluster has cores (a small-file artifact: one parquet file
    * under maxPartitionBytes scans as ONE partition, so every pre-shuffle
    * kernel — shingling, signatures, explode — runs single-threaded). At
    * real scale inputs already arrive wide and this is a no-op; it never
    * adds a shuffle to an already-parallel input.
    */
  private def spread(docs: DataFrame): DataFrame = graft.Tables.spread(docs)

  private def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(docs).select(col(idCol).as("id"), shingle_set(col(textCol), n).as("shingles"))

  /** One (id, s) row per distinct n-gram shingle of each document; a doc
    * shorter than n has none. `explode_outer` and a null filter on its
    * output, not `explode`: Spark infers `size(shingles) > 0` from an
    * inner explode and pushes it below the spread's exchange, so the
    * shingle kernel would run twice, once in the single-task scan stage.
    */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingled(docs, idCol, textCol, n)
      .select(col("id"), explode_outer(col("shingles")).as("s"))
      .filter(col("s").isNotNull)

  /** The shingle postings of a corpus, built once: one row per distinct
    * shingle with at most `maxDf` documents, holding its sorted document
    * ids (`ids`) and its exact document frequency (`df`), and the number
    * of pairs those postings emit. One `groupBy(s)` takes `df` as
    * `count(1)` and collects the ids through [[Pairs.bounded]], so no
    * array outgrows [[Pairs.bound]]; a posting past that bound but within
    * `maxDf` makes the returned volume exceed `cap` by itself, and each
    * caller refuses such a volume before reading an array. The postings
    * are materialized by the volume's job (lazy `localCheckpoint`, blocks
    * released with the plan), and every later consumer — per-doc sizes,
    * pair counts — reads them instead of the corpus.
    */
  private[graft] def postings(docs: DataFrame, idCol: String, textCol: String, n: Int,
                              maxDf: Option[Int], cap: Long): (DataFrame, Long) = {
    val grouped = shingleRows(docs, idCol, textCol, n).groupBy(col("s"))
      .agg(count(lit(1)).as("df"), Pairs.bounded(col("id"), maxDf, cap).as("ids"))
    val p = maxDf.fold(grouped)(m => grouped.filter(col("df") <= m))
      .select(sort_array(col("ids")).as("ids"), col("df"))
      .localCheckpoint(false)
    (p, p.agg(Pairs.volume(col("df"))).head().getLong(0))
  }

  /** (id1, id2, common): the number of postings each id1 < id2 pair
    * shares, aggregated in partitions sized by [[Pairs.partitions]] from
    * the `pairVolume` raw pair rows.
    */
  private def sharedCounts(postings: DataFrame, pairVolume: Long): DataFrame =
    Pairs.explodePairs(postings, "ids", Nil, "id1", "id2")
      .repartition(Pairs.partitions(postings.sparkSession, pairVolume, 1500000L),
        col("id1"), col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("common"))

  /** [[sharedCounts]] with each side's posting count, `sz1` and `sz2`:
    * the size of the doc's shingle set within the `maxDf` universe.
    */
  private def sharedWithSizes(postings: DataFrame, pairVolume: Long): DataFrame = {
    val sizes = postings.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("sz"))
    sharedCounts(postings, pairVolume)
      .join(sizes.toDF("id1", "sz1"), "id1")
      .join(sizes.toDF("id2", "sz2"), "id2")
  }

  /** Exact n-gram Jaccard near-dup pairs via relational shingle
    * blocking — no cross product: each shingle's posting list is one
    * sorted array of its documents, each id1 < id2 pair is generated once
    * per shared shingle and counted, and the count is compared against
    * |A|+|B|-common.
    *
    * With `maxDf`, shingles present in more than that many documents are
    * removed from the universe BEFORE both the numerator and the sizes —
    * Jaccard is computed exactly over the df-filtered shingle sets (not a
    * biased estimate of the unfiltered one), so blocking never drops a
    * pair whose filtered-universe similarity clears the threshold.
    *
    * Memory model: the corpus is scanned and shingled once, into one
    * `groupBy(s)` aggregate whose rows are the postings ([[postings]]):
    * the exact df and at most [[Pairs.bound]] ids, so no row outgrows
    * min(maxDf, ~sqrt(2 * maxPairEstimate)) ids, whatever the corpus.
    * Only (ids, df) is materialized, never the exploded (doc x shingle)
    * table or the shingle strings; sizes and pair counts read it.
    *
    * Pair-volume guard ([[Pairs.volume]] over the postings' exact df):
    * when a corpus's vocabulary is too small for `maxDf` to prune (the sf1
    * regime, ~1e8 pairs), this refuses loudly with the scale path named,
    * before any pair exists. Raise `maxPairEstimate` deliberately to run
    * the exact baseline anyway.
    */
  def jaccardNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, minJaccard: Double = 0.5,
                          maxDf: Option[Int] = None,
                          maxPairEstimate: Long = 50000000L,
                          fallbackToLsh: Boolean = false): DataFrame = {
    val (ps, pairVolume) = postings(docs, idCol, textCol, n, maxDf, maxPairEstimate)
    if (pairVolume > maxPairEstimate && fallbackToLsh) {
      // opt-in graceful degrade for pipeline users: route past-cap
      // inputs to the LSH scale path (same n and threshold) instead of
      // hard-stopping a multi-stage job. Logged loudly because LSH
      // pairs are a high-recall approximation of the exact baseline,
      // not a silent drop-in.
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"jaccardNearDupPairs: ~$pairVolume candidate pairs exceed " +
          s"maxPairEstimate=$maxPairEstimate after maxDf=$maxDf blocking; " +
          s"fallbackToLsh routing to minhashLshNearDupPairs(n=$n, " +
          s"minJaccard=$minJaccard)")
      return minhashLshNearDupPairs(docs, idCol, textCol, n = n,
        minJaccard = minJaccard)
    }
    require(pairVolume <= maxPairEstimate,
      s"jaccardNearDupPairs is the exact baseline and would shuffle ~" +
        s"$pairVolume candidate pairs after maxDf=$maxDf blocking " +
        s"(> $maxPairEstimate): the corpus vocabulary is too small for " +
        "df blocking to prune. Use minhashLshNearDupPairs for corpora " +
        "at scale (or fallbackToLsh=true to route automatically), or " +
        "raise maxPairEstimate deliberately")
    sharedWithSizes(ps, pairVolume)
      .filter(col("common").cast("double") /
        (col("sz1") + col("sz2") - col("common")) >= minJaccard)
      .select(col("id1"), col("id2"))
      // materialize the (tiny) verified pair list eagerly, so a caller's
      // several actions on it (d21/d22 count it and semi-join it) re-read
      // a few hundred rows instead of re-running the pair generation
      .localCheckpoint(true)
      .orderBy(col("id1"), col("id2"))
  }

  /** Exact substring-duplication signal — the distributed relational
    * form of exact-substring training-data dedup (Lee et al. 2022,
    * public: documents sharing any sufficiently long verbatim span are
    * duplicates regardless of overall Jaccard). Token granularity: two
    * documents match when they share ANY exact `w`-token window; the
    * returned pair list carries the count of distinct shared windows as
    * the evidence strength. Jaccard (d2) misses these pairs when the
    * shared span is small relative to the documents — a verbatim
    * boilerplate paragraph inside two long, otherwise-different pages is
    * exactly the case this operator exists for.
    *
    * Shape: the [[jaccardNearDupPairs]] postings over `w`-token windows
    * (one scan; a window in > maxDf docs is boilerplate so ubiquitous it
    * would emit O(df^2) rows on one key — the d2 hot-key argument
    * verbatim, and no posting array outgrows min(maxDf, ~sqrt(2 *
    * maxPairEstimate)) ids), pair volume counted BEFORE generation and
    * refused past the cap, then each pair emitted once per shared window
    * into a per-pair count. The grouping key is the window text (content
    * blocking, no pair space materialized); a production run at 100 TB
    * swaps the key for a 128-bit fingerprint of the window to bound
    * shuffle width — the plan shape is unchanged, so the gate pins
    * semantics on the transparent key.
    */
  def sharedWindowPairs(docs: DataFrame, idCol: String, textCol: String,
                        w: Int = 8, maxDf: Int = 100,
                        maxPairEstimate: Long = 50000000L): DataFrame = {
    val (ps, pairVolume) = postings(docs, idCol, textCol, w, Some(maxDf), maxPairEstimate)
    require(pairVolume <= maxPairEstimate,
      s"sharedWindowPairs would shuffle ~$pairVolume candidate pairs " +
        s"after maxDf=$maxDf blocking (> $maxPairEstimate): lower maxDf " +
        "(more aggressive boilerplate blocking), raise w (rarer " +
        "windows), or raise maxPairEstimate deliberately")
    sharedCounts(ps, pairVolume)
      .withColumnRenamed("common", "n_shared")
      .orderBy(col("id1"), col("id2"))
  }

  /** The largest pair list [[nearDupClusters]] resolves on the driver.
    * A collected long pair costs ~84 bytes of driver heap as an
    * `UnsafeRow` and ~56 more as the union-find's sorted endpoints, so
    * the cap holds the driver path to ~150 MB. Time does not set it: at
    * 10^6 pairs the driver path took 4 s and star contraction 26 s
    * (4 cores; measurements in CHANGES.md).
    */
  val LocalMaxPairs: Int = 1000000

  /** Near-dup CLUSTERS from a pair list: connected components over the
    * pair graph, labeled by each component's minimum id — the step that
    * turns pairwise near-dup evidence (d2/d3/d4/v8 outputs) into "keep
    * one per cluster" decisions. Returns (id, keeper) ordered by id, for
    * every id that shares a pair with a different id. A pair with a null
    * id or with two equal ids adds no edge, so an id seen only in such
    * pairs is absent. Ids compare by Spark's ordering for their type (for
    * strings, UTF-8 byte order), so `keeper` is the component's SQL `min`.
    *
    * One bounded collect of at most [[LocalMaxPairs]] + 1 pair rows comes
    * first. A list that fits is resolved by a union-find on the driver and
    * returned as a `LocalRelation`: no further job runs. A longer list is
    * contracted on the cluster by [[starClusters]], whose `checkpointDir`
    * this forwards. The driver pass settles every component in one round;
    * the contraction needs O(log n) rounds. A call that would need more
    * than `maxRounds` refuses rather than returning labels that have not
    * converged; raise `maxRounds` to let it run on.
    */
  def nearDupClusters(pairs: DataFrame, idCol1: String = "id1", idCol2: String = "id2",
                      maxRounds: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    require(maxRounds >= 1, s"nearDupClusters needs maxRounds >= 1, got maxRounds = $maxRounds")
    val edges = canonicalEdges(pairs, idCol1, idCol2)
    val probe = edges.limit(LocalMaxPairs + 1).queryExecution.executedPlan.executeCollect()
    if (probe.length <= LocalMaxPairs) localClusters(edges, probe)
    else starClusters(pairs, idCol1, idCol2, maxRounds, checkpointDir)
  }

  /** Each pair as (a = lower id, b = higher id), pairs that add no edge
    * dropped: `least`/`greatest` skip a null, so a pair with one null id
    * becomes (x, x), and `=!=` drops it, the (x, x) pairs and the all-null
    * ones alike. */
  private def canonicalEdges(pairs: DataFrame, idCol1: String, idCol2: String): DataFrame =
    pairs.select(least(col(idCol1), col(idCol2)).as("a"),
        greatest(col(idCol1), col(idCol2)).as("b"))
      .filter(col("a") =!= col("b"))

  /** Union-find over collected (a, b) edges. Endpoints are ranked by
    * Spark's ordering, every root links under the lower-ranked one, so a
    * component's root is its minimum. Output schema is the star path's:
    * `id` as nullable as the edge columns, `keeper` nullable (a `min`). */
  private def localClusters(edges: DataFrame, rows: Array[InternalRow]): DataFrame = {
    val a = edges.queryExecution.analyzed.output.head
    val ord = TypeUtils.getInterpretedOrdering(a.dataType)
    val ends = Array.tabulate[Any](2 * rows.length)(i => rows(i >> 1).get(i & 1, a.dataType))
      .sorted(ord)
    val ids = ends.indices.collect {
      case i if i == 0 || ord.compare(ends(i - 1), ends(i)) != 0 => ends(i).asInstanceOf[AnyRef]
    }.toArray
    def rank(v: Any): Int = java.util.Arrays.binarySearch(ids, v.asInstanceOf[AnyRef], ord)
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val (u, v) = (find(rank(r.get(0, a.dataType))), find(rank(r.get(1, a.dataType))))
      if (u != v) parent(math.max(u, v)) = math.min(u, v)
    }
    val out = Seq(AttributeReference("id", a.dataType, a.nullable)(),
      AttributeReference("keeper", a.dataType, nullable = true)())
    GraftColumnBridge.dataFrame(edges.sparkSession,
      LocalRelation(out, ids.indices.map(i => InternalRow(ids(i), ids(find(i))))))
  }

  /** The cluster path of [[nearDupClusters]]: alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond" — public), which converge in O(log n) rounds
    * regardless of component diameter. Same output contract as
    * [[nearDupClusters]]; refuses past `maxRounds` rounds.
    *
    *  - large-star(u): every strictly-larger neighbor of u re-attaches to
    *    min(neighbors(u) + u);
    *  - small-star(u): every not-larger neighbor (and u itself)
    *    re-attaches to that min.
    *
    * Each operation is one shuffle (group per node for the min + an
    * edge-side join) — no neighbor lists are ever collected, so hot nodes
    * cost a join key, not memory. Convergence witness: (count, hash sums)
    * of the canonical edge set, checked per round.
    */
  private[graft] def starClusters(pairs: DataFrame, idCol1: String = "id1",
                                  idCol2: String = "id2", maxRounds: Int = 20,
                                  checkpointDir: Option[String] = None): DataFrame = {
    // canonical undirected edges, no self loops. Each round references
    // its input ~16 times (two star ops, each reading the edge set for
    // both orientations and the per-node min), so lineage MUST be
    // truncated per round — checkpointing materializes the round and
    // resets the plan, keeping Catalyst analysis O(1) per round instead
    // of O(16^rounds). Default is localCheckpoint (executor-local blocks,
    // no durable storage needed — right for the gate and for clusters
    // without a shared checkpoint FS); pass `checkpointDir` to use
    // reliable checkpoint() instead, so a multi-hour 100 TB contraction
    // survives executor loss at the cost of one FS round-trip per round.
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // the witness aggregates RIDE the round's checkpoint materialization
    // as observe() metrics (CollectMetricsExec — no exchange, no second
    // pass): one job per round instead of checkpoint + witness-scan
    // (guide §1.4/§5 — don't re-scan what an action already computed)
    def truncateObserved(df: DataFrame): (DataFrame, (Long, Long, Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val observed = df.observe(obs, count(lit(1)).as("n"),
        sum(hash(col("a"), col("b")).cast("long")).as("h"),
        sum(hash(col("a")).cast("long")).as("ha"), sum(hash(col("b")).cast("long")).as("hb"))
      val cut = if (checkpointDir.isDefined) observed.checkpoint()
        else observed.localCheckpoint()
      def at(k: String) =
        Option(obs.get(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
      (cut, (at("n"), at("h"), at("ha"), at("hb")))
    }
    var (e, prev) = truncateObserved(canonicalEdges(pairs, idCol1, idCol2).distinct())

    // one star operation: re-attach `keepLarger` (large-star) or the
    // complementary (small-star) neighbors of every node to that node's
    // min-neighborhood label
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val dir = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val m = dir.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val attach = dir.join(m, "u")
        .filter(if (large) col("v") > col("u") else col("v") <= col("u"))
        .select(col("v"), col("m"))
      val self = m.select(col("u").as("v"), col("m"))
      attach.union(if (large) self.limit(0) else self)
        .filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .distinct()
    }

    // Four independent aggregates of the canonical edge set (observed
    // during each round's checkpoint, see truncateObserved): cardinality
    // and three hash sums (over the edge and over each endpoint), all
    // defined for any id type. A (count, hash-sum) pair can in principle
    // collide across different edge sets; requiring the endpoint sums to
    // also match makes a false convergence practically impossible — and
    // the witness costs NO extra pass at all.
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, w) = truncateObserved(star(star(e, large = true), large = false))
      e = next
      converged = w == prev
      prev = w
      rounds += 1
    }
    require(converged, s"nearDupClusters: star contraction did not converge within " +
      s"maxRounds = $maxRounds rounds; raise maxRounds for components this deep")
    // converged edge set is a star forest rooted at component minima
    e.select(col("b").as("id"), col("a").as("keeper"))
      .union(e.select(col("a").as("id"), col("a").as("keeper")))
      .groupBy(col("id")).agg(min(col("keeper")).as("keeper"))
      .orderBy(col("id"))
  }

  /** Incremental-load dedup (cross-dataset): rows of `incoming` whose
    * canonical fingerprint does not appear anywhere in `existing` — the
    * "is this new batch already in the corpus" step of a continuously-fed
    * training pipeline. A LEFT ANTI join on a 32-char md5 key: the
    * existing side reduces to distinct fingerprints (no payload), so at
    * 100 TB the join shuffles two narrow fingerprint columns — or none at
    * all when the fingerprint set of the standing corpus is maintained as
    * a bucketed table the anti-join co-locates with.
    */
  def incrementalNew(incoming: DataFrame, existing: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val inc = incoming.select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))
    val seen = existing.select(fingerprint(col(textCol)).as("fp")).distinct()
    inc.join(seen, Seq("fp"), "left_anti").select(col("id"))
  }

  /** One row per (doc, band); bucket key = hash of the band's signature
    * slice (static band count -> plain column expressions, no lambda).
    */
  private def lshBanded(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), hash(slice(col("sig"), b * rows + 1, rows)).as("bucket"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Fuzzy incremental dedup — [[incrementalNew]]'s near-duplicate
    * sibling: keep only incoming documents that are NOT near-duplicates
    * (n-gram Jaccard >= minJaccard) of ANY standing document. The dedup
    * step every recurring crawl ingest runs against its accumulated
    * corpus, where exact fingerprints miss reformatted re-crawls.
    *
    * Scale shape: both sides reduce to banded LSH keys (fixed-size rows,
    * the d3 posture) and meet in a bucket equi-join — incoming x standing
    * never materializes; only bucket-colliding candidates are verified
    * with exact Jaccard. The standing side's signatures are recomputed
    * here from text; at 100 TB persist them once (they are 128 longs per
    * doc) and feed the banded table directly — the shape is unchanged.
    */
  def incrementalNearDupNew(incoming: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                            minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val shIn = shingled(incoming, idCol, textCol, n).cache()
    val shEx = shingled(existing, idCol, textCol, n).cache()
    try {
      def sig(sh: DataFrame) =
        sh.withColumn("sig", minhash_signature(col("shingles"), numHashes))
      val cand = lshBanded(sig(shIn), numHashes, bands).toDF("idn", "band", "bucket")
        .join(lshBanded(sig(shEx), numHashes, bands).toDF("ide", "band", "bucket"),
          Seq("band", "bucket"))
        .select(col("idn"), col("ide"))
        .distinct()
      // materialize the dup id set (eager, lineage-free, bounded by the
      // incoming batch) so the cached shingle tables can be released in
      // the finally below instead of leaking for the application lifetime
      val dup = cand
        .join(shIn.select(col("id").as("idn"), col("shingles").as("sh1")), "idn")
        .join(shEx.select(col("id").as("ide"), col("shingles").as("sh2")), "ide")
        .filter(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))) >= minJaccard)
        .select(col("idn").as("id"))
        .distinct()
        .localCheckpoint()
      incoming.select(col(idCol).as("id"))
        .join(dup, Seq("id"), "left_anti")
    } finally {
      shIn.unpersist()
      shEx.unpersist()
    }
  }

  /** MinHash-LSH near-dup pairs: signature -> banded buckets -> candidate
    * pairs -> exact Jaccard verification on the candidates only.
    * The verified pair set is materialized (eager, lineage-free) so the
    * cached shingle table can be released before returning — the same
    * lifecycle as [[incrementalNearDupNew]]; pairs are bounded by the
    * bucket-colliding candidates that survive verification, far below
    * the corpus-sized shingles the cache held.
    *
    * Bucket-volume guard: a degenerate corpus (many identical documents)
    * puts all their ids into one array row per band, so the exact
    * candidate volume is counted over the banding first and refused past
    * `maxPairEstimate` ([[Pairs]]). The banding is materialized once (a
    * lazy localCheckpoint, the [[hammingPairs]] lifecycle) so the guard
    * and the generation do not both compute the signatures.
    */
  def minhashLshNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                             minJaccard: Double = 0.5,
                             maxPairEstimate: Long = 50000000L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingled(docs, idCol, textCol, n).cache()
    try {
      val sig = sh.withColumn("sig", minhash_signature(col("shingles"), numHashes))
      val banded = lshBanded(sig, numHashes, bands).localCheckpoint(false)
      Pairs.guard(banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("df")),
        "df", maxPairEstimate) { pairVolume =>
        s"minhashLshNearDupPairs would materialize ~$pairVolume candidate " +
          s"pairs from per-band buckets (> $maxPairEstimate): the corpus is " +
          "too degenerate for band blocking (near-identical documents share " +
          "every band). Pre-dedup exact duplicates first (exactDupGroups), " +
          "use more rows per band, or raise maxPairEstimate deliberately"
      }
      val cand = Pairs.within(banded, Seq("band", "bucket"), "id")
        .select(col("id1"), col("id2"))
        .distinct()
      // verify candidates with exact Jaccard (arrays are already distinct)
      cand
        .join(sh.toDF("id1", "sh1"), "id1")
        .join(sh.toDF("id2", "sh2"), "id2")
        .filter(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))) >= minJaccard)
        .select(col("id1"), col("id2"))
        .localCheckpoint()
        .orderBy(col("id1"), col("id2"))
    } finally sh.unpersist()
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, candidates from equal
    * 16-bit chunks, verified by hamming distance <= maxHamming (<= 3 for
    * the pigeonhole guarantee with 4 chunks). `maxPairEstimate` is the
    * candidate-volume cap of [[hammingPairs]].
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxHamming: Int = 3,
                          maxPairEstimate: Long = 50000000L): DataFrame =
    hammingPairs(spread(docs).select(col(idCol).as("id"),
      simhash64(shingle_set(col(textCol), n)).as("sig")), maxHamming,
      maxPairEstimate)

  /** The 64-bit hamming blocker alone, over ANY (id, sig) signature
    * table — SimHash (d4), the image aHash (d23), or any other 64-bit
    * perceptual fingerprint: candidates from equal 16-bit chunks (the
    * pigeonhole guarantee: hamming <= 3 forces at least one of 4 chunks
    * equal), verified by bit_count before the distinct so the dedup
    * shuffle only carries true near-dups.
    *
    * Bucket-volume guard (guide §2.5): a degenerate corpus (many all-zero
    * simhashes, one hot 16-bit chunk value) puts the corpus into one
    * (chunk, v) array row, so the exact candidate volume is counted first
    * and refused past `maxPairEstimate` ([[Pairs]]).
    *
    * The (id, sig) input is materialized ONCE via a lazy localCheckpoint
    * (GC-released blocks, no unpersist bookkeeping): sig columns are
    * typically expensive per-row kernels (d4's simhash, d23's image
    * decode + aHash), and both the guard and the generation read them.
    */
  def hammingPairs(sigs: DataFrame, maxHamming: Int = 3,
                   maxPairEstimate: Long = 50000000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hammingPairs: 4x16-bit chunks guarantee recall only for " +
        s"maxHamming <= 3, got $maxHamming")
    val sg = sigs.localCheckpoint(false)
    val chunkStructs = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xffffL)).as("v"))
    }
    // per-(chunk, v) (id, sig) elements: ids are unique, so the struct
    // order IS the id order; the hamming verify runs BEFORE the distinct
    // so its exchange only carries true near-dups
    val chunked = sg
      .select(explode(array(chunkStructs: _*)).as("cc"),
        struct(col("id"), col("sig")).as("e"))
      .select(col("cc.chunk").as("chunk"), col("cc.v").as("v"), col("e"))
    Pairs.guard(chunked.groupBy(col("chunk"), col("v")).agg(count(lit(1)).as("df")),
      "df", maxPairEstimate) { pairVolume =>
      s"hammingPairs would materialize ~$pairVolume candidate pairs from " +
        s"per-chunk posting buckets (> $maxPairEstimate): the signature " +
        "distribution is too degenerate for 16-bit chunk blocking (hot " +
        "chunk values own the corpus). Split or pre-filter the hot " +
        "signatures, or raise maxPairEstimate deliberately"
    }
    Pairs.within(chunked, Seq("chunk", "v"), "e", ("es", "e1", "e2"))
      .filter(bit_count(col("e1.sig").bitwiseXOR(col("e2.sig"))) <= maxHamming)
      .select(col("e1.id").as("id1"), col("e2.id").as("id2"))
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  /** Content-defined chunking at token granularity (the rsync/LBFS cut
    * rule, Muthitacharoen et al. 2001, applied to token streams): a token
    * ENDS its chunk iff its content hash falls in the cut class
    * (`md5-prefix % divisor == 0` — the t24 hash convention). Because the
    * cut decision depends only on token CONTENT, an insertion or deletion
    * shifts positions but every chunk after the next cut point re-syncs —
    * so chunk fingerprints survive edits that shift the whole suffix,
    * which fixed-width windows (t10) and whole-doc fingerprints (t4)
    * both lose. Cross-doc `chunk_fp` equality is then shifted-content
    * dedup evidence at chunk granularity.
    *
    * Scale design: the chunk list comes from the single-pass native
    * kernel [[graft.functions.CdcChunksExpr]] (O(tokens) per row inside
    * codegen — the equivalent `aggregate()` fold copies its accumulator
    * array per token and evaluates interpreted), then a posexplode emits
    * manifest rows; no shuffle anywhere in the operator (callers group
    * by `chunk_fp` for the dedup application, a combinable aggregate).
    * Expected chunk length is `divisor` tokens.
    *
    * Output: (id, chunk_idx, start_tok 1-based, n_tok, chunk_fp).
    */
  /** The dedup APPLICATION of [[cdcChunks]]: per document, how much of
    * its token mass lives in chunks whose fingerprint also appears in
    * ANOTHER document (the rsync-style shifted-duplication measure
    * content-defined boundaries exist to expose).
    *
    * Scale shape: one chunk_fp-keyed aggregate over the manifest
    * (combinable: count + distinct-doc count per fp), broadcast-free
    * fp join back, then a doc-keyed aggregate — the exchange carries
    * fingerprints and doc keys, never text.
    */
  def chunkDupMass(docs: DataFrame, idCol: String, textCol: String,
                   divisor: Int = 8): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, divisor)
    val byFp = chunks.groupBy(col("chunk_fp"))
      .agg(countDistinct(col("id")).as("n_docs_fp"))
    chunks.join(byFp, "chunk_fp")
      .groupBy(col("id"))
      .agg(sum(col("n_tok")).as("n_tok"),
        sum(when(col("n_docs_fp") > 1, col("n_tok")).otherwise(0L))
          .as("dup_tok"))
      .select(col("id"), col("n_tok"), col("dup_tok"),
        (col("dup_tok").cast("double") / col("n_tok").cast("double"))
          .as("dup_frac"))
  }

  /** Near-SUPERSET detection via exact shingle CONTAINMENT — the dedup
    * case Jaccard structurally misses: a small document wrapped in
    * boilerplate (or quoted whole inside a bigger one) has
    * `|A n B| / |A| ~ 1` while Jaccard is low because |B| dominates the
    * union. Emits DIRECTED evidence `(contained, container)` where the
    * contained doc's df-filtered shingle set lies inside the container's
    * at >= `minContainment`, with the smaller set always the contained
    * side (equal sizes tie-break by id, so identical sets emit once).
    *
    * Same postings, memory model and guard as [[jaccardNearDupPairs]]:
    * one scan into one `groupBy(s)` whose arrays never outgrow
    * min(maxDf, ~sqrt(2 * maxPairEstimate)) ids, df blocking BEFORE both
    * numerator and sizes (containment is exact over the filtered
    * universe), candidate volume exactly counted and refused past
    * `maxPairEstimate` before any pair exists.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minContainment: Double = 0.9,
                       maxDf: Option[Int] = None,
                       maxPairEstimate: Long = 50000000L): DataFrame = {
    val (ps, pairVolume) = postings(docs, idCol, textCol, n, maxDf, maxPairEstimate)
    require(pairVolume <= maxPairEstimate,
      s"containmentPairs would shuffle ~$pairVolume candidate pairs " +
        s"after maxDf=$maxDf blocking (> $maxPairEstimate): tighten " +
        "maxDf or raise maxPairEstimate deliberately")
    val common = sharedWithSizes(ps, pairVolume)
    val tau = lit(minContainment)
    val fwd = common // id1 contained in id2
      .filter(col("common").cast("double") / col("sz1") >= tau &&
        (col("sz1") < col("sz2") ||
          (col("sz1") === col("sz2") && col("id1") < col("id2"))))
      .select(col("id1").as("contained"), col("id2").as("container"))
    val bwd = common // id2 contained in id1 (strictly smaller only)
      .filter(col("common").cast("double") / col("sz2") >= tau &&
        col("sz2") < col("sz1"))
      .select(col("id2").as("contained"), col("id1").as("container"))
    // eager-materialize the (tiny) directed pair list: both branches read
    // the pair counts, which run once here
    fwd.unionByName(bwd).localCheckpoint(true)
      .orderBy(col("contained"), col("container"))
  }

  /** Corpus-order n-gram NOVELTY fractions — the incremental-value
    * curation signal (how much of a document's n-gram vocabulary is
    * FIRST INTRODUCED by that document, under the corpus's id order):
    * for every distinct n-gram the min doc id is its first-occurrence
    * holder; a doc's novelty is the fraction of its distinct n-grams it
    * holds. Crawl-ordered ids make this "how much does this doc add
    * beyond everything crawled before it" — the dedup-adjacent signal
    * that downweights near-verbatim re-crawls without needing pairs.
    *
    * Scale shape: one shingle pass, ONE gram-keyed combinable min
    * aggregate (the exchange carries distinct grams, never pairs), a
    * broadcast-free equi-join back on the gram key, and a per-doc count
    * aggregate. No pair volume anywhere — this is the signal to reach
    * for when even banded pair generation is too expensive.
    *
    * Output: (id, n_grams, n_novel, novelty_frac); docs with fewer than
    * n tokens have no n-grams and are absent from the output (the
    * explode drops them — same posture as the other shingle operators).
    */
  def noveltyFractions(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): DataFrame = {
    val grams = shingleRows(docs, idCol, textCol, n).withColumnRenamed("s", "g")
    val firstHolder = grams.groupBy("g").agg(min(col("id")).as("first_id"))
    grams.join(firstHolder, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("id") === col("first_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty_frac"))
  }

  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                divisor: Int = 8): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val chunksCol = graft.functions.GraftFunctions.toCol(
      graft.functions.CdcChunksExpr(
        graft.functions.GraftFunctions.toExpr(col(textCol)), divisor))
    docs.select(col(idCol).as("id"), chunksCol.as("chunks"))
      .select(col("id"), posexplode(col("chunks")).as(Seq("chunk_idx", "c")))
      .select(col("id"), col("chunk_idx"),
        col("c")("start").as("start_tok"),
        col("c")("n").cast("long").as("n_tok"),
        md5(col("c")("txt")).as("chunk_fp"))
  }
}
