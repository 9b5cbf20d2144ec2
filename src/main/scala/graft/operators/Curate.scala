package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{fingerprint, quality_score}

/** End-to-end training-data curation — the composed pipeline every
  * stage in this library exists to serve, as ONE lazy plan:
  *
  *   1. gate: language allowlist + composite quality threshold
  *      (the t2 kernel — codegen, evaluated once per row in the scan
  *      stage, so rejected rows die before any shuffle);
  *   2. exact dedup keep-first: canonical-text md5 fingerprint, lowest
  *      id kept via `min_by(payload, id)` — the map-side-combinable
  *      aggregate shape (one candidate per (fingerprint, partition)
  *      crosses the exchange, never the duplicate text bodies);
  *   3. pack: the per-language sequence-packing manifest
  *      ([[Packing.manifest]] — grouped running sum, integer spans).
  *
  * Nothing materializes between stages; Catalyst fuses the gate into
  * the scan and the whole pipeline is three exchanges (fingerprint,
  * packing group, final order) regardless of corpus size. This is the
  * library's answer to the reference's single-process pandas ingest
  * loop (`backend/load_data.py:173-190`): the same
  * filter-dedup-prepare flow as a distributed plan.
  */
object Curate {

  /** Stages 1-2 only (gate + exact dedup keep-first) — the KEPT SET the
    * packing tail consumes.
    */
  def kept(docs: DataFrame, idCol: String, textCol: String,
           langCol: String, langs: Seq[String],
           minQuality: Double): DataFrame = {
    require(langs.nonEmpty, "curate: empty language allowlist")
    val gated = docs.filter(col(langCol).isInCollection(langs) &&
      quality_score(col(textCol)) >= minQuality)
    val payload = struct(gated.columns.map(col).toIndexedSeq: _*)
    gated
      .withColumn("__fp", fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min_by(payload, col(idCol)).as("__keep"))
      .select(col("__keep.*"))
  }

  def manifest(docs: DataFrame, idCol: String, textCol: String,
               langCol: String, langs: Seq[String], minQuality: Double,
               maxLen: Long): DataFrame =
    Packing.manifest(kept(docs, idCol, textCol, langCol, langs, minQuality),
      idCol, textCol, langCol, maxLen)

  /** The same pipeline instrumented with the Observation API: per-stage
    * funnel counters (rows seen / gate survivors / post-dedup keepers)
    * collected AS the job runs — zero extra passes, zero extra
    * aggregation jobs; the metrics ride the existing plan's task
    * completion events. This is how a 100 TB curation run reports its
    * drop funnel without paying three count() scans. Metrics are
    * available on each Observation after ANY action on the returned
    * frame; `obsIn.get("n_in") - obsGate.get("n_gated")` is the gate's
    * drop count, `n_gated - n_kept` the dedup's.
    */
  def manifestObserved(docs: DataFrame, idCol: String, textCol: String,
                       langCol: String, langs: Seq[String], minQuality: Double,
                       maxLen: Long): (DataFrame, Observation, Observation, Observation) = {
    require(langs.nonEmpty, "curate: empty language allowlist")
    val obsIn = Observation("curate_in")
    val obsGate = Observation("curate_gate")
    val obsKept = Observation("curate_kept")
    val gated = docs.observe(obsIn, count(lit(1)).as("n_in"))
      .filter(col(langCol).isInCollection(langs) &&
        quality_score(col(textCol)) >= minQuality)
      .observe(obsGate, count(lit(1)).as("n_gated"))
    val payload = struct(gated.columns.map(col).toIndexedSeq: _*)
    val kept = gated
      .withColumn("__fp", fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min_by(payload, col(idCol)).as("__keep"))
      .select(col("__keep.*"))
      .observe(obsKept, count(lit(1)).as("n_kept"))
    (Packing.manifest(kept, idCol, textCol, langCol, maxLen),
      obsIn, obsGate, obsKept)
  }

  /** LEAKAGE-SAFE train/val/test split — the eval-hygiene composition:
    * a test document whose near-duplicate sits in train is contamination
    * by construction, so near-dup CLUSTERS move between splits as
    * units. Pairs come from the exact Jaccard baseline (df-blocked,
    * counted-volume guarded), components from the min-label
    * propagation, and the split decision hashes the CLUSTER LABEL (the
    * component minimum; singletons label themselves) through the t24
    * hashSplit rule — so membership stays a pure function of
    * (salt, corpus) and every cluster lands whole.
    *
    * Output: (id, label, split). Scale: the pair/cluster stages carry
    * the d2/d7 postures (guards included); the split adds one
    * broadcast-size join of cluster labels + a per-row hash.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       weights: Seq[(String, Double)],
                       n: Int = 3, minJaccard: Double = 0.5,
                       maxDf: Option[Int] = None,
                       salt: String = "graft"): DataFrame = {
    val pairs = Dedup.jaccardNearDupPairs(docs, idCol, textCol,
      n = n, minJaccard = minJaccard, maxDf = maxDf)
    val clusters = Dedup.nearDupClusters(pairs) // (id, keeper)
    val labeled = docs.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("keeper"), col("id")).as("label"))
    Sampling.hashSplit(labeled, "label", weights, salt)
      .select(col("id"), col("label"), col("split"))
  }

  /** Per-domain document cap — the C4/RefinedWeb web-corpus step that
    * keeps any one site from dominating the training mix: canonicalize
    * each row's URL, group by its lowercased host, and keep at most
    * `maxPerHost` documents per host, selected DETERMINISTICALLY by
    * md5 hash order (the [[Sampling]] convention: the rank of any given
    * document is a pure function of (salt, corpus) — partition-stable
    * and engine-stable, so the kept set is deterministic for a given
    * corpus. NOTE on append behavior: BELOW the cap a re-crawl only
    * extends a host's kept set; AT the cap a new document with a
    * smaller md5 evicts the largest kept hash — membership is
    * deterministic per corpus, not append-monotone once a host
    * saturates).
    *
    * Scale shape: the q28 posture — `topk_by`'s bounded per-group heap
    * means the exchange carries hosts x partitions x maxPerHost rows,
    * never the full per-host populations; a hot host (the whole point
    * of the cap) costs the same as a cold one. Rows whose URL does not
    * parse are dropped (NULL host — crawl columns always carry junk;
    * route them through a quarantine branch if they must be kept).
    *
    * Output: (host, sample_rank in [1, maxPerHost], id, url) with
    * `url` the canonical form, one row per kept document.
    */
  def domainCap(docs: DataFrame, idCol: String, urlCol: String,
                maxPerHost: Int, salt: String = "graft"): DataFrame = {
    require(maxPerHost > 0, s"maxPerHost must be positive, got $maxPerHost")
    import graft.functions.GraftFunctions.{topk_by, url_canonicalize, url_host}
    val hk = md5(concat(lit(salt), col("id").cast("string")))
    docs
      .select(col(idCol).as("id"),
        url_host(col(urlCol)).as("host"),
        url_canonicalize(col(urlCol)).as("url"))
      .filter(col("host").isNotNull)
      .groupBy(col("host"))
      .agg(topk_by(struct(hk.as("hk"), col("id")),
        struct(col("id"), col("url")), maxPerHost).as("top"))
      .select(col("host"), posexplode(col("top")).as(Seq("rnk", "r")))
      .select(col("host"), (col("rnk") + 1).cast("long").as("sample_rank"),
        col("r.id").as("id"), col("r.url").as("url"))
  }
}
