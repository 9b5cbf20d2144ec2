package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Text-analysis + deduplication coverage over the `documents` table
  * (BASELINE.json north star: token counting, quality scoring, language
  * ID, fingerprinting, exact + near dedup).
  *
  * The Spark side uses the TextFunctions / Dedup operators; the oracle
  * states the identical algorithm in DuckDB SQL (token convention: trim +
  * split on \s+; shingles: word 3-grams). That includes the sketch
  * pipelines: MinHash-LSH (d3) and SimHash (d4) oracles restate the
  * engine's exact FNV-1a/splitmix64 kernel arithmetic with masked
  * 64-bit-wraparound SQL (see mulModU below) — the same precedent as t8's
  * rolling hash — so the full signature -> banding -> verify dataflow is
  * differentially checked, not just its ScalaTest equivalence to the
  * exact baseline.
  */
object Text extends QueryPack {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token + distinct-token counts per document
    "t1_token_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          token_count(col("text")).cast("long").as("n_tokens"),
          distinct_token_count(col("text")).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))
    },

    // composite quality score (pure per-row arithmetic, codegen)
    "t2_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), quality_score(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // n-gram-marker language heuristic vs the labeled lang column
    "t3_lang_guess" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), lang_guess(col("text")).as("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("guess"))
    },

    // canonical-text fingerprint (md5) per document
    "t4_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // distinct word-3-gram shingle count per document
    "t5_shingle_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), size(shingle_set(col("text"), 3)).cast("long").as("n_shingles"))
        .orderBy(col("doc_id"))
    },

    // BPE-ish pre-tokenizer segment count (north-star token counting)
    "t6_bpe_tokens" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), bpe_token_count(col("text")).cast("long").as("n_bpe"))
        .orderBy(col("doc_id"))
    },

    // HTML strip / markdownify (reference F10) — synthetic markup wrapped
    // around the corpus text, stripped back to canonical form
    "t7_strip_html" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          strip_html(concat(lit("<p><b>doc&nbsp;"), col("doc_id").cast("string"),
            lit(":</b> "), col("text"), lit("</p>"))).as("stripped"))
        .orderBy(col("doc_id"))
    },

    // polynomial rolling-hash fingerprint (native expression; oracle
    // states the identical recurrence via list_reduce)
    "t8_rolling_fp" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), rolling_fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // HTML -> markdown (reference F10 markdownify semantics): headings,
    // arbitrary-depth nested inline tags (incl a depth-6 same-tag nest
    // only the fixpoint converts), bold, em, link, code, blockquote,
    // numbered <ol> items with a 3-level NESTED <ol> (numbering scoped
    // per <ol>, restarting at 1), and a plain <ul> — rendered over
    // synthetic markup around the corpus. Native single-pass kernel
    // (HtmlToMarkdown) with precompiled patterns.
    "t9_html_to_markdown" -> { (s, d) =>
      // the regex ladder dominates the cost, so the narrow scan must spread
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), html_to_markdown(t9Markup).as("markdown"))
        .orderBy(col("doc_id"))
    },

    // the BLOCK-LAYOUT markdown variant over the same markup: newline
    // block separation, items each on their own line, nested lists
    // indented 2 spaces per level (markdownify's layout; the canonical
    // space-collapsed form stays t9). Same fixpoint bounds; the oracle
    // restates the staged pipeline with chr(31)/chr(30) newline/indent
    // markers (mdBlocksOracleSql).
    "t9b_markdown_blocks" -> { (s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), html_to_markdown_blocks(t9Markup).as("markdown"))
        .orderBy(col("doc_id"))
    },

    // token-window chunking (context-window prep): overlapping chunks of
    // 40 tokens with stride 30; each chunk fingerprinted (md5) so the
    // oracle compare stays compact. The standard document -> training
    // sample transform.
    "t10_token_chunks" -> { (s, d) =>
      val chunkSize = 40
      val stride = 30
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")), lit(stride))).as("start"))
        .select(col("doc_id"), col("start").cast("long").as("start"),
          md5(array_join(slice(col("w"), col("start"), lit(chunkSize)), " ")).as("chunk_fp"),
          size(slice(col("w"), col("start"), lit(chunkSize))).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("start"))
    },

    // URL / email extraction + redaction (PII scrub before training):
    // synthetic contact line appended per doc, then counted and redacted
    "t11_redact_pii" -> { (s, d) =>
      val withContact = concat(col("text"),
        lit(" Contact: user"), col("doc_id").cast("string"),
        lit("@example.org or https://docs.example/"), col("doc_id").cast("string"))
      Tables.spread(Tables.documents(s, d)) // five regex passes per row
        .select(col("doc_id"),
          regexp_count(withContact, lit(TextPatterns.Email)).cast("long").as("n_emails"),
          regexp_count(withContact, lit(TextPatterns.Url)).cast("long").as("n_urls"),
          md5(regexp_replace(regexp_replace(withContact,
            TextPatterns.Email, "<EMAIL>"), TextPatterns.Url, "<URL>")).as("redacted_fp"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signal: fraction of duplicate word bigrams
    "t12_repetition_ratio" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(shingle_set(col("text"), 2)).cast("long").as("n_distinct_bigrams"),
          greatest(token_count(col("text")) - 1, lit(0)).cast("long").as("n_bigrams"))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct_bigrams") / greatest(col("n_bigrams"), lit(1L)))
        .orderBy(col("doc_id"))
    },

    // deterministic hash-stratified sampling (training-mixture
    // construction): 5 pseudo-random docs per language, reproducible in
    // (salt, data) on any engine — the oracle states the identical
    // md5-ordered selection
    "t13_stratified_sample" -> { (s, d) =>
      graft.operators.Sampling.stratifiedHead(
        Tables.documents(s, d), "lang", "doc_id", k = 5)
        .select(col("lang"), col("sample_rank").cast("long").as("sample_rank"),
          col("doc_id"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // Training-mixture sampling: per-language quotas (en 10 / fr 5 /
    // de 3; other languages contribute nothing) via the deterministic
    // md5-ordered head — the corpus-assembly step after t14's report
    "t16_mixture_sample" -> { (s, d) =>
      graft.operators.Sampling.mixtureHead(
        Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 10, "fr" -> 5, "de" -> 3))
        .select(col("lang"), col("sample_rank").cast("long").as("sample_rank"),
          col("doc_id"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // Temperature-flattened mixture (alpha=0.5): per-lang quotas
    // proportional to sqrt(n), nano-quantized to exact integer
    // arithmetic, selection in deterministic hash order
    "t27_temperature_mixture" -> { (s, d) =>
      graft.operators.Sampling.temperatureMixture(
        Tables.documents(s, d), "lang", "doc_id", budget = 200L)
        .select(col("lang"), col("sample_rank").cast("long").as("sample_rank"),
          col("doc_id"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // per-source distribution drift: chi-square divergence of each
    // source's unigram distribution vs the corpus — pure rational
    // arithmetic on exact counts, nano-quantized terms, long sums
    "t32_source_drift" -> { (s, d) =>
      graft.operators.Drift.bySource(Tables.documents(s, d), "source", "text")
        .orderBy(col("source"))
    },

    // label-model disagreement mining: closed-form ridge fit of the t2
    // quality label on (n_tokens, n_distinct) — one exact-decimal
    // aggregate pass for the normal equations, a 3x3 Cramer solve on
    // the driver, broadcast coefficients, and the top-20 documents by
    // absolute residual (the rows whose label their surface statistics
    // cannot explain — curation triage before retraining). The oracle
    // replays the IDENTICAL sums and Cramer expression tree: exact
    // integer sufficient statistics make the doubles bit-reproducible.
    "t33_label_disagreement" -> { (s, d) =>
      graft.operators.Fit.ridgeResidualOutliers(
        Tables.documents(s, d), "doc_id",
        token_count(col("text")).cast("long"),
        distinct_token_count(col("text")).cast("long"),
        floor(quality_score(col("text")) * lit(1e9) + lit(0.5)).cast("long"))
        .select(col("id").as("doc_id"), col("rnk"))
    },

    // per-domain cap (the C4/RefinedWeb web-corpus step): messy URLs
    // (uppercase scheme/host, default port, dot-segments, fragment) are
    // canonicalized by the native RFC 3986 kernel, grouped by host, and
    // capped at 3 docs per host in deterministic md5 order via the
    // bounded per-group heap. The oracle states the EXPECTED canonical
    // form and host arithmetically from the construction formula (the
    // m-family inversion posture) and replays the cap as a ROW_NUMBER.
    "t34_domain_cap" -> { (s, d) =>
      val raw = concat(lit("HTTPS://WWW."), upper(col("source")),
        (col("doc_id") % 5).cast("string"),
        lit(".EXAMPLE.COM:443/a/b/../c/./d?q="), col("doc_id").cast("string"),
        lit("#frag"))
      graft.operators.Curate.domainCap(
        Tables.documents(s, d).withColumn("url", raw),
        "doc_id", "url", maxPerHost = 3)
        .select(col("host"), col("sample_rank"), col("id").as("doc_id"), col("url"))
        .orderBy(col("host"), col("sample_rank"))
    },

    // Gopher repetition-section signals (the line-level half t25 leaves
    // out): duplicate-line fraction + duplicate-line CHAR fraction + top
    // 2/3-gram char fractions, per-row array arithmetic only. The corpus
    // has no newlines, so the gate SYNTHESIZES a multi-line document from
    // each row's real tokens (6-token lines; every 4th doc re-appends its
    // first line — a guaranteed duplicate) — the m-family inversion
    // posture: Spark round-trips construction through a real string and
    // re-splits; the oracle restates the stats from the formula.
    "t35_line_repetition" -> { (s, d) =>
      val w = tokens(col("text"))
      // every 6th inter-token space becomes a newline — ONE linear regex
      // pass (the transform+slice construction sliced quadratically and
      // dominated the gate's cost 2.6 s vs the operator's 0.75 s)
      val base = regexp_replace(array_join(w, " "),
        "((?:\\S+ ){5}\\S+) ", "$1\n")
      val mltext = when(col("doc_id") % 4 === 0 && size(w) > 0,
        concat(base, lit("\n"), array_join(slice(w, 1, 6), " ")))
        .otherwise(base)
      graft.operators.QualityRules.repetitionSignals(
        Tables.documents(s, d).withColumn("mltext", mltext),
        "doc_id", "mltext")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Fuzzy entity matching: per-brand count of part-name pairs within
    // edit distance 5, BLOCKED on (brand, type) so the comparison
    // space is per-block pairs, never the global n^2 — the standard
    // multi-key blocking of entity resolution (like d2's maxDf, blocking
    // bounds the candidate space by construction). Spark evaluates the
    // THRESHOLDED levenshtein (3-arg form, banded O(len*k) instead of
    // O(len^2)) once per pair in the filter; the aggregate output stays
    // |brands| rows regardless of match volume.
    "t17_fuzzy_name_pairs" -> { (s, d) =>
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_name"))
      // the probe (streaming) side of the broadcast join carries ALL the
      // per-pair levenshtein work; a single small parquet file scans as
      // one partition and ran the ~1.3M banded comparisons on one core
      // (the v8-banding pathology) — the shared adaptive spread fixes it
      val a = Tables.spread(p).toDF("id1", "brand", "ptype", "name1")
      val b = p.toDF("id2", "brand", "ptype", "name2")
      a.join(b, Seq("brand", "ptype"))
        .filter(col("id1") < col("id2") &&
          expr("levenshtein(name1, name2, 5)").between(0, 5))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_near_pairs"))
        .orderBy(col("brand"))
    },

    // BM25 lexical retrieval (Okapi formula, public) over the document
    // corpus — the lexical sibling of the vector search paths. Output is
    // ids only (the v7 last-ulp robustness argument: Spark's Math.log
    // and DuckDB's ln may differ in the last ulp, which cannot reorder
    // docs whose score gaps come from integer tf/dl differences, and
    // exact ties carry identical arithmetic on both sides + id
    // tie-break).
    "t18_bm25_search" -> { (s, d) =>
      graft.operators.Bm25.topK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("spark", "join", "fast", "window"), k = 10)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // the same query served from the PERSISTED inverted index (postings
    // hash-bucketed by term for directory pruning, doclens + stats
    // sidecars): must select the identical ids as t18's from-scratch pass
    "t28_inverted_search" -> { (s, d) =>
      val path = Tables.fixture("invidx", d)
      graft.operators.InvertedIndex.save(Tables.documents(s, d),
        "doc_id", "text", path, buckets = 16)
      graft.operators.InvertedIndex.searchSaved(s, path,
        terms = Seq("spark", "join", "fast", "window"), k = 10)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // SEGMENT COMPACTION under the gate: the index built as three
    // appends (each append lands up to one file per writer task per
    // bucket — the LSM small-segment accretion a streamed ingest
    // suffers), then the size-tiered policy (compactionPlan: more than
    // one file -> flag) rewrites flagged buckets as one segment each.
    // Search results MUST be bit-identical to t28's from-scratch oracle:
    // compaction is physical, never logical. The plan/file-count
    // mechanics are spec-pinned (filesystem facts DuckDB cannot state).
    "t52_index_compaction" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val path = Tables.fixture("invidx_c", d)
      graft.operators.InvertedIndex.save(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text", path, buckets = 8)
      graft.operators.InvertedIndex.appendSaved(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "text", path)
      graft.operators.InvertedIndex.appendSaved(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text", path)
      graft.operators.InvertedIndex.compactSaved(s, path, maxFiles = 1)
      graft.operators.InvertedIndex.searchSaved(s, path,
        terms = Seq("spark", "join", "fast", "window"), k = 10)
        .select(col("id"))
        .orderBy(col("id"))
    },

    // sequence-packing manifest (the concat-then-chunk training-data
    // layout): per-lang token streams in doc_id order cut every 256
    // tokens; each doc's span and window range fall out of one grouped
    // running sum over the t1 token-count kernel. All-integer output.
    "t20_packing_manifest" -> { (s, d) =>
      graft.operators.Packing.manifest(Tables.documents(s, d),
        "doc_id", "text", "lang", maxLen = 256L)
        .orderBy(col("grp"), col("id"))
    },

    // the GLOBAL (ungrouped) packing stream — the two-pass distributed
    // prefix sum (per-partition totals broadcast as base offsets), never
    // a single-partition window; result depends only on id order, so
    // partition boundaries cancel out
    "t21_packing_global" -> { (s, d) =>
      graft.operators.Packing.manifestGlobal(Tables.documents(s, d),
        "doc_id", "text", maxLen = 512L)
        .orderBy(col("id"))
    },

    // deterministic train/val/test split: membership is a pure function
    // of (salt, doc_id) — appending rows never reassigns existing ones,
    // the property randomSplit lacks. 80/10/10 over the documents,
    // reported per (lang, split).
    "t24_hash_split" -> { (s, d) =>
      graft.operators.Sampling.hashSplit(Tables.documents(s, d), "doc_id",
        weights = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split"))
    },

    // Gopher rule flags: each published quality rule as its own boolean
    // plus the metric it tested and the conjunctive keep — all per-row
    // codegen arithmetic, every ratio one IEEE division of exact ints
    "t25_gopher_rules" -> { (s, d) =>
      graft.operators.QualityRules
        .gopherFlags(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id"))
    },

    // BPE merge-step statistics: top-20 adjacent character pairs, counted
    // over the distinct vocabulary weighted by word frequency (the
    // tokenizer-training inner loop; pair arithmetic never touches the
    // corpus, only the vocab)
    "t26_bpe_pairs" -> { (s, d) =>
      graft.operators.BpePairs.topPairs(Tables.documents(s, d), "text", k = 20)
    },

    // frequency-filtered vocabulary: tokens with count >= 100, ids in
    // (count desc, token) order — the frequency-sorted id layout
    // tokenizer vocabularies use
    "t29_vocab_build" -> { (s, d) =>
      graft.operators.BpePairs.vocab(Tables.documents(s, d), "text", minCount = 100L)
        .orderBy(col("token_id"))
    },

    // one full BPE training step: find the top character pair (t26),
    // apply it greedily over the symbol vocabulary, recount — the new
    // top-10 symbol pairs. The corpus is scanned once (the word count);
    // everything after runs on vocabulary-sized data.
    "t30_bpe_merge_step" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val top = graft.operators.BpePairs.topPairs(docs, "text", 1)
        .head().getString(0)
      val (x, y) = (top.substring(0, 1), top.substring(1))
      val merged = graft.operators.BpePairs.applyMerge(
        graft.operators.BpePairs.symbolWords(docs, "text"), x, y)
      graft.operators.BpePairs.symbolPairCounts(merged)
        .orderBy(col("n").desc, col("pair").asc)
        .limit(10)
    },

    // the full train-then-ENCODE composition: derive the top-2 merges
    // from the corpus (the t30 loop run twice), then tokenize every
    // document with them — distinct words segment once, the corpus
    // re-joins the broadcast segmentation table, and each doc reports
    // word/piece counts plus the md5 of its in-order piece stream. The
    // oracle replays both merge derivations AND both greedy applications
    // relationally (the t30 islands-odd-ranks trick, chained), then the
    // same join-back and ordered fingerprint.
    "t36_corpus_tokenize" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val top1 = graft.operators.BpePairs.topPairs(docs, "text", 1)
        .head().getString(0)
      val (x1, y1) = (top1.substring(0, 1), top1.substring(1))
      val m1 = graft.operators.BpePairs.applyMerge(
        graft.operators.BpePairs.symbolWords(docs, "text"), x1, y1)
      val top2 = graft.operators.BpePairs.symbolPairCounts(m1)
        .orderBy(col("n").desc, col("pair").asc).limit(1).head().getString(0)
      val Array(x2, y2) = top2.split(" ", 2)
      graft.operators.BpePairs.encodeCorpus(docs, "doc_id", "text",
        Seq((x1, y1), (x2, y2)))
        .orderBy(col("id"))
    },

    // content-defined chunk manifest (the rsync/LBFS cut rule on token
    // streams): a token ends its chunk iff its md5 bucket % 8 == 0, so
    // chunk boundaries depend on content, not position — the property
    // that lets chunk fingerprints survive insertions (t10's fixed
    // windows all shift). Engine: one per-row fold, no shuffle; oracle:
    // relational prefix-count of cuts — a genuinely different algorithm
    // for the same manifest.
    "t37_cdc_chunks" -> { (s, d) =>
      Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text", divisor = 8)
        .orderBy(col("id"), col("chunk_idx"))
    },

    // the CDC dedup application: per doc, the fraction of its token
    // mass in chunks whose fingerprint appears in ANOTHER doc — the
    // shifted-duplication measure t37's boundaries exist to expose
    // (1323 of 4049 chunks are cross-doc duplicated at sf0.01)
    "d17_chunk_dup_mass" -> { (s, d) =>
      Dedup.chunkDupMass(Tables.documents(s, d), "doc_id", "text", divisor = 8)
        .orderBy(col("id"))
    },

    // LEAKAGE-SAFE split: near-dup clusters (exact Jaccard pairs ->
    // min-label components) move between train/val/test as UNITS —
    // the split hashes the cluster label, not the doc id, so no test
    // doc can have a near-duplicate in train; maxDf=50 keeps the pair
    // stage inside its counted guard through sf1
    "t43_leakage_safe_split" -> { (s, d) =>
      graft.operators.Curate.leakageSafeSplit(Tables.documents(s, d),
        "doc_id", "text",
        weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        maxDf = Some(50))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Unicode NFC normalization (UAX #15) — the preprocessing step that
    // makes combining sequences and precomposed characters the same
    // BYTES before any hash/dedup/shingle kernel sees them. Each doc
    // gets a planted combining pair ("e" + U+0301) and its precomposed
    // sibling (U+00E9); the md5 of the normalized text is byte-gated
    // against DuckDB's independent NFC implementation — two conforming
    // implementations of the same Unicode standard must agree exactly
    "t48_nfc_normalize" -> { (s, d) =>
      import graft.functions.GraftFunctions.nfc_normalize
      // explicit escapes: the first suffix is the COMBINING pair
      // (e + U+0301), the second the precomposed U+00E9 — literal
      // accents would be at the mercy of editor normalization
      val dirty = concat(col("text"), lit(" cafe\u0301 caf\u00e9"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(dirty).as("raw_len"),
          length(nfc_normalize(dirty)).as("nfc_len"),
          md5(nfc_normalize(dirty).cast("binary")).as("fp"),
          (nfc_normalize(dirty) =!= dirty).as("changed"))
        .orderBy(col("doc_id"))
    },

    // canonical-URL dedup (the Common-Crawl first stage): four URL
    // variants per group — uppercase host, explicit default port,
    // dot-segment path, fragment — constructed from doc_id arithmetic,
    // canonicalized by the native RFC 3986 kernel, deduped on the
    // canonical form. The oracle states the expected canonical STRING
    // arithmetically (the m1 inversion posture), so it gates lowercase
    // scheme/host, default-port drop, remove_dot_segments, and
    // fragment drop all at once, under the dedup aggregate.
    "d20_url_dedup" -> { (s, d) =>
      import graft.functions.GraftFunctions.url_canonicalize
      val url = expr(
        """CASE cast(doc_id % 4 as int)
          |  WHEN 0 THEN concat('https://HOST', doc_id div 4, '.com/p/', doc_id div 4)
          |  WHEN 1 THEN concat('https://host', doc_id div 4, '.com:443/p/', doc_id div 4)
          |  WHEN 2 THEN concat('HTTPS://host', doc_id div 4, '.com/x/../p/', doc_id div 4)
          |  ELSE concat('https://host', doc_id div 4, '.com/p/', doc_id div 4, '#frag')
          |END""".stripMargin)
      Tables.documents(s, d)
        .select(col("doc_id"), url_canonicalize(url).as("canonical"))
        .groupBy(col("canonical"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("canonical"))
    },

    // RAKE keyword extraction: top-3 stopword-delimited phrases per doc
    // by quantized deg/freq scores — corpus statistics one combinable
    // word-keyed aggregate, candidates joined to the broadcast score
    // table, per-doc top-k through the q28 bounded heap
    "t47_rake_keywords" -> { (s, d) =>
      graft.operators.Keywords.topKeywords(Tables.documents(s, d),
        "doc_id", "text", k = 3, maxWords = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rnk"))
    },

    // TF-IDF top-terms per doc (the term-level baseline next to t47's
    // phrases): quantized integer idf = (N * 1e6) div df — a monotone
    // transform, so the induced ranking is the classical one while
    // every comparison is exact BIGINT; per-doc top-3 via the q28
    // bounded heap, df over the FULL corpus, output sampled by doc
    "t49_tfidf" -> { (s, d) =>
      graft.operators.TfIdf.topTerms(Tables.documents(s, d),
        "doc_id", "text", k = 3)
        .filter(col("id") % 17 === 0)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rnk"))
    },

    // the composed curate -> train-order pipeline: d11's quality gate +
    // fingerprint dedup chooses the corpus, t46's epoch shuffle hands
    // the loader its per-epoch order — one lazy plan, the curation/
    // ordering boundary (where kept-set drift silently corrupts
    // training determinism) sits under the hash. The x6 posture:
    // every stage gated alone elsewhere, composed here.
    "x7_curate_shuffle" -> { (s, d) =>
      val kept = graft.operators.Curate.manifest(Tables.documents(s, d),
        "doc_id", "text", "lang", langs = Seq("en", "de"),
        minQuality = 0.5, maxLen = 256L)
        .select(col("id"))
      graft.operators.Sampling.epochShuffle(kept, "id",
        epochs = 2, shards = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("epoch"), col("shard"), col("pos"))
    },

    // deterministic epoch shuffle: per-epoch pseudo-random data order as
    // a pure function of (epoch, id) — reproducible, resumable, no RNG
    // state; positions dense within md5 shards (the shard is the unit
    // of parallelism; no corpus-wide window)
    "t46_epoch_shuffle" -> { (s, d) =>
      graft.operators.Sampling.epochShuffle(Tables.documents(s, d),
        "doc_id", epochs = 2, shards = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("epoch"), col("shard"), col("pos"))
    },

    // LENGTH-BUCKETED dynamic batching (sort-by-length batching):
    // bucket by ceil(n_tok/16), order within bucket by (n_tok, id),
    // chunk into 8-doc batches, each padding to its own max — the
    // batch-level pad_waste summary the bucket width is tuned on.
    // Per-bucket windows, never a corpus-wide sort.
    // PII SCRUBBING under the gate — the redaction pass every
    // public-crawl pipeline runs (emails / IPv4 / phone numbers, the
    // C4/RedPajama-style rules) as a fixed-order chain of built-in
    // regexp stages, whole-stage codegen, zero shuffle. The corpus text
    // is digit-free by construction, so the gate WEAVES synthetic PII
    // around each doc's real prefix in column arithmetic and the oracle
    // states the identical regex chain in RE2 — the patterns use only
    // the subset Java regex and RE2 agree on (doc on operators/Pii).
    // Counts are per-stage (as the previous stage left the text), so
    // the stage ORDER itself is under the hash.
    "t54_pii_scrub" -> { (s, d) =>
      val id = col("doc_id")
      val phone = concat(
        when(id % 2 === 0, lit("+")).otherwise(lit("")),
        format_string("%03d-%03d-%04d", (id % 1000).cast("int"),
          ((id * 7) % 1000).cast("int"), (id % 10000).cast("int")))
      val ip = format_string("10.%d.%d.%d", (id % 256).cast("int"),
        ((id * 3) % 256).cast("int"), (id % 100).cast("int"))
      val email = concat(lit("user"), id.cast("string"),
        lit("@mail"), (id % 10).cast("string"), lit(".com"))
      val extra = when(id % 3 === 0,
        lit(" also 10.1.2.3 and x@y.io")).otherwise(lit(""))
      val piiText = concat(lit("reach "), email, lit(" or "), phone,
        lit(" from "), ip, extra, lit(" then "),
        substring(col("text"), 1, 60))
      graft.operators.Pii.scrub(
        Tables.documents(s, d).select(id, piiText.as("text")), "text")
        .select(id, col("n_email"), col("n_ip"), col("n_phone"), col("redacted"))
        .orderBy(id)
    },

    // ROBOTS.TXT (RFC 9309) evaluation under the gate — the crawl-
    // governance decision that runs before any fetch enters the m15/x14
    // front door: per doc, construct a policy in column arithmetic
    // whose rules exercise longest-match precedence (Allow /private/pub*
    // 13 octets beats Disallow /private/ 9), the $ end anchor (/tmp$
    // blocks /tmp, not /tmp<id>), a PER-DOC anchored rule (/id/<id>$ —
    // the policy text itself varies by row), group selection (graftbot's
    // groups vs the * fallback evaluated on the SAME rows), and the
    // no-match default-allow. The oracle states both agents' decisions
    // per arm arithmetically (the m-family inversion posture). Per-row
    // scan-fused; at 100 TB this is a per-host robots dimension
    // broadcast onto the URL stream.
    "t57_robots_gate" -> { (s, d) =>
      import graft.functions.GraftFunctions.robots_allowed
      val id = col("doc_id")
      val robots = concat(
        lit("# crawl policy\nUser-agent: graftbot\nDisallow: /private/\n" +
          "Allow: /private/pub*\nDisallow: /tmp$\nDisallow: /id/"),
        id.cast("string"),
        lit("$\nUser-agent: *\nDisallow: /\nAllow: /open/\n"))
      val arm = pmod(id, lit(6))
      val path = when(arm === 0, concat(lit("/private/x"), id.cast("string")))
        .when(arm === 1, concat(lit("/private/pub"), id.cast("string")))
        .when(arm === 2, lit("/tmp"))
        .when(arm === 3, concat(lit("/tmp"), id.cast("string")))
        .when(arm === 4, concat(lit("/id/"), id.cast("string")))
        .otherwise(concat(lit("/open/"), id.cast("string")))
      Tables.documents(s, d)
        .select(id, path.as("path"),
          robots_allowed(robots, path, "graftbot").as("graft_ok"),
          robots_allowed(robots, path, "otherbot").as("other_ok"))
        .orderBy(id)
    },

    // SITEMAP PARSE + INCREMENTAL RECRAWL under the gate — crawl
    // DISCOVERY (the stage robots/frontier feed on): per doc, construct
    // a three-URL sitemap XML; parse it with BUILT-INS ONLY
    // (regexp_extract_all + zip_with + explode — when the format is
    // this regular, a custom Expression would be the anti-pattern),
    // then join the parsed lastmod against a fetch history and decide
    // refetch = lastmod > last_fetch (ISO dates compare as strings).
    // The join is fact-to-fact on the URL (both sides corpus-sized —
    // the honest shuffle a 100 TB recrawl pays once per cycle); the
    // oracle restates both branches arithmetically, so the XML parse,
    // the zip alignment, and the date comparison all sit under the
    // hash.
    "t60_sitemap_recrawl" -> { (s, d) =>
      val id = col("doc_id")
      def urlOf(k: Int) = format_string(
        "https://h%d.example.com/d%d/p%d", pmod(id, lit(37)), id, lit(k))
      def lastmodOf(k: Int) = format_string(
        "2024-01-%02d", pmod(id + k * 7, lit(28)) + 1)
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        concat((1 to 3).map(k => concat(
          lit("<url><loc>"), urlOf(k), lit("</loc><lastmod>"),
          lastmodOf(k), lit("</lastmod></url>"))): _*),
        lit("</urlset>"))
      val locs = regexp_extract_all(xml, lit("<loc>([^<]*)</loc>"), lit(1))
      val mods = regexp_extract_all(xml, lit("<lastmod>([^<]*)</lastmod>"), lit(1))
      val parsed = Tables.documents(s, d)
        .select(id, explode(zip_with(locs, mods,
          (l, m) => struct(l.as("url"), m.as("lastmod")))).as("e"))
        .select(id, col("e.url").as("url"), col("e.lastmod").as("lastmod"))
      val history = Tables.documents(s, d)
        .select(explode(array((1 to 3).map(k => struct(
          format_string("https://h%d.example.com/d%d/p%d",
            pmod(col("doc_id"), lit(37)), col("doc_id"), lit(k)).as("url"),
          format_string("2024-01-%02d",
            pmod(col("doc_id") * 3 + k * 5, lit(28)) + 1).as("last_fetch"))): _*))
          .as("h"))
        .select(col("h.url").as("url"), col("h.last_fetch").as("last_fetch"))
      parsed.join(history, Seq("url"), "inner")
        .select(id, col("url"), col("lastmod"),
          col("last_fetch"), (col("lastmod") > col("last_fetch")).as("refetch"))
        .orderBy(id, col("url"))
    },

    // SITEMAP INDEX + GZIPPED SHARDS under the gate (round 16) — the
    // missing FIRST hop of crawl discovery: real-world discovery hits a
    // <sitemapindex> pointing at sitemap-N.xml.gz shards, one nesting
    // level above t60's flat <urlset>. Per doc, construct the index AND
    // the shard blobs as REAL GZIP MEMBERS in column arithmetic (header
    // + one STORED deflate block + Spark's built-in crc32 + ISIZE, all
    // little-endian hex -> unhex), so [[Gunzip]]'s CRC verification
    // sits under the hash. Arms: a shard listed in the index with no
    // blob (the 404 — inner-join drops it), and a shard whose CRC is
    // bumped by one (torn gzip -> NULL -> quarantined by absence:
    // doc_id%7==0 loses shard 2). The engine path is index parse ->
    // shard fetch join -> gunzip -> urlset parse -> recrawl join — the
    // t60 decision fed by discovered rather than given URLs. Shuffles:
    // the fetch join and the history join, exactly the two a 100 TB
    // discovery cycle pays.
    "t60b_sitemap_index" -> { (s, d) =>
      val id = col("doc_id")
      def shardUrl(sh: Column) = format_string(
        "https://h%d.example.com/sitemap-%d.xml.gz", pmod(id, lit(37)), sh)
      def urlOf(sh: Int, k: Int) = format_string(
        "https://h%d.example.com/s%d/d%d/p%d",
        pmod(id, lit(37)), lit(sh), id, lit(k))
      def lastmodOf(sh: Int, k: Int) = format_string(
        "2024-02-%02d", pmod(id + sh * 3 + k * 7, lit(28)) + 1)
      def shardXml(sh: Int) = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        concat((1 to 2).map(k => concat(
          lit("<url><loc>"), urlOf(sh, k), lit("</loc><lastmod>"),
          lastmodOf(sh, k), lit("</lastmod></url>"))): _*),
        lit("</urlset>"))
      def le16(n: Column) = format_string("%02X%02X",
        n.bitwiseAND(lit(255)), shiftright(n, 8).bitwiseAND(lit(255)))
      def le32(n: Column) = format_string("%02X%02X%02X%02X",
        n.bitwiseAND(lit(255)), shiftright(n, 8).bitwiseAND(lit(255)),
        shiftright(n, 16).bitwiseAND(lit(255)),
        shiftright(n, 24).bitwiseAND(lit(255)))
      // RFC 1952 member: 10-byte header (CM=8 deflate, no flags, OS=255),
      // one final STORED deflate block (BFINAL=1/BTYPE=00, LEN, ~LEN),
      // then CRC-32 and ISIZE little-endian
      def gzipOf(xml: Column, crcBump: Column) = {
        val n = octet_length(xml)
        unhex(concat(
          lit("1F8B08000000000000FF"),
          lit("01"), le16(n), le16(lit(65535) - n),
          hex(xml),
          le32(pmod(crc32(xml.cast("binary")) + crcBump, lit(4294967296L))),
          le32(n)))
      }
      val docs = Tables.documents(s, d)
      val blobs = docs.select(id, explode(array(
          struct(shardUrl(lit(1)).as("shard_url"),
            gzipOf(shardXml(1), lit(0L)).as("gz")),
          struct(shardUrl(lit(2)).as("shard_url"),
            gzipOf(shardXml(2),
              when(id % 7 === 0, lit(1L)).otherwise(lit(0L))).as("gz"))))
          .as("b"))
        .select(id, col("b.shard_url").as("shard_url"), col("b.gz").as("gz"))
      val indexXml = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"),
        lit("<sitemap><loc>"), shardUrl(lit(1)), lit("</loc></sitemap>"),
        lit("<sitemap><loc>"), shardUrl(lit(2)), lit("</loc></sitemap>"),
        when(id % 5 === 0, concat(lit("<sitemap><loc>"), shardUrl(lit(3)),
          lit("</loc></sitemap>"))).otherwise(lit("")),
        lit("</sitemapindex>"))
      val discovered = docs.select(id, explode(
          regexp_extract_all(indexXml, lit("<loc>([^<]*)</loc>"), lit(1)))
          .as("shard_url"))
      val fetched = discovered.join(blobs, Seq("doc_id", "shard_url"), "inner")
        .withColumn("xml",
          graft.functions.GraftFunctions.gunzip(col("gz")).cast("string"))
        .filter(col("xml").isNotNull) // torn gzip: quarantined by absence
      val locs = regexp_extract_all(col("xml"), lit("<loc>([^<]*)</loc>"), lit(1))
      val mods = regexp_extract_all(col("xml"), lit("<lastmod>([^<]*)</lastmod>"), lit(1))
      val parsed = fetched.select(id, col("shard_url"),
        explode(zip_with(locs, mods,
          (l, m) => struct(l.as("url"), m.as("lastmod")))).as("e"))
        .select(id, col("shard_url"), col("e.url").as("url"),
          col("e.lastmod").as("lastmod"))
      val history = docs.select(explode(array((for {
          sh <- 1 to 2; k <- 1 to 2
        } yield struct(
          format_string("https://h%d.example.com/s%d/d%d/p%d",
            pmod(col("doc_id"), lit(37)), lit(sh), col("doc_id"), lit(k)).as("url"),
          format_string("2024-02-%02d",
            pmod(col("doc_id") * 3 + sh * 5 + k * 11, lit(28)) + 1).as("last_fetch"))): _*))
          .as("h"))
        .select(col("h.url").as("url"), col("h.last_fetch").as("last_fetch"))
      parsed.join(history, Seq("url"), "inner")
        .select(id, col("shard_url"), col("url"), col("lastmod"),
          col("last_fetch"), (col("lastmod") > col("last_fetch")).as("refetch"))
        .orderBy(id, col("url"))
    },

    // INCREMENTAL-CRAWL CONVERGENCE under the gate (x17b's discovery
    // half run TWICE, round 16): cycle 1 parses the sitemap, joins the
    // fetch history, and fetches every stale URL; the history then
    // UPDATES (fetched urls carry their cycle-1 lastmod as the new
    // last_fetch — a left join with coalesce); cycle 2's sitemap
    // changes ONLY the k=2 urls of doc_id%3==0 docs (a newer month).
    // The engine derives cycle 2's refetch set through the actual
    // two-cycle dataflow — parse, join, update, parse, join — and the
    // oracle states the convergence theorem directly: refetch2 is TRUE
    // exactly on the changed urls (unchanged-and-fetched urls satisfy
    // lastmod = last_fetch, unchanged-and-skipped ones still satisfy
    // lastmod <= last_fetch; the strict > never refires either). The
    // property that makes recrawl INCREMENTAL, under one hash.
    "t60d_recrawl_converges" -> { (s, d) =>
      val id = col("doc_id")
      def urlOf(k: Int) = format_string(
        "https://h%d.example.com/d%d/p%d", pmod(id, lit(37)), id, lit(k))
      def lastmod1Of(k: Int) = format_string(
        "2024-01-%02d", pmod(id + k * 7, lit(28)) + 1)
      def lastmod2Of(k: Int): Column =
        if (k == 2)
          when(id % 3 === 0, format_string("2024-04-%02d", pmod(id, lit(28)) + 1))
            .otherwise(lastmod1Of(k))
        else lastmod1Of(k)
      def xmlOf(lm: Int => Column) = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        concat((1 to 3).map(k => concat(
          lit("<url><loc>"), urlOf(k), lit("</loc><lastmod>"),
          lm(k), lit("</lastmod></url>"))): _*),
        lit("</urlset>"))
      def parsed(xml: Column) = {
        val locs = regexp_extract_all(xml, lit("<loc>([^<]*)</loc>"), lit(1))
        val mods = regexp_extract_all(xml, lit("<lastmod>([^<]*)</lastmod>"), lit(1))
        Tables.documents(s, d)
          .select(id, explode(zip_with(locs, mods,
            (l, m) => struct(l.as("url"), m.as("lastmod")))).as("e"))
          .select(id, col("e.url").as("url"), col("e.lastmod").as("lastmod"))
      }
      val history1 = Tables.documents(s, d)
        .select(explode(array((1 to 3).map(k => struct(
          format_string("https://h%d.example.com/d%d/p%d",
            pmod(col("doc_id"), lit(37)), col("doc_id"), lit(k)).as("url"),
          format_string("2024-01-%02d",
            pmod(col("doc_id") * 3 + k * 5, lit(28)) + 1).as("last_fetch"))): _*))
          .as("h"))
        .select(col("h.url").as("url"), col("h.last_fetch").as("last_fetch"))
      val fetched1 = parsed(xmlOf(lastmod1Of))
        .join(history1, Seq("url"), "inner")
        .filter(col("lastmod") > col("last_fetch"))
        .select(col("url"), col("lastmod").as("new_fetch"))
      val history2 = history1.join(fetched1, Seq("url"), "left")
        .select(col("url"),
          coalesce(col("new_fetch"), col("last_fetch")).as("last_fetch"))
      parsed(xmlOf(lastmod2Of))
        .join(history2, Seq("url"), "inner")
        .select(id, col("url"), col("lastmod"), col("last_fetch"),
          (col("lastmod") > col("last_fetch")).as("refetch"))
        .orderBy(id, col("url"))
    },

    // ROBOTS `Sitemap:` DISCOVERY under the gate (round 16 — the true
    // ZEROTH hop: robots.txt names the sitemap index, which t60b walks
    // into shards, which t60 turns into a recrawl decision): per doc,
    // construct a robots.txt whose Sitemap fields exercise the
    // field-scoped (NOT group-scoped) semantics — one at top of file,
    // one INSIDE the graftbot group (still collected; the field applies
    // to all agents wherever it appears per the sitemaps.org extension
    // RFC 9309 acknowledges), one with a trailing comment, an
    // empty-value line skipped, and a third URL only when doc_id%5==0
    // (row-count arm). File order under the hash via posexplode.
    "t60c_robots_sitemaps" -> { (s, d) =>
      import graft.functions.GraftFunctions.robots_sitemaps
      val id = col("doc_id")
      val host = pmod(id, lit(37)).cast("string")
      val robots = concat(
        lit("Sitemap: https://h"), host,
        lit(".example.com/sitemap-index.xml\n" +
          "User-agent: graftbot\nDisallow: /private/\n" +
          "Sitemap: https://h"), host,
        lit(".example.com/sitemap-"), pmod(id, lit(7)).cast("string"),
        lit(".xml.gz # shard\nSitemap:\nUser-agent: *\nDisallow: /\n"),
        when(id % 5 === 0, concat(lit("Sitemap: https://cdn.example.org/sm/"),
          id.cast("string"), lit(".xml\n"))).otherwise(lit("")))
      Tables.documents(s, d)
        .select(id, posexplode(robots_sitemaps(robots)).as(Seq("idx", "sm_url")))
        .select(id, col("idx").cast("int").as("idx"), col("sm_url"))
        .orderBy(id, col("idx"))
    },

    // BOILERPLATE REMOVAL under the gate (jusText-family main-content
    // extraction): per doc, construct a six-block page where every rule
    // has a live arm — a link-dense nav (bad before any length test),
    // two prose blocks whose appended function words guarantee the
    // stopword-density keep, a SHORT block between them (kept by
    // neighbor smoothing), a stopword-free promo footer (bad by
    // density), and the SAME kind of short block after the footer
    // (dropped by the same smoothing) — so the class string is a
    // constant the oracle states, and kept_text is the inversion of
    // the construction. Pure array HOFs fused into the scan: zero
    // explode, zero shuffle.
    "t59_boilerplate" -> { (s, d) =>
      val id = col("doc_id")
      val toks = split(col("text"), " ")
      def sliceTxt(i: Int) = {
        val start = pmod(lit(i * 7), greatest(size(toks) - 6, lit(1))) + 1
        array_join(slice(toks, start, lit(6)), " ")
      }
      val c1 = concat(sliceTxt(1), lit(" the of and to a is."))
      val c2 = concat(sliceTxt(2), lit(" the of and in it on."))
      val short1 = substring(element_at(toks, 1), 1, 6)
      val short2 = substring(element_at(toks, 2), 1, 6)
      val footer = array_join(transform(sequence(lit(1), lit(12)),
        i => format_string("promo%d_%d", pmod(id, lit(7)), i)), " ")
      val html = concat(
        lit("<html><body><div><a href=\"/\">Home</a> <a href=\"/about\">About</a></div><p>"),
        c1, lit("</p><p>"), short1, lit("</p><p>"), c2, lit("</p><div>"),
        footer, lit("</div><p>"), short2, lit("</p></body></html>"))
      graft.operators.Boilerplate.extract(
          Tables.documents(s, d).select(id, col("text")), html)
        .select(id, col("n_blocks"), col("n_kept"), col("classes"), col("kept_text"))
        .orderBy(id)
    },

    // ITERATED BOILERPLATE SMOOTHING under the gate (t59b, round 16 —
    // the documented one-pass deviation closed): a RUN of three short
    // blocks between two good paragraphs is exactly where one
    // smoothing pass and jusText's iterated propagation DISAGREE (the
    // middle short has no good immediate neighbor until its siblings
    // promote). The gate runs BOTH variants on the same page and pins
    // both class strings — one-pass drops the middle short, the
    // 2-pass fixpoint keeps it; the short after the footer stays bad
    // under both (no good neighbor at any distance).
    "t59b_boilerplate_iterated" -> { (s, d) =>
      val id = col("doc_id")
      val toks = split(col("text"), " ")
      def sliceTxt(i: Int) = {
        val start = pmod(lit(i * 7), greatest(size(toks) - 6, lit(1))) + 1
        array_join(slice(toks, start, lit(6)), " ")
      }
      val c1 = concat(sliceTxt(1), lit(" the of and to a is."))
      val c2 = concat(sliceTxt(2), lit(" the of and in it on."))
      def short(k: Int) = substring(element_at(toks, k), 1, 6)
      val footer = array_join(transform(sequence(lit(1), lit(12)),
        i => format_string("promo%d_%d", pmod(id, lit(7)), i)), " ")
      val html = concat(
        lit("<html><body><div><a href=\"/\">Home</a> <a href=\"/about\">About</a></div><p>"),
        c1, lit("</p><p>"), short(1), lit("</p><p>"), short(2),
        lit("</p><p>"), short(3), lit("</p><p>"), c2, lit("</p><div>"),
        footer, lit("</div><p>"), short(4), lit("</p></body></html>"))
      val base = Tables.documents(s, d).select(id, col("text"))
      val one = graft.operators.Boilerplate.extract(base, html)
        .select(id, col("text"), col("classes").as("classes_one"))
      graft.operators.Boilerplate.extractIterated(one, html, passes = 2)
        .select(id, col("classes_one"), col("classes").as("classes_fix"),
          col("n_kept").as("n_kept_fix"), col("kept_text").as("kept_text_fix"))
        .orderBy(id)
    },

    // CRAWL-FRONTIER politeness scheduling under the gate — after t57
    // admits a URL, assign it a fetch offset honoring the host's crawl
    // delay and the fleet's per-cycle capacity: hosts from doc
    // arithmetic with a deliberately HOT host (every third doc lands on
    // host 0 — the skew case a real frontier has), priority classes,
    // per-host delays, capacity 8 per 60 s cycle. One host-keyed
    // shuffle; the per-host serial rank is inherent to politeness and
    // bounded by it. All-integer schedule, stated exactly in SQL.
    "t58_crawl_schedule" -> { (s, d) =>
      val id = col("doc_id")
      val host = when(id % 3 === 0, lit(0L)).otherwise(pmod(id, lit(37L)))
      graft.operators.Frontier.schedule(
        Tables.documents(s, d).select(id,
          host.as("host_id"), pmod(id, lit(5L)).as("priority"),
          (lit(1L) + pmod(host, lit(4L))).as("delay_s")),
        host = col("host_id"), priority = col("priority"), tie = id,
        delaySec = col("delay_s"), perCycle = 8, cycleLenSec = 60L)
        .select(id, col("host_id"), col("slot"), col("fetch_offset_s"))
        .orderBy(id)
    },

    // CRAWL-DELAY FROM ROBOTS → FRONTIER (round 16): t58's schedule with
    // the per-host delay SOURCED from the host's own robots.txt via
    // robots_crawl_delay — the de-facto (non-RFC-9309, universally
    // emitted) field, integer seconds, selected-group scope. Arms: hosts
    // ≡0 mod 3 omit the field (the caller default 2 applies), others
    // declare 1+host%4 in an exact graftbot group that must BEAT the *
    // group's decoy Crawl-delay 30 — group selection sits under the
    // schedule hash (a wrong selection shifts every fetch offset). At
    // 100 TB the delay evaluates once per HOST on the robots dimension.
    "t58b_schedule_robots_delay" -> { (s, d) =>
      import graft.functions.GraftFunctions.robots_crawl_delay
      val id = col("doc_id")
      val host = when(id % 3 === 0, lit(0L)).otherwise(pmod(id, lit(37L)))
      val robots = when(pmod(host, lit(3)) === 0,
          lit("User-agent: graftbot\nDisallow: /tmp\n" +
            "User-agent: *\nCrawl-delay: 30\n"))
        .otherwise(concat(
          lit("User-agent: graftbot\nCrawl-delay: "),
          (lit(1L) + pmod(host, lit(4L))).cast("string"),
          lit("\nUser-agent: *\nCrawl-delay: 30\n")))
      graft.operators.Frontier.schedule(
        Tables.documents(s, d).select(id,
          host.as("host_id"), pmod(id, lit(5L)).as("priority"),
          robots_crawl_delay(robots, lit(2L), "graftbot").as("delay_s")),
        host = col("host_id"), priority = col("priority"), tie = id,
        delaySec = col("delay_s"), perCycle = 8, cycleLenSec = 60L)
        .select(id, col("host_id"), col("delay_s"), col("slot"),
          col("fetch_offset_s"))
        .orderBy(id)
    },

    // SNIPPET EXTRACTION under the gate — the search-result highlighter:
    // the width-12 token window with the most query-term hits per doc,
    // leftmost on ties. Only hit-anchored windows need scoring (an
    // optimal window shifts right onto its first hit without losing
    // any), so the pass is O(hits^2) nested-lambda array code fused into
    // the scan — zero explode, zero shuffle; the oracle states the same
    // anchored scoring in DuckDB list lambdas, with the leftmost rule
    // carried by list_position/array_position returning the FIRST max.
    "t56_snippet_windows" -> { (s, d) =>
      graft.operators.Snippets.bestWindow(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("spark", "join", "merge", "window"), w = 12)
        .select(col("doc_id"), col("n_hits"), col("best_hits"),
          col("best_pos"), col("snippet"))
        .orderBy(col("doc_id"))
    },

    // C4 LINE-LEVEL CLEANING under the gate (Raffel et al. 2020 §2.2,
    // the published recipe): the corpus text is single-line by
    // construction, so the gate BUILDS a multi-line page per doc from
    // the doc's own tokens — six lines sliced at arithmetic offsets,
    // suffixed so every rule has a live arm (terminal punctuation
    // present/absent, 3-word short lines, a "javascript" line) — plus
    // page-level injections (lorem ipsum at doc_id % 11, a brace line
    // at doc_id % 13). The operator is pure higher-order array code
    // (split -> filter lambda -> array_join): zero explode, zero
    // shuffle; the oracle states the same lambdas over the same
    // construction in DuckDB list functions.
    "t55_c4_line_filters" -> { (s, d) =>
      val id = col("doc_id")
      val toks = split(col("text"), " ")
      def line(i: Int): Column = {
        val take = if (i % 3 == 2) 3 else 8
        val start = pmod(lit(i * 7), greatest(size(toks) - take, lit(1))) + 1
        val base = array_join(slice(toks, start, lit(take)), " ")
        val sfx = pmod(id + i, lit(4))
        concat(base,
          when(sfx === 0, lit("."))
            .when(sfx === 1, lit("!"))
            .when(sfx === 2, lit(""))
            .otherwise(lit(" javascript.")))
      }
      val page0 = concat_ws("\n", (0 until 6).map(line): _*)
      val page = concat(page0,
        when(id % 11 === 0, lit("\nlorem ipsum dolor sit amet then some.")).otherwise(lit("")),
        when(id % 13 === 0, lit("\nif (x) { return the value; }")).otherwise(lit("")))
      graft.operators.C4Filters.page(
        Tables.documents(s, d).select(id, page.as("page")), "doc_id", "page")
        .orderBy(id)
    },

    "t50_length_batching" -> { (s, d) =>
      graft.operators.Packing.lengthBatches(Tables.documents(s, d),
        "doc_id", "text", bucketWidth = 16L, batchSize = 8L)
        .orderBy(col("bucket"), col("batch_idx"))
    },

    // UNIGRAM-LM tokenizer training (Kudo 2018), one hard-EM round:
    // substring seed vocabulary (minCount prune, single chars kept) ->
    // Viterbi segmentation of the distinct-word table under exact
    // integer log-probabilities (piecewise-linear bit-arithmetic log2,
    // no float in the loop) -> frequency-weighted piece recount. The
    // corpus is touched once (word counts); everything else is
    // vocabulary-sized — the t30 posture for the OTHER tokenizer a
    // pipeline trains. Oracle unrolls the SAME DP as 12 chained
    // MATERIALIZED CTEs (max score, shortest-last-piece tie rule).
    "t51_unigram_train" -> { (s, d) =>
      graft.operators.UnigramLm.trainRound(
        Tables.documents(s, d), "text", minCount = 50L)
        .orderBy(col("viterbi_n").desc, col("piece").asc)
        .limit(30)
    },

    // fixed-window RAG chunk manifest: 40-token windows advancing by 30
    // (10-token overlap) — pure per-row array arithmetic inside codegen,
    // zero shuffle; the manifest carries md5 fingerprints, not text
    "t45_chunk_manifest" -> { (s, d) =>
      graft.operators.Chunker.fixedChunks(Tables.documents(s, d),
        "doc_id", "text", chunkSize = 40, overlap = 10)
        .orderBy(col("id"), col("chunk_idx"))
    },

    // Count-Min sketch: (r, b, cnt) register table estimating the top-20
    // tokens' counts. The shuffle is bounded by partitions x depth x
    // width regardless of vocabulary — the frequency summary that stays
    // cheap where even t22's one-row-per-distinct-token recount input
    // is the bottleneck. est >= exact row by row (overestimate-only,
    // property-tested); the exact side here is gate scaffolding.
    "t44_countmin_estimates" -> { (s, d) =>
      graft.operators.CountMin.estimateTopK(Tables.documents(s, d), "text",
        k = 20, depth = 4, width = 512)
    },

    // cross-shard CMS merge: the sketch is linear, so union + per-cell
    // sum over two disjoint doc shards equals the single-pass registers
    // exactly — the property that lets 1000 executors build registers
    // independently and combine them driver-free (oracle states the
    // single pass; equality IS the linearity proof)
    "t44b_countmin_merge" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.CountMin.merge(
        graft.operators.CountMin.registers(
          docs.filter(col("doc_id") % 2 === 0), "text", depth = 4, width = 512),
        graft.operators.CountMin.registers(
          docs.filter(col("doc_id") % 2 =!= 0), "text", depth = 4, width = 512))
        .orderBy(col("r"), col("b"))
    },

    // weighted systematic sampling: 25 equally-spaced positions on the
    // id-ordered cumulative token line — inclusion ~ token weight,
    // no RNG, pure integer selection (the two-pass distributed prefix
    // sum supplies the line; nothing windows globally)
    "t42_systematic_sample" -> { (s, d) =>
      graft.operators.Sampling.systematicSample(
        Tables.documents(s, d), "doc_id", "text", k = 25)
        .withColumnRenamed("id", "doc_id")
    },

    // near-superset containment: directed (contained, container) pairs
    // where the smaller df-filtered shingle set sits >= 90% inside the
    // larger — the boilerplate-wrapping dedup case Jaccard misses;
    // maxDf=50 keeps the counted candidate volume bounded through sf1
    "d19_containment_pairs" -> { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, minContainment = 0.9, maxDf = Some(50))
    },

    // word2phrase collocation mining: top-20 adjacent pairs by the
    // Mikolov discounted-PMI score in exact integer arithmetic
    // (decimal-formed products, integral div — bit-reproducible ranking)
    "t41_collocations" -> { (s, d) =>
      graft.operators.TextLm.collocations(Tables.documents(s, d),
        "doc_id", "text", minCount = 5, k = 20)
    },

    // corpus-order n-gram novelty: each doc's fraction of distinct
    // 3-grams it FIRST introduces (min-doc-id attribution) — the
    // incremental-value signal that downweights near-verbatim re-crawls
    // with NO pair volume anywhere (one gram-keyed min aggregate + a
    // join back)
    "d18_novelty" -> { (s, d) =>
      Dedup.noveltyFractions(Tables.documents(s, d), "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // CCNet perplexity-bucket sharding: head/middle/tail thirds per
    // language by the t23 LM score, thresholds from an exact score
    // histogram (no corpus-wide sort; boundary ties land by VALUE, so
    // the split is partition- and retry-invariant)
    "t40_ppl_buckets" -> { (s, d) =>
      graft.operators.TextLm.perplexityBuckets(
        Tables.documents(s, d), "doc_id", "text", "lang")
        .orderBy(col("lang"), col("bucket"))
    },

    // NO-SPLIT next-fit-decreasing packing (the fine-tuning/long-context
    // regime t20/t21's concat-then-chunk cannot serve: documents keep
    // their integrity, bins bound padding waste). Shard by md5 (t24
    // convention), per-shard (n_tok desc, id) order, the classic
    // next-fit fold as ONE O(1)-state pass per shard. The oracle replays
    // the fold as a recursive CTE — all shards advance in lockstep.
    "t39_nextfit_packing" -> { (s, d) =>
      graft.operators.Packing.nextFitShards(Tables.documents(s, d),
        "doc_id", "text", capacity = 512L, shards = 4)
        .select(col("shard"), col("bin"), col("id").as("doc_id"), col("n_tok"))
        .orderBy(col("shard"), col("bin"), col("n_tok").desc, col("doc_id"))
    },

    // DSIR-style importance weights: every doc scored by the mean
    // quantized ratio of target-slice (lang='en') vs raw-corpus unigram
    // probability under hashed-bucket models — exact integer arithmetic
    // end to end (two-step 1e-9 quantization, integer div), so the
    // oracle replays the identical expression tree
    "t38_importance_weights" -> { (s, d) =>
      graft.operators.Sampling.importanceWeights(
        Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en", buckets = 1024)
        .orderBy(col("id"))
    },

    // the composed curation pipeline as one plan: quality+lang gate ->
    // exact dedup keep-first (min_by on the canonical fingerprint) ->
    // per-lang packing manifest. One oracle over the whole flow.
    "d11_curation_manifest" -> { (s, d) =>
      graft.operators.Curate.manifest(Tables.documents(s, d),
        "doc_id", "text", "lang", langs = Seq("en", "de"),
        minQuality = 0.5, maxLen = 256L)
        .orderBy(col("grp"), col("id"))
    },

    // corpus-conditional bigram plausibility per doc (the CCNet-style
    // LM quality signal, arithmetic-mean form — nano-quantized per
    // occurrence so the cross-engine compare is integer-exact; the
    // textbook mean-ln form lives in TextLm.bigramLogLikelihood,
    // spec-verified since ln is not bit-portable)
    "t23_bigram_lm_score" -> { (s, d) =>
      graft.operators.TextLm
        .bigramProbScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id"))
    },

    // exact top-k frequent tokens via Misra–Gries candidates + exact
    // recount (two passes, shuffle bounded by partitions x sketchK —
    // never one row per distinct token). The oracle states the exact
    // counts; equality holds because the operator's exactness gate
    // proves the candidate set covers the true top-k before returning.
    "t22_heavy_hitters" -> { (s, d) =>
      graft.operators.HeavyHitters.topTokens(
        Tables.documents(s, d), "text", k = 15, sketchK = 256)
    },

    // keep-BEST exact dedup: keeper = the highest-quality copy per
    // canonical fingerprint (ties -> lowest id) — d1's policy sibling
    "d15_dedup_keep_best" -> { (s, d) =>
      Dedup.exactDupGroupsBest(Tables.documents(s, d), "doc_id", "text",
        graft.functions.TextFunctions.quality_score(col("text")))
        .orderBy(col("fp"))
    },

    // exact dedup groups on (lang, source): keeper = min doc_id
    "d1_exact_dedup" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("lang"), col("source"))
    },

    // exact n-gram Jaccard near-dup pairs (relational shingle join).
    // maxDf=100 blocks ubiquitous shingles: a shingle in m docs emits
    // O(m^2) candidate rows on ONE join key, so an unbounded df is a
    // quadratic hot-key failure at scale. The corpus' max df is 7 at
    // sf0.01 / 25 at sf0.1, so the gate result is identical with or
    // without blocking; the oracle states the same df filter.
    "d2_jaccard_near_dup" -> { (s, d) =>
      Dedup.jaccardNearDupPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = Some(100))
    },

    // exact substring-window duplication (Lee et al. 2022 signal, token
    // granularity): pairs sharing ANY verbatim 8-token window, with the
    // distinct-shared-window count as evidence — catches verbatim
    // boilerplate spans inside otherwise-different documents that
    // whole-document Jaccard (d2) dilutes away
    "d10_substring_pairs" -> { (s, d) =>
      Dedup.sharedWindowPairs(Tables.documents(s, d), "doc_id", "text",
        w = 8, maxDf = 100)
    },

    // MinHash-LSH near-dups — full-pipeline SQL oracle (identical FNV-1a +
    // splitmix64 signature math, band-slice blocking, exact verify);
    // ScalaTest additionally asserts equality with d2's exact pairs at
    // this threshold/geometry
    "d3_minhash_lsh_near_dup" -> { (s, d) =>
      Dedup.minhashLshNearDupPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, minJaccard = 0.5)
    },

    // LSH RECALL harness (v30's posture for the dedup family): the same
    // MinHash pipeline under a DELIBERATELY coarse geometry (8 bands x
    // 16 rows — the S-curve passes ~80% at j=0.9 and ~0 at j=0.5, so
    // marginal pairs drop and recall is an honest fraction: 253/256 =
    // 98.8% at bench scale, where d3's 32x4 is spec-proven lossless at
    // this threshold). The
    // number band/row decisions are made on; the exact side raises the
    // pair cap deliberately (the d7 precedent) because the harness's
    // whole point is the exact baseline underneath.
    "d21_lsh_recall" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // the exact pair list already exits jaccardNearDupPairs
      // MATERIALIZED (internal localCheckpoint since r19), so both
      // consumers (the n_exact aggregate and the hit semi-join) re-run
      // only a few-hundred-row scan — the r19 caller-level
      // localCheckpoint on top re-materialized the orderBy for nothing
      // (one extra job; the r20 interleaved A/B in OPTIMIZATION_r20.md
      // chg 3 measured NO-OUTER faster in every warm pass:
      // 5.36/4.69/4.48 vs 6.36/5.61/4.65 s). The LSH side also exits
      // minhashLshNearDupPairs localCheckpoint'ed.
      val exact = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = Some(100),
        maxPairEstimate = 500000000L)
      val coarse = Dedup.minhashLshNearDupPairs(docs, "doc_id", "text",
        n = 3, numHashes = 128, bands = 8, minJaccard = 0.5)
      val hit = exact.join(coarse, Seq("id1", "id2"), "left_semi")
      // the two crosses below are 1-row x 1-row aggregate combines —
      // the plan's BroadcastNestedLoopJoins carry exactly one row each
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(coarse.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          expr("(n_hit * 1000000L) div nullif(n_exact, 0)").as("recall_ppm"))
    },

    // SIMHASH-vs-JACCARD recall (d21's sibling for the OTHER fuzzy
    // family): d4's pigeonhole blocking is lossless for its own
    // hamming metric, so the honest question is how well the 64-bit
    // sketch captures JACCARD truth — hamming<=3 candidates scored
    // against the exact j>=0.5 baseline. Precision rides along
    // (sim pairs that are NOT true near-dups), the number the
    // hamming threshold is tuned on.
    "d22_simhash_recall" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // the exact list exits the operator materialized (the d21 note;
      // recallforms measured the outer checkpoint a tie-to-loss here).
      // The SIM list keeps its caller-level checkpoint: hammingPairs has
      // no internal one, and its two consumers would otherwise re-run
      // the corpus-sized simhash + bucket pipeline each.
      val exact = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = Some(100),
        maxPairEstimate = 500000000L)
      val sim = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        n = 3, maxHamming = 3).localCheckpoint(true)
      val hit = exact.join(sim, Seq("id1", "id2"), "left_semi")
      // 1-row x 1-row aggregate combines (see d21)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(sim.agg(count(lit(1)).as("n_sim")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_sim"), col("n_hit"),
          expr("(n_hit * 1000000L) div nullif(n_exact, 0)").as("recall_ppm"),
          expr("(n_hit * 1000000L) div nullif(n_sim, 0)").as("precision_ppm"))
    },

    // SimHash near-dups — full-pipeline SQL oracle (identical FNV-1a bit
    // votes, chunk blocking, hamming verify)
    "d4_simhash_near_dup" -> { (s, d) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, maxHamming = 3)
    },

    // Near-dup clusters: d2's verified pairs resolved into connected
    // components, one keeper (min doc_id) per component — the decision
    // step of the dedup pipeline. A pair list under Dedup.LocalMaxPairs
    // resolves on the driver, a longer one by star contraction; the
    // oracle states the same closure as a recursive CTE.
    "d7_dedup_clusters" -> { (s, d) =>
      // maxPairEstimate raised DELIBERATELY (the named escape hatch):
      // d7's subject is cluster resolution, so it keeps the exact pair
      // baseline underneath at every sweep scale — at sf1 that is the
      // ~1e8-pair regime d2 itself now refuses to enter silently
      Dedup.nearDupClusters(
        Dedup.jaccardNearDupPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, minJaccard = 0.5, maxDf = Some(100),
          maxPairEstimate = 500000000L))
        .select(col("id").as("doc_id"), col("keeper"))
        .orderBy(col("doc_id"))
    },

    // Deep components under the oracle: chain pairs (doc_id, doc_id+1)
    // within blocks of 64 consecutive ids build path components of
    // diameter up to 63, which label propagation would need ~63 rounds
    // for; the driver union-find settles them in one pass and star
    // contraction (past Dedup.LocalMaxPairs pairs) in O(log 64) ~ 6
    // rounds. Component count scales with the corpus (one per 64 ids),
    // so the oracle's reachability closure stays LINEAR (<= 63 reach
    // rows per node) at every sf.
    "d8_dedup_clusters_stars" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1 &&
            col("a.doc_id") % 64 =!= lit(63))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      Dedup.nearDupClusters(pairs)
        .select(col("id").as("doc_id"), col("keeper"))
        .orderBy(col("doc_id"))
    },

    // Benchmark-contamination check: every 20th doc plays the eval set;
    // each remaining (train) doc reports what fraction of its distinct
    // 3-gram shingles appear in the eval universe. The eval shingle set
    // broadcasts; train streams through — no pairwise materialization.
    "d5_contamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Contamination.scores(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 20 === 0), "text", n = 3)
        .select(col("id").as("doc_id"), col("n_shingles"),
          col("n_contaminated"), col("contamination"))
        .orderBy(col("doc_id"))
    },

    // the last step of fuzzy dedup: near-dup pairs -> connected clusters
    // -> one KEEPER per cluster by quality (ties -> lowest id) — the
    // d7 x d15 composition a curation pipeline actually ships
    "d16_cluster_keep_best" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = Dedup.nearDupClusters(
        Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
          n = 3, minJaccard = 0.5, maxDf = Some(100),
          maxPairEstimate = 500000000L))
      val q = docs.select(col("doc_id").as("id"),
        graft.functions.TextFunctions.quality_score(col("text")).as("q"))
      clusters.join(q, Seq("id"))
        .groupBy(col("keeper").as("cluster"))
        .agg(max_by(col("id"), struct(col("q"), (-col("id")).as("ni"))).as("best"),
          count(lit(1)).as("n_members"))
        .orderBy(col("cluster"))
    },

    // Contiguous-span contamination (GPT-3-style n-gram overlap check):
    // longest run of consecutive contaminated 8-token windows per train
    // doc; flagged = a verbatim shared span of >= 15 tokens. Catches the
    // planted near-copies d5's diluted fraction underweights.
    "d12_span_contamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Contamination.spanFlags(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 20 === 0), "text", n = 8, minRun = 8)
        .select(col("id").as("doc_id"), col("n_windows"), col("n_hit"),
          col("max_run"), col("flagged"))
        .orderBy(col("doc_id"))
    },

    // Copy-on-write MERGE semantics: every doc_id % 3 == 0 row is
    // updated (n_chars + 1000), every doc_id % 7 == 0 row re-inserted
    // under a fresh key, everything else survives — one max_by
    // precedence aggregate, no window sort.
    "d13_upsert_merge" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val mods = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + lit(1000L))
      val inserts = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.operators.Upsert.merge(docs, mods.unionByName(inserts),
        Seq("doc_id"), Seq("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Fuzzy incremental dedup: the same odd-vs-even split, but NEAR-dup
    // (MinHash-LSH banded bucket join + exact Jaccard verify) instead of
    // exact fingerprints — catches reformatted re-crawls d6 misses
    "d14_incremental_near_dup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.incrementalNearDupNew(
        docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
        .orderBy(col("id"))
    },

    // Incremental-load dedup: odd doc_ids arrive as the new batch, even
    // doc_ids are the standing corpus; keep only genuinely-new content
    // (fingerprint anti-join — the cross-dataset exact-dedup step).
    "d6_incremental_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Vocabulary/boilerplate report: the 20 highest-document-frequency
    // 3-gram shingles (the df distribution that motivates d2's maxDf
    // blocking — a shingle near the top of this list is exactly the kind
    // the near-dup join must prune). Map-side-combinable hash aggregate
    // on the shingle, then a 20-row TakeOrdered.
    "t15_top_shingles" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(shingle_set(col("text"), 3)).as("s"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("s").asc)
        .limit(20)
    },

    // Per-language corpus report: doc counts, total tokens, decimal-routed
    // mean quality — the mixture-construction summary over a partitioned
    // corpus (map-side-combinable hash aggregate, |langs| groups).
    "t14_corpus_stats" -> { (s, d) =>
      // quality quantized via floor(q * 1e9 + 0.5) nano-units, not a
      // double->DECIMAL cast: the multiply and floor are IEEE-identical on
      // both engines, whereas each engine's double->decimal cast rounds
      // through its own path (same portability fix as q21's cents)
      Tables.documents(s, d)
        .select(col("lang"),
          token_count(col("text")).cast("long").as("n_tok"),
          floor(quality_score(col("text")) * 1000000000.0 + 0.5).cast("long").as("qn"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          (sum(col("qn")).cast("double") / count(lit(1)) / 1000000000.0).as("avg_quality"))
        .orderBy(col("lang"))
    }
  )

  /** The t9/t9b synthetic markup around the corpus (Spark side): depth-6
    * same-tag inline nest, 3-level nested `<ol>`, a `<ul>`, headings,
    * blockquote, code, img, hr — every staged rule fires. One definition,
    * two renderers (canonical t9, block-layout t9b).
    */
  private def t9Markup: Column = concat(
    lit("<h1>Doc "), col("doc_id").cast("string"),
    lit("</h1><h2><b><i>meta</i></b></h2><p><b>Doc "), col("doc_id").cast("string"),
    lit("</b> <em>note</em>: "), col("text"),
    lit(" <a href=\"https://docs.example/"), col("doc_id").cast("string"),
    lit("\">link</a></p><blockquote>quoted from "), col("source"),
    lit("</blockquote><p>run <code>fetch "), col("doc_id").cast("string"),
    lit("</code></p><img src=\"https://img.example/"), col("doc_id").cast("string"),
    lit(".png\" alt=\"thumb\"/><hr/><ol><li>lang "), col("lang"),
    lit("</li><li>source "), col("source"),
    lit("</li><li><b>end</b></li></ol><ul><li>tail item</li></ul>" +
      "<p><b><b><b><b><b><b>deep "), col("lang"),
    lit("</b></b></b></b></b></b></p><ol><li>one<ol><li>inner "), col("source"),
    lit("</li><li>two<ol><li>core</li></ol></li></ol></li><li>outer2</li></ol>"))

  /** The same markup as a DuckDB SQL expression (shared by the t9 and
    * t9b oracles — matches [[t9Markup]] byte for byte).
    */
  private val T9MarkupSql: String =
    "'<h1>Doc ' || CAST(doc_id AS VARCHAR) || " +
    "'</h1><h2><b><i>meta</i></b></h2><p><b>Doc ' || CAST(doc_id AS VARCHAR) || " +
    "'</b> <em>note</em>: ' || text || " +
    "' <a href=\"https://docs.example/' || CAST(doc_id AS VARCHAR) || " +
    "'\">link</a></p><blockquote>quoted from ' || source || " +
    "'</blockquote><p>run <code>fetch ' || CAST(doc_id AS VARCHAR) || " +
    "'</code></p><img src=\"https://img.example/' || CAST(doc_id AS VARCHAR) || " +
    "'.png\" alt=\"thumb\"/><hr/><ol><li>lang ' || lang || " +
    "'</li><li>source ' || source || " +
    "'</li><li><b>end</b></li></ol><ul><li>tail item</li></ul>" +
    "<p><b><b><b><b><b><b>deep ' || lang || " +
    "'</b></b></b></b></b></b></p><ol><li>one<ol><li>inner ' || source || " +
    "'</li><li>two<ol><li>core</li></ol></li></ol></li><li>outer2</li></ol>'"

  // masked-64-bit SQL builders shared with the v8 oracle — see SketchSql
  /** DuckDB restatement of [[graft.functions.HtmlToMarkdown]], stage for
    * stage: br, the inline FIXPOINT (a recursive CTE iterating the same
    * four bold/em/link/code rules until nothing changes — arbitrary-depth
    * nesting, not the old 3-pass unroll), img/hr, ATX headings,
    * blockquote, then the innermost-first `<ol>` numbering loop (a second
    * recursive CTE matching the SAME RE2-safe innermost-scope pattern,
    * numbering items with an indexed lambda — DuckDB list indexes are
    * 1-based where the kernel's split array is 0-based, hence j-1 — and
    * splicing by strpos; the regex's leftmost match is also the first
    * literal occurrence of its own matched text, so strpos splices at the
    * match position), remaining `<li>` -> "- ", then strip_html's tag
    * removal, entity decode, and whitespace collapse. The iteration bound
    * and the innermost-ol pattern are interpolated from the kernel's
    * constants so the engines cannot drift.
    *
    * NB the s-interpolator processes escapes even in triple quotes, so
    * regex `\b` needs a doubled backslash in interpolated literals; the
    * plain triple-quoted patterns keep `\b` literal.
    */
  private def mdOracleSql(input: String): String = {
    def rr(x: String, pat: String, rep: String) =
      s"regexp_replace($x, '$pat', '$rep', 'g')"
    val maxIt = graft.functions.HtmlToMarkdown.MaxIters
    val olMaxIt = graft.functions.HtmlToMarkdown.OlMaxIters
    val olPat = graft.functions.HtmlToMarkdown.InnerOlPattern
    val afterBr = rr(input, """(?i)<br\s*/?>""", " ")
    val step = {
      var x = "x"
      x = rr(x, """(?i)<(?:b|strong)\b[^>]*>([^<]*)</(?:b|strong)>""", """**\1**""")
      x = rr(x, """(?i)<(?:i|em)\b[^>]*>([^<]*)</(?:i|em)>""", """*\1*""")
      x = rr(x, """(?i)<a\b[^>]*href="([^"]*)"[^>]*>([^<]*)</a>""", """[\2](\1)""")
      x = rr(x, """(?i)<code\b[^>]*>([^<]*)</code>""", """`\1`""")
      x
    }
    val blocks = {
      var x = "x"
      x = rr(x, """(?i)<img\b[^>]*alt="([^"]*)"[^>]*src="([^"]*)"[^>]*/?>""", """![\1](\2)""")
      x = rr(x, """(?i)<img\b[^>]*src="([^"]*)"[^>]*alt="([^"]*)"[^>]*/?>""", """![\2](\1)""")
      x = rr(x, """(?i)<hr\s*/?>""", " --- ")
      for (h <- 1 to 6)
        x = rr(x, s"""(?i)<h$h\\b[^>]*>([^<]*)</h$h>""", " " + ("#" * h) + """ \1 """)
      x = rr(x, """(?i)<blockquote\b[^>]*>([^<]*)</blockquote>""", """ > \1 """)
      x
    }
    val tail = {
      var x = rr("x", """(?i)<li\b[^>]*>""", "- ")
      x = rr(x, "<[^>]*>", " ")
      x = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(x) { case (acc, (from, to)) => s"replace($acc, '$from', '$to')" }
      s"trim(${rr(x, """\s+""", " ")})"
    }
    s"""WITH RECURSIVE md_base AS (
       |  SELECT doc_id, $afterBr AS x FROM documents),
       |md_inl(doc_id, x, it) AS (
       |  SELECT doc_id, x, 0 FROM md_base
       |  UNION ALL
       |  SELECT doc_id, nx, it + 1 FROM (
       |    SELECT doc_id, $step AS nx, x, it FROM md_inl) s
       |  WHERE nx <> x AND it < $maxIt),
       |md_inld AS (SELECT doc_id, max_by(x, it) AS x FROM md_inl GROUP BY doc_id),
       |md_blk AS (SELECT doc_id, $blocks AS x FROM md_inld),
       |md_ol(doc_id, x, it) AS (
       |  SELECT doc_id, x, 0 FROM md_blk
       |  UNION ALL
       |  SELECT doc_id,
       |    substr(x, 1, strpos(x, m) - 1) || ' ' ||
       |      array_to_string(list_transform(string_split_regex(g, '(?i)<li\\b[^>]*>'),
       |        (item, j) -> CASE WHEN j = 1 THEN item
       |                     ELSE ' ' || CAST(j - 1 AS VARCHAR) || '. ' || item END), '')
       |      || ' ' || substr(x, strpos(x, m) + len(m)),
       |    it + 1
       |  FROM (SELECT doc_id, x, it,
       |          regexp_extract(x, '$olPat', 0) AS m,
       |          regexp_extract(x, '$olPat', 1) AS g
       |        FROM md_ol) s
       |  WHERE m <> '' AND it < $olMaxIt),
       |md_old AS (SELECT doc_id, max_by(x, it) AS x FROM md_ol GROUP BY doc_id)
       |SELECT doc_id, $tail AS markdown
       |FROM md_old ORDER BY doc_id""".stripMargin
  }

  /** DuckDB restatement of [[graft.functions.HtmlToMarkdownBlocks]] —
    * the block-layout pipeline with the SAME marker scheme: newlines ride
    * as chr(31), indent units as chr(30) (one per wrapping list level,
    * two spaces at the final step), introduced only after source
    * whitespace collapses so the cleanup regexes distinguish layout from
    * structure exactly as the kernel does. The shared list loop matches
    * the kernel's [[graft.functions.HtmlToMarkdown.InnerListPattern]]
    * (ol|ul alternation — group 1 vs 2 picks the numbering style via the
    * matched text's own prefix) and splices one innermost scope per
    * iteration under the same [[graft.functions.HtmlToMarkdown.OlMaxIters]]
    * bound.
    */
  private def mdBlocksOracleSql(input: String): String = {
    def rr(x: String, pat: String, rep: String) =
      s"regexp_replace($x, '$pat', '$rep', 'g')"
    // replacement as a SQL EXPRESSION — for chr(31)/chr(30) splices
    def rrE(x: String, pat: String, repExpr: String) =
      s"regexp_replace($x, '$pat', $repExpr, 'g')"
    val maxIt = graft.functions.HtmlToMarkdown.MaxIters
    val olMaxIt = graft.functions.HtmlToMarkdown.OlMaxIters
    val listPat = graft.functions.HtmlToMarkdown.InnerListPattern
    val nl = "chr(31)"
    val mm = "chr(31) || chr(31)"
    val afterBr = rrE(rr(input, """\s+""", " "), """(?i)<br\s*/?>""", nl)
    val step = {
      var x = "x"
      x = rr(x, """(?i)<(?:b|strong)\b[^>]*>([^<]*)</(?:b|strong)>""", """**\1**""")
      x = rr(x, """(?i)<(?:i|em)\b[^>]*>([^<]*)</(?:i|em)>""", """*\1*""")
      x = rr(x, """(?i)<a\b[^>]*href="([^"]*)"[^>]*>([^<]*)</a>""", """[\2](\1)""")
      x = rr(x, """(?i)<code\b[^>]*>([^<]*)</code>""", """`\1`""")
      x
    }
    val blocks = {
      var x = "x"
      x = rr(x, """(?i)<img\b[^>]*alt="([^"]*)"[^>]*src="([^"]*)"[^>]*/?>""", """![\1](\2)""")
      x = rr(x, """(?i)<img\b[^>]*src="([^"]*)"[^>]*alt="([^"]*)"[^>]*/?>""", """![\2](\1)""")
      x = rrE(x, """(?i)<hr\s*/?>""", s"$mm || '---' || $mm")
      for (h <- 1 to 6)
        x = rrE(x, s"""(?i)<h$h\\b[^>]*>([^<]*)</h$h>""",
          s"$mm || '${"#" * h} \\1' || $mm")
      x = rrE(x, """(?i)<blockquote\b[^>]*>([^<]*)</blockquote>""", s"$mm || '> \\1' || $mm")
      x = rrE(x, """(?i)</?p\b[^>]*>""", mm)
      x
    }
    val tail = {
      var x = rrE("x", """(?i)<li\b[^>]*>""", s"$nl || '- '")
      x = rr(x, "<[^>]*>", " ")
      x = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(x) { case (acc, (from, to)) => s"replace($acc, '$from', '$to')" }
      x = rr(x, " +", " ")
      x = rrE(x, """ *\x1f *""", nl)
      x = rrE(x, """\x1f{3,}""", mm)
      x = rr(x, """^[\x1e\x1f ]+|[\x1e\x1f ]+$""", "")
      s"replace(replace($x, chr(30), '  '), chr(31), chr(10))"
    }
    s"""WITH RECURSIVE mdb_base AS (
       |  SELECT doc_id, $afterBr AS x FROM documents),
       |mdb_inl(doc_id, x, it) AS (
       |  SELECT doc_id, x, 0 FROM mdb_base
       |  UNION ALL
       |  SELECT doc_id, nx, it + 1 FROM (
       |    SELECT doc_id, $step AS nx, x, it FROM mdb_inl) s
       |  WHERE nx <> x AND it < $maxIt),
       |mdb_inld AS (SELECT doc_id, max_by(x, it) AS x FROM mdb_inl GROUP BY doc_id),
       |mdb_blk AS (SELECT doc_id, $blocks AS x FROM mdb_inld),
       |mdb_ls(doc_id, x, it) AS (
       |  SELECT doc_id, x, 0 FROM mdb_blk
       |  UNION ALL
       |  SELECT doc_id,
       |    substr(x, 1, strpos(x, m) - 1) ||
       |      array_to_string(list_transform(string_split_regex(g, '(?i)<li\\b[^>]*>'),
       |        (item, j) -> CASE WHEN j = 1 THEN item
       |                     ELSE chr(31) ||
       |                          CASE WHEN ord THEN CAST(j - 1 AS VARCHAR) || '. '
       |                               ELSE '- ' END ||
       |                          replace(item, chr(31), chr(31) || chr(30)) END), '')
       |      || substr(x, strpos(x, m) + len(m)),
       |    it + 1
       |  FROM (SELECT doc_id, x, it,
       |          regexp_extract(x, '$listPat', 0) AS m,
       |          CASE WHEN lower(substr(regexp_extract(x, '$listPat', 0), 1, 3)) = '<ol'
       |               THEN regexp_extract(x, '$listPat', 1)
       |               ELSE regexp_extract(x, '$listPat', 2) END AS g,
       |          lower(substr(regexp_extract(x, '$listPat', 0), 1, 3)) = '<ol' AS ord
       |        FROM mdb_ls) s
       |  WHERE m <> '' AND it < $olMaxIt),
       |mdb_lsd AS (SELECT doc_id, max_by(x, it) AS x FROM mdb_ls GROUP BY doc_id)
       |SELECT doc_id, $tail AS markdown
       |FROM mdb_lsd ORDER BY doc_id""".stripMargin
  }

  private val toksSql = SketchSql.ToksSql
  private def shinglesSql(w: String) = SketchSql.shinglesSql(w)
  private val mask64 = SketchSql.Mask64
  private def mulModU(x: String, c: Long) = SketchSql.mulModU(x, c)
  private def addModU(a: String, b: String) = SketchSql.addModU(a, b)
  private val fnvSql = SketchSql.FnvSql
  private def signedSql(u: String) = SketchSql.signedSql(u)

  /** t51's ilog2 as SQL over an integer expression (the UnigramLm
    * piecewise-linear log2: (bitlen-1)*2^16 + top 16 bits below the
    * leading one — pure bit arithmetic, monotone, engine-portable).
    */
  private def ilog2Sql(x: String): String =
    s"""(CAST(len(bin($x)) - 1 AS BIGINT) * 65536
       | + CASE WHEN len(bin($x)) <= 17
       |        THEN (($x) << (17 - len(bin($x)))) & 65535
       |        ELSE (($x) >> (len(bin($x)) - 17)) & 65535 END)""".stripMargin

  /** t51's Viterbi DP unrolled: state s{j} = per word, the best
    * segmentation of its first j chars (score + piece list). Step j
    * draws from s{j-1}..s{j-4} (pieces are 1..4 chars), joins the
    * vocabulary on the candidate piece, and keeps ROW 1 under
    * (score DESC, prev-position DESC) — max likelihood, ties to the
    * SHORTEST last piece, the operator's stated rule. Each state is
    * MATERIALIZED (referenced by up to four later steps AND the final
    * union — DuckDB would otherwise re-expand multiplicatively, the g3
    * lesson).
    */
  private def unigramDpCtes(maxLen: Int, maxPiece: Int): String = {
    val s0 = """s0 AS MATERIALIZED (
               |  SELECT w, c, CAST(0 AS BIGINT) AS score,
               |    CAST([] AS VARCHAR[]) AS seg, 0 AS j
               |  FROM twc)""".stripMargin
    val steps = (1 to maxLen).map { j =>
      val prev = (math.max(0, j - maxPiece) until j).map { i =>
        s"""SELECT w, c, score, seg, $i AS i FROM s$i WHERE len(w) >= $j"""
      }.mkString("\n      UNION ALL ")
      s"""s$j AS MATERIALIZED (
         |  SELECT w, c, score, seg, $j AS j FROM (
         |    SELECT u.w, u.c, u.score + v.lp AS score,
         |      list_append(u.seg, v.piece) AS seg,
         |      ROW_NUMBER() OVER (PARTITION BY u.w
         |        ORDER BY u.score + v.lp DESC, u.i DESC) AS rn
         |    FROM (
         |      $prev
         |    ) u
         |    JOIN lpv v ON v.piece = substr(u.w, u.i + 1, $j - u.i)
         |  ) WHERE rn = 1)""".stripMargin
    }
    val fin = (1 to maxLen).map(j =>
      s"SELECT c, seg FROM s$j WHERE len(w) = $j").mkString("\n    UNION ALL ")
    (s0 +: steps).mkString(",\n") +
      s""",
         |fin AS (
         |    $fin)""".stripMargin
  }

  /** Shared by t18 (from-scratch BM25) and t28 (served from the saved
    * inverted index): the Okapi formula restated verbatim — same
    * tokenization, same N, same association in every float expression;
    * ids only (the v7 last-ulp robustness argument).
    */
  private val Bm25TopIdsSql: String =
    """WITH toks AS (
      |  SELECT doc_id AS id, t.term
      |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(term)
      |  WHERE t.term <> ''),
      |dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY id),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |q(term) AS (VALUES ('spark'), ('join'), ('fast'), ('window')),
      |dft AS (
      |  SELECT term, COUNT(DISTINCT id) AS df
      |  FROM toks JOIN q USING (term) GROUP BY term),
      |tf AS (
      |  SELECT id, term, COUNT(*) AS tf
      |  FROM toks JOIN q USING (term) GROUP BY id, term),
      |sc AS (
      |  SELECT tf.id,
      |    SUM(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * (1.2 + 1)
      |      / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / s.avgdl))) AS score
      |  FROM tf JOIN dft d USING (term) JOIN dl USING (id) CROSS JOIN stats s
      |  GROUP BY tf.id),
      |topk AS (SELECT id FROM sc ORDER BY score DESC, id ASC LIMIT 10)
      |SELECT id FROM topk ORDER BY id""".stripMargin

  def sql: Map[String, String] = Map(
    "t1_token_stats" ->
      s"""SELECT doc_id,
         |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens,
         |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(list_distinct($toksSql)) END AS n_distinct
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality_score" ->
      """SELECT doc_id,
        |  (LEAST(1.0, n_tok / 20.0)
        |   + n_distinct / GREATEST(n_tok, 1.0)
        |   + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
        |   + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(list_distinct(string_split_regex(trim(text), '\s+'))) END AS DOUBLE) AS n_distinct,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS DOUBLE) AS n_stop,
        |    CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(len(text) AS DOUBLE) AS n_chars
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "t3_lang_guess" ->
      """SELECT lang,
        |  CASE WHEN zh > 0 THEN 'zh'
        |       WHEN en >= fr AND en >= es AND en >= de AND en > 0 THEN 'en'
        |       WHEN fr >= es AND fr >= de AND fr > 0 THEN 'fr'
        |       WHEN es >= de AND es > 0 THEN 'es'
        |       WHEN de > 0 THEN 'de'
        |       ELSE 'unknown' END AS guess,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '[一-鿿]')) AS zh,
        |    len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) AS en,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) AS fr,
        |    len(regexp_extract_all(text, '\b(el|los|las|y|es)\b')) AS es,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) AS de
        |  FROM documents) t
        |GROUP BY lang, guess
        |ORDER BY lang, guess""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_shingle_stats" ->
      s"""SELECT doc_id,
         |  CASE WHEN len(trim(text)) = 0 OR len($toksSql) < 3 THEN 0
         |       ELSE len(${shinglesSql(toksSql)}) END AS n_shingles
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t6_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t7_strip_html" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace('<p><b>doc&nbsp;' || CAST(doc_id AS VARCHAR) || ':</b> ' || text || '</p>',
        |                     '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS stripped
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t8_rolling_fp" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 131 + b) % 36028797018963968) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t13_stratified_sample" ->
      """SELECT lang, sample_rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT)
        |      AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 5
        |ORDER BY lang, sample_rank""".stripMargin,

    "t10_token_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id, w, unnest(generate_series(1, len(w), 30)) AS start
         |  FROM toks WHERE len(w) > 0)
         |SELECT doc_id, CAST(start AS BIGINT) AS start,
         |  md5(array_to_string(w[start:start+39], ' ')) AS chunk_fp,
         |  CAST(len(w[start:start+39]) AS BIGINT) AS n_tokens
         |FROM ex
         |ORDER BY doc_id, start""".stripMargin,

    "t11_redact_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(c, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(c, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |  md5(regexp_replace(regexp_replace(c,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g')) AS redacted_fp
        |FROM (SELECT doc_id,
        |        text || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |             || '@example.org or https://docs.example/' || CAST(doc_id AS VARCHAR) AS c
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "t12_repetition_ratio" ->
      s"""SELECT doc_id, n_distinct_bigrams, n_bigrams,
         |  1.0 - n_distinct_bigrams / GREATEST(n_bigrams, 1) AS rep_ratio
         |FROM (
         |  SELECT doc_id,
         |    CAST(CASE WHEN len(trim(text)) = 0 OR len($toksSql) < 2 THEN 0
         |         ELSE len(list_distinct(list_transform(
         |           generate_series(1, len($toksSql) - 1),
         |           i -> array_to_string(($toksSql)[i:i+1], ' ')))) END AS BIGINT) AS n_distinct_bigrams,
         |    CAST(GREATEST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END - 1, 0) AS BIGINT) AS n_bigrams
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin,

    // the staged pipeline mirrors html_to_markdown stage for stage (see
    // mdOracleSql); the input expression matches the Spark-side concat
    // exactly, including the depth-6 same-tag inline nest and the
    // 3-level nested <ol> that exercise the fixpoint loops
    "t9_html_to_markdown" -> mdOracleSql(T9MarkupSql),

    // same input, block-layout pipeline (chr(31) newline / chr(30)
    // indent markers — see mdBlocksOracleSql)
    "t9b_markdown_blocks" -> mdBlocksOracleSql(T9MarkupSql),

    "d1_exact_dedup" ->
      """SELECT lang, source, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "d7_dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 100),
         |ex AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
         |prs AS (
         |  SELECT id1, id2 FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) p
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.5),
         |edges AS (SELECT id1 AS a, id2 AS b FROM prs
         |          UNION SELECT id2, id1 FROM prs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper
         |FROM reach
         |GROUP BY src
         |ORDER BY doc_id""".stripMargin,

    // d7's recursive closure supplies the clusters, d15's quality formula
    // the scores; keep-best as the same window statement
    "d16_cluster_keep_best" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 100),
         |ex AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
         |prs AS (
         |  SELECT id1, id2 FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) p
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.5),
         |edges AS (SELECT id1 AS a, id2 AS b FROM prs
         |          UNION SELECT id2, id1 FROM prs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |memb AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
         |  FROM reach GROUP BY src),
         |qual AS (
         |  SELECT doc_id,
         |    (LEAST(1.0, n_tok / 20.0)
         |     + n_distinct / GREATEST(n_tok, 1.0)
         |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
         |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
         |  FROM (
         |    SELECT doc_id,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS n_tok,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS DOUBLE) AS n_distinct,
         |      CAST(len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS DOUBLE) AS n_stop,
         |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |      CAST(len(text) AS DOUBLE) AS n_chars
         |    FROM documents) t0),
         |ranked AS (
         |  SELECT m.cluster, m.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY m.cluster
         |      ORDER BY q.quality DESC, m.doc_id ASC) AS rn
         |  FROM memb m JOIN qual q USING (doc_id))
         |SELECT cluster, MAX(CASE WHEN rn = 1 THEN doc_id END) AS best,
         |  COUNT(*) AS n_members
         |FROM ranked
         |GROUP BY cluster
         |ORDER BY cluster""".stripMargin,

    "d8_dedup_clusters_stars" ->
      """WITH RECURSIVE prs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 64 <> 63),
        |edges AS (SELECT id1 AS a, id2 AS b FROM prs
        |          UNION SELECT id2, id1 FROM prs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper
        |FROM reach
        |GROUP BY src
        |ORDER BY doc_id""".stripMargin,

    "d5_contamination" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |ex AS (SELECT doc_id, unnest(${shinglesSql("w")}) AS s FROM toks),
         |ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 20 = 0),
         |tr AS (SELECT doc_id, s FROM ex WHERE doc_id % 20 <> 0)
         |SELECT tr.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(ev.s) AS BIGINT) AS n_contaminated,
         |  COUNT(ev.s) * 1.0 / COUNT(*) AS contamination
         |FROM tr LEFT JOIN ev ON tr.s = ev.s
         |GROUP BY tr.doc_id
         |ORDER BY doc_id""".stripMargin,

    // t2's quality formula + the canonical fingerprint + keep-best as a
    // window statement the max_by aggregate must equal
    "d15_dedup_keep_best" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    (LEAST(1.0, n_tok / 20.0)
        |     + n_distinct / GREATEST(n_tok, 1.0)
        |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
        |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
        |  FROM (
        |    SELECT doc_id, text,
        |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
        |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |           ELSE len(list_distinct(string_split_regex(trim(text), '\s+'))) END AS DOUBLE) AS n_distinct,
        |      CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS DOUBLE) AS n_stop,
        |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |      CAST(len(text) AS DOUBLE) AS n_chars
        |    FROM documents) t0),
        |f AS (
        |  SELECT doc_id, quality,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM q),
        |ranked AS (
        |  SELECT fp, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY fp
        |      ORDER BY quality DESC, doc_id ASC) AS rn
        |  FROM f)
        |SELECT fp, MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper,
        |  COUNT(*) AS n_copies
        |FROM ranked
        |GROUP BY fp
        |ORDER BY fp""".stripMargin,

    // the merge restated declaratively: updates as a CASE, inserts as a
    // UNION ALL — the operator's precedence aggregate must be invisible
    "d13_upsert_merge" ->
      """WITH docs AS (SELECT doc_id, lang, n_chars FROM documents),
        |merged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM docs
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars FROM docs WHERE doc_id % 7 = 0)
        |SELECT doc_id, lang, n_chars FROM merged
        |ORDER BY doc_id""".stripMargin,

    // positional windows (unnest pairing), the same broadcast-shaped IN
    // probe, and the pos - ROW_NUMBER() islands trick for run lengths
    "d12_span_contamination" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |tw AS (
         |  SELECT doc_id,
         |    unnest(generate_series(1, len(w) - 7)) AS pos,
         |    unnest(list_transform(generate_series(1, len(w) - 7),
         |      i -> array_to_string(w[i:i+7], ' '))) AS s
         |  FROM toks),
         |ev AS (SELECT DISTINCT s FROM tw WHERE doc_id % 20 = 0),
         |tr AS (SELECT doc_id, pos, s IN (SELECT s FROM ev) AS hit
         |       FROM tw WHERE doc_id % 20 <> 0),
         |h AS (SELECT doc_id, pos,
         |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM tr WHERE hit),
         |runs AS (SELECT doc_id, COUNT(*) AS run FROM h GROUP BY doc_id, grp),
         |mr AS (SELECT doc_id, MAX(run) AS max_run FROM runs GROUP BY doc_id),
         |pd AS (SELECT doc_id, COUNT(*) AS n_windows,
         |         SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit
         |       FROM tr GROUP BY doc_id)
         |SELECT pd.doc_id,
         |  CAST(n_windows AS BIGINT) AS n_windows,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(COALESCE(max_run, 0) AS BIGINT) AS max_run,
         |  COALESCE(max_run, 0) >= 8 AS flagged
         |FROM pd LEFT JOIN mr USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "t15_top_shingles" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |ex AS (SELECT doc_id, unnest(${shinglesSql("w")}) AS s FROM toks)
         |SELECT s, COUNT(*) AS df
         |FROM ex
         |GROUP BY s
         |ORDER BY df DESC, s ASC
         |LIMIT 20""".stripMargin,

    // the Okapi formula restated verbatim: same tokenization (whitespace
    // split of lowercased text, empties dropped), same N (docs with >= 1
    // token), same association in every float expression; ids only
    "t18_bm25_search" -> Bm25TopIdsSql,

    // identical oracle to t18: the saved index's postings/doclens/stats
    // are a lossless factoring of the same token stream, so the served
    // selection must equal the from-scratch one
    "t28_inverted_search" -> Bm25TopIdsSql,

    // identical statement: three appends + physical compaction must
    // change NOTHING the query can observe
    "t52_index_compaction" -> Bm25TopIdsSql,

    // the same grouped running sum stated in SQL; spans and window ids
    // are pure integer arithmetic on the shared token-count expression
    "t20_packing_manifest" ->
      s"""WITH t AS (
         |  SELECT lang AS grp, doc_id AS id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT grp, id, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY id) AS BIGINT) AS end_off
         |  FROM t)
         |SELECT grp, id, n_tok, end_off - n_tok AS start_off,
         |  (end_off - n_tok) // 256 AS first_bin,
         |  (end_off - 1) // 256 AS last_bin,
         |  (end_off - 1) // 256 - (end_off - n_tok) // 256 + 1 AS n_bins
         |FROM c WHERE n_tok > 0
         |ORDER BY grp, id""".stripMargin,

    // one global ordered running sum in SQL — the two-pass engine
    // result must equal it exactly (integer spans, boundary-free)
    "t21_packing_global" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT id, n_tok,
         |    CAST(SUM(n_tok) OVER (ORDER BY id) AS BIGINT) AS end_off
         |  FROM t)
         |SELECT id, n_tok, end_off - n_tok AS start_off,
         |  (end_off - n_tok) // 512 AS first_bin,
         |  (end_off - 1) // 512 AS last_bin,
         |  (end_off - 1) // 512 - (end_off - n_tok) // 512 + 1 AS n_bins
         |FROM c WHERE n_tok > 0
         |ORDER BY id""".stripMargin,

    // same md5-bucket arithmetic; the integer boundaries are the
    // engine's exact (cumWeight * 2^32).toLong values for 0.8 / 0.9
    "t24_hash_split" ->
      """WITH b AS (
        |  SELECT lang,
        |    CAST(concat('0x', substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 3435973836 THEN 'train'
        |       WHEN bucket < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM b
        |GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,

    // every Gopher rule restated: same token split, same integer counts,
    // each ratio the same single IEEE division, same boolean thresholds
    "t25_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id AS id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS w
        |  FROM documents),
        |m AS (
        |  SELECT id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(len(array_to_string(w, '')) AS DOUBLE) / GREATEST(len(w), 1) AS mean_word_len,
        |    CAST(len(regexp_extract_all(text, '#'))
        |         + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |      / GREATEST(len(w), 1) AS symbol_ratio,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / GREATEST(len(w), 1) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop,
        |    CAST(len(w) - len(list_distinct(w)) AS DOUBLE)
        |      / GREATEST(len(w), 1) AS dup_frac
        |  FROM w)
        |SELECT id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop, dup_frac,
        |  n_words >= 50 AND n_words <= 100000 AS r_words,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_mean_len,
        |  symbol_ratio <= 0.1 AS r_symbol,
        |  alpha_frac >= 0.8 AS r_alpha,
        |  n_stop >= 2 AS r_stop,
        |  dup_frac <= 0.3 AS r_dup,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
        |   AND n_stop >= 2 AND dup_frac <= 0.3) AS keep
        |FROM m
        |ORDER BY id""".stripMargin,

    // the greedy scan restated relationally: matching positions form
    // consecutive islands, greedy keeps the odd ranks (a merge consumes
    // its right symbol, so the next candidate is two positions on);
    // consumed positions drop, merged positions relabel, pairs recount
    // via LEAD over the surviving sequence
    "t30_bpe_merge_step" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        |p0 AS (
        |  SELECT c, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM wc WHERE len(w) >= 2),
        |top1 AS (
        |  SELECT pair FROM p0 GROUP BY pair
        |  ORDER BY CAST(SUM(c) AS BIGINT) DESC, pair ASC LIMIT 1),
        |mx AS (SELECT substr(pair, 1, 1) AS x, substr(pair, 2, 1) AS y,
        |              pair AS xy FROM top1),
        |toks AS (
        |  SELECT w, c,
        |    unnest(generate_series(1, len(w))) AS pos,
        |    unnest(list_transform(generate_series(1, len(w)), i -> substr(w, i, 1))) AS sym
        |  FROM wc),
        |m AS (
        |  SELECT t.w, t.pos
        |  FROM toks t JOIN toks t2 ON t.w = t2.w AND t2.pos = t.pos + 1
        |  CROSS JOIN mx
        |  WHERE t.sym = mx.x AND t2.sym = mx.y),
        |g AS (SELECT w, pos,
        |        pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS isl
        |      FROM m),
        |k AS (SELECT w, pos FROM (
        |        SELECT w, pos,
        |          ROW_NUMBER() OVER (PARTITION BY w, isl ORDER BY pos) AS rn
        |        FROM g) t
        |      WHERE rn % 2 = 1),
        |nt AS (
        |  SELECT t.w, t.c, t.pos,
        |    CASE WHEN k1.pos IS NOT NULL THEN (SELECT xy FROM mx)
        |         ELSE t.sym END AS sym
        |  FROM toks t
        |  LEFT JOIN k k1 ON t.w = k1.w AND t.pos = k1.pos
        |  LEFT JOIN k k2 ON t.w = k2.w AND t.pos = k2.pos + 1
        |  WHERE k2.pos IS NULL),
        |pr AS (
        |  SELECT w, c, sym,
        |    LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        |  FROM nt)
        |SELECT sym || ' ' || nxt AS pair, CAST(SUM(c) AS BIGINT) AS n
        |FROM pr WHERE nxt IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, pair ASC
        |LIMIT 10""".stripMargin,

    // both merge derivations + both greedy applications (the t30
    // islands-odd-ranks block, chained through a position re-rank), then
    // the per-word segment strings join back to the corpus and each doc
    // fingerprints its in-order piece stream
    "t36_corpus_tokenize" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        |p0 AS (
        |  SELECT c, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM wc WHERE len(w) >= 2),
        |mx1 AS (
        |  SELECT substr(pair, 1, 1) AS x, substr(pair, 2, 1) AS y, pair AS xy
        |  FROM (SELECT pair FROM p0 GROUP BY pair
        |        ORDER BY CAST(SUM(c) AS BIGINT) DESC, pair ASC LIMIT 1)),
        |toks AS (
        |  SELECT w, c,
        |    unnest(generate_series(1, len(w))) AS pos,
        |    unnest(list_transform(generate_series(1, len(w)), i -> substr(w, i, 1))) AS sym
        |  FROM wc),
        |m1 AS (
        |  SELECT t.w, t.pos
        |  FROM toks t JOIN toks t2 ON t.w = t2.w AND t2.pos = t.pos + 1
        |  CROSS JOIN mx1
        |  WHERE t.sym = mx1.x AND t2.sym = mx1.y),
        |g1 AS (SELECT w, pos,
        |         pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS isl
        |       FROM m1),
        |k1 AS (SELECT w, pos FROM (
        |         SELECT w, pos,
        |           ROW_NUMBER() OVER (PARTITION BY w, isl ORDER BY pos) AS rn
        |         FROM g1) t WHERE rn % 2 = 1),
        |nt1 AS (
        |  SELECT t.w, t.c, t.pos,
        |    CASE WHEN ka.pos IS NOT NULL THEN (SELECT xy FROM mx1)
        |         ELSE t.sym END AS sym
        |  FROM toks t
        |  LEFT JOIN k1 ka ON t.w = ka.w AND t.pos = ka.pos
        |  LEFT JOIN k1 kb ON t.w = kb.w AND t.pos = kb.pos + 1
        |  WHERE kb.pos IS NULL),
        |r1 AS (
        |  SELECT w, c, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos, sym
        |  FROM nt1),
        |pr1 AS (
        |  SELECT w, c, sym, LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        |  FROM r1),
        |mx2 AS (
        |  SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y,
        |         string_split(pair, ' ')[1] || string_split(pair, ' ')[2] AS xy
        |  FROM (SELECT sym || ' ' || nxt AS pair FROM pr1 WHERE nxt IS NOT NULL
        |        GROUP BY 1 ORDER BY CAST(SUM(c) AS BIGINT) DESC, pair ASC LIMIT 1)),
        |m2 AS (
        |  SELECT t.w, t.pos
        |  FROM r1 t JOIN r1 t2 ON t.w = t2.w AND t2.pos = t.pos + 1
        |  CROSS JOIN mx2
        |  WHERE t.sym = mx2.x AND t2.sym = mx2.y),
        |g2 AS (SELECT w, pos,
        |         pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS isl
        |       FROM m2),
        |k2 AS (SELECT w, pos FROM (
        |         SELECT w, pos,
        |           ROW_NUMBER() OVER (PARTITION BY w, isl ORDER BY pos) AS rn
        |         FROM g2) t WHERE rn % 2 = 1),
        |nt2 AS (
        |  SELECT t.w, t.c, t.pos,
        |    CASE WHEN ka.pos IS NOT NULL THEN (SELECT xy FROM mx2)
        |         ELSE t.sym END AS sym
        |  FROM r1 t
        |  LEFT JOIN k2 ka ON t.w = ka.w AND t.pos = ka.pos
        |  LEFT JOIN k2 kb ON t.w = kb.w AND t.pos = kb.pos + 1
        |  WHERE kb.pos IS NULL),
        |segs AS (
        |  SELECT w, string_agg(sym, ' ' ORDER BY pos) AS piece_str,
        |         CAST(COUNT(*) AS BIGINT) AS n_pc
        |  FROM nt2 GROUP BY w),
        |dt AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(ws))) AS pos,
        |    unnest(ws) AS w
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents WHERE len(trim(text)) > 0) z)
        |SELECT dt.doc_id AS id,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(n_pc) AS BIGINT) AS n_pieces,
        |  md5(string_agg(piece_str, ' ' ORDER BY dt.pos)) AS stream_fp
        |FROM dt JOIN segs ON dt.w = segs.w
        |GROUP BY dt.doc_id
        |ORDER BY id""".stripMargin,

    // chunk id = count of cut tokens strictly before each position
    // (prefix sum), then per-chunk aggregates — vs the engine's fold
    "t37_cdc_chunks" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(ws))) AS pos,
        |    unnest(ws) AS w
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents WHERE len(trim(text)) > 0) z),
        |b AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 8 = 0
        |         THEN 1 ELSE 0 END AS cut
        |  FROM dt),
        |c AS (
        |  SELECT doc_id, pos, w,
        |    CAST(COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS cid
        |  FROM b)
        |SELECT doc_id AS id, cid AS chunk_idx,
        |  CAST(MIN(pos) AS INT) AS start_tok,
        |  CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_fp
        |FROM c
        |GROUP BY doc_id, cid
        |ORDER BY id, chunk_idx""".stripMargin,

    // t37's manifest CTEs + per-fp distinct-doc counts + the doc-level
    // mass aggregate
    "d17_chunk_dup_mass" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(ws))) AS pos,
        |    unnest(ws) AS w
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents WHERE len(trim(text)) > 0) z),
        |b AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 8 = 0
        |         THEN 1 ELSE 0 END AS cut
        |  FROM dt),
        |c AS (
        |  SELECT doc_id, pos, w,
        |    CAST(COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS cid
        |  FROM b),
        |g AS (SELECT doc_id, cid, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |        md5(string_agg(w, ' ' ORDER BY pos)) AS fp
        |      FROM c GROUP BY doc_id, cid),
        |f AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY fp)
        |SELECT doc_id AS id, CAST(SUM(n_tok) AS BIGINT) AS n_tok,
        |  CAST(SUM(CASE WHEN nd > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tok,
        |  CAST(SUM(CASE WHEN nd > 1 THEN n_tok ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(n_tok) AS DOUBLE) AS dup_frac
        |FROM g JOIN f USING (fp)
        |GROUP BY doc_id
        |ORDER BY id""".stripMargin,

    // DuckDB's own NFC implementation against the JDK's — the standard
    // arbitrates; chr(769) = U+0301 combining acute, chr(233) = U+00E9
    "t48_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' caf' || chr(233) AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(dirty) AS INT) AS raw_len,
        |  CAST(length(nfc_normalize(dirty)) AS INT) AS nfc_len,
        |  md5(nfc_normalize(dirty)) AS fp,
        |  nfc_normalize(dirty) <> dirty AS changed
        |FROM d
        |ORDER BY doc_id""".stripMargin,

    // the inversion expectation: every variant of group g must
    // canonicalize to exactly this string
    "d20_url_dedup" ->
      """SELECT concat('https://host', doc_id // 4, '.com/p/', doc_id // 4) AS canonical,
        |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY canonical""".stripMargin,

    // the identical split / statistics / quantization / ranking
    "t47_rake_keywords" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
        |    '\b(?:the|a|an|of|to|and|in|on|for|with|is|are|was|be|by|at|as|it|this|that)\b')) AS c
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, phrase FROM (
        |    SELECT doc_id, trim(regexp_replace(c, '\s+', ' ', 'g')) AS phrase FROM ch) t
        |  WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 3),
        |occ AS (
        |  SELECT unnest(string_split(phrase, ' ')) AS w,
        |         len(string_split(phrase, ' ')) - 1 AS others
        |  FROM p),
        |st AS MATERIALIZED (
        |  SELECT w, CAST(floor(1e9 * CAST(COUNT(*) + SUM(others) AS DOUBLE)
        |                 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS wq
        |  FROM occ GROUP BY w),
        |dp AS (SELECT DISTINCT doc_id, phrase FROM p),
        |sc AS (
        |  SELECT doc_id, phrase, CAST(SUM(wq) AS BIGINT) AS score_q
        |  FROM (SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w FROM dp) x
        |  JOIN st USING (w)
        |  GROUP BY doc_id, phrase)
        |SELECT doc_id, rnk, phrase, score_q FROM (
        |  SELECT doc_id, phrase, score_q,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_q DESC, phrase ASC) AS BIGINT) AS rnk
        |  FROM sc) t
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    // the same tokenize-once / combinable tf / df-over-tf / integer-idf
    // pipeline; the heap becomes a per-doc ranking window
    "t49_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(term)
        |  WHERE t.term <> ''),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * ((n.n_docs * 1000000) // df.df) AS BIGINT) AS score_q
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, rnk, term, score_q FROM (
        |  SELECT doc_id, term, score_q,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_q DESC, term ASC) AS BIGINT) AS rnk
        |  FROM sc) t
        |WHERE rnk <= 3 AND doc_id % 17 = 0
        |ORDER BY doc_id, rnk""".stripMargin,

    // d11's q/g/k/t CTEs choose the kept set (quality gate, lang
    // filter, fingerprint keep-first, non-empty), then t46's md5
    // arithmetic orders it per epoch
    "x7_curate_shuffle" ->
      s"""WITH q AS (
         |  SELECT doc_id, text, lang,
         |    (LEAST(1.0, n_tok / 20.0)
         |     + n_distinct / GREATEST(n_tok, 1.0)
         |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
         |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
         |  FROM (
         |    SELECT doc_id, text, lang,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS n_tok,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS DOUBLE) AS n_distinct,
         |      CAST(len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS DOUBLE) AS n_stop,
         |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |      CAST(len(text) AS DOUBLE) AS n_chars
         |    FROM documents) t0),
         |g AS (SELECT doc_id, text, lang FROM q
         |      WHERE lang IN ('en', 'de') AND quality >= 0.5),
         |k AS (SELECT doc_id, text, lang,
         |        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |      FROM g
         |      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         |t AS (
         |  SELECT doc_id AS id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS n_tok
         |  FROM k),
         |kept AS (SELECT id FROM t WHERE n_tok > 0),
         |e AS (SELECT kept.id AS id, gs.epoch AS epoch
         |      FROM kept, generate_series(0, 1) AS gs(epoch)),
         |ky AS (SELECT id, epoch, md5(concat(epoch, ':', id)) AS k2 FROM e),
         |s AS (SELECT epoch, CAST(concat('0x', substr(k2, 1, 4)) AS BIGINT) % 8 AS shard,
         |             k2, id FROM ky)
         |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY k2, id)
         |       AS BIGINT) AS pos,
         |  id AS doc_id
         |FROM s
         |ORDER BY epoch, shard, pos""".stripMargin,

    // the identical md5 keys, shard arithmetic, and in-shard ranking
    "t46_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT doc_id AS id, gs.epoch AS epoch
        |  FROM documents, generate_series(0, 1) AS gs(epoch)),
        |k AS (SELECT id, epoch, md5(concat(epoch, ':', id)) AS k FROM e),
        |s AS (SELECT epoch, CAST(concat('0x', substr(k, 1, 4)) AS BIGINT) % 16 AS shard,
        |             k, id FROM k)
        |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY k, id)
        |       AS BIGINT) AS pos,
        |  id AS doc_id
        |FROM s
        |ORDER BY epoch, shard, pos""".stripMargin,

    // the identical bucket/order/chunk arithmetic; SUM widens to
    // HUGEINT so pad_waste is CAST back
    // the full hard-EM round restated: substring seed counts, the
    // integer log-prob table (lp = ilog2(n) - ilog2(total)), the
    // unrolled Viterbi DP, and the frequency-weighted piece recount
    "t51_unigram_train" ->
      s"""WITH words AS (
         |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
         |  FROM documents WHERE len(trim(text)) > 0),
         |twc AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words
         |  WHERE len(w) <= 12 GROUP BY w),
         |subs AS (
         |  SELECT c, unnest(flatten(list_transform(generate_series(1, len(w)),
         |    s -> list_transform(generate_series(1, least(4, len(w) - s + 1)),
         |      l -> substr(w, s, l))))) AS piece
         |  FROM twc),
         |vocab AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS n FROM subs GROUP BY piece
         |  HAVING SUM(c) >= 50 OR len(piece) = 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM vocab),
         |lpv AS MATERIALIZED (
         |  SELECT piece, n,
         |    ${ilog2Sql("n")} - (SELECT ${ilog2Sql("t")} FROM tot) AS lp
         |  FROM vocab),
         |${unigramDpCtes(12, 4)},
         |pieces AS (SELECT unnest(seg) AS piece, c FROM fin),
         |counts AS (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS viterbi_n
         |  FROM pieces GROUP BY piece)
         |SELECT v.piece, v.n AS seed_n, counts.viterbi_n
         |FROM vocab v JOIN counts USING (piece)
         |ORDER BY viterbi_n DESC, piece ASC
         |LIMIT 30""".stripMargin,

    "t50_length_batching" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS n_tok
         |  FROM documents),
         |f AS (SELECT id, n_tok, (n_tok + 15) // 16 AS bucket
         |      FROM t WHERE n_tok > 0),
         |r AS (SELECT bucket, n_tok, id,
         |        row_number() OVER (PARTITION BY bucket
         |          ORDER BY n_tok, id) - 1 AS rn
         |      FROM f)
         |SELECT bucket, CAST(rn // 8 AS BIGINT) AS batch_idx,
         |  COUNT(*) AS n_docs, MAX(n_tok) AS max_tok,
         |  CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad_waste
         |FROM r GROUP BY 1, 2
         |ORDER BY bucket, batch_idx""".stripMargin,

    // both branches restated arithmetically: url/lastmod from the
    // sitemap construction, last_fetch from the history formula, the
    // refetch decision as the same string comparison
    "t60_sitemap_recrawl" ->
      """WITH k AS (
        |  SELECT doc_id, unnest(generate_series(1, 3)) AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    'https://h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/d'
        |      || CAST(doc_id AS VARCHAR) || '/p' || CAST(k AS VARCHAR) AS url,
        |    printf('2024-01-%02d', (doc_id + k * 7) % 28 + 1) AS lastmod,
        |    printf('2024-01-%02d', (doc_id * 3 + k * 5) % 28 + 1) AS last_fetch
        |  FROM k)
        |SELECT doc_id, url, lastmod, last_fetch,
        |  lastmod > last_fetch AS refetch
        |FROM r ORDER BY doc_id, url""".stripMargin,

    // everything restated arithmetically from the construction: shard 3
    // never has a blob (dropped by the fetch join), shard 2 is torn
    // (CRC bump) exactly when doc_id % 7 = 0 — the gzip round-trip and
    // both quarantine arms sit under the hash by ABSENCE of their rows
    "t60b_sitemap_index" ->
      """WITH sk AS (
        |  SELECT doc_id, unnest(generate_series(1, 2)) AS sh
        |  FROM documents),
        |kk AS (
        |  SELECT doc_id, sh, unnest(generate_series(1, 2)) AS k
        |  FROM sk WHERE NOT (sh = 2 AND doc_id % 7 = 0)),
        |r AS (
        |  SELECT doc_id,
        |    'https://h' || CAST(doc_id % 37 AS VARCHAR)
        |      || '.example.com/sitemap-' || CAST(sh AS VARCHAR)
        |      || '.xml.gz' AS shard_url,
        |    'https://h' || CAST(doc_id % 37 AS VARCHAR)
        |      || '.example.com/s' || CAST(sh AS VARCHAR) || '/d'
        |      || CAST(doc_id AS VARCHAR) || '/p' || CAST(k AS VARCHAR) AS url,
        |    printf('2024-02-%02d', (doc_id + sh * 3 + k * 7) % 28 + 1) AS lastmod,
        |    printf('2024-02-%02d',
        |      (doc_id * 3 + sh * 5 + k * 11) % 28 + 1) AS last_fetch
        |  FROM kk)
        |SELECT doc_id, shard_url, url, lastmod, last_fetch,
        |  lastmod > last_fetch AS refetch
        |FROM r ORDER BY doc_id, url""".stripMargin,

    // the convergence theorem stated in closed form: lastmod2 and the
    // updated last_fetch from the construction arithmetic, and refetch
    // TRUE exactly on the changed urls — the engine must reach this
    // through its actual two-cycle dataflow or the hash breaks
    "t60d_recrawl_converges" ->
      """WITH k AS (
        |  SELECT doc_id, unnest(generate_series(1, 3)) AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, k,
        |    'https://h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/d'
        |      || CAST(doc_id AS VARCHAR) || '/p' || CAST(k AS VARCHAR) AS url,
        |    printf('2024-01-%02d', (doc_id + k * 7) % 28 + 1) AS lastmod1,
        |    printf('2024-01-%02d', (doc_id * 3 + k * 5) % 28 + 1) AS last_fetch1
        |  FROM k),
        |r2 AS (
        |  SELECT doc_id, k, url,
        |    CASE WHEN k = 2 AND doc_id % 3 = 0
        |         THEN printf('2024-04-%02d', doc_id % 28 + 1)
        |         ELSE lastmod1 END AS lastmod,
        |    CASE WHEN lastmod1 > last_fetch1 THEN lastmod1
        |         ELSE last_fetch1 END AS last_fetch
        |  FROM r)
        |SELECT doc_id, url, lastmod, last_fetch,
        |  (k = 2 AND doc_id % 3 = 0) AS refetch
        |FROM r2 ORDER BY doc_id, url""".stripMargin,

    // file-order inversion: idx 0 = the top-of-file index, idx 1 = the
    // in-group shard (field-scoped, comment stripped), idx 2 only on
    // the doc_id%5 arm; the empty-value line contributes nothing
    "t60c_robots_sitemaps" ->
      """WITH r AS (
        |  SELECT doc_id, CAST(0 AS INT) AS idx,
        |    'https://h' || CAST(doc_id % 37 AS VARCHAR)
        |      || '.example.com/sitemap-index.xml' AS sm_url
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS INT),
        |    'https://h' || CAST(doc_id % 37 AS VARCHAR)
        |      || '.example.com/sitemap-' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.xml.gz'
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(2 AS INT),
        |    'https://cdn.example.org/sm/' || CAST(doc_id AS VARCHAR) || '.xml'
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, idx, sm_url
        |FROM r ORDER BY doc_id, idx""".stripMargin,

    // the inversion posture for boilerplate removal: the class string
    // is a constant of the construction, kept_text restates the slice
    // arithmetic (same start formula as the engine's builder)
    "t59_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(toks,
        |        1 + (7 % greatest(len(toks) - 6, 1)),
        |        6 + (7 % greatest(len(toks) - 6, 1))), ' ')
        |      || ' the of and to a is.' AS c1,
        |    substr(toks[1], 1, 6) AS s1,
        |    array_to_string(list_slice(toks,
        |        1 + (14 % greatest(len(toks) - 6, 1)),
        |        6 + (14 % greatest(len(toks) - 6, 1))), ' ')
        |      || ' the of and in it on.' AS c2
        |  FROM t)
        |SELECT doc_id,
        |  CAST(6 AS INT) AS n_blocks,
        |  CAST(3 AS INT) AS n_kept,
        |  'bad good good good bad bad' AS classes,
        |  c1 || ' ' || s1 || ' ' || c2 AS kept_text
        |FROM b ORDER BY doc_id""".stripMargin,

    // both class strings are CONSTANTS of the construction; kept_text
    // restates the slice arithmetic (t59's posture) with the three
    // promoted shorts in place
    "t59b_boilerplate_iterated" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(toks,
        |        1 + (7 % greatest(len(toks) - 6, 1)),
        |        6 + (7 % greatest(len(toks) - 6, 1))), ' ')
        |      || ' the of and to a is.' AS c1,
        |    substr(toks[1], 1, 6) AS s1,
        |    substr(toks[2], 1, 6) AS s2,
        |    substr(toks[3], 1, 6) AS s3,
        |    array_to_string(list_slice(toks,
        |        1 + (14 % greatest(len(toks) - 6, 1)),
        |        6 + (14 % greatest(len(toks) - 6, 1))), ' ')
        |      || ' the of and in it on.' AS c2
        |  FROM t)
        |SELECT doc_id,
        |  'bad good good bad good good bad bad' AS classes_one,
        |  'bad good good good good good bad bad' AS classes_fix,
        |  CAST(5 AS INT) AS n_kept_fix,
        |  c1 || ' ' || s1 || ' ' || s2 || ' ' || s3 || ' ' || c2 AS kept_text_fix
        |FROM b ORDER BY doc_id""".stripMargin,

    // the identical window + integer schedule arithmetic in DuckDB
    "t58_crawl_schedule" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 37 END AS host_id,
        |    doc_id % 5 AS priority
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host_id
        |      ORDER BY priority DESC, doc_id) - 1 AS BIGINT) AS slot,
        |    1 + host_id % 4 AS delay_s
        |  FROM c)
        |SELECT doc_id, host_id, slot,
        |  CAST((slot // 8) * 60 + (slot % 8) * delay_s AS BIGINT) AS fetch_offset_s
        |FROM r ORDER BY doc_id""".stripMargin,

    // the same window + schedule arithmetic with the delay stated from
    // the robots construction: absent field -> the default 2, present
    // field -> 1 + host % 4 (the * group's decoy 30 must never win)
    "t58b_schedule_robots_delay" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 37 END AS host_id,
        |    doc_id % 5 AS priority
        |  FROM documents),
        |c2 AS (
        |  SELECT doc_id, host_id, priority,
        |    CAST(CASE WHEN host_id % 3 = 0 THEN 2
        |         ELSE 1 + host_id % 4 END AS BIGINT) AS delay_s
        |  FROM c),
        |r AS (
        |  SELECT doc_id, host_id, delay_s,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host_id
        |      ORDER BY priority DESC, doc_id) - 1 AS BIGINT) AS slot
        |  FROM c2)
        |SELECT doc_id, host_id, delay_s, slot,
        |  CAST((slot // 8) * 60 + (slot % 8) * delay_s AS BIGINT) AS fetch_offset_s
        |FROM r ORDER BY doc_id""".stripMargin,

    // the inversion posture for the robots gate: both agents' decisions
    // stated per arm from the construction arithmetic (graftbot: the
    // specific group's longest-match outcomes; otherbot: the * group's
    // Disallow / vs Allow /open/)
    "t57_robots_gate" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN '/private/pub' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN '/tmp'
        |    WHEN 3 THEN '/tmp' || CAST(doc_id AS VARCHAR)
        |    WHEN 4 THEN '/id/' || CAST(doc_id AS VARCHAR)
        |    ELSE '/open/' || CAST(doc_id AS VARCHAR)
        |  END AS path,
        |  CASE doc_id % 6
        |    WHEN 0 THEN FALSE  -- Disallow /private/
        |    WHEN 1 THEN TRUE   -- Allow /private/pub* (13) beats /private/ (9)
        |    WHEN 2 THEN FALSE  -- /tmp$ anchors
        |    WHEN 3 THEN TRUE   -- /tmp$ does not match a longer path
        |    WHEN 4 THEN FALSE  -- the per-doc /id/<id>$ rule
        |    ELSE TRUE          -- no graftbot rule matches: default allow
        |  END AS graft_ok,
        |  CASE doc_id % 6
        |    WHEN 5 THEN TRUE   -- Allow /open/ (6) beats Disallow / (1)
        |    ELSE FALSE         -- the * group disallows everything else
        |  END AS other_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the identical hit-anchored scoring in DuckDB list lambdas
    "t56_snippet_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id, toks,
        |    list_filter(generate_series(1, len(toks)),
        |      i -> list_contains(['spark', 'join', 'merge', 'window'], toks[i])) AS pos
        |  FROM t),
        |s AS (
        |  SELECT doc_id, toks, pos,
        |    list_transform(pos, p1 ->
        |      len(list_filter(pos, o -> o >= p1 AND o < p1 + 12))) AS scores
        |  FROM p WHERE len(pos) > 0),
        |b AS (
        |  SELECT doc_id, toks,
        |    CAST(len(pos) AS BIGINT) AS n_hits,
        |    CAST(list_aggregate(scores, 'max') AS BIGINT) AS best_hits,
        |    CAST(pos[list_position(scores, list_aggregate(scores, 'max'))] AS BIGINT) AS best_pos
        |  FROM s)
        |SELECT doc_id, n_hits, best_hits, best_pos,
        |  array_to_string(list_slice(toks, CAST(best_pos AS INT),
        |    CAST(best_pos AS INT) + 11), ' ') AS snippet
        |FROM b ORDER BY doc_id""".stripMargin,

    // the identical construction + lambdas in DuckDB list functions;
    // line expressions generated by the same Scala loop the engine uses
    "t55_c4_line_filters" -> {
      // single-line on purpose: the outer template's stripMargin must
      // not see these (a leading "||" would lose a pipe to the margin)
      def lineSql(i: Int): String = {
        val take = if (i % 3 == 2) 3 else 8
        s"concat(array_to_string(list_slice(toks, ($i * 7) % GREATEST(len(toks) - $take, 1) + 1, " +
          s"($i * 7) % GREATEST(len(toks) - $take, 1) + $take), ' '), " +
          s"CASE WHEN (doc_id + $i) % 4 = 0 THEN '.' WHEN (doc_id + $i) % 4 = 1 THEN '!' " +
          s"WHEN (doc_id + $i) % 4 = 2 THEN '' ELSE ' javascript.' END)"
      }
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |pg AS (
         |  SELECT doc_id,
         |    concat_ws(chr(10), ${(0 until 6).map(lineSql).mkString(", ")})
         |    || CASE WHEN doc_id % 11 = 0
         |            THEN chr(10) || 'lorem ipsum dolor sit amet then some.'
         |            ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0
         |            THEN chr(10) || 'if (x) { return the value; }'
         |            ELSE '' END AS page
         |  FROM t),
         |f AS (
         |  SELECT doc_id,
         |    string_split(page, chr(10)) AS lines,
         |    list_filter(string_split(page, chr(10)), l ->
         |      regexp_matches(l, '[.!?"]$$')
         |      AND len(string_split(l, ' ')) >= 5
         |      AND NOT contains(lower(l), 'javascript')) AS kept,
         |    contains(page, '{') AS has_brace,
         |    contains(lower(page), 'lorem ipsum') AS has_lorem
         |  FROM pg)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  has_brace, has_lorem,
         |  (NOT has_brace AND NOT has_lorem AND len(kept) >= 3) AS keep_page,
         |  CASE WHEN NOT has_brace AND NOT has_lorem AND len(kept) >= 3
         |       THEN array_to_string(kept, chr(10)) END AS cleaned
         |FROM f ORDER BY doc_id""".stripMargin
    },

    // the identical three-stage chain in RE2; single-quoted SQL strings
    // keep the backslashes literal
    "t54_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'reach user' || CAST(doc_id AS VARCHAR) || '@mail'
        |      || CAST(doc_id % 10 AS VARCHAR) || '.com or '
        |      || CASE WHEN doc_id % 2 = 0 THEN '+' ELSE '' END
        |      || printf('%03d-%03d-%04d', doc_id % 1000, (doc_id * 7) % 1000,
        |                doc_id % 10000)
        |      || ' from '
        |      || printf('10.%d.%d.%d', doc_id % 256, (doc_id * 3) % 256,
        |                doc_id % 100)
        |      || CASE WHEN doc_id % 3 = 0 THEN ' also 10.1.2.3 and x@y.io'
        |         ELSE '' END
        |      || ' then ' || left(text, 60) AS t
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |    regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p),
        |s2 AS (
        |  SELECT doc_id, n_email,
        |    CAST(len(regexp_extract_all(t1,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |    regexp_replace(t1,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, n_email, n_ip,
        |    CAST(len(regexp_extract_all(t2, '\+?\d{3}[- ]\d{3}[- ]\d{4}')) AS BIGINT) AS n_phone,
        |    regexp_replace(t2, '\+?\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS redacted
        |  FROM s2)
        |SELECT doc_id, n_email, n_ip, n_phone, redacted
        |FROM s3 ORDER BY doc_id""".stripMargin,

    // the identical chunk rule: starts 0, 30, 60, ... while
    // start < max(n - 10, 1); final chunk may be short; list slicing
    // clamps identically on both engines
    "t45_chunk_manifest" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |c AS (SELECT id, w, CAST(len(w) AS BIGINT) AS n FROM t WHERE len(w) > 0),
        |g AS (SELECT id, w, n,
        |        (greatest(n - 10, 1) + 29) // 30 AS n_chunks FROM c),
        |x AS (SELECT id, w, n,
        |        unnest(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS chunk_idx
        |      FROM g)
        |SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 30 AS BIGINT) AS start_tok,
        |  CAST(least(40, n - chunk_idx * 30) AS BIGINT) AS n_tok,
        |  md5(array_to_string(
        |    w[CAST(chunk_idx * 30 + 1 AS BIGINT):CAST(chunk_idx * 30 + 40 AS BIGINT)],
        |    ' ')) AS fp
        |FROM x
        |ORDER BY id, chunk_idx""".stripMargin,

    // the identical register grid (SketchSql.cmRegisterCtes restates
    // CmBuckets' FNV + row-seeded splitmix64 arithmetic in portable
    // unsigned SQL), probed at the exact top-20 tokens; MIN over the
    // four joined cells is the CMS point estimate on both sides
    "t44_countmin_estimates" ->
      s"""WITH ${SketchSql.cmRegisterCtes("c4", 4, 512)},
         |top AS MATERIALIZED (
         |  SELECT s, c FROM c4tc ORDER BY c DESC, s ASC LIMIT 20),
         |pf AS (SELECT s, c, $fnvSql AS h FROM top),
         |prs AS (SELECT s, c, g.r AS r, xor(h, ${SketchSql.cmSeedSql("g.r")}) AS z
         |        FROM pf CROSS JOIN generate_series(0, 3) AS g(r)),
         |${SketchSql.mixLayerCtes("prs", Seq("s", "c", "r"))},
         |pb AS (SELECT s, c, CAST(r AS BIGINT) AS r,
         |       CAST((u >> 1) % 512 AS BIGINT) AS b FROM prsmu)
         |SELECT s AS token, CAST(c AS BIGINT) AS exact_cnt,
         |  CAST(MIN(cnt) AS BIGINT) AS est
         |FROM pb JOIN c4regs USING (r, b)
         |GROUP BY s, c
         |ORDER BY token""".stripMargin,

    // the single pass the two-shard union-sum must reproduce exactly
    // (CMS linearity)
    "t44b_countmin_merge" ->
      s"""WITH ${SketchSql.cmRegisterCtes("m4", 4, 512)}
         |SELECT r, b, cnt FROM m4regs ORDER BY r, b""".stripMargin,

    // the d7 recursive components over the df=50 pair universe, then
    // the t24 split rule applied to the cluster label
    "t43_leakage_safe_split" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 50),
         |ex AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
         |prs AS (
         |  SELECT id1, id2 FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) p
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.5),
         |edges AS (SELECT id1 AS a, id2 AS b FROM prs
         |          UNION SELECT id2, id1 FROM prs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |cl AS (SELECT src AS id, LEAST(src, MIN(dst)) AS keeper
         |       FROM reach GROUP BY src),
         |lab AS (
         |  SELECT d.doc_id, COALESCE(cl.keeper, d.doc_id) AS label
         |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |b AS (
         |  SELECT doc_id, label,
         |    CAST(concat('0x', substr(md5('graft' || CAST(label AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
         |  FROM lab)
         |SELECT doc_id, label,
         |  CASE WHEN bucket < 3435973836 THEN 'train'
         |       WHEN bucket < 3865470566 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // the same cumulative line (window cumsum is fine at oracle scale),
    // stride/midpoint arithmetic, and j ranges — divisions stay on
    // non-negative longs so // and div agree
    "t42_systematic_sample" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS w
         |  FROM documents),
         |cw AS (
         |  SELECT doc_id, w,
         |    SUM(w) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW) - w AS start
         |  FROM c),
         |p AS (
         |  SELECT (SUM(w) // 25) AS stride, (SUM(w) // 25) // 2 AS h
         |  FROM c),
         |sel AS (
         |  SELECT cw.doc_id, cw.w,
         |    CASE WHEN cw.start <= p.h THEN 0
         |         ELSE (cw.start - p.h + p.stride - 1) // p.stride END AS j_lo,
         |    LEAST(24, CASE WHEN cw.start + cw.w <= p.h THEN -1
         |         ELSE (cw.start + cw.w - 1 - p.h) // p.stride END) AS j_hi
         |  FROM cw CROSS JOIN p)
         |SELECT unnest(generate_series(CAST(j_lo AS BIGINT), CAST(j_hi AS BIGINT))) AS j,
         |  doc_id, w
         |FROM sel WHERE j_lo <= j_hi
         |ORDER BY j""".stripMargin,

    // same df-filtered universe; both containment directions with the
    // same size/id tie-breaks
    "d19_containment_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 50),
         |ex AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT id1, id2, common, s1.sz AS sz1, s2.sz AS sz2
         |  FROM pairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id)
         |SELECT id1 AS contained, id2 AS container FROM j
         |WHERE common * 1.0 / sz1 >= 0.9
         |  AND (sz1 < sz2 OR (sz1 = sz2 AND id1 < id2))
         |UNION ALL
         |SELECT id2, id1 FROM j
         |WHERE common * 1.0 / sz2 >= 0.9 AND sz2 < sz1
         |ORDER BY contained, container""".stripMargin,

    // same unigram/bigram counts, same decimal-formed discounted-PMI
    // quantization (HUGEINT products mirror the DECIMAL(38,0) ones)
    "t41_collocations" ->
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS w
         |  FROM documents WHERE len(trim(text)) > 0),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
         |tw AS (SELECT doc_id, $toksSql AS w FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> array_to_string(w[i:i+1], ' '))) AS bg
         |  FROM tw),
         |cab AS (
         |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
         |    CAST(COUNT(*) AS BIGINT) AS c_ab
         |  FROM bg GROUP BY bg HAVING COUNT(*) >= 5),
         |sc AS (
         |  SELECT cab.a, cab.b, cab.c_ab,
         |    (CAST(cab.c_ab - 5 AS HUGEINT) * (SELECT n FROM tot) * 1000000)
         |      // (CAST(wa.c AS HUGEINT) * wb.c) AS score_q
         |  FROM cab JOIN cw wa ON wa.w = cab.a JOIN cw wb ON wb.w = cab.b)
         |SELECT a, b, c_ab, CAST(score_q AS BIGINT) AS score_q
         |FROM sc ORDER BY score_q DESC, a ASC, b ASC LIMIT 20""".stripMargin,

    // same distinct 3-gram universe, min-doc-id attribution, same
    // double division
    "d18_novelty" ->
      s"""WITH w AS (
         |  SELECT doc_id, $toksSql AS w
         |  FROM documents WHERE len(trim(text)) > 0),
         |g AS (
         |  SELECT doc_id, unnest(${shinglesSql("w")}) AS g
         |  FROM w WHERE len(w) >= 3),
         |f AS (SELECT g, MIN(doc_id) AS first_id FROM g GROUP BY g)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
         |FROM g JOIN f USING (g)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // the t23 score block + integer-div quantization, the histogram
    // cumulative cut (SUM OVER cast to BIGINT at the window — ADVICE
    // note), and the same value-threshold bucket rule
    "t40_ppl_buckets" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> array_to_string(w[i:i+1], ' '))) AS bg
         |  FROM toks),
         |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
         |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1
         |       FROM c2 GROUP BY 1),
         |pr AS (
         |  SELECT bg, CAST(floor(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)
         |    * 1000000000.0 + 0.5) AS BIGINT) AS qn
         |  FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1),
         |sc AS (
         |  SELECT b.doc_id AS id,
         |    CAST(SUM(qn) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_q
         |  FROM bg b JOIN pr USING (bg) GROUP BY 1),
         |wl AS (SELECT sc.id, mean_q, d.lang
         |       FROM sc JOIN documents d ON d.doc_id = sc.id),
         |h AS (SELECT lang, mean_q, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM wl GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
         |cm AS (SELECT lang, mean_q,
         |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY mean_q DESC)
         |           AS BIGINT) AS cum
         |       FROM h),
         |cuts AS (
         |  SELECT cm.lang,
         |    MAX(CASE WHEN cum >= (n + 2) // 3 THEN mean_q END) AS s1,
         |    MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN mean_q END) AS s2
         |  FROM cm JOIN t USING (lang) GROUP BY 1)
         |SELECT w.lang,
         |  CASE WHEN mean_q >= s1 THEN 'head'
         |       WHEN mean_q >= s2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(mean_q) AS min_q, MAX(mean_q) AS max_q
         |FROM wl w JOIN cuts USING (lang)
         |GROUP BY 1, 2
         |ORDER BY lang, bucket""".stripMargin,

    // the next-fit fold as a recursive CTE: row rn+1 of each shard joins
    // the folded state of row rn; bin closes when the doc would overflow
    "t39_nextfit_packing" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id AS id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok,
        |    CAST(CAST(concat('0x', substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |         % 4 AS INT) AS shard
        |  FROM documents),
        |docs AS (
        |  SELECT shard, id, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n_tok DESC, id ASC) AS rn
        |  FROM toks),
        |fold AS (
        |  SELECT shard, rn, id, n_tok, CAST(0 AS BIGINT) AS bin, n_tok AS running
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.id, d.n_tok,
        |    CASE WHEN f.running + d.n_tok > 512 AND f.running > 0
        |         THEN f.bin + 1 ELSE f.bin END,
        |    CASE WHEN f.running + d.n_tok > 512 AND f.running > 0
        |         THEN d.n_tok ELSE f.running + d.n_tok END
        |  FROM fold f JOIN docs d ON d.shard = f.shard AND d.rn = f.rn + 1)
        |SELECT shard, bin, id AS doc_id, n_tok
        |FROM fold
        |ORDER BY shard, bin, n_tok DESC, doc_id""".stripMargin,

    // same bucket counts, same two-step integer quantization, same
    // integer divisions — SUMs cast back to BIGINT before any further
    // arithmetic (the HUGEINT note in ADVICE.md)
    "t38_importance_weights" ->
      """WITH dt AS (
        |  SELECT doc_id AS id, lang = 'en' AS tgt,
        |    unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |tb AS (
        |  SELECT id, tgt,
        |    CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM dt),
        |bs AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_raw,
        |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        |  FROM tb GROUP BY b),
        |tot AS (
        |  SELECT CAST(SUM(n_raw) AS BIGINT) AS tot_raw,
        |         CAST(SUM(n_tgt) AS BIGINT) AS tot_tgt
        |  FROM bs),
        |rq AS (
        |  SELECT b,
        |    (1000000000 * (n_tgt + 1)) // (tot_tgt + 1024) AS p_tgt_q,
        |    GREATEST((1000000000 * (n_raw + 1)) // (tot_raw + 1024), 1) AS p_raw_q
        |  FROM bs CROSS JOIN tot),
        |rr AS (SELECT b, (1000000000 * p_tgt_q) // p_raw_q AS ratio_q FROM rq)
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(SUM(ratio_q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_ratio_q
        |FROM tb JOIN rr USING (b)
        |GROUP BY id
        |ORDER BY id""".stripMargin,

    // same count/filter/rank pipeline; ROW_NUMBER over the same order
    "t29_vocab_build" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) - 1 AS BIGINT) AS token_id,
        |  w AS token, c AS n
        |FROM wc
        |WHERE c >= 100
        |ORDER BY token_id""".stripMargin,

    // same two aggregates: word counts, then pair counts over the
    // frequency-weighted vocabulary; same (count desc, pair) order
    "t26_bpe_pairs" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        |p AS (
        |  SELECT c, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM wc WHERE len(w) >= 2)
        |SELECT pair, CAST(SUM(c) AS BIGINT) AS n
        |FROM p
        |GROUP BY pair
        |ORDER BY n DESC, pair ASC
        |LIMIT 20""".stripMargin,

    // the t2 quality formula + lang gate, t4 fingerprint keep-first,
    // and the t20 manifest arithmetic composed into one statement
    "d11_curation_manifest" ->
      s"""WITH q AS (
         |  SELECT doc_id, text, lang,
         |    (LEAST(1.0, n_tok / 20.0)
         |     + n_distinct / GREATEST(n_tok, 1.0)
         |     + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
         |     + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 AS quality
         |  FROM (
         |    SELECT doc_id, text, lang,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS n_tok,
         |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |           ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS DOUBLE) AS n_distinct,
         |      CAST(len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS DOUBLE) AS n_stop,
         |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |      CAST(len(text) AS DOUBLE) AS n_chars
         |    FROM documents) t0),
         |g AS (SELECT doc_id, text, lang FROM q
         |      WHERE lang IN ('en', 'de') AND quality >= 0.5),
         |k AS (SELECT doc_id, text, lang,
         |        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |      FROM g
         |      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         |t AS (
         |  SELECT lang AS grp, doc_id AS id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS BIGINT) AS n_tok
         |  FROM k),
         |c AS (
         |  SELECT grp, id, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY id) AS BIGINT) AS end_off
         |  FROM t)
         |SELECT grp, id, n_tok, end_off - n_tok AS start_off,
         |  (end_off - n_tok) // 256 AS first_bin,
         |  (end_off - 1) // 256 AS last_bin,
         |  (end_off - 1) // 256 - (end_off - n_tok) // 256 + 1 AS n_bins
         |FROM c WHERE n_tok > 0
         |ORDER BY grp, id""".stripMargin,

    // the same counts/probabilities/quantization in SQL: integer counts,
    // one IEEE division then *1e9+0.5 floor (left-to-right association
    // matches the engine's prob-then-scale order), exact long sums
    "t23_bigram_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> array_to_string(w[i:i+1], ' '))) AS bg
         |  FROM toks),
         |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
         |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1
         |       FROM c2 GROUP BY 1),
         |pr AS (
         |  SELECT bg, CAST(floor(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)
         |    * 1000000000.0 + 0.5) AS BIGINT) AS qn
         |  FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1)
         |SELECT b.doc_id AS id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(qn) AS DOUBLE) / COUNT(*) / 1000000000.0 AS score
         |FROM bg b JOIN pr USING (bg)
         |GROUP BY 1
         |ORDER BY id""".stripMargin,

    // the exact counts the two-pass sketch+recount must reproduce
    // (tokenization: whitespace split of lowercased text, empties
    // dropped — the t18/BM25 convention)
    "t22_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT t.term AS token
        |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(term)
        |  WHERE t.term <> '')
        |SELECT token, COUNT(*) AS cnt
        |FROM toks
        |GROUP BY token
        |ORDER BY cnt DESC, token ASC
        |LIMIT 15""".stripMargin,

    "t17_fuzzy_name_pairs" ->
      """SELECT a.p_brand AS brand, COUNT(*) AS n_near_pairs
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 5
        |GROUP BY 1
        |ORDER BY brand""".stripMargin,

    // sqrt is IEEE correctly-rounded in both engines; the quota split is
    // integer after the nano-quantize, the selection t16's hash order
    "t27_temperature_mixture" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |q AS (SELECT lang,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000000.0) AS BIGINT) AS qn
        |      FROM c),
        |tot AS (SELECT CAST(SUM(qn) AS BIGINT) AS t FROM q),
        |quota AS (SELECT lang, (200 * qn) // (SELECT t FROM tot) AS k FROM q),
        |ranked AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY md5('graft' || CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC) AS BIGINT)
        |      AS sample_rank
        |  FROM documents d)
        |SELECT lang, sample_rank, doc_id
        |FROM ranked JOIN quota USING (lang)
        |WHERE sample_rank <= k
        |ORDER BY lang, sample_rank""".stripMargin,

    // the expected canonical URL and host stated directly from the
    // construction formula (lowercased, :443 stripped, /a/b/../c/./d
    // resolved to /a/c/d, fragment dropped); the cap replayed as a
    // per-host ROW_NUMBER over the same md5 hash order
    "t34_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'www.' || source || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host,
        |    'https://www.' || source || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.example.com/a/c/d?q=' || CAST(doc_id AS VARCHAR) AS url,
        |    md5('graft' || CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |r AS (
        |  SELECT host, doc_id, url,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY hk ASC, doc_id ASC) AS sample_rank
        |  FROM u)
        |SELECT host, sample_rank, doc_id, url
        |FROM r WHERE sample_rank <= 3
        |ORDER BY host, sample_rank""".stripMargin,

    // the identical normal-equation sums (exact integers -> HUGEINT ->
    // correctly-rounded doubles, matching Spark's DECIMAL(38,0) path)
    // and the SAME Cramer expression tree as Fit.solve3 — the doubles
    // are bit-reproducible because every input is an exact integer and
    // every operation tree is mirrored verbatim
    "t33_label_disagreement" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len($toksSql) END AS DOUBLE) AS n_tok,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(list_distinct($toksSql)) END AS DOUBLE) AS n_distinct,
         |    CAST(len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS DOUBLE) AS n_stop,
         |    CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |    CAST(len(text) AS DOUBLE) AS n_chars
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(n_tok AS BIGINT) AS x1,
         |    CAST(n_distinct AS BIGINT) AS x2,
         |    CAST(FLOOR((LEAST(1.0, n_tok / 20.0)
         |      + n_distinct / GREATEST(n_tok, 1.0)
         |      + LEAST(1.0, n_stop / GREATEST(n_tok, 1.0) * 5.0)
         |      + n_alpha / GREATEST(n_chars, 1.0)) / 4.0 * 1000000000.0 + 0.5) AS BIGINT) AS yq
         |  FROM t),
         |s AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
         |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
         |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
         |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
         |    CAST(SUM(yq) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(yq AS HUGEINT) * x1) AS DOUBLE) AS sy1,
         |    CAST(SUM(CAST(yq AS HUGEINT) * x2) AS DOUBLE) AS sy2
         |  FROM f),
         |m AS (
         |  SELECT n + 1000.0 AS a11, s1 AS a12, s2 AS a13,
         |         s11 + 1000.0 AS a22, s12 AS a23, s22 + 1000.0 AS a33,
         |         sy, sy1, sy2
         |  FROM s),
         |dt AS (
         |  SELECT *, a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
         |            + a13 * (a12 * a23 - a22 * a13) AS det
         |  FROM m),
         |b AS (
         |  SELECT
         |    (sy * (a22 * a33 - a23 * a23) - a12 * (sy1 * a33 - a23 * sy2)
         |      + a13 * (sy1 * a23 - a22 * sy2)) / det AS b0,
         |    (a11 * (sy1 * a33 - a23 * sy2) - sy * (a12 * a33 - a23 * a13)
         |      + a13 * (a12 * sy2 - sy1 * a13)) / det AS b1,
         |    (a11 * (a22 * sy2 - sy1 * a23) - a12 * (a12 * sy2 - sy1 * a13)
         |      + sy * (a12 * a23 - a22 * a13)) / det AS b2
         |  FROM dt)
         |SELECT doc_id, rnk FROM (
         |  SELECT f.doc_id,
         |    ROW_NUMBER() OVER (ORDER BY
         |      ABS(CAST(yq AS DOUBLE) - (b0 + b1 * CAST(x1 AS DOUBLE)
         |        + b2 * CAST(x2 AS DOUBLE))) DESC,
         |      f.doc_id ASC) AS rnk
         |  FROM f CROSS JOIN b) z
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    // the same line construction stated from the formula (lines never
    // round-trip through a string here — that split+trim path is exactly
    // what the Spark side must invert); top gram via relational
    // group-count + (c DESC, g DESC) pick, vs the engine's sorted-run fold
    "t35_line_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |       ELSE string_split_regex(trim(text), '\s+') END AS w
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(generate_series(0, CAST(ceil(len(w) / 6.0) AS INT) - 1),
        |                i -> array_to_string(list_slice(w, i * 6 + 1, i * 6 + 6), ' ')) END AS lines0
        |  FROM w),
        |l2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 AND len(lines0) > 0
        |         THEN list_append(lines0, lines0[1]) ELSE lines0 END AS lines,
        |    CASE WHEN doc_id % 4 = 0 AND len(w) > 0
        |         THEN list_concat(w, list_slice(w, 1, 6)) ELSE w END AS w2
        |  FROM ln),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct_lines,
        |    CAST(len(array_to_string(lines, '')) AS BIGINT) AS line_chars,
        |    CAST(len(array_to_string(list_distinct(lines), '')) AS BIGINT) AS distinct_line_chars,
        |    CAST(len(array_to_string(w2, ' ')) AS BIGINT) AS text_chars
        |  FROM l2),
        |gr AS (
        |  SELECT doc_id, 2 AS n, unnest(list_transform(generate_series(1, len(w2) - 1),
        |      i -> w2[i] || ' ' || w2[i + 1])) AS g
        |  FROM l2 WHERE len(w2) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3 AS n, unnest(list_transform(generate_series(1, len(w2) - 2),
        |      i -> w2[i] || ' ' || w2[i + 1] || ' ' || w2[i + 2])) AS g
        |  FROM l2 WHERE len(w2) >= 3),
        |gc AS (SELECT doc_id, n, g, COUNT(*) AS c FROM gr GROUP BY 1, 2, 3),
        |tp AS (SELECT doc_id, n, c, g FROM gc
        |       QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g DESC) = 1),
        |fin AS (
        |  SELECT m.doc_id, n_lines,
        |    CAST(n_lines - n_distinct_lines AS DOUBLE)
        |      / CAST(GREATEST(n_lines, 1) AS DOUBLE) AS dup_line_frac,
        |    CAST(line_chars - distinct_line_chars AS DOUBLE)
        |      / CAST(GREATEST(line_chars, 1) AS DOUBLE) AS dup_line_char_frac,
        |    COALESCE(CAST(t2.c * len(t2.g) AS DOUBLE) / CAST(text_chars AS DOUBLE), 0.0) AS top2_char_frac,
        |    COALESCE(CAST(t3.c * len(t3.g) AS DOUBLE) / CAST(text_chars AS DOUBLE), 0.0) AS top3_char_frac
        |  FROM m
        |  LEFT JOIN tp t2 ON t2.doc_id = m.doc_id AND t2.n = 2
        |  LEFT JOIN tp t3 ON t3.doc_id = m.doc_id AND t3.n = 3)
        |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
        |  top2_char_frac, top3_char_frac,
        |  dup_line_frac <= 0.30 AS r_dup_line,
        |  dup_line_char_frac <= 0.20 AS r_dup_line_char,
        |  top2_char_frac <= 0.20 AS r_top2,
        |  top3_char_frac <= 0.18 AS r_top3,
        |  (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        |   AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18) AS keep
        |FROM fin ORDER BY doc_id""".stripMargin,

    // same counts, same single divisions, same quantize-then-long-sum
    "t32_source_drift" ->
      s"""WITH pair AS (
         |  SELECT source AS src, t.w, COUNT(*) AS c_sw
         |  FROM documents, unnest($toksSql) AS t(w)
         |  WHERE len(trim(text)) > 0
         |  GROUP BY src, t.w),
         |st AS (SELECT src, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM pair GROUP BY src),
         |cc AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM pair GROUP BY w),
         |n AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM st),
         |terms AS (
         |  SELECT pair.src,
         |    CAST(floor(
         |      (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)
         |        - CAST(c_w AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
         |      * (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)
         |        - CAST(c_w AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
         |      / (CAST(c_w AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
         |      * 1000000000.0 + 0.5) AS BIGINT) AS qn,
         |    CAST(floor(
         |      CAST(c_w AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)
         |      * 1000000000.0 + 0.5) AS BIGINT) AS cq
         |  FROM pair JOIN st USING (src) JOIN cc USING (w))
         |SELECT t.src AS source, st.n_s AS n_tokens,
         |  CAST(SUM(qn) AS DOUBLE) / 1000000000.0 AS chi2,
         |  CAST(SUM(cq) AS DOUBLE) / 1000000000.0 AS coverage
         |FROM terms t JOIN st ON t.src = st.src
         |GROUP BY t.src, st.n_s
         |ORDER BY source""".stripMargin,

    "t16_mixture_sample" ->
      """SELECT lang, sample_rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT)
        |      AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= CASE lang WHEN 'en' THEN 10 WHEN 'fr' THEN 5
        |                               WHEN 'de' THEN 3 ELSE 0 END
        |ORDER BY lang, sample_rank""".stripMargin,

    "d6_incremental_dedup" ->
      """SELECT a.doc_id
        |FROM documents a
        |WHERE a.doc_id % 2 = 1
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents b
        |    WHERE b.doc_id % 2 = 0
        |      AND md5(regexp_replace(lower(trim(b.text)), '\s+', ' ', 'g')) =
        |          md5(regexp_replace(lower(trim(a.text)), '\s+', ' ', 'g')))
        |ORDER BY a.doc_id""".stripMargin,

    "t14_corpus_stats" ->
      """WITH q AS (
        |  SELECT lang,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok,
        |    CAST(floor((LEAST(1.0, n_tok0 / 20.0)
        |     + n_distinct0 / GREATEST(n_tok0, 1.0)
        |     + LEAST(1.0, n_stop0 / GREATEST(n_tok0, 1.0) * 5.0)
        |     + n_alpha0 / GREATEST(n_chars0, 1.0)) / 4.0 * 1000000000.0 + 0.5) AS BIGINT) AS qn
        |  FROM (
        |    SELECT lang, text,
        |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |           ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS n_tok0,
        |      CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |           ELSE len(list_distinct(string_split_regex(trim(text), '\s+'))) END AS DOUBLE) AS n_distinct0,
        |      CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS DOUBLE) AS n_stop0,
        |      CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha0,
        |      CAST(len(text) AS DOUBLE) AS n_chars0
        |    FROM documents) t)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(qn) AS DOUBLE) / COUNT(*) / 1000000000.0 AS avg_quality
        |FROM q
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // d2's blocking machinery at window width 8 with the shared-window
    // count as output (same tokenization, same df<=100 boilerplate block)
    "d10_substring_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |wins AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_transform(generate_series(1, len(w) - 7),
         |      i -> array_to_string(w[i:i+7], ' ')))) AS win
         |  FROM toks),
         |keep AS (SELECT win FROM wins GROUP BY win HAVING COUNT(*) <= 100),
         |k AS (SELECT doc_id, wins.win AS win FROM wins JOIN keep ON wins.win = keep.win)
         |SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
         |FROM k a JOIN k b ON a.win = b.win AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY id1, id2""".stripMargin,

    "d2_jaccard_near_dup" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 100),
         |ex AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2
         |FROM pairs
         |JOIN sizes s1 ON id1 = s1.doc_id
         |JOIN sizes s2 ON id2 = s2.doc_id
         |WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // The full MinHash-LSH pipeline restated in SQL: identical FNV-1a
    // bases, splitmix64 permutation streams (three layered projections so
    // the oracle engine vectorizes instead of re-evaluating nested
    // lambdas), signed-domain slot minima, 32 x 4 band slices, and exact
    // Jaccard verification of band-colliding candidates. Candidates are
    // blocked on band-slice EQUALITY where the engine blocks on
    // hash(slice) — equal slices always share a bucket, so the sets agree
    // except on a 32-bit hash collision between UNEQUAL slices that also
    // passes exact verification (~2^-32 per colliding pair, and the
    // collision would have to join two true near-dups the bands missed).
    // Docs with no shingles (sig = 128 x Long.MaxValue, mutual candidates
    // in every band) are dropped by verification on both sides: 0/0
    // Jaccard is NaN in the JVM and NULL here, neither >= 0.5.
    "d3_minhash_lsh_near_dup" ->
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${shinglesSql(toksSql)} AS shingles FROM documents),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |bases AS (SELECT doc_id, $fnvSql AS base FROM ex),
         |m0 AS (SELECT doc_id, i, ${addModU("base", mulModU("CAST(i AS UBIGINT)", 0x9e3779b97f4a7c15L))} AS z
         |       FROM bases, generate_series(1, 128) AS g(i)),
         |m1 AS (SELECT doc_id, i, ${mulModU("xor(z, z >> 30)", 0xbf58476d1ce4e5b9L)} AS z FROM m0),
         |m2 AS (SELECT doc_id, i, ${mulModU("xor(z, z >> 27)", 0x94d049bb133111ebL)} AS z FROM m1),
         |m3 AS (SELECT doc_id, i, xor(z, z >> 31) AS u FROM m2),
         |slots AS (
         |  SELECT doc_id, i, MIN(${signedSql("u")}) AS slot
         |  FROM m3 GROUP BY doc_id, i),
         |sig AS (SELECT doc_id, list(slot ORDER BY i) AS sig FROM slots GROUP BY doc_id),
         |banded AS MATERIALIZED (
         |  SELECT doc_id, b, sig[b*4+1 : b*4+4] AS slc
         |  FROM sig, generate_series(0, 31) AS g(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.slc = b.slc AND a.doc_id < b.doc_id)
         |SELECT id1, id2
         |FROM cand
         |JOIN sh s1 ON s1.doc_id = id1
         |JOIN sh s2 ON s2.doc_id = id2
         |WHERE len(list_intersect(s1.shingles, s2.shingles)) * 1.0
         |      / len(list_distinct(s1.shingles || s2.shingles)) >= 0.5
         |ORDER BY id1, id2""".stripMargin,

    // d3's pipeline at the coarse 8x16 geometry plus the d2 exact pairs,
    // reduced to the one-row recall summary
    "d21_lsh_recall" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |shx AS MATERIALIZED (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM shx),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 100),
         |exk AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exk GROUP BY doc_id),
         |cpairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |  FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS MATERIALIZED (
         |  SELECT id1, id2 FROM cpairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.5),
         |exs AS (SELECT doc_id, unnest(shingles) AS s FROM shx),
         |bases AS (SELECT doc_id, $fnvSql AS base FROM exs),
         |lm0 AS (SELECT doc_id, i, ${addModU("base", mulModU("CAST(i AS UBIGINT)", 0x9e3779b97f4a7c15L))} AS z
         |       FROM bases, generate_series(1, 128) AS g(i)),
         |lm1 AS (SELECT doc_id, i, ${mulModU("xor(z, z >> 30)", 0xbf58476d1ce4e5b9L)} AS z FROM lm0),
         |lm2 AS (SELECT doc_id, i, ${mulModU("xor(z, z >> 27)", 0x94d049bb133111ebL)} AS z FROM lm1),
         |lm3 AS (SELECT doc_id, i, xor(z, z >> 31) AS u FROM lm2),
         |slots AS (
         |  SELECT doc_id, i, MIN(${signedSql("u")}) AS slot
         |  FROM lm3 GROUP BY doc_id, i),
         |sig AS (SELECT doc_id, list(slot ORDER BY i) AS sig FROM slots GROUP BY doc_id),
         |banded AS MATERIALIZED (
         |  SELECT doc_id, b, sig[b*16+1 : b*16+16] AS slc
         |  FROM sig, generate_series(0, 7) AS g(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.slc = b.slc AND a.doc_id < b.doc_id),
         |lsh AS MATERIALIZED (
         |  SELECT id1, id2 FROM cand
         |  JOIN shx s1 ON s1.doc_id = id1
         |  JOIN shx s2 ON s2.doc_id = id2
         |  WHERE len(list_intersect(s1.shingles, s2.shingles)) * 1.0
         |        / len(list_distinct(s1.shingles || s2.shingles)) >= 0.5),
         |hit AS (SELECT id1, id2 FROM exact SEMI JOIN lsh USING (id1, id2))
         |SELECT
         |  (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
         |  (SELECT COUNT(*) FROM hit) AS n_hit,
         |  ((SELECT COUNT(*) FROM hit) * 1000000)
         |    // nullif((SELECT COUNT(*) FROM exact), 0) AS recall_ppm""".stripMargin,

    // d3's full-pipeline signature/banding/verify restated over the
    // odd-vs-even split: candidates are incoming x standing bucket
    // collisions, the survivors are incoming ids with NO verified match
    "d14_incremental_near_dup" ->
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${shinglesSql(toksSql)} AS shingles FROM documents),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |bases AS (SELECT doc_id, $fnvSql AS base FROM ex),
         |m0 AS (SELECT doc_id, i, ${addModU("base", mulModU("CAST(i AS UBIGINT)", 0x9e3779b97f4a7c15L))} AS z
         |       FROM bases, generate_series(1, 128) AS g(i)),
         |m1 AS (SELECT doc_id, i, ${mulModU("xor(z, z >> 30)", 0xbf58476d1ce4e5b9L)} AS z FROM m0),
         |m2 AS (SELECT doc_id, i, ${mulModU("xor(z, z >> 27)", 0x94d049bb133111ebL)} AS z FROM m1),
         |m3 AS (SELECT doc_id, i, xor(z, z >> 31) AS u FROM m2),
         |slots AS (
         |  SELECT doc_id, i, MIN(${signedSql("u")}) AS slot
         |  FROM m3 GROUP BY doc_id, i),
         |sig AS (SELECT doc_id, list(slot ORDER BY i) AS sig FROM slots GROUP BY doc_id),
         |banded AS MATERIALIZED (
         |  SELECT doc_id, b, sig[b*4+1 : b*4+4] AS slc
         |  FROM sig, generate_series(0, 31) AS g(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS idn, b.doc_id AS ide
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.slc = b.slc
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |dup AS (
         |  SELECT DISTINCT idn FROM cand
         |  JOIN sh s1 ON s1.doc_id = idn
         |  JOIN sh s2 ON s2.doc_id = ide
         |  WHERE len(list_intersect(s1.shingles, s2.shingles)) * 1.0
         |        / len(list_distinct(s1.shingles || s2.shingles)) >= 0.5)
         |SELECT doc_id AS id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT idn FROM dup)
         |ORDER BY id""".stripMargin,

    // SimHash restated in SQL: FNV-1a per shingle, per-bit +/-1 majority
    // vote over 64 bits, fingerprint rebuilt as UBIGINT, 4 x 16-bit chunk
    // blocking and hamming <= 3 verification — an EXACT reproduction of
    // the engine's candidate set (the engine blocks on raw chunk values,
    // no hash bucketing, so there is no collision caveat here). Docs with
    // no shingles get fingerprint 0 via the LEFT JOIN (the kernel's
    // empty-input contract) and so pair with each other if present, as in
    // the engine.
    // d4's sketch pipeline + d2's exact pairs, reduced to the recall/
    // precision summary
    "d22_simhash_recall" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
         |shx AS MATERIALIZED (SELECT doc_id, ${shinglesSql("w")} AS shingles FROM toks),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM shx),
         |keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 100),
         |exk AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exk GROUP BY doc_id),
         |cpairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
         |  FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS MATERIALIZED (
         |  SELECT id1, id2 FROM cpairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.5),
         |exs AS (SELECT doc_id, unnest(shingles) AS s FROM shx),
         |bases AS (SELECT doc_id, $fnvSql AS base FROM exs),
         |bits AS (
         |  SELECT doc_id, b, SUM(CASE WHEN (base >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM bases, generate_series(0, 63) AS g(b)
         |  GROUP BY doc_id, b),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT) ELSE 0 END) & $mask64 AS UBIGINT) AS u
         |  FROM bits GROUP BY doc_id),
         |simsk AS MATERIALIZED (
         |  SELECT s.doc_id, COALESCE(a.u, CAST(0 AS UBIGINT)) AS u
         |  FROM shx s LEFT JOIN agg a ON s.doc_id = a.doc_id),
         |chunked AS (
         |  SELECT doc_id, u, c, (u >> (c*16)) & 65535 AS v
         |  FROM simsk, generate_series(0, 3) AS g(c)),
         |simp AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM chunked a JOIN chunked b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.u, b.u)) <= 3),
         |hit AS (SELECT id1, id2 FROM exact SEMI JOIN simp USING (id1, id2))
         |SELECT
         |  (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM simp) AS n_sim,
         |  (SELECT COUNT(*) FROM hit) AS n_hit,
         |  ((SELECT COUNT(*) FROM hit) * 1000000)
         |    // nullif((SELECT COUNT(*) FROM exact), 0) AS recall_ppm,
         |  ((SELECT COUNT(*) FROM hit) * 1000000)
         |    // nullif((SELECT COUNT(*) FROM simp), 0) AS precision_ppm""".stripMargin,

    "d4_simhash_near_dup" ->
      s"""WITH sh AS MATERIALIZED (SELECT doc_id, ${shinglesSql(toksSql)} AS shingles FROM documents),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |bases AS (SELECT doc_id, $fnvSql AS base FROM ex),
         |bits AS (
         |  SELECT doc_id, b, SUM(CASE WHEN (base >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM bases, generate_series(0, 63) AS g(b)
         |  GROUP BY doc_id, b),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT) ELSE 0 END) & $mask64 AS UBIGINT) AS u
         |  FROM bits GROUP BY doc_id),
         |sims AS MATERIALIZED (
         |  SELECT s.doc_id, COALESCE(a.u, CAST(0 AS UBIGINT)) AS u
         |  FROM sh s LEFT JOIN agg a ON s.doc_id = a.doc_id),
         |chunked AS (
         |  SELECT doc_id, u, c, (u >> (c*16)) & 65535 AS v
         |  FROM sims, generate_series(0, 3) AS g(c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM chunked a JOIN chunked b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.u, b.u)) <= 3)
         |SELECT id1, id2 FROM cand ORDER BY id1, id2""".stripMargin
  )
}
