package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...} —
  * kept under a 1600-char budget (2-decimal, gate queries), printed as
  * the absolute last stdout line, because the driver records only the
  * last ~2000 stdout chars. The full record (3-decimal
  * values incl. the benchOnly width variants, stall diagnostics, every
  * raw bracketed measurement) is written to BENCH_LAST.json in the repo.
  *
  * Methodology:
  *  - results are written to the `noop` datasource so the FULL plan
  *    executes (a bare count() would let Catalyst prune projections and
  *    skip expression work);
  *  - one small warmup query runs first so JVM/codegen warmup is not
  *    charged to the first measured query;
  *  - AQE is on (as it would be on a real cluster) and shuffle
  *    partitions match the local core count, not the 200 default;
  *  - INPUT STAGING: the sf directory (~17 MB at sf0.1) is copied into
  *    tmpfs once at start, so parquet scans stop sampling this host's
  *    intermittently-stalling disk (shuffle dirs were already tmpfs; the
  *    inputs were the remaining exogenous term in recorded scan times);
  *  - STALL-PROOFING: this host's disk intermittently stalls 30-100x for
  *    epochs that outlast three consecutive passes of a query, so plain
  *    min-of-N can still record a stalled number (round 2 recorded
  *    112.9 s for a ~35 s workload that way). Every measurement is
  *    bracketed by a cheap sentinel query; if either surrounding sentinel
  *    exceeds 3x the sentinel's own observed minimum, the measurement is
  *    marked stall-contaminated. The recorded figure is the min over
  *    clean measurements; queries left with no clean measurement (or a
  *    min >3x their BASELINE.md standing entry) get targeted re-runs at
  *    the end, waiting out stall epochs, under an extra budget that
  *    SCALES with the contamination observed in the main passes (a host
  *    that stalled through most of the run earns proportionally more
  *    re-run time; round 3's fixed 7 min was exhausted on such a host);
  *  - stall-detector statistics are part of the emitted JSON (round 3
  *    printed them to stderr, where the driver's capture truncated them
  *    away).
  *
  * Besides SparkEntry.queries (the oracle gate), the bench also measures
  * SparkEntry.benchOnly — production-width (1024-dim) vector variants whose
  * semantics are pinned by their 64-dim gate siblings.
  */
object Bench {

  /** Copy the sf directory's parquet files into tmpfs. Best-effort: any
    * failure (no /dev/shm, out of space) falls back to the original dir —
    * staging is a measurement-hygiene optimization, never a correctness
    * dependency. Re-entrant: files already staged with matching length
    * AND no-older mtime are not recopied (length alone kept a stale copy
    * alive when testdata was regenerated at identical byte size — round-4
    * advice); any recopy also invalidates the derived widened table so
    * prepareWidened regenerates it from the fresh inputs.
    */
  private def stageInputs(sfDir: String): (String, Boolean) = {
    try {
      val src = new java.io.File(sfDir)
      val shm = new java.io.File("/dev/shm")
      if (!src.isDirectory || !shm.isDirectory) return (sfDir, false)
      val files = src.listFiles().filter(_.isFile)
      val need = files.map(_.length).sum
      if (shm.getUsableSpace < 4 * need) return (sfDir, false) // 4x: widened table + slack
      val dst = new java.io.File(shm, s"graft-bench-input/${src.getName}")
      dst.mkdirs()
      var recopied = false
      for (f <- files) {
        val t = new java.io.File(dst, f.getName)
        if (!t.isFile || t.length != f.length || t.lastModified < f.lastModified) {
          java.nio.file.Files.copy(f.toPath, t.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          recopied = true
        }
      }
      if (recopied) { // stale derived table would survive via its _SUCCESS
        val widenedDir = new java.io.File(dst, graft.queries.Vectors.WidenedTable)
        if (widenedDir.isDirectory) {
          // recursive: a flat listFiles().delete() silently failed on any
          // nested dir (e.g. a _temporary left by a crashed write), which
          // left the stale dir behind and silently flipped benchOnly to
          // the inline-widening fallback (round-5 advice)
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(widenedDir)
          if (widenedDir.exists)
            System.err.println(
              s"[bench] widened-table invalidation incomplete: $widenedDir")
        }
      }
      (dst.getAbsolutePath, true)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] input staging failed, reading $sfDir directly: ${e.getMessage}")
        (sfDir, false)
    }
  }

  /** Materialize the 1024-dim widened embeddings table (x16 tile of the
    * 64-dim corpus) beside the staged inputs, so the benchOnly queries read
    * real production-width parquet instead of widening inline per pass.
    * Only attempted when the dir is writable (i.e. staging succeeded).
    */
  private def prepareWidened(spark: SparkSession, dir: String): Unit = {
    try {
      val path = s"$dir/${graft.queries.Vectors.WidenedTable}"
      // _SUCCESS, not the directory: a crashed partial write must
      // regenerate, not be mistaken for a complete table
      if (!new java.io.File(path, "_SUCCESS").exists())
        graft.queries.Vectors.widenInline(spark, dir)
          // pre-spread: the source is one small file (one scan partition),
          // and the point of the widened entries is to measure the kernels
          // at cluster parallelism, not a single-core artifact
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(path)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] widened-table prep failed (benchOnly queries will widen inline): ${e.getMessage}")
    }
  }

  private def round3(v: Double): Double =
    if (v < 0) v else math.rint(v * 1000.0) / 1000.0

  /** Best recorded figure for a query: min over clean measurements when
    * any exist, min over everything otherwise, -1 when it never ran.
    */
  private[graft] def bestOf(l: List[(Double, Boolean)]): Double = {
    val clean = l.collect { case (t, true) => t }
    if (clean.nonEmpty) clean.min
    else if (l.nonEmpty) l.map(_._1).min
    else -1.0
  }

  /** Priority order for the targeted re-run pass — pure, so the
    * allocation logic is unit-testable (BenchSpec). Tier 1: queries with
    * NO clean measurement (or none at all) — without a re-run they ship
    * with zero perf evidence, the round-5 q5_nation_revenue failure mode
    * when plain name order spent the budget on already-clean queries
    * first. Tier 2: queries whose clean min still exceeds 3x their
    * standing BASELINE.md entry (+50 ms jitter slack). Queries in neither
    * tier are excluded. Name order within a tier keeps runs reproducible.
    */
  private[graft] def rerunOrder(
      names: Seq[String],
      meas: Map[String, List[(Double, Boolean)]],
      baseline: Map[String, Double]): Seq[String] = {
    def m(n: String) = meas.getOrElse(n, Nil)
    val noClean = names.filter(n => !m(n).exists(_._2))
    val slow = names.filter { n =>
      m(n).exists(_._2) && baseline.get(n).exists(s => bestOf(m(n)) > 3 * s + 0.05)
    }
    noClean ++ slow
  }

  /** Most tries one 3x-standing query gets in the targeted re-run pass. */
  private[graft] val MaxSlowTries = 8

  /** The order of the 3x-standing tier's tries: round-robin sweeps over
    * `slow`, one try per query per sweep, at most [[MaxSlowTries]] sweeps.
    * On a uniformly slow host the budget then re-measures the whole set;
    * walked query by query, the first gate took up to 8 tries in a row and
    * the last got none. The caller skips queries that stopped being
    * suspect or keep failing. Pure, so BenchSpec pins it.
    */
  private[graft] def sweepOrder(slow: Seq[String]): Iterator[String] =
    Iterator.fill(MaxSlowTries)(slow).flatten

  /** Per-query drift vs the standing BASELINE.md minima: (compared,
    * flagged) where flagged lists every query whose recorded best exceeds
    * 2x its standing entry (+50 ms jitter slack), with the ratio. The
    * targeted RE-RUN tier stays at 3x (re-measuring is expensive); the
    * REPORT must not — a 2-3x drift was structurally invisible to the
    * suite's own alarm through round 16 (g2_triangles drifted to 2.62x
    * across three rounds while four runs claimed "zero flags"). Pure, so
    * BenchSpec pins the threshold.
    */
  private[graft] def vsStanding(
      results: Seq[(String, Double)],
      baseline: Map[String, Double]): (Int, Seq[(String, Double)]) = {
    val compared = results.filter { case (n, v) => v >= 0 && baseline.contains(n) }
    val flagged = compared.collect {
      case (n, v) if v > 2 * baseline(n) + 0.05 =>
        n -> math.rint(v / baseline(n) * 100.0) / 100.0
    }
    (compared.size, flagged)
  }

  /** Warm floor of one query's measurements, given newest-first
    * (time, clean) entries as `meas` stores them: min of the CLEAN
    * measurements excluding the first CHRONOLOGICAL rep (the cold one);
    * -1 when no warm clean rep exists. Pure, so BenchSpec pins the
    * cold-rep exclusion.
    */
  private[graft] def warmFloor(newestFirst: List[(Double, Boolean)]): Double = {
    val warm = newestFirst.reverse.drop(1).filter(_._2).map(_._1)
    if (warm.isEmpty) -1.0 else warm.min
  }

  /** The one stdout JSON line, fitted to a HARD budget. The driver records
    * only the LAST 2000 chars of stdout; line + newline + sbt's success
    * trailer (~80 chars, longer when the total grows an "(MM:SS)" suffix)
    * must all fit, so the line gets 1600 — deliberately conservative
    * (round 19's 1820 budget left no slack, and a single re-logged stderr
    * flag line printed after it beheaded the head out of the window).
    * Two companion r20 fixes make the window safe: the line is printed as
    * the ABSOLUTE LAST stdout act of main (after spark.stop(), after the
    * BENCH_LAST.json write, after every stderr diagnostic), and build.sbt
    * sets run/outputStrategy := StdoutOutput so the forked JVM's stdout
    * passes through without the "[info] " logger prefix that hid the line
    * head from the driver's parser in rounds 1-19, and forked stderr
    * leaves the stdout capture entirely. Degradation ladder: sub-second
    * precision 2 -> 1 -> drop the CHEAPEST entries (their absolute
    * regressions are smallest; the full 3-decimal map stays in
    * BENCH_LAST.json) with an "omitted" count. Never truncate. Pure, so
    * BenchSpec can pin the budget against the real gate names.
    */
  private[graft] def fitStdoutLine(gateResults: Seq[(String, Double)],
                                   total: Double, sfLabel: String,
                                   budget: Int = 1600): String = {
    def line(entries: Seq[(String, Double)], subSecDecimals: Int): String = {
      // hybrid precision: 1-decimal past 1 s (resolution proportional to
      // magnitude), subSecDecimals below — the sub-second entries are
      // where a lost digit would blur a 3x-regression comparison
      def r(v: Double): Double =
        if (v < 0) v
        else if (v >= 1.0) math.rint(v * 10.0) / 10.0
        else {
          val s = math.pow(10.0, subSecDecimals)
          math.rint(v * s) / s
        }
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + r(v) }
        .mkString("{", ",", "}")
      val omitted = gateResults.size - entries.size
      s"""{"metric":"total","value":${math.rint(total * 10.0) / 10.0},"unit":"sec",""" +
        s""""queries":$qs,""" +
        (if (omitted > 0) s""""omitted":$omitted,""" else "") +
        s""""sf":"$sfLabel"}"""
    }
    val two = line(gateResults, 2)
    val one = line(gateResults, 1)
    if (two.length <= budget) two
    else if (one.length <= budget) one
    else {
      val byCost = gateResults.sortBy(_._2).map(_._1) // cheapest first
      Iterator.from(1)
        .map { k =>
          val dropped = byCost.take(k).toSet
          line(gateResults.filterNot(e => dropped(e._1)), 1)
        }
        .find(_.length <= budget)
        .getOrElse(line(Seq.empty, 1))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDirEnv = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // this box's root disk stalls intermittently (30-100x hiccups on
    // shuffle spill); tmpfs shuffle dirs make timings reflect the plans
    val spark = Session(Session.localMaster(32), Some("/dev/shm/graft-spark"))

    val (sfDir, staged) = stageInputs(sfDirEnv)
    if (staged) prepareWidened(spark, sfDir)

    val queryMap = SparkEntry.queries ++ SparkEntry.benchOnly

    def exec(name: String): Double = {
      val t0 = System.nanoTime()
      try queryMap(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Standing per-query baseline (BASELINE.md table) for the targeted
    // re-run pass. Parsed, not hardcoded, so the table stays the single
    // source of truth; absent entries just skip that trigger.
    val baseline: Map[String, Double] = {
      val row = """^\|\s*([a-z][a-z0-9_]*)\s*\|\s*([0-9]+(?:\.[0-9]+)?)\s*\|\s*$""".r
      val f = Seq("BASELINE.md", "/root/repo/BASELINE.md")
        .map(new java.io.File(_)).find(_.isFile)
      try f.map { file =>
        val src = scala.io.Source.fromFile(file, "UTF-8")
        try src.getLines().collect { case row(n, s) => n -> s.toDouble }.toMap
        finally src.close()
      }.getOrElse(Map.empty)
      catch { // a mangled table must degrade the re-run trigger, not the bench
        case e: Exception =>
          System.err.println(s"[bench] baseline table unreadable: ${e.getMessage}")
          Map.empty[String, Double]
      }
    }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the measured set — for
    // detached scale spot-runs (e.g. the sf10 d8/e10 trend) where
    // benching all 90+ queries at 100x data buys nothing
    val names = {
      // harness-tier gates (unguarded exact baselines run only to measure
      // an approximation's recall/error) stay out of the hot suite — their
      // production arms are priced by benchOnly siblings. An explicit
      // SPARK_GRAFT_BENCH_ONLY list overrides (targeted spot-runs).
      val all = queryMap.keys.toSeq.sorted
        .filterNot(SparkEntry.benchHarnessTier)
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .fold(all)(only => queryMap.keys.toSeq.sorted.filter(only))
    }

    // Sentinel: the cheapest query in the suite (~0.13 s warm). A sentinel
    // run that takes >3x the sentinel's own observed minimum (+50 ms
    // absolute slack against timer jitter) means the host is in a stall
    // epoch and any measurement it brackets is untrustworthy.
    val sentinel = if (queryMap.contains("q13_offset_page"))
      "q13_offset_page" else names.head
    var sentMin = Double.MaxValue
    def sentinelQuiet(): Boolean = {
      val t = exec(sentinel)
      if (t >= 0 && t < sentMin) sentMin = t
      t >= 0 && t <= 3 * sentMin + 0.05
    }

    // warmup: JVM + codegen + parquet footer caches, then seed the
    // sentinel's minimum with a few quiet-host observations
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    (1 to 3).foreach(_ => sentinelQuiet())

    // Three sentinel-bracketed passes (SPARK_GRAFT_BENCH_PASSES overrides —
    // e.g. the one-shot sf1 scale pass, where 3x every heavy query buys
    // nothing: that record is evidence-at-scale, not a standing minimum).
    // A measurement is clean iff the sentinel runs on BOTH sides were
    // quiet (the trailing sentinel catches a stall that began
    // mid-measurement, and doubles as the leading sentinel of the next
    // query).
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(3)
    val meas = scala.collection.mutable.Map[String, List[(Double, Boolean)]]()
      .withDefaultValue(Nil)
    // OS 1-min load average and GC seconds captured alongside each rep
    // (same prepend order as meas), so a contaminated epoch self-describes
    // numerically in the durable record instead of narratively (r18
    // verdict task 7), and heap-pressure warm-down is told apart from host
    // epochs (r19 close). Load is -1 where the JVM can't read it.
    val repHost = scala.collection.mutable.Map[String, List[(Double, Double)]]()
      .withDefaultValue(Nil)
    def loadAvg(): Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (l < 0) -1.0 else math.rint(l * 10.0) / 10.0
    }
    // getCollectionTime returns -1 for collectors without timing support;
    // filter them so they can't deflate the per-rep GC seconds
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
    }
    /** One measured rep: (seconds, GC seconds); seconds -1 on failure. */
    def rep(n: String): (Double, Double) = {
      val gc0 = gcMillis()
      val t = exec(n)
      (t, (gcMillis() - gc0) / 1000.0)
    }
    def record(n: String, t: Double, gc: Double, clean: Boolean): Unit = {
      meas(n) = (t, clean) :: meas(n)
      repHost(n) = (loadAvg(), gc) :: repHost(n)
    }
    for (_ <- 1 to passes) {
      var prevQuiet = sentinelQuiet()
      for (n <- names) {
        val (t, gc) = rep(n)
        val nextQuiet = sentinelQuiet()
        if (t >= 0) record(n, t, gc, prevQuiet && nextQuiet)
        prevQuiet = nextQuiet
      }
    }

    // Targeted re-runs, in rerunOrder's priority: no-clean queries FIRST
    // (before any 3x-standing re-run — round-5 advice: the old name-order
    // walk let already-clean queries burn the budget while q5 starved),
    // then the >3x-standing tier. A no-clean query retries until a clean
    // measurement lands or the budget truly exhausts (no fixed try cap —
    // only repeated execution FAILURES bail early); the 3x tier then goes
    // round-robin (sweepOrder), at most MaxSlowTries tries each. Wait out
    // stall epochs between attempts. The extra budget scales with the
    // contamination the main passes observed — a host that stalled
    // through most of the run earns up to 45 min, a quiet host keeps the
    // old 7 — so the bench stays bounded but is no longer starved exactly
    // when it needs the budget most.
    val mainMeas = names.flatMap(meas(_))
    val mainContaminated = mainMeas.count(!_._2)
    val contamFrac =
      if (mainMeas.isEmpty) 0.0 else mainContaminated.toDouble / mainMeas.size
    val rerunBudgetSec = math.min(45 * 60, (7 + 50 * contamFrac).toInt * 60)
    val deadline = System.nanoTime() + rerunBudgetSec * 1000000000L
    def inBudget: Boolean = System.nanoTime() < deadline
    def lacksClean(n: String): Boolean = !meas(n).exists(_._2)
    def suspect(n: String): Boolean = lacksClean(n) ||
      baseline.get(n).exists(s => bestOf(meas(n)) > 3 * s + 0.05)
    val fails = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def retry(n: String): Unit =
      if (sentinelQuiet()) {
        val (t, gc) = rep(n)
        val quiet = sentinelQuiet()
        if (t >= 0) record(n, t, gc, quiet)
        else fails(n) += 1 // a query that ERRORS must not eat the budget
      } else Thread.sleep(5000)
    for (n <- rerunOrder(names, meas.toMap, baseline) if lacksClean(n))
      while (lacksClean(n) && fails(n) < 3 && inBudget) retry(n)
    // the tier is taken after the no-clean one: a query whose first clean
    // measurement is past 3x standing joins it
    val slow = rerunOrder(names, meas.toMap, baseline).filterNot(lacksClean)
    for (n <- sweepOrder(slow).takeWhile(_ => inBudget) if suspect(n) && fails(n) < 3)
      retry(n)

    // stall diagnostics: part of the durable record (BENCH_LAST.json)
    val all = names.flatMap(meas(_))
    val contaminated = all.count(!_._2)
    val noClean = names.count(n => meas(n).nonEmpty && !meas(n).exists(_._2))
    val stallJson =
      s"""{"measurements":${all.size},"contaminated":$contaminated,""" +
      s""""no_clean":$noClean,"sentinel_min":${round3(sentMin)},""" +
      s""""rerun_budget_sec":$rerunBudgetSec,"staged":$staged}"""

    val results = names.map(n => n -> round3(bestOf(meas(n))))
    // drift report vs standing minima: a >2x breach is a RECORDED flag
    // in the durable JSON, not a judge-side discovery (round-16 verdict)
    val (vsCompared, vsFlagged) = vsStanding(results, baseline)
    val vsJson = {
      val fl = vsFlagged.map { case (n, r) => "\"" + n + "\":" + r }
        .mkString("{", ",", "}")
      s"""{"compared":$vsCompared,"flag2x_count":${vsFlagged.size},"flag2x":$fl}"""
    }
    if (vsFlagged.nonEmpty)
      System.err.println(s"[bench] ${vsFlagged.size} queries above 2x standing: " +
        vsFlagged.map { case (n, r) => s"$n=${r}x" }.mkString(", "))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = round3(results.map(_._2).filter(_ >= 0).sum)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""stall":$stallJson,"vs_standing":$vsJson,"sf":"$sfDirEnv"}"""
    // The driver records only the LAST ~2000 chars of stdout, and sbt's
    // own success trailer consumes ~72 of them — round 4's full line
    // (2.2 KB) was beheaded into parsed:null. The stdout line therefore
    // carries the contract fields at 2-decimal precision for the GATE
    // queries only (fits with ample margin at the 1600 budget); the
    // 3-decimal values for everything incl. the benchOnly width variants,
    // the stall stats, and the raw bracketed measurements live in
    // BENCH_LAST.json. The line is PRINTED at the very end of main —
    // nothing may write to stdout after it (r19: the warm-floor flag
    // lines, re-logged by sbt onto stdout, printed after the line and
    // pushed its head out of the driver's window).
    val gateNames = SparkEntry.queries.keySet
    val gateResults = results.filter { case (k, _) => gateNames(k) }
    // the sf dir basename identifies the scale factor without spending 15
    // chars on a host path the driver already knows
    val stdoutLine =
      fitStdoutLine(gateResults, total, new java.io.File(sfDirEnv).getName)

    // Full record to a repo file: the driver's stdout tail window truncated
    // round 3's line, losing 13 entries and the total — the file is the
    // durable copy, with every raw (seconds, clean) measurement for audit.
    try {
      // each rep as [seconds, clean, loadavg, gc seconds] — the load
      // sentinel makes an epoch's contamination a per-rep measurement, not
      // an inference
      val raw = names.map { n =>
        val ls = repHost(n)
        val ms = meas(n).zipAll(ls.take(meas(n).size), (0.0, false), (-1.0, 0.0))
          .reverse
          .map { case ((t, c), (l, gc)) => s"[${round3(t)},$c,$l,${round3(gc)}]" }
          .mkString("[", ",", "]")
        "\"" + n + "\":" + ms
      }.mkString("{", ",", "}")
      // warm floor: min of CLEAN measurements excluding the first
      // chronological rep (the cold one) — warm drift recorded the way
      // cold drift is (the round-16 g2 lesson applied one level deeper:
      // its warm floor crept 7.14 -> 8.94 while the cold-min alarm read
      // quiet). -1 when no warm clean rep exists. File-only: the stdout
      // line has a hard 1820-char budget.
      val warmPairs = names.map { n =>
        val w = warmFloor(meas(n))
        n -> (if (w < 0) -1.0 else round3(w))
      }
      val warmFlagged = warmPairs.collect {
        case (n, w) if w >= 0 && baseline.get(n).exists(s => w > 2 * s + 0.05) =>
          n -> math.rint(w / baseline(n) * 100.0) / 100.0
      }
      if (warmFlagged.nonEmpty)
        System.err.println(s"[bench] ${warmFlagged.size} queries with WARM floor " +
          "above 2x standing: " +
          warmFlagged.map { case (n, r) => s"$n=${r}x" }.mkString(", "))
      val warmJson = warmPairs.map { case (n, w) => "\"" + n + "\":" + w }
        .mkString("{", ",", "}")
      val warmFlagJson = warmFlagged.map { case (n, r) => "\"" + n + "\":" + r }
        .mkString("{", ",", "}")
      val full = line.dropRight(1) +
        s""","warm_floor":$warmJson,"warm_flag2x":$warmFlagJson,"raw":$raw}"""
      // the current checkout first: a bench run from another working copy
      // must not overwrite a different repo's durable record (round-4
      // advice); SPARK_GRAFT_BENCH_DIR overrides for detached runs
      // create the override dir if absent: a detached run pointing at a
      // not-yet-created path must NOT silently fall through and clobber
      // the repo's durable record
      val dir = (sys.env.get("SPARK_GRAFT_BENCH_DIR").toSeq.map { p =>
          val f = new java.io.File(p); f.mkdirs(); f
        } ++ Seq(".", "/root/repo").map(new java.io.File(_)))
        .find(d => d.isDirectory && d.canWrite).getOrElse(new java.io.File("."))
      java.nio.file.Files.write(
        new java.io.File(dir, "BENCH_LAST.json").toPath,
        full.getBytes("UTF-8"))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] BENCH_LAST.json write failed: ${e.getMessage}")
    }
    // stop() before the println so any shutdown logging (stderr, but belt
    // and braces) cannot land after the contract line; never let a stop
    // failure eat the line itself
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(stdoutLine) // ABSOLUTE LAST stdout act — see fitStdoutLine docs
  }
}
