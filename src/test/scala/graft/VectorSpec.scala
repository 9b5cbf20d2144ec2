package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.operators.{Ivf, Knn}

object SparkTestSession {
  lazy val spark: SparkSession = {
    // a fresh warehouse per test JVM: managed tables left by an earlier
    // run would make saveAsTable refuse their locations. Spark reads
    // spark.* system properties when it builds the context.
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    Session("local[4]", Some("/dev/shm/graft-spark"))
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs that `f` runs under its own job group, counted by a listener.
    * A marker job drains the listener bus before the count is read. */
  def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == "counted-jobs") jobs.incrementAndGet()
        if (group == "counted-jobs-drain") drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted-jobs", "counted-jobs")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("counted-jobs-drain", "counted-jobs-drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}

class VectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import SparkTestSession.sfDir

  /** Records read by the completed stages that scan a file and that
    * `counted` selects, while `f` runs. Events reach a listener in order:
    * once a marker job's end arrives, every earlier stage completion has
    * been counted. */
  private def fileRowsRead(counted: org.apache.spark.scheduler.StageInfo => Boolean)
                          (f: => Unit): Long = {
    import org.apache.spark.scheduler._
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD") && counted(e.stageInfo))
          rows.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "drain"))
          markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("drain")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    rows.get
  }

  private def vecDf(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("id", "emb")
  }

  test("cosine_distance matches hand computation, interpreted and codegen") {
    import spark.implicits._
    val a = Array(1f, 0f, 2f)
    val b = Array(0.5f, 1f, -1f)
    val expected = { // same accumulation order as the expression
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until 3) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = vecDf(Seq((1L, a)))
      .select(cosine_distance(col("emb"), vector_lit(b)).as("d"))
      .head().getDouble(0)
    assert(got === expected)
    assert(got === Knn.cosineDist(a, b))
  }

  test("cosine_distance of a vector with itself is ~0; orthogonal is 1; opposite is 2") {
    val v = Array(0.6f, 0.8f)
    val d0 = vecDf(Seq((1L, v)))
      .select(cosine_distance(col("emb"), vector_lit(v))).head().getDouble(0)
    assert(math.abs(d0) < 1e-12)
    val d1 = vecDf(Seq((1L, Array(1f, 0f))))
      .select(cosine_distance(col("emb"), vector_lit(Array(0f, 1f)))).head().getDouble(0)
    assert(d1 === 1.0)
    val d2 = vecDf(Seq((1L, Array(1f, 0f))))
      .select(cosine_distance(col("emb"), vector_lit(Array(-1f, 0f)))).head().getDouble(0)
    assert(math.abs(d2 - 2.0) < 1e-12)
  }

  test("zero vector yields NaN (pgvector 0/0 semantics)") {
    val d = vecDf(Seq((1L, Array(0f, 0f))))
      .select(cosine_distance(col("emb"), vector_lit(Array(1f, 1f)))).head().getDouble(0)
    assert(d.isNaN)
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Array[Float]]), (2L, Some(Array(1f, 2f))))
      .toDF("id", "emb")
    val rows = df.select(cosine_distance(col("emb"), vector_lit(Array(1f, 2f))))
      .collect()
    assert(rows(0).isNullAt(0))
    assert(!rows(1).isNullAt(0))
  }

  test("dimension mismatch raises") {
    val ex = intercept[Exception] {
      vecDf(Seq((1L, Array(1f, 2f, 3f))))
        .select(cosine_distance(col("emb"), vector_lit(Array(1f, 2f)))).head()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("dimension mismatch"))
  }

  test("l2 expressions: norm and distance") {
    val got = vecDf(Seq((1L, Array(3f, 4f))))
      .select(l2_norm(col("emb")).as("n"),
        l2_distance(col("emb"), vector_lit(Array(0f, 0f))).as("d"),
        dot_product(col("emb"), vector_lit(Array(2f, 1f))).as("p"))
      .head()
    assert(got.getDouble(0) === 5.0)
    assert(got.getDouble(1) === 5.0)
    assert(got.getDouble(2) === 10.0)
  }

  test("SQL registration works (FunctionRegistry — reference CREATE EXTENSION analogue)") {
    graft.functions.GraftFunctions.register(spark)
    vecDf(Seq((1L, Array(1f, 0f)))).createOrReplaceTempView("vtest")
    val d = spark.sql(
      "SELECT cosine_distance(emb, array(0.0F, 1.0F)) FROM vtest").head().getDouble(0)
    assert(d === 1.0)
  }

  test("topK(k) is a prefix of topK(k+5) and matches a full sort") {
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).toArray
    val top5 = Knn.topK(e, col("embedding"), probe, 5, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0))
    val top10 = Knn.topK(e, col("embedding"), probe, 10, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0))
    assert(top10.take(5).sameElements(top5))
    assert(top5.head === 7L) // self is nearest
    // offset tiles without gap/overlap (reference V3)
    val page2 = Knn.topK(e, col("embedding"), probe, 5, col("vec_id"), offset = 5)
      .select("vec_id").collect().map(_.getLong(0))
    assert(top10.drop(5).sameElements(page2))
  }

  test("edge cases: k beyond corpus size returns all rows; empty probe set yields empty join") {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val probe = e.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    assert(Knn.topK(e, col("embedding"), probe, (n + 100).toInt, col("vec_id")).count() === n)
    val empty = Knn.knnJoin(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 0), "vec_id", "embedding", 3)
    assert(empty.count() === 0)
  }

  test("knnJoin agrees with per-probe topK") {
    val e = Tables.embeddings(spark, sfDir)
    val probes = e.filter(col("vec_id") < 3)
    val joined = Knn.knnJoin(e, "vec_id", "embedding", probes, "vec_id", "embedding", 4)
      .select("probe_id", "rnk", "corpus_id").collect()
      .groupBy(_.getLong(0))
      .map { case (p, rows) => p -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    for (p <- 0L until 3L) {
      val probe = e.filter(col("vec_id") === p).select("embedding")
        .head().getSeq[Float](0).toArray
      val direct = Knn.topK(e, col("embedding"), probe, 4, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(joined(p) === direct, s"probe $p")
    }
  }

  test("knnJoin chunked probe path matches the single-broadcast result") {
    val e = Tables.embeddings(spark, sfDir)
    val probes = e.filter(col("vec_id") < 7) // 7 probes, chunk=2 -> 4 passes
    def run(chunk: Int) =
      Knn.knnJoin(e, "vec_id", "embedding", probes, "vec_id", "embedding",
        k = 3, probeChunk = chunk)
        .select("probe_id", "rnk", "corpus_id")
        .orderBy("probe_id", "rnk").collect().toSeq
    assert(run(2) === run(100000))
  }

  test("l2_normalize produces unit vectors; zero vector stays zero") {
    val rows = vecDf(Seq((1L, Array(3f, 4f)), (2L, Array(0f, 0f))))
      .select(col("id"), l2_normalize(col("emb")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows(1L) === Seq(0.6f, 0.8f))
    assert(rows(2L) === Seq(0f, 0f))
  }

  test("int8 quantization: 4x smaller, bounded error, preserves kNN order on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val roundTripped = e.select(col("vec_id"), col("embedding"),
      dequantize_int8(quantize_int8(col("embedding"))).as("rt"))
    // per-component error bounded by scale/2 = max|x|/254
    val maxErr = roundTripped
      .select(max(expr(
        "aggregate(zip_with(embedding, rt, (a, b) -> abs(a - b)), 0D, (acc, x) -> greatest(acc, CAST(x AS DOUBLE)))")))
      .head().getDouble(0)
    val maxVal = e.select(max(expr(
      "aggregate(embedding, 0D, (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")))
      .head().getDouble(0)
    assert(maxErr <= maxVal / 254.0 + 1e-7, s"maxErr $maxErr vs bound ${maxVal / 254.0}")
    // top-10 under quantized embeddings matches exact top-10 closely
    val probe = e.filter(col("vec_id") === 5L).select("embedding")
      .head().getSeq[Float](0).toArray
    val exact = Knn.topK(e, col("embedding"), probe, 10, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val quant = Knn.topK(roundTripped.select(col("vec_id"), col("rt").as("embedding")),
      col("embedding"), probe, 10, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((exact & quant).size >= 8, s"quantized recall too low: ${(exact & quant).size}/10")
  }

  test("IVF saved index: partition pruning at query time, results equal in-memory search") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    graft.operators.Ivf.save(idx, dir)
    val pruned = spark.read.parquet(s"$dir/data").filter(col("bucket").isin(0, 1))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"expected partition pruning on bucket:\n$plan")
    val total = spark.read.parquet(s"$dir/data").count()
    assert(pruned.count() < total) // strictly fewer rows scanned
    val probe = e.filter(col("vec_id") === 9L).select("embedding")
      .head().getSeq[Float](0).toArray
    val mem = graft.operators.Ivf.search(idx, probe, 5, 2)
      .select("id").collect().map(_.getLong(0)).toSeq
    val saved = graft.operators.Ivf.searchSaved(spark, dir, probe, 5, 2)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(saved === mem)
    // legacy layout: indexes saved before the sidecar rename carry
    // `_centroids`; the loader falls back and still reads them
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.move(p.resolve("centroids"), p.resolve("_centroids"))
    val legacy = graft.operators.Ivf.searchSaved(spark, dir, probe, 5, 2)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(legacy === mem)
  }

  test("IVF filtered search: predicate BEFORE the heap; post-hoc filtering under-returns") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 4, iters = 2)
    val probe = e.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    // a selective predicate: only ~1/4 of vectors qualify
    val allowed = e.filter(col("label") % 4 === 1)
    val filtered = graft.operators.Ivf.searchFiltered(idx, probe, k = 10,
        nprobe = 4, allowed, "vec_id")
      .collect().map(_.getLong(0))
    assert(filtered.length === 10) // pre-filtering keeps the heap full
    // every result satisfies the predicate
    val allowedIds = allowed.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(filtered.forall(allowedIds.contains))
    // the classic bug demonstrated: filtering the UNFILTERED top-10
    // post hoc returns fewer than k qualifying rows
    val postHoc = graft.operators.Ivf.search(idx, probe, k = 10, nprobe = 4)
      .collect().map(_.getLong(0)).filter(allowedIds.contains)
    assert(postHoc.length < 10,
      s"fixture too easy: post-hoc filter kept ${postHoc.length}")
    // and the filtered search agrees with the exact filtered kNN at
    // full probe coverage (nprobe = nlist)
    val exact = Knn.topK(allowed, col("embedding"), probe, 10, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(filtered.toSeq === exact)
  }

  test("IVF appendSaved: new vectors join existing buckets; searches find them without retraining") {
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 2 === 0)
    val extra = e.filter(col("vec_id") % 2 === 1)
    val idx = graft.operators.Ivf.build(base, "vec_id", "embedding", nlist = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    graft.operators.Ivf.save(idx, dir)
    val before = spark.read.parquet(s"$dir/data").count()
    val appended = graft.operators.Ivf.appendSaved(spark, dir, extra, "vec_id", "embedding")
    assert(appended === extra.count())
    assert(spark.read.parquet(s"$dir/data").count() === before + appended)
    // appended rows landed in their nearest existing bucket (same
    // assignment the in-memory index would produce)
    val stored = spark.read.parquet(s"$dir/data")
      .filter(col("id") % 2 === 1)
      .select(col("id"), col("emb"), col("bucket"))
      .collect()
    stored.foreach { r =>
      val emb = r.getSeq[Float](1).toArray
      val expected = idx.centroids.zipWithIndex
        .minBy { case (c, _) => Knn.cosineDist(emb, c) }._2
      assert(r.getInt(2) === expected, s"row ${r.getLong(0)} in wrong bucket")
    }
    // an appended vector is its own nearest neighbor through the saved index
    val probe = extra.filter(col("vec_id") === 1L).select("embedding")
      .head().getSeq[Float](0).toArray
    val hit = graft.operators.Ivf.searchSaved(spark, dir, probe, k = 1, nprobe = 2)
      .select("id").head().getLong(0)
    assert(hit === 1L)
  }

  test("IVF search: self-hit + recall@10 >= 0.6 vs exact, scanning nprobe/nlist of corpus") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val probe = e.filter(col("vec_id") === 42L).select("embedding")
      .head().getSeq[Float](0).toArray
    val approx = Ivf.search(idx, probe, k = 10, nprobe = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    val exact = Knn.topK(e, col("embedding"), probe, 10, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(approx.contains(42L))
    val recall = (approx & exact).size / 10.0
    assert(recall >= 0.6, s"recall $recall")
  }

  test("PQ: 16x code compression, encode = brute-force argmin, deterministic train") {
    val e = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    assert(model.m === 4 && model.k === 8 && model.subDim === 16)
    // deterministic: identical second training
    val model2 = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    assert(model.codebooks.flatten.flatten.toSeq === model2.codebooks.flatten.flatten.toSeq)
    // codes are m=4 ints per 64-float vector: 16x fewer values, 64x fewer
    // bytes once stored as uint8 (k <= 256)
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(codes.values.forall(c => c.length === 4 && c.forall(x => x >= 0 && x < 8)))
    // encoding equals brute-force per-subspace argmin on a sample
    val vecs = e.filter(col("vec_id") < 20).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    for ((id, v) <- vecs; j <- 0 until 4) {
      val expected = (0 until 8).minBy { c =>
        graft.functions.PqCodec.l2sq(v, j * 16, model.codebooks(j)(c), 0, 16)
      }
      assert(codes(id)(j) === expected, s"vec $id subspace $j")
    }
  }

  test("PQ ADC search: self-hit first; zero-error regime reproduces exact L2 order") {
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter(col("vec_id") === 42L).select("embedding")
      .head().getSeq[Float](0).toArray

    // lossy regime (the v12 gate params): the probe's own vector must
    // rank FIRST — it quantizes to the cells nearest the probe's exact
    // subvectors, so every other code's table entry is >= its own.
    // Recall@10 on this corpus is intrinsically weak (normalize(2c + N(0,1))
    // puts ~85% of each vector's energy in isotropic noise, so the ~20
    // same-cluster neighbors are near-equidistant and 8^4 cells cannot
    // separate them) — the ZERO-ERROR regime below is the correctness
    // pin; this block pins the mechanism, not a flattering recall number.
    val model = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
    val approx = graft.operators.Pq.searchADC(codes, "code", "vec_id", model, probe, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(approx.head === 42L, s"self not first: ${approx.toSeq}")
    // plan shape: ADC is a TakeOrderedAndProject over the code scan — the
    // v1 kNN shape on a table 16x narrower
    val plan = graft.operators.Pq.searchADC(codes, "code", "vec_id", model, probe, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"ADC lost top-k heaps:\n$plan")

    // zero-quantization-error regime: k = corpus size makes every
    // subvector its own reconstruction (init IS the corpus, means are
    // fixpoints), so ADC distances equal exact squared L2 and the top-10
    // must match the exact ranking under the same (dist, id) tie-break
    val all = e.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val n = all.length
    // expected distances accumulated EXACTLY as ADC does: per-subspace
    // dot-shape l2, summed ascending j (a full-dim dot-shape would group
    // the additions differently and could drift a last ulp)
    val exactIds = all.map { case (id, v) =>
      var s = 0.0
      for (j <- 0 until 4)
        s += graft.functions.PqCodec.l2sq(probe, j * 16, v, j * 16, 16)
      (s, id)
    }.sorted.take(10).map(_._2)
    val full = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = n, iters = 1)
    val fullCodes = graft.operators.Pq.encode(e, "vec_id", "embedding", full)
    val adcExact = graft.operators.Pq.searchADC(fullCodes, "code", "vec_id", full, probe, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(adcExact.toSeq === exactIds.toSeq)
  }

  test("PQ saved index: codebooks round-trip, appendSaved encodes against stored books, search = in-memory ADC") {
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 2 === 0)
    val extra = e.filter(col("vec_id") % 2 === 1)
    val model = graft.operators.Pq.train(base, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val codes = graft.operators.Pq.encode(base, "vec_id", "embedding", model)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    graft.operators.Pq.save(model, codes, "vec_id", dir)
    // the sidecar restores the exact model
    val loaded = graft.operators.Pq.loadModel(spark, dir)
    assert(loaded.m === model.m && loaded.k === model.k && loaded.subDim === model.subDim)
    assert(loaded.codebooks.flatten.flatten.toSeq === model.codebooks.flatten.flatten.toSeq)
    // append encodes against the STORED codebooks — byte-identical to an
    // in-memory encode with the original model
    val before = spark.read.parquet(s"$dir/codes").count()
    val appended = graft.operators.Pq.appendSaved(spark, dir, extra, "vec_id", "embedding")
    assert(appended === extra.count())
    assert(spark.read.parquet(s"$dir/codes").count() === before + appended)
    val storedExtra = spark.read.parquet(s"$dir/codes")
      .filter(col("id") % 2 === 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val memExtra = graft.operators.Pq.encode(extra, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(storedExtra === memExtra)
    // searching the saved codes = in-memory ADC over the same union
    val probe = e.filter(col("vec_id") === 9L).select("embedding")
      .head().getSeq[Float](0).toArray
    val allCodes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
    val mem = graft.operators.Pq.searchADC(allCodes, "code", "vec_id", model, probe, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val saved = graft.operators.Pq.searchSavedADC(spark, dir, probe, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(saved === mem)
    // a directory without the sidecar is refused loudly
    val err = intercept[Exception] {
      graft.operators.Pq.loadModel(spark,
        java.nio.file.Files.createTempDirectory("graft-pq-empty").toString + "/codebooks-missing")
    }
    assert(err.getMessage.nonEmpty)
  }

  test("PQ refine: equals exact re-rank of the ADC pool; recall strictly improves on the lossy regime") {
    val e = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
    val probe = e.filter(col("vec_id") === 42L).select("embedding")
      .head().getSeq[Float](0).toArray
    val k = 10; val r = 40
    val refined = graft.operators.Pq.searchRefine(codes, "code", "vec_id",
      e, "vec_id", "embedding", model, probe, k, r)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // two-stage contract: identical to hand-composing ADC top-r -> exact
    // L2 order over exactly that candidate set
    val pool = graft.operators.Pq.searchADC(codes, "code", "vec_id", model, probe, r)
      .select("vec_id").collect().map(_.getLong(0))
    val expected = e.filter(col("vec_id").isin(pool: _*))
      .withColumn("dist", l2_distance(col("embedding").cast("array<float>"), vector_lit(probe)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(refined === expected)
    // recall vs the exact-L2 truth: refine must strictly beat ADC-only
    // in this lossy regime (m=4, k=8 over 64 dims quantizes hard)
    val exact = e
      .withColumn("dist", l2_distance(col("embedding").cast("array<float>"), vector_lit(probe)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val adcOnly = graft.operators.Pq.searchADC(codes, "code", "vec_id", model, probe, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recallRefine = refined.count(exact.contains)
    val recallAdc = adcOnly.count(exact.contains)
    assert(recallRefine > recallAdc,
      s"refine recall $recallRefine/$k vs ADC-only $recallAdc/$k")
    // self-hit survives refinement
    assert(refined.contains(42L))
  }

  test("truncate-refine: equals hand-composed prefix pool + exact re-rank; degenerates to exact topK at q=dim") {
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter(col("vec_id") === 42L).select("embedding")
      .head().getSeq[Float](0).toArray
    val k = 10; val r = 40; val q = 16
    val got = Knn.topKTruncateRefine(e, "vec_id", "embedding", probe, q, k, r)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // two-stage contract: prefix-cosine top-r pool, full cosine over it
    val pool = e
      .withColumn("dt", cosine_distance(slice(col("embedding").cast("array<float>"), 1, q),
        vector_lit(probe.take(q))))
      .orderBy(col("dt").asc, col("vec_id").asc).limit(r)
      .select("vec_id").collect().map(_.getLong(0))
    val expected = e.filter(col("vec_id").isin(pool: _*))
      .withColumn("dist", cosine_distance(col("embedding").cast("array<float>"), vector_lit(probe)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    // self-hit survives truncation (the probe's own prefix is distance 0)
    assert(got.contains(42L))
    // with the full dimension and r = k the operator IS exact topK
    val full = Knn.topKTruncateRefine(e, "vec_id", "embedding", probe,
      q = probe.length, k = k, r = k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = e
      .withColumn("dist", cosine_distance(col("embedding").cast("array<float>"), vector_lit(probe)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(full === exact)
    // widening the pool can only improve recall vs exact truth
    val exactSet = exact.toSet
    val r10 = Knn.topKTruncateRefine(e, "vec_id", "embedding", probe, q, k, r = k)
      .select("vec_id").collect().map(_.getLong(0)).count(exactSet.contains)
    val r40 = got.count(exactSet.contains)
    assert(r40 >= r10)
    // guards
    intercept[IllegalArgumentException] {
      Knn.topKTruncateRefine(e, "vec_id", "embedding", probe, q, k = 10, r = 5)
    }
    intercept[IllegalArgumentException] {
      Knn.topKTruncateRefine(e, "vec_id", "embedding", probe, q = 0, k = k, r = r)
    }
  }

  test("binary quantization: packed sign words, hamming = sign-mismatch count, two-stage refine contract") {
    import spark.implicits._
    // 65 dims -> 2 words; known sign pattern
    val v = Array.tabulate(65)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val packed = Seq(Tuple1(v)).toDF("v")
      .select(binary_quantize(col("v")).as("b"))
      .head().getSeq[Long](0)
    assert(packed.length === 2)
    (0 until 65).foreach { i =>
      val bit = (packed(i / 64) >> (i % 64)) & 1L
      assert(bit === (if (i % 3 == 0) 1L else 0L), s"bit $i")
    }
    // hamming against a flipped-prefix copy = number of flipped signs
    val w = v.clone(); (0 until 7).foreach(i => w(i) = -w(i))
    val d = Seq((v, w)).toDF("a", "b")
      .select(hamming_distance(binary_quantize(col("a")),
        binary_quantize(col("b"))).as("d"))
      .head().getInt(0)
    assert(d === 7)
    // operator contract on real embeddings: equals hand-composed
    // hamming pool + exact cosine re-rank, and keeps the self-hit
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter(col("vec_id") === 42L).select("embedding")
      .head().getSeq[Float](0).toArray
    val k = 10; val r = 40
    val got = Knn.topKBinaryRefine(e, "vec_id", "embedding", probe, k, r)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val pool = e
      .withColumn("dh", hamming_distance(
        binary_quantize(col("embedding").cast("array<float>")),
        binary_quantize(vector_lit(probe))))
      .orderBy(col("dh").asc, col("vec_id").asc).limit(r)
      .select("vec_id").collect().map(_.getLong(0))
    val expected = e.filter(col("vec_id").isin(pool: _*))
      .withColumn("dist", cosine_distance(col("embedding").cast("array<float>"), vector_lit(probe)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    assert(got.contains(42L)) // probe's own words are hamming-0
  }

  test("rebalanceSaved: splits oversized buckets, preserves every row, leaves small buckets' files untouched") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val path = java.nio.file.Files.createTempDirectory("graft-rebal").toString + "/idx"
    Ivf.save(idx, path)
    val total = e.count()
    val before = spark.read.parquet(s"$path/data")
      .groupBy("bucket").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val threshold = total / 8
    val smallest = before.minBy(_._2)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    def filesOf(b: Int) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$path/data/bucket=$b"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSet
    val smallFilesBefore =
      if (smallest._2 <= threshold) Some(filesOf(smallest._1)) else None
    val exactBefore = Ivf.searchSaved(spark, path, Array.fill(64)(0.1f), 10, nprobe = 64)
      .select("id").collect().map(_.getLong(0)).toSeq
    val nSplit = Ivf.rebalanceSaved(spark, path, maxBucketRows = threshold, splitInto = 2)
    assert(nSplit > 0, s"avg-threshold rebalance must split at least one bucket (sizes $before)")
    val after = spark.read.parquet(s"$path/data")
      .groupBy("bucket").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    // no row lost or duplicated, and ids unique
    assert(after.values.sum === total)
    assert(spark.read.parquet(s"$path/data").select("id").distinct().count() === total)
    // every split produced strictly smaller pieces than the original
    before.filter(_._2 > threshold).foreach { case (b, n) =>
      assert(after.getOrElse(b, 0L) < n, s"bucket $b not reduced")
    }
    // untouched small bucket kept its exact files
    smallFilesBefore.foreach(fb => assert(filesOf(smallest._1) === fb))
    // the sidecar stayed dense over the grown bucket set
    val cents = spark.read.parquet(s"$path/centroids")
      .select("bucket").collect().map(_.getInt(0)).sorted
    assert(cents.toSeq === (0 until cents.length).toSeq)
    assert(cents.length === 8 + nSplit * 1)
    // full-probe search is still exact: identical selection as before
    val exactAfter = Ivf.searchSaved(spark, path, Array.fill(64)(0.1f), 10, nprobe = 64)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(exactAfter === exactBefore)
    // nothing above a huge threshold: no-op returns 0 and changes nothing
    assert(Ivf.rebalanceSaved(spark, path, maxBucketRows = total, splitInto = 2) === 0)
    // crash-recovery gate: a bucket dir past the sidecar (the orphan a
    // crashed split leaves behind) makes the next rebalance refuse
    val nBuckets = cents.length
    val orphan = new org.apache.hadoop.fs.Path(s"$path/data/bucket=${nBuckets + 3}")
    fs.mkdirs(orphan)
    val err = intercept[IllegalArgumentException] {
      Ivf.rebalanceSaved(spark, path, maxBucketRows = 1L, splitInto = 2)
    }
    assert(err.getMessage.contains("crashed rebalance"))
    fs.delete(orphan, true)
  }

  test("margin mining: equals per-probe top-2 + ratio margin; both outcomes present") {
    val e = Tables.embeddings(spark, sfDir)
    val src = e.filter(col("label") === 0)
    val tgt = e.filter(col("label") === 1)
    val got = SparkEntry.queries("v21_margin_mining")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // hand-compose per probe: exact top-2 over the target side, ratio margin
    val tgtRows = tgt.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val srcRows = src.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expected = srcRows.map { case (sid, sv) =>
      val ds = tgtRows.map { case (tid, tv) => (Knn.cosineDist(sv, tv), tid) }.sorted
      val (d1, t1) = ds(0); val (d2, t2) = ds(1)
      (sid, t1, t2, (1.0 - d1) / (1.0 - d2) > 1.2)
    }.sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
    assert(got.exists(_._4) && got.exists(!_._4), "threshold should split the corpus")
  }

  test("knnJoinApproxSaved equals the in-memory batch join; unselected buckets pruned from the scan") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val path = java.nio.file.Files.createTempDirectory("graft-kjs").toString + "/idx"
    Ivf.save(idx, path)
    val probes = e.filter(col("vec_id") < 8)
    val mem = Ivf.knnJoinApprox(idx, probes, "vec_id", "embedding", k = 3, nprobe = 2)
      .select("probe_id", "rnk", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val saved = Ivf.knnJoinApproxSaved(spark, path, probes, "vec_id", "embedding",
      k = 3, nprobe = 2)
    val got = saved.select("probe_id", "rnk", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === mem)
    // the scan carries a bucket partition filter (pruning, not full read)
    val plan = saved.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter in plan:\n$plan")
  }

  test("savedBucketStats: counts conserve, append raises the stale buckets' counts and the report tracks it") {
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val idx = Ivf.build(base, "vec_id", "embedding", nlist = 4, iters = 5)
    val path = java.nio.file.Files.createTempDirectory("graft-stats").toString + "/idx"
    Ivf.save(idx, path)
    val before = Ivf.savedBucketStats(spark, path)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(before.values.map(_._1).sum === base.count())
    assert(before.values.forall(v => v._2 >= 0.0 && v._2 <= 2.0))
    // append the held-out slice: totals grow, per-bucket mean can only
    // move (appends assign to NEAREST stored centroid, so it stays sane)
    Ivf.appendSaved(spark, path, e.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding")
    val after = Ivf.savedBucketStats(spark, path)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after.values.map(_._1).sum === e.count())
    assert(after.keySet === before.keySet)
    assert(after.values.forall(v => v._2 >= 0.0 && v._2 <= 2.0))
  }

  test("maintenanceDecision: skew arm and drift arm each flag their bucket, untouched bucket stays") {
    import spark.implicits._
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    // three tight clusters on distinct dominant axes, jitter on the next
    def cluster(dom: Int, jit: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = new Array[Float](4)
        v(dom) = 10f; v(jit) = (i % 5).toFloat
        (i.toLong, unit(v))
      }
    val a = cluster(0, 1, 0 until 20)
    val b = cluster(1, 2, 100 until 120)
    val c = cluster(2, 3, 200 until 220)
    val base = (a ++ b ++ c).toDF("vec_id", "embedding")
    val idx = Ivf.build(base, "vec_id", "embedding", nlist = 3, iters = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-maint").toString + "/idx"
    Ivf.save(idx, path)
    Ivf.snapshotStats(spark, path)
    // skew: 60 more A-shaped rows; drift: 20 rows ASSIGNED to B's
    // centroid but far from it (strong off-axis component)
    val skew = cluster(0, 1, 1000 until 1060)
    val drift = (2000 until 2020).map { i =>
      val v = new Array[Float](4); v(1) = 10f; v(3) = 8f
      (i.toLong, unit(v))
    }
    Ivf.appendSaved(spark, path, (skew ++ drift).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // recall payoff measurement: a probe INSIDE the drifted mode, served
    // at nprobe=1, before vs after maintenance (the reason to split a
    // drifted bucket is recall at small nprobe, not integrity)
    val all0 = (a ++ b ++ c ++ skew ++ drift).toDF("vec_id", "embedding")
    val driftProbe = drift.head._2
    def exactTop(k: Int) = graft.operators.Knn.topK(all0, col("embedding"),
      driftProbe, k = k, tieBreak = col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def servedTop(k: Int) = Ivf.searchSaved(spark, path, driftProbe,
      k = k, nprobe = 1).select("id").collect().map(_.getLong(0)).toSet
    val exact10 = exactTop(10)
    val recallBefore = (servedTop(10) & exact10).size
    val decision = Ivf.maintenanceDecision(spark, path,
      sizeFactor = 1.5, driftFactor = 1.5)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getBoolean(4))).toMap
    // bucket identity via size: A-bucket has 80 rows, B-bucket 40, C 20
    val byN = decision.map { case (bkt, (n, split)) => n -> (bkt, split) }
    assert(byN.keySet === Set(80L, 40L, 20L), s"unexpected sizes: $decision")
    assert(byN(80L)._2, "skewed bucket (80 rows > 1.5x mean 46.7) must flag")
    assert(byN(40L)._2, "drifted bucket (mean dist >> baseline) must flag")
    assert(!byN(20L)._2, "untouched bucket must NOT flag")
    // act on it: splits applied, nothing lost or duplicated, and the
    // full-probe search equals exact kNN over the union corpus
    Ivf.maintainSaved(spark, path, sizeFactor = 1.5, driftFactor = 1.5)
    val all = (a ++ b ++ c ++ skew ++ drift).toDF("vec_id", "embedding")
    val probe = a.head._2
    val exact = graft.operators.Knn.topK(all, col("embedding"), probe,
      k = 10, tieBreak = col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val served = Ivf.searchSaved(spark, path, probe, k = 10, nprobe = 4096)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(served === exact)
    val total = spark.read.parquet(s"$path/data").count()
    assert(total === 140L, s"rows lost/duplicated by maintenance: $total")
    // the payoff: splitting the drifted bucket gives the drifted mode
    // its own centroid, so the nprobe=1 probe now lands on it — recall
    // must be perfect after maintenance and must not have been before
    // (the stale shared centroid made nprobe=1 scan a mixed bucket,
    // which HAPPENED to contain the neighbors; the sturdier claim is
    // after == 10/10 and after >= before)
    val recallAfter = (servedTop(10) & exact10).size
    assert(recallAfter === 10, s"post-maintenance nprobe=1 recall $recallAfter/10")
    assert(recallAfter >= recallBefore,
      s"maintenance degraded recall: $recallBefore -> $recallAfter")
    // the refreshed baseline retires the DRIFT arm: any re-flag after
    // maintenance must be the size arm's doing (a split can legitimately
    // stay big), never a stale drift reference
    val again = Ivf.maintenanceDecision(spark, path,
      sizeFactor = 1.5, driftFactor = 1.5)
      .collect().map(r => (r.getLong(1), r.getBoolean(4)))
    val meanN = again.map(_._1).sum.toDouble / again.length
    again.filter(_._2).foreach { case (n, _) =>
      assert(n > 1.5 * meanN,
        s"bucket with $n rows re-flagged by drift after the baseline refresh")
    }
  }

  test("IVF-PQ maintainSaved: codes move between buckets WITHOUT re-encoding; full-probe ADC invariant") {
    import spark.implicits._
    import graft.operators.{Ivf, IvfPq, Pq}
    import org.apache.spark.sql.functions.col
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    def cluster(dom: Int, jit: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = new Array[Float](4)
        v(dom) = 10f; v(jit) = (i % 5).toFloat
        (i.toLong, unit(v))
      }
    val a = cluster(0, 1, 0 until 20)
    // B is a TIGHT cluster (constant jitter) so its reconstruction
    // baseline is near zero — reconstruction drift only registers when
    // appended rows snap to DIFFERENT codebook entries than the
    // baseline population (recon drift is bounded by the codebook
    // span; off-span drift quantizes away — the scope note on
    // IvfPq.savedBucketStats)
    val b = (100 until 120).map { i =>
      val v = new Array[Float](4); v(1) = 10f; v(2) = 2f
      (i.toLong, unit(v))
    }
    val c = cluster(2, 3, 200 until 220)
    val base = (a ++ b ++ c).toDF("vec_id", "embedding")
    val idx = Ivf.build(base, "vec_id", "embedding", nlist = 3, iters = 8)
    val model = Pq.train(base, "vec_id", "embedding", m = 2, k = 4, iters = 3)
    val path = java.nio.file.Files.createTempDirectory("graft-pqmaint").toString + "/idx"
    IvfPq.save(idx, model, path)
    IvfPq.snapshotStats(spark, path)
    val skew = cluster(0, 1, 1000 until 1060)
    // drift rows assign to B (dominant dim 1) but their second subspace
    // snaps to C-owned codebook entries — the reconstruction lands far
    // from B's centroid, which is what the drift arm measures
    val drift = (2000 until 2020).map { i =>
      val v = new Array[Float](4); v(1) = 10f; v(2) = 8f; v(3) = 3f
      (i.toLong, unit(v))
    }
    IvfPq.appendSaved(spark, path, (skew ++ drift).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // the code multiset and full-probe ADC results BEFORE maintenance
    def codesNow() = spark.read.parquet(s"$path/codes")
      .select(col("id"), col("code").cast("array<int>").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def adcTop() = IvfPq.searchSaved(spark, path, a.head._2, k = 10, nprobe = 4096)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val codesBefore = codesNow()
    val adcBefore = adcTop()
    val decision = IvfPq.maintenanceDecision(spark, path,
        sizeFactor = 1.5, driftFactor = 1.5)
      .collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    assert(decision(80L), "skewed bucket must flag on the size arm")
    assert(decision(40L), "drifted bucket must flag on the reconstruction-drift arm")
    assert(!decision(20L), "untouched bucket must NOT flag")
    def nBuckets() = spark.read.parquet(s"$path/centroids").count()
    val pre = nBuckets()
    IvfPq.maintainSaved(spark, path, sizeFactor = 1.5, driftFactor = 1.5)
    val post = nBuckets()
    assert(post > pre, s"maintenance split nothing: $pre -> $post")
    // codes are MOVED, never re-encoded: identical (id, code) multiset
    assert(codesNow() === codesBefore,
      "maintenance changed or lost code rows (must move, never re-encode)")
    // full-probe ADC is invariant under any bucket layout
    assert(adcTop() === adcBefore, "full-probe ADC changed under maintenance")
  }

  test("maintainSaved refreshes the baseline for SPLIT buckets only — slow drift accumulates across runs") {
    import spark.implicits._
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def cluster(dom: Int, jit: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = new Array[Float](4)
        v(dom) = 10f; v(jit) = (i % 5).toFloat
        (i.toLong, unit(v))
      }
    val a = cluster(0, 1, 0 until 20)
    val b = cluster(1, 2, 100 until 120)
    val base = (a ++ b).toDF("vec_id", "embedding")
    val idx = Ivf.build(base, "vec_id", "embedding", nlist = 2, iters = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-slowdrift").toString + "/idx"
    Ivf.save(idx, path)
    Ivf.snapshotStats(spark, path)
    def baselineRows() = spark.read.parquet(s"$path/stats_baseline")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val stats0 = Ivf.savedBucketStats(spark, path)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // identify B's bucket by where a known B row landed
    val bId = spark.read.parquet(s"$path/data")
      .filter(col("id") === 100L).select("bucket").head().getInt(0)
    val aId = (stats0.keySet - bId).head
    val base0 = baselineRows()
    // skew A hard (it must split); drift B MILDLY (under driftFactor)
    val skew = cluster(0, 1, 1000 until 1080)
    val mild = (2000 until 2008).map { i =>
      val v = new Array[Float](4); v(1) = 10f; v(3) = 0.5f
      (i.toLong, unit(v))
    }
    Ivf.appendSaved(spark, path, (skew ++ mild).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val d1 = Ivf.maintenanceDecision(spark, path, sizeFactor = 1.5, driftFactor = 1.5)
      .collect().map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    assert(d1(aId), "skewed A must flag on the size arm")
    assert(!d1(bId), s"fixture: B's mild drift must stay under driftFactor (decision $d1)")
    Ivf.maintainSaved(spark, path, sizeFactor = 1.5, driftFactor = 1.5)
    val base1 = baselineRows()
    // the untouched bucket keeps its ORIGINAL baseline row byte-for-byte;
    // a global re-snapshot here (the old behavior) would have raised it
    // to the post-append mean and hidden the accumulated drift
    assert(base1(bId) === base0(bId),
      s"untouched bucket $bId baseline changed: ${base0(bId)} -> ${base1(bId)}")
    // split buckets + fresh tail ids DO get refreshed baseline rows
    assert(base1.keySet.size > base0.keySet.size, "tail buckets missing baseline rows")
    assert(base1(aId) !== base0(aId), "split bucket's baseline must refresh")
    // second mild batch: CUMULATIVE drift vs the original baseline now
    // trips the arm — only observable because the baseline survived run 1
    val mild2 = (3000 until 3016).map { i =>
      val v = new Array[Float](4); v(1) = 10f; v(3) = 4f
      (i.toLong, unit(v))
    }
    Ivf.appendSaved(spark, path, mild2.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val d2 = Ivf.maintenanceDecision(spark, path, sizeFactor = 1.5, driftFactor = 1.5)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    assert(d2(bId)._2, s"cumulative drift on $bId must flag against the surviving baseline: $d2")
    // integrity after acting on it: full-probe == exact over the union
    Ivf.maintainSaved(spark, path, sizeFactor = 1.5, driftFactor = 1.5)
    val all = (a ++ b ++ skew ++ mild ++ mild2).toDF("vec_id", "embedding")
    val probe = b.head._2
    val exact = graft.operators.Knn.topK(all, col("embedding"), probe,
      k = 10, tieBreak = col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val served = Ivf.searchSaved(spark, path, probe, k = 10, nprobe = 4096)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(served === exact)
    assert(spark.read.parquet(s"$path/data").count() ===
      (a ++ b ++ skew ++ mild ++ mild2).size.toLong)
  }

  test("IvfPq saved index: partition-pruned ADC search = in-memory composition; append joins stored buckets") {
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 2 === 0)
    val extra = e.filter(col("vec_id") % 2 === 1)
    val idx = Ivf.build(base, "vec_id", "embedding", nlist = 4, iters = 2)
    val model = graft.operators.Pq.train(base, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    graft.operators.IvfPq.save(idx, model, dir)
    val probe = e.filter(col("vec_id") === 8L).select("embedding")
      .head().getSeq[Float](0).toArray
    // the scan is partition-pruned to the probed buckets
    val buckets = Ivf.probeBuckets(idx, probe, 2)
    val pruned = spark.read.parquet(s"$dir/codes")
      .filter(col("bucket").isin(buckets: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"expected partition pruning on bucket:\n$plan")
    // saved search = the in-memory v13-style composition on the same data
    val saved = graft.operators.IvfPq.searchSaved(spark, dir, probe, k = 5, nprobe = 2)
      .select("id").collect().map(_.getLong(0)).toSeq
    val codes = graft.operators.Pq.encode(base, "vec_id", "embedding", model)
    val cand = idx.assigned.filter(col("bucket").isin(buckets: _*)).select(col("id"))
    val memCodes = codes.join(cand, codes("vec_id") === cand("id"))
      .select(col("vec_id"), col("code"))
    val mem = graft.operators.Pq.searchADC(memCodes, "code", "vec_id", model, probe, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(saved === mem)
    // append without retraining: stored-centroid bucket + stored-codebook code
    val appended = graft.operators.IvfPq.appendSaved(spark, dir, extra, "vec_id", "embedding")
    assert(appended === extra.count())
    val stored = spark.read.parquet(s"$dir/codes").filter(col("id") % 2 === 1)
      .collect().map(r => r.getLong(r.fieldIndex("id")) ->
        (r.getInt(r.fieldIndex("bucket")), r.getSeq[Int](r.fieldIndex("code")).toSeq)).toMap
    val expectedCodes = graft.operators.Pq.encode(extra, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    stored.foreach { case (id, (bucket, code)) =>
      val emb = e.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).toArray
      val expB = idx.centroids.zipWithIndex.minBy { case (c, _) => Knn.cosineDist(emb, c) }._2
      assert(bucket === expB, s"row $id in wrong bucket")
      assert(code === expectedCodes(id), s"row $id code mismatch")
    }
    // an appended vector is findable through the saved index
    val p1 = extra.filter(col("vec_id") === 1L).select("embedding")
      .head().getSeq[Float](0).toArray
    val hit = graft.operators.IvfPq.searchSaved(spark, dir, p1, k = 1, nprobe = 2)
      .select("id").head().getLong(0)
    assert(hit === 1L)
  }

  test("Hybrid.rrf: hand-computed fusion, union semantics, rank ties break by id") {
    import spark.implicits._
    // list A ranks: 10 (s=3.0) -> 1, 20 (2.0) -> 2, 30 (1.0) -> 3
    // list B ranks: 20 (s=9.0) -> 1, 40 (8.0) -> 2
    val a = Seq((10L, 3.0), (20L, 2.0), (30L, 1.0)).toDF("id", "score")
    val b = Seq((20L, 9.0), (40L, 8.0)).toDF("id", "score")
    val got = graft.operators.Hybrid.rrf(Seq(a, b), k = 10, k0 = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val exp = Map(
      10L -> (1.0 / 61, 1L),
      20L -> (1.0 / 62 + 1.0 / 61, 2L), // both lists
      30L -> (1.0 / 63, 1L),
      40L -> (1.0 / 62, 1L))
    assert(got.map(_._1).toSet === exp.keySet)
    got.foreach { case (id, rrf, lists) =>
      assert(math.abs(rrf - exp(id)._1) < 1e-15, s"id $id rrf $rrf")
      assert(lists === exp(id)._2, s"id $id lists")
    }
    // fused order: 20 (in both lists) first, then by reciprocal rank
    assert(got.map(_._1).toSeq === Seq(20L, 10L, 40L, 30L))
    // equal scores within a list rank by id: (5,1.0) before (6,1.0)
    val t1 = Seq((6L, 1.0), (5L, 1.0)).toDF("id", "score")
    val r = graft.operators.Hybrid.rrf(Seq(t1), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(r === Seq(5L, 6L))
  }

  test("IVF-PQ composition: results = full ADC ranking restricted to the probed buckets") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val model = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", model)
    val probe = e.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val buckets = Ivf.probeBuckets(idx, probe, 3).toSet
    assert(buckets.size === 3)
    val inBuckets = idx.assigned.filter(col("bucket").isin(buckets.toSeq: _*))
      .select("id").collect().map(_.getLong(0)).toSet
    // reference: rank ALL codes by ADC, drop non-bucket ids, take 10
    val fullRank = graft.operators.Pq.searchADC(codes, "code", "vec_id", model,
      probe, k = e.count().toInt)
      .collect().map(_.getLong(0)).filter(inBuckets).take(10).toSeq
    val composed = graft.operators.Pq.searchADC(
      codes.join(idx.assigned.filter(col("bucket").isin(buckets.toSeq: _*))
        .select(col("id")), codes("vec_id") === col("id"))
        .select(col("vec_id"), col("code")),
      "code", "vec_id", model, probe, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(composed === fullRank)
    assert(composed.forall(inBuckets))
  }

  test("IVF build's sample degenerates to the full corpus at gate scale (v7/v9 oracle precondition)") {
    // The IvfSql DuckDB oracle replays the k-means over the FULL corpus
    // in vec_id order, which is only the engine's computation while every
    // scan partition fits Ivf.build's reservoir capacity. Pin it: the
    // built centroids must equal trainCentroids over the collected corpus
    // sorted by id — if a layout change ever makes the reservoir sample
    // for real at gate scale, this fails before the driver's oracle does.
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val idx = Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val full = e.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2)
    val direct = Ivf.trainCentroids(full, nlist = 8, iters = 5)
    assert(idx.centroids.length === direct.length)
    idx.centroids.zip(direct).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"centroid $i differs — sample != full corpus")
    }
  }

  test("v7s layout pins: murmur3 key->reducer map, skewed sizes, sample regime") {
    import spark.implicits._
    // the oracle's pidExpr hardcodes pmod(murmur3_42(key), 4) for the
    // three skew-key values — pin the mapping so a Spark hash change
    // (or a key-type change) fails here before the driver gate does
    val hm = Seq(0L, 2L, 3L).map { k =>
      k -> spark.range(1).select(pmod(hash(lit(k)), lit(4))).head().getInt(0)
    }.toMap
    assert(hm === Map(0L -> 1, 2L -> 0, 3L -> 3), s"murmur3 mapping drifted: $hm")
    // the constructed corpus really lands keys on those reducers, sorted
    val e = Tables.embeddings(spark, sfDir)
    val m16 = col("vec_id") % 16
    val skewKey = when(m16 === 0, 2L).when(m16 <= 3, 3L).otherwise(0L)
    val corpus = e.repartition(4, skewKey).sortWithinPartitions("vec_id")
    val layout = corpus.select(col("vec_id").cast("long"))
      .as[Long].rdd.mapPartitionsWithIndex { (pid, it) =>
        val ids = it.toArray
        Iterator.single(pid -> (ids.length, ids.sameElements(ids.sorted)))
      }.collect().toMap
    val n = layout.values.map(_._1).sum
    assert(layout(2)._1 === 0, "reducer 2 should be empty")
    assert(layout(0)._1 === (n + 15) / 16 || layout(0)._1 === n / 16,
      s"reducer 0 should hold the 1/16 slice, got ${layout(0)._1} of $n")
    layout.values.foreach { case (cnt, sorted) => assert(cnt === 0 || sorted) }
    // subsampling regime actually fires: sample < corpus, >= nlist, and
    // the two small slices truncate below the reservoir cap (budget 77,
    // perPart 20 at 4 partitions)
    val sample = Ivf.drawSample(corpus, "vec_id", "embedding",
      nlist = 8, sampleSize = 64, seed = 42L)
    assert(sample.length < n && sample.length >= 8)
    val ids = sample.map(_._1)
    assert(ids.sameElements(ids.sorted))
    val slice0 = ids.count(_ % 16 == 0)
    assert(slice0 < 20, s"1/16 slice should truncate to quota, kept $slice0")
    // determinism: a second draw is identical
    val again = Ivf.drawSample(corpus, "vec_id", "embedding",
      nlist = 8, sampleSize = 64, seed = 42L).map(_._1)
    assert(again.sameElements(ids))
  }

  test("IVF batch kNN join: per-probe agreement with single-probe search + recall vs exact join") {
    val e = Tables.embeddings(spark, sfDir)
    val idx = Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val probes = e.filter(col("vec_id") < 8)
    val approx = Ivf.knnJoinApprox(idx, probes, "vec_id", "embedding", k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // bucket selection identical to single-probe search -> same result set
    val p0 = e.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val single = Ivf.search(idx, p0, k = 3, nprobe = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(approx(0L) === single)
    // recall against the exact broadcast join
    val exact = Knn.knnJoin(e, "vec_id", "embedding", probes, "vec_id", "embedding", 3)
      .select("probe_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map { pid =>
      (approx.getOrElse(pid, Set.empty) & exact(pid)).size.toDouble / exact(pid).size
    }.sum / exact.size
    assert(recall >= 0.6, s"batch recall $recall")
  }

  test("hyperplane_bands: identical vectors share every band; orthogonal share few") {
    val banded = vecDf(Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))))
      .select(col("id"), hyperplane_bands(col("emb"), 16, 8, 7L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(banded(1L) === banded(2L)) // equal vectors -> equal signature
    val shared = banded(1L).zip(banded(3L)).count { case (a, b) => a == b }
    assert(shared < 4, s"orthogonal vectors shared $shared of 16 bands")
  }

  test("hyperplane_bands kernel equals a naive per-plane reference, bit for bit (seeded)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.{HyperplaneBands, SketchHash}
    // plane p is the stream's values p*dim ... p*dim+dim-1, one plane at a
    // time, each dot summed over ascending components with no term skipped
    def reference(x: Array[Double], bands: Int, rows: Int, seed: Long): Seq[Long] = {
      val dim = x.length
      def gaussian(i: Long): Double = {
        val h1 = SketchHash.mix(seed + SketchHash.Golden * (2L * i + 1))
        val h2 = SketchHash.mix(seed + SketchHash.Golden * (2L * i + 2))
        val u1 = ((h1 >>> 11) + 1).toDouble / (1L << 53).toDouble
        val u2 = (h2 >>> 11).toDouble / (1L << 53).toDouble
        math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      }
      (0 until bands).map { b =>
        (0 until rows).foldLeft(0L) { (bucket, r) =>
          val p = b * rows + r
          var dot = 0.0
          for (j <- 0 until dim) dot += x(j) * gaussian(p.toLong * dim + j)
          if (dot >= 0.0) bucket | (1L << r) else bucket
        }
      }
    }
    val rng = new scala.util.Random(20231101)
    def component(): Double = rng.nextInt(6) match {
      case 0 | 1 => 0.0
      case 2 => -0.0
      case 3 => rng.nextGaussian() * math.pow(10, rng.nextInt(21) - 10)
      case _ => rng.nextGaussian()
    }
    for (n <- 0 until 120) {
      val dim = Seq(3, 4, 17, 64, 256, 1024)(n % 6)
      val (bands, rows) = Seq((4, 3), (8, 8), (16, 12))(n % 3)
      val seed = rng.nextLong()
      val x = Array.fill(dim)(component())
      val isDouble = n % 2 == 0
      val arr =
        if (isDouble) new GenericArrayData(x)
        else new GenericArrayData(x.map(_.toFloat))
      val want = reference(if (isDouble) x else x.map(_.toFloat.toDouble), bands, rows, seed)
      val got = HyperplaneBands.compute(arr, isDouble, bands, rows, seed).toLongArray().toSeq
      assert(got === want, s"case $n: dim $dim, $bands x $rows, seed $seed, double $isDouble")
    }
  }

  test("LSH near-dup pairs equal exact all-pairs on document vectors (sf0.001 + sf0.01)") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val dv = graft.queries.Vectors.docVectors(spark, dir)
      val lsh = Knn.lshNearDupPairs(dv, "doc_id", "vec", minSim = 0.85)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Knn.nearDupPairs(dv, "doc_id", "vec", minSim = 0.85)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh === exact, s"pair sets differ at $dir")
      assert(exact.nonEmpty, s"degenerate test: no near-dup pairs at $dir")
      dv.unpersist()
    }
  }

  test("vector_centroid aggregate equals the posexplode decimal formulation") {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.embeddings(spark, sfDir)
    val viaAgg = graft.queries.Vectors.defs("v5_label_centroids")(spark, sfDir)
      .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2)))
    val viaExplode = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg((sum(col("v").cast("double").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("centroid"))
      .orderBy(col("label"), col("pos"))
      .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2)))
    assert(viaAgg === viaExplode) // bit-exact, not approximate
    // null vectors are skipped, all-null groups yield null
    import spark.implicits._
    val withNulls = Seq(("a", Array(1f, 3f)), ("a", null), ("b", null))
      .toDF("label", "emb")
    val rows = withNulls.groupBy($"label")
      .agg(graft.functions.GraftFunctions.vector_centroid($"emb").as("c"))
      .orderBy($"label").collect()
    assert(rows(0).getSeq[Double](1) === Seq(1.0, 3.0))
    assert(rows(1).isNullAt(1))
  }

  test("nearDupPairs size guard fails loudly and names the LSH escape hatch") {
    val dv = graft.queries.Vectors.docVectors(spark, sfDir)
    val e = intercept[IllegalArgumentException] {
      Knn.nearDupPairs(dv, "doc_id", "vec", minSim = 0.85, maxRows = 3).collect()
    }
    assert(e.getMessage.contains("lshNearDupPairs"),
      s"guard message must name the scale path: ${e.getMessage}")
    dv.unpersist()
  }

  test("lshCandidatePairs bucket-volume guard refuses a degenerate embedding corpus") {
    import spark.implicits._
    // 12 IDENTICAL embeddings: every doc lands in the same bucket of
    // every band -> candidate volume bands * 12*11/2 = 264 with 4 bands,
    // the hot-bucket shape that would make one task materialize the
    // whole corpus as a single array row at scale
    val vec = Array(1f, 2f, 3f, 4f)
    val degenerate = (1L to 12L).map(i => (i, vec)).toDF("doc_id", "vec")
    val e = intercept[IllegalArgumentException] {
      Knn.lshCandidatePairs(degenerate, "doc_id", "vec",
        bands = 4, rowsPerBand = 2, seed = 42L, maxPairEstimate = 100L)
        .collect()
    }
    assert(e.getMessage.contains("maxPairEstimate"),
      s"guard message must name the knob: ${e.getMessage}")
    // the same corpus under the default cap still emits every pair once
    val ok = Knn.lshCandidatePairs(degenerate, "doc_id", "vec",
      bands = 4, rowsPerBand = 2, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok.size === 12 * 11 / 2, "identical embeddings must all pair")
  }

  test("lshNearDupPairs forwards maxPairEstimate: a tiny cap is refused, naming the knob") {
    import spark.implicits._
    val vec = Array(1f, 2f, 3f, 4f)
    val degenerate = (1L to 12L).map(i => (i, vec)).toDF("doc_id", "vec")
    val e = intercept[IllegalArgumentException] {
      Knn.lshNearDupPairs(degenerate, "doc_id", "vec", minSim = 0.85,
        bands = 4, rowsPerBand = 2, maxPairEstimate = 100L).collect()
    }
    assert(e.getMessage.contains("maxPairEstimate"),
      s"guard message must name the knob: ${e.getMessage}")
  }

  test("lshCandidatePairs evaluates the banding once: the corpus file is read n rows, not 2n") {
    import spark.implicits._
    val n = 300L
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-once").resolve("corpus").toString
    (1L to n).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    // stages reading the materialized banding count its cached blocks,
    // which are not the file
    val rows = fileRowsRead(_ => true) {
      val cand = Knn.lshCandidatePairs(corpus, "doc_id", "vec",
        bands = 4, rowsPerBand = 2, seed = 42L).count()
      assert(cand > 0L)
    }
    assert(rows === n, "the guard and the pair generation must share one banding pass")
  }

  test("LSH blocking prunes: candidates << n^2 and superset of true pairs") {
    val dv = graft.queries.Vectors.docVectors(spark, "/root/testdata/sf0.01")
    val n = dv.count()
    val candDf = Knn.lshCandidatePairs(dv, "doc_id", "vec",
      bands = 64, rowsPerBand = 12, seed = 42L).cache()
    val cand = candDf.count()
    val allPairs = n * (n - 1) / 2
    assert(cand < allPairs / 10, s"candidates $cand not << $allPairs pairs")
    val truePairs = Knn.nearDupPairs(dv, "doc_id", "vec", minSim = 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candSet = candDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.subsetOf(candSet), "blocking missed a true pair")
    candDf.unpersist(); dv.unpersist()
  }

  test("bench-only 1024-dim widened variants agree with their 64-dim gate siblings") {
    import graft.queries.Vectors
    // x16 tiling scales dot products and both norms by 16, so cosine
    // ordering is unchanged (corpus distance gaps >= 1e-4 dwarf any
    // last-ulp accumulation differences) — v1w/v3w emit identical rows
    val v1 = SparkEntry.queries("v1_knn_top10")(spark, sfDir).collect().toSeq
    val v1w = Vectors.benchDefs("v1w_knn_1024")(spark, sfDir).collect().toSeq
    assert(v1w === v1)
    val v3 = SparkEntry.queries("v3_knn_join")(spark, sfDir).collect().toSeq
    val v3w = Vectors.benchDefs("v3w_knn_join_1024")(spark, sfDir).collect().toSeq
    assert(v3w === v3)
    // centroids: slot p of the widened centroid equals slot p % 64 of the
    // 64-dim centroid EXACTLY (VectorCentroid's decimal-routed sums are
    // order-exact per slot, and each widened slot sums the same values)
    val v5 = SparkEntry.queries("v5_label_centroids")(spark, sfDir).collect()
      .map(r => (r.get(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val v5w = Vectors.benchDefs("v5w_centroids_1024")(spark, sfDir).collect()
    assert(v5w.length === v5.size * 16)
    v5w.foreach { r =>
      assert(r.getDouble(2) === v5((r.get(0), r.getLong(1) % 64)),
        s"widened centroid mismatch at label=${r.get(0)} pos=${r.getLong(1)}")
    }
  }

  test("searchSavedRefine == hand-composed saved-ADC pool + exact re-rank") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{l2_distance, vector_lit}
    val e = Tables.embeddings(spark, sfDir)
    val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val model = graft.operators.Pq.train(e, "vec_id", "embedding", m = 4, k = 8, iters = 3)
    val path = "/dev/shm/graft_ivfpq_refine_spec"
    graft.operators.IvfPq.save(idx, model, path)
    val probe = e.filter(col("vec_id") === 2L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val got = graft.operators.IvfPq
      .searchSavedRefine(spark, path, e, "vec_id", "embedding", probe,
        k = 5, r = 20, nprobe = 3)
      .collect().map(_.getLong(0))
    val pool = graft.operators.IvfPq.searchSaved(spark, path, probe, 20, 3)
      .select(col("id")).collect().map(_.getLong(0))
    val want = e.filter(col("vec_id").isin(pool: _*))
      .withColumn("d", l2_distance(col("embedding").cast("array<float>"), vector_lit(probe)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("semanticDedup drops exactly the rows with a lower-id same-cluster close neighbor") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val kept = graft.operators.Knn
      .semanticDedup(e, "vec_id", "embedding", minSim = 0.4, nlist = 8, iters = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // independent restatement: v4's verified pair set restricted to
    // same-cluster pairs; the drop set is the higher-id side
    val assigned = graft.operators.Ivf
      .build(e, "vec_id", "embedding", nlist = 8, iters = 5)
      .assigned.select("id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairs = graft.operators.Knn
      .nearDupPairs(e, "vec_id", "embedding", minSim = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectedDropped =
      pairs.filter { case (a, b) => assigned(a) == assigned(b) }.map(_._2).toSet
    val all = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- expectedDropped)
    assert(expectedDropped.nonEmpty, "fixture should produce at least one drop")
  }

  test("semanticDedup assigns clusters once: the assignment stages read the corpus file n rows, not 2n") {
    import spark.implicits._
    val n = 300L
    val rnd = new scala.util.Random(13)
    val dir = java.nio.file.Files.createTempDirectory("graft-d9-once").resolve("corpus").toString
    (1L to n).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    // stages that run the nearest-centroid pass (the `MapPartitions`
    // operator of Ivf.build's assignment); the sample and the final
    // anti-join also scan the file but run no such operator
    val rows = fileRowsRead(_.rddInfos.exists(_.scope.exists(_.name == "MapPartitions"))) {
      val kept = graft.operators.Knn.semanticDedup(corpus, "vec_id", "embedding",
        minSim = 0.5, nlist = 4, iters = 3).count()
      assert(kept > 0L && kept <= n)
    }
    assert(rows === n, "the guard and the pair generation must share one assignment pass")
  }

  test("semanticDedup refuses past the pair-volume cap, naming the knob") {
    val e = Tables.embeddings(spark, sfDir)
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Knn.semanticDedup(e, "vec_id", "embedding",
        minSim = 0.4, nlist = 2, iters = 1, pairCap = 10L)
    }
    assert(ex.getMessage.contains("pair volume"))
  }

  test("v24 composition: cluster-balanced sample takes min(5, size) per cluster, deterministically") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val idx = graft.operators.Ivf.build(e, "vec_id", "embedding", nlist = 8, iters = 5)
    val assigned = idx.assigned.select(col("bucket").as("cluster"), col("id").as("vec_id"))
    val out = graft.operators.Sampling.stratifiedHead(assigned, "cluster", "vec_id", k = 5)
    val sizes = assigned.groupBy("cluster").count()
    val picked = out.groupBy("cluster").count().withColumnRenamed("count", "n_picked")
    val bad = sizes.join(picked, "cluster")
      .filter(col("n_picked") =!= least(col("count"), lit(5L)))
    assert(bad.isEmpty)
    // sampled ids are real corpus members of that cluster
    assert(out.join(assigned, Seq("cluster", "vec_id"), "left_anti").isEmpty)
    // deterministic under repartitioning of the assignment table
    val a = out.orderBy("cluster", "sample_rank").collect().toSeq
    val b = graft.operators.Sampling.stratifiedHead(
      assigned.repartition(7), "cluster", "vec_id", k = 5)
      .orderBy("cluster", "sample_rank").collect().toSeq
    assert(a === b)
  }

  test("v25 drift: identical-distribution labels drift ~0; a shifted label stands out") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(31)
    def vec(shift: Float) = Array.fill(8)(rnd.nextFloat() - 0.5f + shift)
    val rows = (1L to 200L).map(i => ("same", vec(0f))) ++
      (1L to 200L).map(i => ("also", vec(0f))) ++
      (1L to 200L).map(i => ("moved", vec(3f)))
    val df = rows.toDF("label", "embedding")
    val glob = df.agg(graft.functions.GraftFunctions.vector_centroid(col("embedding")).as("gc"))
    val out = df.groupBy("label")
      .agg(graft.functions.GraftFunctions.vector_centroid(col("embedding")).as("lc"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(glob))
      .select(col("label"),
        org.apache.spark.sql.functions.aggregate(
          org.apache.spark.sql.functions.zip_with(col("lc"), col("gc"),
            (a, b) => org.apache.spark.sql.functions.floor(
              (a - b) * (a - b) * org.apache.spark.sql.functions.lit(1e9) +
                org.apache.spark.sql.functions.lit(0.5)).cast("long")),
          org.apache.spark.sql.functions.lit(0L), (acc, x) => acc + x).as("drift_q"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // global centroid sits ~1/3 of the shift toward "moved": moved is ~2
    // per dim from it, same/also ~1 -> squared ratio ~4
    assert(out("moved") > 3L * out("same"))
    assert(out("moved") > 3L * out("also"))
    // the two identically-distributed labels drift near-identically
    val ratio = out("same").toDouble / out("also").toDouble
    assert(ratio > 0.8 && ratio < 1.25, s"same=$ratio")
  }

  test("signed_project: matches the scalar recurrence; linear in the quantized view") {
    import graft.functions.{SignedProject, SketchHash}
    val v = Array(0.5f, -1.25f, 3.0f, 0.001f, -0.75f, 2.5f, -3.125f, 1.0f)
    val k = 4; val seed = 7L
    val got = SignedProject.project(v, k, seed)
    assert(got.length === k)
    val q = v.map(x => math.floor(x * 1024.0).toLong)
    val want = Array.tabulate(k) { t =>
      (0 until v.length).map { j =>
        val s = SketchHash.mix(seed + SketchHash.Golden * (t.toLong * v.length + j + 1))
        if ((s & 1L) == 1L) q(j) else -q(j)
      }.sum
    }
    assert(got.toSeq === want.toSeq)
    // linearity on exactly-representable inputs: P(a + b) == P(a) + P(b)
    // (floor-quantization is exact for these multiples of 2^-10)
    val a = Array(0.25f, 1.5f, -2.0f, 0.5f, 1.0f, -0.25f, 0.75f, -1.5f)
    val b = Array(1.0f, -0.5f, 0.25f, 2.0f, -1.25f, 0.5f, -0.75f, 0.25f)
    val sum = a.zip(b).map { case (x, y) => x + y }
    val pa = SignedProject.project(a, k, seed)
    val pb = SignedProject.project(b, k, seed)
    val ps = SignedProject.project(sum, k, seed)
    assert(ps.toSeq === pa.zip(pb).map { case (x, y) => x + y }.toSeq)
  }

  test("JL project-refine returns the exact top-k on a planted neighborhood") {
    import spark.implicits._
    // 200 vectors: id 0 the probe; ids 1..10 tiny perturbations of it
    // (the planted nearest set), the rest far away in random directions
    val rnd = new scala.util.Random(11)
    def vec(base: Float, jitter: Float): Array[Float] =
      Array.tabulate(16)(i => base * (i % 5 - 2) + jitter * rnd.nextFloat())
    val rows = (0L to 10L).map(i => (i, vec(1.0f, 0.01f))) ++
      (11L until 200L).map(i => (i, Array.tabulate(16)(_ => rnd.nextFloat() * 8 - 4)))
    val df = rows.toDF("vec_id", "embedding")
    val exact = graft.operators.Knn.topK(df, col("embedding"), rows.head._2,
      k = 5, tieBreak = col("vec_id")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val jl = graft.operators.Knn.topKProjectRefine(df, "vec_id", "embedding",
      rows.head._2, kDims = 8, seed = 7L, k = 5, r = 40)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(jl === exact)
  }

  test("refine r-curves (v34-v36 posture): hits monotone in r, full pool = exact") {
    import spark.implicits._
    // nested pools make monotonicity a THEOREM, not luck: cand_r is the
    // top-r of a FIXED coarse order, so r1 < r2 => pool(r1) ⊆ pool(r2),
    // and a true-top-k member in the smaller pool can only be displaced
    // by other true-top-k members after the exact re-rank
    val rnd = new scala.util.Random(23)
    val rows = (0L until 120L).map(i =>
      (i, Array.tabulate(16)(_ => rnd.nextFloat() * 4 - 2)))
    val df = rows.toDF("vec_id", "embedding")
    val probe = rows.head._2
    val exactCos = graft.operators.Knn.topK(df, col("embedding"), probe,
      k = 5, tieBreak = col("vec_id")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // JL arm: hits(r) non-decreasing, r = corpus size -> exact
    val hits = Seq(5, 20, 120).map { r =>
      val got = graft.operators.Knn.topKProjectRefine(df, "vec_id",
        "embedding", probe, kDims = 4, seed = 7L, k = 5, r = r)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (got & exactCos).size
    }
    assert(hits === hits.sorted, s"recall not monotone in r: $hits")
    assert(hits.last === 5, "full pool must recover the exact top-k")
    // SQ8 arm: full pool = exact under the same metric
    val model = graft.operators.Sq.train(df, "embedding")
    val codes = graft.operators.Sq.encode(df, "vec_id", "embedding", model)
    val sqFull = graft.operators.Sq.searchRefine(codes, "code", "vec_id",
      df, "vec_id", "embedding", model, probe, k = 5, r = 120)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sqFull === exactCos)
  }
}
