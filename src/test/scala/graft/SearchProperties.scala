package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.functions.Geo
import graft.operators.Search
import graft.operators.Search.{Point, SearchRequest}

/** The driver path of [[Search.plan]] returns the pages the distributed
  * path does. One random corpus is searched three ways: as a
  * `LocalRelation`, as a materialized cache (both take the driver path)
  * and as a parquet-backed copy (the distributed path, deep-skip
  * pagination included). Corpora hold exact distance ties, zero vectors
  * (NaN distances), and ids outside the BMP, where UTF-8 byte order and
  * `String.compareTo` disagree. Every case holds two requests of each of
  * the query's four variants (type filter yes/no x point yes/no), which
  * the driver path prepares apart; requests cover empty and `""`-only type
  * filters, EPSG:3857 points, shallow and deep skips, and limits 1-10.
  * Each case writes a corpus of ~1,000 rows, so few cases run. A second
  * property pins the page's edges over small corpora of tied distances.
  */
object SearchProperties extends Properties("graft.search") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("type", StringType), StructField("description", StringType),
    StructField("url", StringType), StructField("metadata_text", StringType),
    StructField("embeddings", ArrayType(FloatType, containsNull = false)),
    StructField("geom", BinaryType)))

  private val types = Seq("Feature Layer", "feature layer", "Table", "Raster Layer", "")

  /** A box around the origin (where small EPSG:3857 points land), one
    * around Sanford, FL, and one that holds neither. */
  private val polygons = Seq(
    "POLYGON ((-1 -1, 1 -1, 1 1, -1 1, -1 -1))",
    "POLYGON ((-81.4 28.7, -81.1 28.7, -81.1 28.9, -81.4 28.9, -81.4 28.7))",
    "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))")
    .map(wkt => Geo.toWkb(Geo.fromWkt(wkt)))

  /** Components from a small set: many rows share a vector (exact ties),
    * and some are all zero. */
  private val genVec: Gen[Array[Float]] =
    Gen.listOfN(4, Gen.oneOf(-1f, 0f, 0f, 1f, 2f)).map(_.toArray)

  /** ASCII, a BMP character above the surrogates (U+FF21) and a
    * supplementary one (U+1F600): Spark orders UTF-8 bytes, so U+FF21
    * sorts first there and last under `String.compareTo`. */
  private val genIdPrefix: Gen[String] =
    Gen.oneOf("L", "l", "Ａ", "😀", "😀Ａ")

  /** A corpus; a falsified case prints its size, not its rows. */
  private final case class Corpus(rows: Seq[Row]) {
    override def toString: String = s"Corpus(${rows.size} rows)"
  }

  private val genCorpus: Gen[Corpus] = for {
    n <- Gen.choose(1005, 1040)
    rows <- Gen.listOfN(n, for {
      prefix <- genIdPrefix
      t <- Gen.oneOf(types)
      v <- genVec
      g <- Gen.oneOf(polygons)
    } yield (prefix, t, v, g))
  } yield Corpus(rows.zipWithIndex.map { case ((prefix, t, v, g), i) =>
    Row(s"$prefix${i % 97}-$i", s"name-$i", t, s"desc-$i", s"u/$i", s"m-$i", v.toSeq, g)
  })

  /** The query's four variants: type filter yes/no x point yes/no. */
  private val variants = for (t <- Seq(false, true); p <- Seq(false, true)) yield (t, p)

  /** A request of one variant. Without a type filter the list is absent,
    * empty or only `""` (all omit the clause); with one it holds at least
    * one non-empty type, upper-cased. */
  private def genRequest(typed: Boolean, located: Boolean): Gen[SearchRequest] = for {
    probe <- Gen.frequency(4 -> genVec, 1 -> Gen.const(Array.fill(4)(0f)))
    typeFilter <-
      if (typed) Gen.atLeastOne(types.filter(_.nonEmpty)).flatMap(ts =>
        Gen.oneOf(ts.toSeq, ts.toSeq :+ "").map(t => Some(t.map(_.toUpperCase(java.util.Locale.ROOT)))))
      else Gen.oneOf(None, Some(Nil), Some(Seq("")))
    point <-
      if (located) Gen.oneOf(
        Gen.const(Point(-81.27, 28.80)),
        Gen.const(Point(0.25, -0.5)),
        Gen.zip(Gen.choose(-150.0, 150.0), Gen.choose(-80.0, 80.0))
          .map { case (x, y) => Point(x, y, epsg = 3857) }).map(Some(_))
      else Gen.const(None)
    skip <- Gen.frequency(
      3 -> Gen.choose(0, 30),
      1 -> Gen.choose(Search.DeepSkipThreshold + 1, Search.DeepSkipThreshold + 40))
    limit <- Gen.choose(Search.MinLimit, Search.MaxLimit)
  } yield SearchRequest(probe, typeFilter, point, skip, limit)

  /** Two requests of each variant, in a shuffled order. */
  private val genRequests: Gen[Seq[SearchRequest]] =
    Gen.sequence[Seq[SearchRequest], SearchRequest](
      variants.flatMap { case (t, p) => Seq.fill(2)(genRequest(t, p)) })
      .flatMap(rs => Gen.pick(rs.size, rs).map(_.toSeq))

  /** Edge cases of the driver page, over a corpus of a few dozen rows
    * whose vectors take two values, so nearly every distance is shared and
    * the id tie-break orders the page. Each variant is asked with skips
    * just before, at and past the corpus size (so past its candidates), on
    * both the offset and the deep-skip paths, and with filters that keep
    * most rows, some or none. */
  private val genTieCorpus: Gen[Corpus] = for {
    n <- Gen.choose(12, 60)
    rows <- Gen.listOfN(n, for {
      prefix <- genIdPrefix
      v <- Gen.oneOf(Array(1f, 0f, 0f, 0f), Array(1f, 1f, 0f, 0f))
      g <- Gen.oneOf(polygons)
    } yield (prefix, v, g))
  } yield Corpus(rows.zipWithIndex.map { case ((prefix, v, g), i) =>
    Row(s"$prefix${i % 7}-$i", s"name-$i", types(i % types.size), s"desc-$i", s"u/$i", s"m-$i",
      v.toSeq, g)
  })

  private def genEdgeRequest(n: Int, typed: Boolean, located: Boolean): Gen[SearchRequest] = for {
    probe <- genVec
    limit <- Gen.choose(Search.MinLimit, Search.MaxLimit)
    skip <- Gen.oneOf(0, n - limit, n - 1, n, n + 1, Search.DeepSkipThreshold + 1)
    typeFilter <-
      if (typed) Gen.oneOf(Seq("no such type"), Seq("TABLE"), types.filter(_.nonEmpty)).map(Some(_))
      else Gen.const(None)
    point <-
      if (located) Gen.oneOf(Point(50.0, 50.0), Point(-81.27, 28.80), Point(0.25, -0.5)).map(Some(_))
      else Gen.const(None)
  } yield SearchRequest(probe, typeFilter, point, math.max(0, skip), limit)

  /** Searches `rows` as a `LocalRelation`, as a materialized cache (both
    * the driver path) and as a parquet copy (the distributed path), and
    * requires identical responses from all three. */
  private def pagesAgree(corpus: Corpus, reqs: Seq[SearchRequest]): Prop = {
    val local = spark.createDataFrame(java.util.Arrays.asList(corpus.rows: _*), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft-search-prop")
      .resolve("layers").toString
    local.write.parquet(dir)
    val parquet: DataFrame = spark.read.parquet(dir)
    val cached = local.repartition(3).cache()
    try {
      cached.count()
      val paths = local.queryExecution.analyzed.isInstanceOf[LocalRelation] &&
        Search.collectDriverCopy(local) && Search.collectDriverCopy(cached) &&
        !Search.collectDriverCopy(parquet)
      Prop(paths) :| "path choice" && Prop.all(reqs.map { r =>
        val expected = Search.search(parquet, r)
        val got = Seq(Search.search(local, r), Search.search(cached, r))
        Prop(expected.error.isEmpty && got.forall(_ == expected)) :|
          s"probe ${r.probe.toSeq} type ${r.typeFilter} point ${r.inputPoint} " +
            s"skip ${r.skip} limit ${r.limit}: distributed " +
            s"${expected.layers.map(_.map(_.id))} ${expected.error}, " +
            s"driver ${got.map(g => g.layers.map(_.map(_.id)) -> g.error)}"
      }: _*)
    } finally cached.unpersist(blocking = true)
  }

  property("driver-path pages equal distributed pages") =
    forAllNoShrink(genCorpus, genRequests)(pagesAgree)

  property("driver-path pages equal distributed pages: ties, skips at and past the candidates, empty filters") =
    forAllNoShrink(genTieCorpus.flatMap { c =>
      Gen.sequence[Seq[SearchRequest], SearchRequest](variants.flatMap { case (t, p) =>
        Seq.fill(2)(genEdgeRequest(c.rows.size, t, p)) }).map(c -> _)
    }) {
      case (corpus, reqs) => pagesAgree(corpus, reqs)
    }
}
