package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, PredicateHelper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{STContains, STIntersects, STWithin}
import graft.functions.GraftFunctions._
import graft.plans.SpatialFilterPushdown

class ExtensionsSpec extends AnyFunSuite with PredicateHelper {

  // graft.Session installs graft's functions and rule into the shared session
  lazy val spark = SparkTestSession.spark

  test("extension-registered functions work from pure SQL") {
    val d = spark.sql(
      "SELECT cosine_distance(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS d, " +
        "st_astext(st_point(1.5D, 2.5D)) AS wkt")
      .head()
    assert(d.getDouble(0) === 1.0)
    assert(d.getString(1) === "POINT (1.5 2.5)")
  }

  test("round-17 functions resolve and evaluate from pure SQL") {
    // zunstd: RFC 8878 single-segment stored frame holding 'abc'
    // (magic, FHD 0x20, FCS 3, block header 1|3<<3 LE24, payload)
    val r = spark.sql(
      "SELECT decode(zunstd(unhex('28B52FFD2003' || '190000' || '616263')), 'UTF-8') AS z, " +
        "ogg_crc(unhex('')) AS c0, ogg_crc(unhex('4F676753')) AS c1")
      .head()
    assert(r.getString(0) === "abc")
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) !== 0L)
    // the walks resolve from SQL and keep the NULL-in/NULL-out contract
    val n = spark.sql(
      "SELECT pdf_meta(x) AS a, pdf_text(x) AS b, pdf_info(x) AS c, " +
        "flac_streaminfo(x) AS d, avi_frames(x) AS e, ogg_meta(x) AS f " +
        "FROM (SELECT CAST(NULL AS BINARY) AS x)")
      .head()
    (0 until 6).foreach(i => assert(n.isNullAt(i), s"field $i"))
  }

  test("round-18 functions resolve and evaluate from pure SQL") {
    // zunxz: check-none stream holding one LZMA2 uncompressed chunk
    // with 'abc' (XzSpec's hand-built construction, inlined hex)
    val xzAbc = "FD377A585A000000FF12D941" + // magic | flags | crc32(flags)
      "020021010400000060B0F559" +           // block header + its crc32
      "01000261626300" + "00" +              // chunk(abc) | end | pad
      "0001130303A560D8" +                   // index + crc32
      "06729E7A010000000000595A"             // footer
    val r = spark.sql(
      s"SELECT decode(zunxz(unhex('$xzAbc')), 'UTF-8') AS x, " +
        "le_hex(258, 4) AS l4, le_hex(CAST(65535 AS BIGINT), 2) AS l2, " +
        "zunxz(CAST(NULL AS BINARY)) AS n, zunxz(unhex('FD37')) AS torn")
      .head()
    assert(r.getString(0) === "abc")
    assert(r.getString(1) === "02010000")
    assert(r.getString(2) === "FFFF")
    assert(r.isNullAt(3) && r.isNullAt(4))
    // bzip2 round-trips through its own SQL pair; lz4 inflates a
    // hand-assembled uncompressed-block frame (HC for FLG 60 BD 40)
    val hc = (net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
      .hash(Array[Byte](0x60, 0x40), 0, 2, 0) >> 8) & 0xFF
    val lz4Abc = f"04224D186040$hc%02X" + "03000080" + "616263" + "00000000"
    val r2 = spark.sql(
      "SELECT decode(zunbz2(bzip2_deflate(encode('abc', 'UTF-8'))), 'UTF-8') AS b, " +
        s"decode(zunlz4(unhex('$lz4Abc')), 'UTF-8') AS l, " +
        "zunbz2(unhex('425A6830')) AS badDigit, " +
        "zunlz4(unhex('04224D18')) AS tornL")
      .head()
    assert(r2.getString(0) === "abc")
    assert(r2.getString(1) === "abc")
    assert(r2.isNullAt(2) && r2.isNullAt(3))
  }

  test("SQL robots functions: literal agent works, a non-literal agent is a clean analysis error") {
    val ok = spark.sql(
      "SELECT robots_allowed('User-agent: *\nDisallow: /x\n', '/x1', 'bot') AS a, " +
        "robots_crawl_delay('User-agent: *\nCrawl-delay: 4\n', 9L, 'bot') AS d")
      .head()
    assert(ok.getBoolean(0) === false)
    assert(ok.getLong(1) === 4L)
    // a non-literal agent argument must raise an AnalysisException at
    // plan time, not a ClassCastException at build time
    val e = intercept[Exception] {
      spark.sql("SELECT robots_allowed('User-agent: *\n', '/p', CAST(id AS STRING)) " +
        "FROM range(3)").collect()
    }
    assert(e.getMessage.contains("string literal"), e.getMessage)
  }

  test("SpatialFilterPushdown adds sargable bbox conjuncts that reach the parquet scan") {
    import spark.implicits._
    // parquet-backed so ConvertToLocalRelation can't fold the filter away
    val dir = java.nio.file.Files.createTempDirectory("graft-bbox").toString
    Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 100.0, 100.0))
      .toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    val filtered = spark.read.parquet(dir).filter(
      st_distance(st_point(col("x"), col("y")), st_point(lit(0.0), lit(0.0))) < 20.0)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains(">=") && optimized.contains("<="),
      s"expected bbox range conjuncts in:\n$optimized")
    val physical = filtered.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [") &&
      physical.contains("GreaterThanOrEqual(x,"),
      s"expected bbox bounds in PushedFilters:\n$physical")
    // semantics unchanged
    assert(filtered.select("id").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
  }

  test("SpatialFilterPushdown derives envelope conjuncts from st_intersects/contains/within") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-env").toString
    Seq((1L, 1.0, 1.0), (2L, 5.0, 5.0), (3L, 50.0, 50.0))
      .toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    val rect = lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    for ((label, pred) <- Seq(
        "intersects" -> st_intersects(st_geomfromtext(rect), st_point(col("x"), col("y"))),
        "intersects-flipped" -> st_intersects(st_point(col("x"), col("y")), st_geomfromtext(rect)),
        "contains" -> st_contains(st_geomfromtext(rect), st_point(col("x"), col("y"))),
        "within" -> st_within(st_point(col("x"), col("y")), st_geomfromtext(rect)))) {
      val filtered = spark.read.parquet(dir).filter(pred)
      val physical = filtered.queryExecution.executedPlan.toString
      assert(physical.contains("PushedFilters: [") &&
        physical.contains("GreaterThanOrEqual(x,"),
        s"$label: expected envelope bounds in PushedFilters:\n$physical")
      // bbox-then-refine: the range test on x runs before the geometry parse
      val conjuncts = filtered.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition
      }.toSeq.flatMap(splitConjunctivePredicates)
      val xRange = conjuncts.indexWhere {
        case GreaterThanOrEqual(a: AttributeReference, _) => a.name == "x"
        case _ => false
      }
      val spatial = conjuncts.indexWhere(_.exists {
        case _: STIntersects | _: STContains | _: STWithin => true
        case _ => false
      })
      assert(xRange >= 0 && spatial >= 0 && xRange < spatial,
        s"$label: expected x >= ... before the spatial predicate in ${conjuncts.mkString(" AND ")}")
      assert(filtered.select("id").collect().map(_.getLong(0)).sorted === Array(1L, 2L),
        s"$label changed semantics")
    }
  }

  test("rule is a no-op without a constant center or without st_distance") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 2.0, 3.0, 4.0)).toDF("id", "x", "y", "cx", "cy")
    // variable center: no rewrite, still correct
    val dynamic = df.filter(
      st_distance(st_point(col("x"), col("y")), st_point(col("cx"), col("cy"))) < 5.0)
    assert(dynamic.count() === 1)
    val plain = df.filter(col("x") < 10.0)
    val before = plain.queryExecution.optimizedPlan
    assert(SpatialFilterPushdown(before) === before)
  }

  test("rule reaches fixpoint (no duplicate conjuncts on re-application)") {
    import spark.implicits._
    val df = Seq((1L, 0.0, 0.0)).toDF("id", "x", "y")
    val filtered = df.filter(
      st_distance(st_point(col("x"), col("y")), st_point(lit(0.0), lit(0.0))) < 1.0)
    val once = filtered.queryExecution.optimizedPlan
    val twice = SpatialFilterPushdown(once)
    assert(twice === once)
  }
}
