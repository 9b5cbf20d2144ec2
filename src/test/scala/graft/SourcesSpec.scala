package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Embed, Knn, Search, Skew}
import graft.sources.LayersTable

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.sfDir

  test("table identifier whitelist rejects injection-shaped names (reference models.py:131-136)") {
    assert(LayersTable.validateIdentifier("layers_v2") === "layers_v2")
    intercept[IllegalArgumentException](LayersTable.validateIdentifier("layers; DROP"))
    intercept[IllegalArgumentException](LayersTable.validateIdentifier("1layers"))
    intercept[IllegalArgumentException](LayersTable.validateIdentifier(""))
  }

  test("createIfNotExists is idempotent with the canonical schema (reference S4)") {
    spark.sql("DROP TABLE IF EXISTS layers_test")
    assert(LayersTable.createIfNotExists(spark, "layers_test") === true)
    assert(LayersTable.createIfNotExists(spark, "layers_test") === false)
    // parquet tables normalize nullability; names + types must survive
    assert(spark.table("layers_test").schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ===
      LayersTable.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq)
  }

  test("approx_count_distinct lands within 5% of exact (q22's sketch)") {
    val li = Tables.lineitem(spark, sfDir)
    val approx = li.agg(approx_count_distinct(col("l_partkey"))).head().getLong(0)
    val exact = li.agg(countDistinct(col("l_partkey"))).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx $approx vs exact $exact")
  }

  test("salted join equals the plain join") {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    val plain = o.join(c, "o_custkey")
      .select(col("o_orderkey"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(o, c, "o_custkey", salts = 8)
      .select(col("o_orderkey"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("events reader branches on the footer timestamp unit (micros vs nanos)") {
    // Two committed fixtures carry the SAME eight instants, one written as
    // parquet TIMESTAMP(MICROS) and one as TIMESTAMP(NANOS). The testdata
    // has shipped as both units across generations (r7 regression); this
    // pins that readEvents yields identical micros values from either.
    val micros = getClass.getResource("/events_micros.parquet").getPath
    val nanos = getClass.getResource("/events_nanos.parquet").getPath
    assert(!Tables.tsIsNanos(spark, micros))
    assert(Tables.tsIsNanos(spark, nanos))
    def rows(p: String) = Tables.readEventsPath(spark, p)
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val viaMicros = rows(micros)
    val viaNanos = rows(nanos)
    assert(viaMicros.length === 8)
    assert(viaNanos === viaMicros)
    // micros survive exactly: fixture instants carry sub-millisecond parts
    assert(viaMicros.exists(_._2 % 1000 != 0))
    // both paths yield TimestampType so downstream window/session logic
    // is unit-agnostic
    assert(Tables.readEventsPath(spark, micros).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(Tables.readEventsPath(spark, nanos).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("full reference lifecycle: embed corpus + query, then search (F8 seam)") {
    import spark.implicits._
    val dim = 16
    val texts = Seq(
      Embed.TextRow(1L, "city parks and recreation areas"),
      Embed.TextRow(2L, "city parks and recreation areas"), // same text as 1
      Embed.TextRow(3L, "sewer pipeline infrastructure"),
      Embed.TextRow(4L, "watershed hydrology layers"))
    val embedded = Embed.embedText(texts.toDS(), dim)
    val corpus = embedded.toDF("vec_id", "embedding")
    // identical text -> identical embedding -> both top under its own probe
    val probe = Embed.embedQuery("city parks and recreation areas", dim)
    val top = Knn.topK(corpus, col("embedding"), probe, 3, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0))
    assert(top.take(2).sorted === Array(1L, 2L))
  }
}
