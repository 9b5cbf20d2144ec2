package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.Pairs

/** Properties of the bucket pair primitive over random bucketed tables
  * (distinct elements per bucket, empty tables and singleton buckets
  * included): [[Pairs.within]] emits exactly the multiset of the bucket
  * self-join with `a.elem < b.elem`, for long ids, struct elements (the
  * hamming (id, sig) shape) and an ordering column (the triangle
  * (dv, v) shape); [[Pairs.volume]] counts exactly the rows emitted; and
  * the packed pair key round-trips the ids [[Pairs.fits]] admits. A
  * [[Pairs.Key]] of either shape round-trips its ids and orders like
  * (u, v). Each case runs Spark jobs, so the case count is kept small.
  */
object PairsSpec extends Properties("graft.pairs") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  /** (bucket, id) rows: up to 6 buckets of up to 12 distinct ids each. */
  private val bucketed: Gen[Seq[(Int, Long)]] = for {
    nb <- Gen.choose(0, 6)
    buckets <- Gen.listOfN(nb, Gen.containerOf[Set, Long](Gen.choose(0L, 30L))
      .map(_.take(12)))
  } yield buckets.zipWithIndex.flatMap { case (ids, b) => ids.toSeq.map(b -> _) }

  private def sorted[T](rows: Seq[T])(implicit o: Ordering[T]): Seq[T] = rows.sorted

  property("within == bucket self-join with a.id < b.id (long ids)") = forAll(bucketed) { rows =>
    import spark.implicits._
    val df = rows.toDF("b", "id")
    val got = Pairs.within(df, Seq("b"), "id")
      .select(col("b"), col(Pairs.Size), col("id1"), col("id2")).as[(Int, Long, Long, Long)]
      .collect().toSeq
    val want = df.as("x").join(df.as("y"), col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      .select(col("x.b"), col("x.id"), col("y.id")).as[(Int, Long, Long)].collect().toSeq
    val sizes = rows.groupBy(_._1).map { case (b, ids) => b -> ids.size.toLong }
    sorted(got.map { case (b, _, u, v) => (b, u, v) }) == sorted(want) &&
      got.forall { case (b, n, _, _) => n == sizes(b) }
  }

  property("within == bucket self-join with a.e < b.e (struct elements)") = forAll(bucketed) { rows =>
    import spark.implicits._
    // (id, sig) elements: the sig is a function of the id, as a signature is
    val df = rows.map { case (b, id) => (b, id, id * 7919L % 13L) }.toDF("b", "id", "sig")
      .select(col("b"), struct(col("id"), col("sig")).as("e"))
    val got = Pairs.within(df, Seq("b"), "e", ("es", "e1", "e2"))
      .select(col("b"), col("e1.id"), col("e1.sig"), col("e2.id"), col("e2.sig"))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val want = df.as("x").join(df.as("y"), col("x.b") === col("y.b") && col("x.e") < col("y.e"))
      .select(col("x.b"), col("x.e.id"), col("x.e.sig"), col("y.e.id"), col("y.e.sig"))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    sorted(got) == sorted(want)
  }

  property("within orderBy == self-join on (dv, v) order (triangle orientation)") =
    forAll(bucketed) { rows =>
      import spark.implicits._
      val df = rows.map { case (u, v) => (u, v, (v * 31L) % 5L) }.toDF("u", "v", "dv")
      val got = Pairs.within(df, Seq("u"), "v", ("ns", "v1", "v2"), orderBy = Some("dv"))
        .select(col("u"), col("v1"), col("v2")).as[(Int, Long, Long)].collect().toSeq
      val want = df.as("x").join(df.as("y"), col("x.u") === col("y.u") &&
          struct(col("x.dv"), col("x.v")) < struct(col("y.dv"), col("y.v")))
        .select(col("x.u"), col("x.v"), col("y.v")).as[(Int, Long, Long)].collect().toSeq
      sorted(got) == sorted(want)
    }

  property("volume == rows within emits (0 when empty)") = forAll(bucketed) { rows =>
    import spark.implicits._
    val df = rows.toDF("b", "id")
    val sizes = df.groupBy(col("b")).agg(count(lit(1)).as("n"))
    sizes.agg(Pairs.volume(col("n"))).head().getLong(0) ==
      Pairs.within(df, Seq("b"), "id").count()
  }

  property("bounded: a bucket within bound collects whole, none past it; a bucket past it exceeds cap alone") =
    forAll(bucketed, Gen.option(Gen.choose(0, 12)), Gen.choose(-1L, 80L)) { (rows, maxSize, cap) =>
      import spark.implicits._
      val bound = Pairs.bound(maxSize, cap)
      // three partitions, so partial arrays merge past the bound too
      val got = rows.toDF("b", "id").repartition(3)
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n"), Pairs.bounded(col("id"), maxSize, cap).as("ids"))
        .as[(Int, Long, Seq[Long])].collect().toSeq
      val want = rows.groupBy(_._1).map { case (b, ids) => b -> ids.map(_._2).toSet }
      got.size == want.size && got.forall { case (b, n, ids) =>
        n == want(b).size && ids.size == math.min(n, bound.toLong) &&
          ids.toSet.subsetOf(want(b)) && ids.distinct.size == ids.size
      } && (bound == maxSize.getOrElse(Int.MaxValue).max(1) ||
        (bound + 1L) * bound / 2 > cap)
    }

  property("bound: Long.MaxValue caps nothing; past the bound one bucket exceeds the cap") = Prop {
    val caps = Seq(0L, 1L, 2L, 3L, 100L, 50000000L, 500000000L, 1L << 52, 1L << 60)
    Pairs.bound(None, Long.MaxValue) == Int.MaxValue && Pairs.bound(Some(100), 50000000L) == 100 &&
      Pairs.bound(None, 50000000L) == 10002 && Pairs.bound(Some(0), 5L) == 1 &&
      caps.forall { c =>
        val b = BigInt(Pairs.bound(None, c))
        b >= 2 && (b + 1) * b / 2 > BigInt(c)
      }
  }

  property("a filter on the carried bucket size runs before any pair is generated") = Prop {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    val plan = Pairs.within(Seq((1, 1L), (1, 2L), (2, 3L)).toDF("b", "id"), Seq("b"), "id")
      .filter(col(Pairs.Size) <= 1L).queryExecution.optimizedPlan
    val filters = plan.collect { case f: Filter => f }
    filters.nonEmpty && filters.forall(_.find(_.isInstanceOf[Generate]).isEmpty)
  }

  private val id31: Gen[Long] = Gen.oneOf(Gen.choose(0L, (1L << 31) - 1),
    Gen.oneOf(0L, 1L, (1L << 31) - 1))

  property("pack/unpack round-trips ids in [0, 2^31), packed order == (u, v) order") =
    forAll(Gen.listOfN(8, Gen.zip(id31, id31))) { ids =>
      import spark.implicits._
      val (pu, pv) = Pairs.unpack(col("pk"), org.apache.spark.sql.types.LongType)
      val df = ids.toDF("u", "v")
      val range = df.select(Pairs.idRange(col("u")) ++ Pairs.idRange(col("v")): _*).head()
      val fit = Pairs.fits(range, 0) && Pairs.fits(range, 2)
      val back = df.select(Pairs.pack(col("u"), col("v")).as("pk"))
        .orderBy(col("pk")).select(pu, pv).as[(Long, Long)].collect().toSeq
      fit && back == sorted(ids)
    }

  property("fits rejects -1, 2^31 and an empty range") = Prop {
    Pairs.fits(Row(0L, (1L << 31) - 1), 0) && !Pairs.fits(Row(-1L, 5L), 0) &&
      !Pairs.fits(Row(0L, 1L << 31), 0) && !Pairs.fits(Row(null, null), 0) &&
      Pairs.fits(Row("x", 3L, 4L), 1)
  }

  property("Key.of/Key.ids round-trip, orderBy(key) == orderBy(u, v), both shapes (seeded)") = {
    import spark.implicits._
    // three seeded pair lists per id domain: ids in [0, 2^31) (packed key);
    // shifted below 0, shifted past 2^31, and hex strings, which mostly do
    // not cast to long and whose order is not the numeric one (struct key)
    val shifts = Seq(0L, -(1L << 31), 1L << 31)
    val rnd = new scala.util.Random(20231108L)
    def id(): Long = if (rnd.nextInt(4) == 0) rnd.nextInt(3).toLong else rnd.nextInt(Int.MaxValue).toLong
    Prop.all((0 until 12).map { c =>
      val domain = c % 4
      val pairs = Seq.fill(1 + rnd.nextInt(10))((id(), id()))
      val df =
        if (domain == 3) pairs.map { case (u, v) => (u.toHexString, v.toHexString) }.toDF("u", "v")
        else pairs.map { case (u, v) => (u + shifts(domain), v + shifts(domain)) }.toDF("u", "v")
      val ids = df.select(explode(array(col("u"), col("v"))).as("id"))
      val range = ids.agg(Pairs.idRange(col("id")).head, Pairs.idRange(col("id")).tail: _*).head()
      val key = Pairs.Key(range, 0, df.schema("u").dataType)
      val (ku, kv) = key.ids(col("k"))
      val keyed = df.select(key.of(col("u"), col("v")).as("k"))
      val back = keyed.orderBy(col("k")).select(ku.as("u"), kv.as("v"))
      val packed = keyed.schema("k").dataType == org.apache.spark.sql.types.LongType
      Prop(packed == (domain == 0) && back.schema.map(_.dataType) == df.schema.map(_.dataType) &&
        back.collect().toSeq == df.orderBy(col("u"), col("v")).collect().toSeq) :|
        s"domain $domain, pairs $pairs"
    }: _*)
  }
}
