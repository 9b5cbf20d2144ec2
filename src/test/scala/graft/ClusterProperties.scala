package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.rng.Seed

import graft.operators.Dedup

/** [[Dedup.nearDupClusters]]' two paths agree with each other and with a
  * union-find written here. Each graph mixes random edges, a chain longer
  * than 20 propagation rounds could close, a clique, edges repeated in the
  * other orientation, self-pairs and pairs with a null id; ids are longs
  * (negative ones included) or strings behind "", "a", U+FF21 and U+1F600
  * prefixes, where UTF-8 byte order and `String.compareTo` disagree. The
  * driver union-find, the star contraction and the reference must return
  * the same rows in the same order, under the same schema. Each case runs
  * several contraction rounds of Spark jobs, so few cases run.
  */
object ClusterProperties extends Properties("graft.clusters") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1).withInitialSeed(Seed(20231107L))

  private lazy val spark = SparkTestSession.spark

  /** Node pairs over 0 until 60; -1 stands for a null id. */
  private val graph: Gen[Seq[(Int, Int)]] = for {
    random <- Gen.listOfN(30, Gen.zip(Gen.choose(0, 59), Gen.choose(0, 59)))
    chainFrom <- Gen.choose(0, 20)
    chainLen <- Gen.choose(21, 39)
    clique <- Gen.containerOfN[Set, Int](5, Gen.choose(0, 59))
    nulls <- Gen.listOfN(3, Gen.choose(0, 59))
  } yield {
    val chain = (chainFrom until chainFrom + chainLen).map(i => (i, i + 1))
    val cliqueEdges = for (u <- clique.toSeq; v <- clique.toSeq if u < v) yield (u, v)
    val once = random ++ chain ++ cliqueEdges
    once ++ once.take(10).map(_.swap) ++ nulls.map(n => (n, -1)) :+ ((-1, -1))
  }

  /** Ids for the nodes, their Spark type, and Spark's order on them. */
  private case class Ids(dataType: DataType, of: Int => Any, ord: Ordering[Any])

  private val longIds: Gen[Ids] = Gen.choose(1L, 1000000L).map { stride =>
    Ids(LongType, n => (n - 30) * stride, Ordering.by[Any, Long](_.asInstanceOf[Long]))
  }

  private val stringIds: Gen[Ids] =
    Gen.listOfN(60, Gen.oneOf("", "a", "\uFF21", "\uD83D\uDE00")).map { prefixes =>
      val utf8: Ordering[Any] = (x, y) => java.util.Arrays.compareUnsigned(
        x.asInstanceOf[String].getBytes(UTF_8), y.asInstanceOf[String].getBytes(UTF_8))
      Ids(StringType, n => s"${prefixes(n)}$n", utf8)
    }

  /** (id, keeper = component minimum) ordered by id, from a union-find. */
  private def reference(edges: Seq[(Any, Any)], ord: Ordering[Any]): Seq[Row] = {
    val parent = scala.collection.mutable.Map[Any, Any]()
    def find(x: Any): Any = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((u, v) <- edges if u != null && v != null && u != v) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(ord.max(ru, rv)) = ord.min(ru, rv)
    }
    parent.keys.toSeq.sorted(ord).map(x => Row(x, find(x)))
  }

  property("driver path == star path == union-find, long and string ids") =
    forAllNoShrink(graph, Gen.oneOf(longIds, stringIds)) { (nodes, ids) =>
      val edges = nodes.map { case (u, v) =>
        (if (u < 0) null else ids.of(u), if (v < 0) null else ids.of(v))
      }
      val schema = StructType(Seq(
        StructField("id1", ids.dataType), StructField("id2", ids.dataType)))
      val pairs: DataFrame = spark.createDataFrame(
        edges.map { case (u, v) => Row(u, v) }.asJava, schema)
      val driver = Dedup.nearDupClusters(pairs)
      val stars = Dedup.starClusters(pairs)
      val want = reference(edges, ids.ord)
      driver.schema == stars.schema &&
        driver.collect().toSeq == want && stars.collect().toSeq == want
    }
}
