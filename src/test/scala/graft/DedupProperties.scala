package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions.shingle_set
import graft.operators.Dedup

/** The shingle-posting operators — [[Dedup.jaccardNearDupPairs]] (d2),
  * [[Dedup.sharedWindowPairs]] (d10) and [[Dedup.containmentPairs]]
  * (d19) — equal a brute force over every pair of documents, computed
  * here from each document's shingle set. Corpora are small and random:
  * docs shorter than n (no shingles), exact duplicates under other ids,
  * and a shingle carried by every doc of n or more tokens, under
  * maxDf in {None, 1, 2, 3}. Only the shingle kernel is Spark's on both
  * sides. Each case runs three operators' jobs, so few cases run.
  */
object DedupProperties extends Properties("graft.dedup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1).withInitialSeed(Seed(20231110L))

  private lazy val spark = SparkTestSession.spark

  private val n = 3

  private val word = Gen.oneOf("a", "b", "c", "d", "e")

  /** A doc of n or more tokens, the hot shingle "h1 h2 h3" among them, or a
    * doc shorter than n.
    */
  private val text: Gen[String] = Gen.frequency(
    4 -> (for {
      pre <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, word))
      post <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, word))
    } yield (pre ++ Seq("h1", "h2", "h3") ++ post).mkString(" ")),
    1 -> Gen.choose(0, n - 1).flatMap(Gen.listOfN(_, word)).map(_.mkString(" ")))

  private case class Case(docs: Seq[(Long, String)], maxDf: Option[Int])

  private val corpus: Gen[Case] = for {
    k <- Gen.choose(3, 9)
    texts <- Gen.listOfN(k, text)
    dups <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(0, k - 1)))
    stride <- Gen.choose(1L, 1000L)
    maxDf <- Gen.oneOf(None, Some(1), Some(2), Some(3))
  } yield {
    val all = texts ++ dups.map(texts)
    Case(all.zipWithIndex.map { case (t, i) => (i * stride, t) }, maxDf)
  }

  property("d2, d10 and d19 == a brute force over per-doc shingle sets") =
    forAllNoShrink(corpus) { c =>
      import spark.implicits._
      val docs = c.docs.toDF("doc_id", "text")
      val sets = docs.select(col("doc_id"), shingle_set(col("text"), n).as("sh"))
        .as[(Long, Seq[String])].collect().map { case (id, sh) => id -> sh.toSet }.toMap
      val df = sets.values.toSeq.flatMap(_.toSeq).groupBy(identity).map { case (s, o) => s -> o.size }
      val kept = sets.map { case (id, sh) => id -> sh.filter(s => c.maxDf.forall(df(s) <= _)) }
      // (id1, id2, common, sz1, sz2) for every id1 < id2 sharing a kept shingle
      val shared = for {
        (u, a) <- kept.toSeq; (v, b) <- kept.toSeq if u < v
        common = (a intersect b).size if common > 0
      } yield (u, v, common.toLong, a.size.toLong, b.size.toLong)

      val jaccard = shared.collect {
        case (u, v, m, s1, s2) if m.toDouble / (s1 + s2 - m) >= 0.5 => (u, v)
      }.sorted
      val windows = shared.map { case (u, v, m, _, _) => (u, v, m) }.sorted
      val contained = shared.flatMap { case (u, v, m, s1, s2) =>
        (if (m.toDouble / s1 >= 0.6 && (s1 < s2 || s1 == s2)) Seq((u, v)) else Nil) ++
          (if (m.toDouble / s2 >= 0.6 && s2 < s1) Seq((v, u)) else Nil)
      }.sorted

      val gotJaccard = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", n, 0.5, c.maxDf)
        .as[(Long, Long)].collect().toSeq
      val gotWindows = Dedup.sharedWindowPairs(docs, "doc_id", "text", n,
        c.maxDf.getOrElse(Int.MaxValue)).as[(Long, Long, Long)].collect().toSeq
      val gotContained = Dedup.containmentPairs(docs, "doc_id", "text", n, 0.6, c.maxDf)
        .as[(Long, Long)].collect().toSeq
      (gotJaccard == jaccard) :| s"d2 $gotJaccard != $jaccard for $c" &&
        (gotWindows == windows) :| s"d10 $gotWindows != $windows for $c" &&
        (gotContained == contained) :| s"d19 $gotContained != $contained for $c"
    }
}
