package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Upsert

class UpsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("merge: update wins, insert lands, untouched target survives, latest duplicate update wins") {
    import spark.implicits._
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "v", "ver")
    val updates = Seq(
      (2L, "b2", 21L),  // update key 2
      (4L, "d", 40L),   // insert key 4
      (3L, "c2", 31L),  // two updates for key 3:
      (3L, "c3", 32L)   //   highest version wins
    ).toDF("k", "v", "ver")
    val got = rows(Upsert.merge(target, updates, Seq("k"), Seq("ver")))
    assert(got === Seq((1L, "a", 10L), (2L, "b2", 21L), (3L, "c3", 32L), (4L, "d", 40L)))
  }

  test("merge: an update beats the target row even with a LOWER version (precedence over version)") {
    import spark.implicits._
    val target = Seq((1L, "old", 99L)).toDF("k", "v", "ver")
    val updates = Seq((1L, "new", 1L)).toDF("k", "v", "ver")
    assert(rows(Upsert.merge(target, updates, Seq("k"), Seq("ver"))) === Seq((1L, "new", 1L)))
  }

  test("merge rejects mismatched schemas and empty keys") {
    import spark.implicits._
    val t = Seq((1L, "a", 1L)).toDF("k", "v", "ver")
    intercept[IllegalArgumentException] {
      Upsert.merge(t, t.withColumnRenamed("v", "w"), Seq("k"), Seq("ver"))
    }
    intercept[IllegalArgumentException] {
      Upsert.merge(t, t, Seq.empty, Seq("ver"))
    }
  }

  test("into: copy-on-write swap commits atomically; crash states auto-recover") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert").toString + "/table"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "ver")
      .write.parquet(dir)
    val n = Upsert.into(spark, dir,
      Seq((2L, "b2", 21L), (3L, "c", 30L)).toDF("k", "v", "ver"),
      Seq("k"), Seq("ver"))
    assert(n === 3L)
    assert(rows(spark.read.parquet(dir)) ===
      Seq((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(hconf)
    val old = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.upsert.old")
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.upsert.tmp")

    // crash state 1: swap completed but .old never deleted -> the stale
    // .old is dropped and the merge proceeds against the live table
    fs.mkdirs(old)
    val n1 = Upsert.into(spark, dir, Seq((4L, "d", 40L)).toDF("k", "v", "ver"),
      Seq("k"), Seq("ver"))
    assert(n1 === 4L)
    assert(!fs.exists(old))

    // crash state 2: crashed between the two renames (dir aside as .old,
    // fully-written .tmp not yet installed) -> rolls the swap forward,
    // so .tmp's contents ARE the table the next merge reads
    spark.read.parquet(dir).write.parquet(tmp.toString)
    assert(fs.rename(p, old))
    val n2 = Upsert.into(spark, dir, Seq((5L, "e", 50L)).toDF("k", "v", "ver"),
      Seq("k"), Seq("ver"))
    assert(n2 === 5L)
    assert(!fs.exists(old) && !fs.exists(tmp))

    // crash state 3: only .old remains (no dir, no .tmp) -> rolls back
    assert(fs.rename(p, old))
    val n3 = Upsert.into(spark, dir, Seq((6L, "f", 60L)).toDF("k", "v", "ver"),
      Seq("k"), Seq("ver"))
    assert(n3 === 6L)
    assert(rows(spark.read.parquet(dir)).map(_._1) === Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }
}
