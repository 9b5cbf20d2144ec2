package graft

import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.functions.GraftFunctions

/** Runs a projection twice and returns both results as row strings: once
  * interpreted (no whole-stage codegen, `NO_CODEGEN` projections) and once
  * generated (whole-stage codegen, `CODEGEN_ONLY`). The input is re-sourced
  * from its RDD first: over a local relation the optimizer would fold the
  * projection and evaluate it interpreted in both runs. The generated run
  * must place the projection inside a whole-stage codegen stage.
  */
object CodegenParity {
  /** The input column `name`, and an expression as an output column. */
  def input(name: String): Expression = GraftFunctions.toExpr(functions.col(name))
  def column(e: Expression): Column = GraftFunctions.toCol(e)

  /** A row as text, binary values in hex (an array's default string is its identity). */
  def render(v: Any): String = v match {
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"${x & 0xFF}%02x").mkString("x'", "", "'")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case null => "null"
    case x => x.toString
  }

  def rows(df: DataFrame, cols: Column*): (Seq[String], Seq[String]) = {
    val spark = df.sparkSession
    val src = spark.createDataFrame(df.rdd, df.schema)
    def run(wholeStage: Boolean, mode: String): (Seq[String], SparkPlan) = {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set(keys(0), wholeStage.toString)
        spark.conf.set(keys(1), mode)
        val out = src.select(cols: _*)
        (out.collect().map(render).toSeq, out.queryExecution.executedPlan)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (interpreted, _) = run(wholeStage = false, "NO_CODEGEN")
    val (generated, plan) = run(wholeStage = true, "CODEGEN_ONLY")
    val top = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    org.scalatest.Assertions.assert(top.exists {
      case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[ProjectExec])
      case _ => false
    }, s"projection ran outside whole-stage codegen:\n$top")
    (interpreted, generated)
  }
}
