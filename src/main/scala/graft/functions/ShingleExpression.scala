package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word n-gram shingling. Semantically identical to the
  * composed form
  * `transform(sequence(...), i -> array_join(slice(split(trim(text)),...)))`
  * (and to the oracle's DuckDB list_transform equivalent), but O(tokens*n)
  * in one evaluation instead of O(tokens^2) across a deeply-duplicated
  * expression tree — the composed tree repeats the split() subtree four
  * times and gets re-evaluated per reference (e.g. join-key null checks),
  * which measured 70x slower on long documents.
  *
  * Tokenization matches Spark's `split(trim(text), "\\s+")`: trim strips
  * spaces only; split keeps trailing empties (limit -1).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryKernel("word_shingles", KernelInput.Utf8,
      ArrayType(StringType, containsNull = false), "WordShingles.compute", quarantines = false) {
  require(n >= 1, "shingle size must be >= 1")
  override def nullSafeEval(v: Any): Any =
    WordShingles.compute(v.asInstanceOf[UTF8String], n, distinct)
  override protected def kernelArgs: Seq[Any] = Seq(n, distinct)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordShingles {
  private val Whitespace = Pattern.compile("\\s+")

  /** The shingling kernel (shared by eval and codegen — static forwarder
    * makes it callable as a plain Java static from generated code).
    */
  def compute(v: UTF8String, n: Int, distinct: Boolean): GenericArrayData = {
    val trimmed = v.trim().toString
    if (trimmed.isEmpty) return new GenericArrayData(Array.empty[Any])
    val toks = Whitespace.split(trimmed, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](toks.length - n + 1)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen == null || seen.add(s)) out.add(UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
