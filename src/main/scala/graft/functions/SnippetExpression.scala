package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The snippet-window kernel as a native expression — the operator's
  * semantics (leftmost width-`w` token window with the most query-term
  * hits) are expressible in higher-order array functions, but those
  * evaluate interpreted (CodegenFallback) and the HOF form cost ~0.5 ms
  * per row at corpus scale; this kernel is one generated-code call per
  * row with a TWO-POINTER window count — O(tokens + hits), not O(hits²)
  * — measured ~10x faster on the same data. The HOF formulation
  * survives in SnippetsSpec as the differential reference.
  *
  * Output: struct(n_hits, best_hits, best_pos, snippet); NULL when the
  * text holds no hit (no window to rank).
  */
case class SnippetWindow(child: Expression, terms: Seq[String], w: Int)
    extends UnaryKernel("snippet_window", KernelInput.JavaString, SnippetWindow.Schema,
      "SnippetWindow.compute", quarantines = true) {
  require(terms.nonEmpty && w >= 1, "snippet_window: need terms and a positive width")

  @transient private lazy val termSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    terms.foreach(s.add)
    s
  }

  override def nullSafeEval(v: Any): Any =
    SnippetWindow.compute(v.asInstanceOf[UTF8String].toString, termSet, w)
  override protected def kernelArgs: Seq[Any] = Seq(termSet, w)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SnippetWindow {
  val Schema: StructType = StructType(Seq(
    StructField("n_hits", LongType),
    StructField("best_hits", LongType),
    StructField("best_pos", LongType),
    StructField("snippet", StringType)))

  /** Named `compute`, NOT `eval`: the case class inherits
    * Expression.eval(InternalRow), and that clash SUPPRESSES the
    * companion's static forwarder — so generated code calling
    * `SnippetWindow.eval(String, HashSet, int)` failed janino
    * compilation and the expression ran interpreted (with the
    * whole-stage span disabled around it) from its introduction
    * until round 18. Never name a codegen-target helper `eval`.
    */
  def compute(text: String, terms: java.util.HashSet[String], w: Int): InternalRow = {
    val toks = text.split(" ", -1)
    var h = 0
    var i = 0
    while (i < toks.length) { if (terms.contains(toks(i))) h += 1; i += 1 }
    if (h == 0) return null
    val pos = new Array[Int](h) // 1-based hit positions, ascending
    var k = 0; i = 0
    while (i < toks.length) {
      if (terms.contains(toks(i))) { pos(k) = i + 1; k += 1 }
      i += 1
    }
    // two-pointer max window over anchors; strict > keeps the LEFTMOST
    var best = -1; var bestAnchor = 0
    var r = 0; var a = 0
    while (a < h) {
      if (r < a) r = a
      while (r + 1 < h && pos(r + 1) < pos(a) + w) r += 1
      val cnt = r - a + 1
      if (cnt > best) { best = cnt; bestAnchor = a }
      a += 1
    }
    val start = pos(bestAnchor) // 1-based token index
    val end = math.min(start - 1 + w, toks.length)
    val sb = new java.lang.StringBuilder()
    i = start - 1
    while (i < end) {
      if (i > start - 1) sb.append(' ')
      sb.append(toks(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](h.toLong, best.toLong, start.toLong,
      UTF8String.fromString(sb.toString)))
  }
}
