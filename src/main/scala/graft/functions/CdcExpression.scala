package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** cdc_chunks(text, divisor) -> array<struct<start, n, txt>> — the
  * single-pass kernel behind Dedup.cdcChunks (content-defined chunking,
  * LBFS cut rule at token granularity). Semantically identical to the
  * composed `aggregate()` fold over the token array, but O(tokens) in
  * one evaluation: the fold's rewrite-last-element pattern copies the
  * accumulator array per token (quadratic per document), and Spark's
  * higher-order functions evaluate interpreted besides — the same
  * argument (and measured payoff) as [[WordShingles]].
  *
  * Cut predicate: the first 4 bytes of md5(token) as an unsigned int,
  * mod `divisor`, equal 0 — bit-identical to the declarative
  * `conv(substring(md5(t), 1, 8), 16, 10) % divisor` the DuckDB oracle
  * states. Tokenization matches TextFunctions.tokens (trim spaces,
  * split `\s+`).
  */
case class CdcChunksExpr(child: Expression, divisor: Int)
    extends UnaryKernel("cdc_chunks", KernelInput.Utf8, CdcChunksExpr.Schema,
      "CdcChunksExpr.compute", quarantines = false) {
  require(divisor >= 2, s"cdc_chunks: divisor must be >= 2, got $divisor")
  override def nullSafeEval(v: Any): Any =
    CdcChunksExpr.compute(v.asInstanceOf[UTF8String], divisor)
  override protected def kernelArgs: Seq[Any] = Seq(divisor)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CdcChunksExpr {
  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("start", IntegerType),
    StructField("n", IntegerType),
    StructField("txt", StringType))), containsNull = false)

  private val Whitespace = Pattern.compile("\\s+")

  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def compute(v: UTF8String, divisor: Int): GenericArrayData = {
    val trimmed = v.trim().toString
    if (trimmed.isEmpty) return new GenericArrayData(Array.empty[Any])
    val toks = Whitespace.split(trimmed, -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.util.ArrayList[Any]()
    val sb = new java.lang.StringBuilder()
    var start = 0
    var n = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (n == 0) { start = i + 1; sb.setLength(0); sb.append(t) }
      else { sb.append(' '); sb.append(t) }
      n += 1
      md.reset()
      val dg = md.digest(t.getBytes("UTF-8"))
      val u32 = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
        ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
      if (u32 % divisor == 0) {
        out.add(new GenericInternalRow(Array[Any](start, n,
          UTF8String.fromString(sb.toString))): InternalRow)
        n = 0
      }
      i += 1
    }
    if (n > 0) out.add(new GenericInternalRow(Array[Any](start, n,
      UTF8String.fromString(sb.toString))): InternalRow)
    new GenericArrayData(out.toArray)
  }
}
