package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass document quality score. Bit-identical to the composed
  * formula in the oracle SQL (see Text.sql for t2):
  *
  *   ( min(1, nTok/20) + nDistinct/max(nTok,1)
  *     + min(1, nStop/max(nTok,1)*5) + nAlpha/max(nChars,1) ) / 4
  *
  * where nTok/nDistinct use the engine's tokenization convention
  * (space-trim + \s+ split), nStop counts \b(the|a|of|to|and)\b matches,
  * nAlpha counts ASCII a-z after lowercasing, nChars is the codepoint
  * length. The composed Column version re-evaluated the split subtree
  * four times per row (see WordShingles for the same trap); this computes
  * every statistic in one evaluation.
  */
case class QualityScore(child: Expression)
    extends UnaryKernel("quality_score", KernelInput.Utf8, DoubleType, "QualityScore.compute",
      quarantines = false) {
  override def nullSafeEval(v: Any): Any = QualityScore.compute(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object QualityScore {
  private val Whitespace = Pattern.compile("\\s+")
  private val Stopwords = Pattern.compile("\\b(the|a|of|to|and)\\b")

  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def compute(u: UTF8String): Double = {
    val raw = u.toString
    val trimmed = u.trim().toString

    var nTok = 0.0
    var nDistinct = 0.0
    if (trimmed.nonEmpty) {
      val toks = Whitespace.split(trimmed, -1)
      nTok = toks.length.toDouble
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i < toks.length) { seen.add(toks(i)); i += 1 }
      nDistinct = seen.size.toDouble
    }

    var nStop = 0.0
    val m = Stopwords.matcher(raw)
    while (m.find()) nStop += 1.0

    val lower = raw.toLowerCase(java.util.Locale.ROOT)
    var nAlpha = 0.0
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if (c >= 'a' && c <= 'z') nAlpha += 1.0
      i += 1
    }
    val nChars = u.numChars().toDouble

    val nTokSafe = math.max(nTok, 1.0)
    val lengthScore = math.min(1.0, nTok / 20.0)
    val diversity = nDistinct / nTokSafe
    val stopScore = math.min(1.0, nStop / nTokSafe * 5.0)
    val alphaRatio = nAlpha / math.max(nChars, 1.0)
    (lengthScore + diversity + stopScore + alphaRatio) / 4.0
  }
}
