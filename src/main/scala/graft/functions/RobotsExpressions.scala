package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** robots_allowed(robots_txt, path) for a fixed crawler agent — the
  * Robots Exclusion Protocol (RFC 9309) evaluator a crawl front door
  * runs before any fetch enters [[WarcRecords]]/[[Gunzip]] processing:
  * per (host, url) decide whether THIS crawler may fetch the path.
  *
  * Semantics implemented (the RFC + the de-facto Google REP rules):
  *  - Line parse is LENIENT (RFC 9309 §2.2.2 says be tolerant): `#`
  *    comments stripped, keys case-insensitive, unknown fields and
  *    malformed lines ignored — a junk line never poisons the policy,
  *    so the expression is total (no NULL quarantine; the wild's
  *    robots.txt files are messy by nature, unlike a binary container
  *    whose framing can LIE).
  *  - Groups: consecutive `User-agent:` lines share one rule block; a
  *    `User-agent:` after rules starts a new group. ALL groups whose
  *    agent matches are merged (RFC 9309 §2.2.1).
  *  - Group selection: exact case-insensitive product-token match for
  *    the configured agent, else the `*` groups, else allow-all.
  *    (Scope line: no longest-prefix agent matching — the RFC only
  *    requires exact-token + `*`; prefix UA matching is a Google
  *    extension left out deliberately.)
  *  - Rule match: byte-literal path comparison with `*` (any octet
  *    sequence) and a trailing `$` (end anchor); a non-trailing `$` is
  *    literal. No %-normalization (scope line: both sides byte-literal).
  *  - Precedence: the matching rule with the LONGEST pattern (octets as
  *    written) wins; ties go to Allow (least restrictive); no matching
  *    rule means allowed. Empty-value rules are skipped (`Disallow:`
  *    with no value = allow everything, per the RFC's own example).
  *
  * Per-row scan-fused codegen; at 100 TB the shape is a per-host robots
  * dimension broadcast-joined to the URL stream with this expression as
  * the post-join filter — no shuffle beyond the broadcast.
  */
case class RobotsAllowed(left: Expression, right: Expression, agent: String)
    extends BinaryExpression {
  require(agent.nonEmpty && agent != "*", "robots_allowed: agent must be a concrete product token")
  override def prettyName: String = "robots_allowed"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string robots_txt, string path), got (${a.simpleString}, ${b.simpleString})")
    }

  private val agentLower = agent.toLowerCase(java.util.Locale.ROOT)

  override def nullSafeEval(robots: Any, path: Any): Any =
    Robots.allowed(robots.asInstanceOf[UTF8String].toString,
      agentLower, path.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentRef = ctx.addReferenceObj("agent", agentLower, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (r, p) => s"""
      ${ev.value} = graft.functions.Robots.allowed($r.toString(), $agentRef, $p.toString());
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** robots_sitemaps(robots_txt) — the `Sitemap:` discovery field (the
  * sitemaps.org extension RFC 9309 §2.2.4 acknowledges): absolute
  * sitemap URLs in file order. NOT group-scoped — the field applies to
  * all agents wherever it appears, so this parses independently of
  * group selection. Lenient like the rest of the parser (junk lines
  * never poison; empty values skipped); total, never NULL. Feeds the
  * t60b sitemap-index walk: robots -> sitemap index -> urlset shards ->
  * recrawl decision is the complete discovery chain.
  */
case class RobotsSitemaps(child: Expression)
    extends UnaryKernel("robots_sitemaps", KernelInput.JavaString.as("string robots_txt"),
      ArrayType(StringType, containsNull = false), "Robots.sitemapArray", quarantines = true) {
  override def nullSafeEval(robots: Any): Any =
    Robots.sitemapArray(robots.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** robots_crawl_delay(robots_txt, default_seconds) for a fixed crawler
  * agent — the politeness input [[graft.operators.Frontier]] schedules
  * with, sourced from the same parse as [[RobotsAllowed]]. `Crawl-delay`
  * is de-facto (not RFC 9309) but universally emitted; integer seconds,
  * selected-group scope, merged groups take the MAX (most polite),
  * absent → the caller's default. Total like [[RobotsAllowed]] (lenient
  * parse never quarantines). Per-row codegen; at 100 TB this runs once
  * per HOST on the robots dimension, never per URL.
  */
case class RobotsCrawlDelay(left: Expression, right: Expression, agent: String)
    extends BinaryExpression {
  require(agent.nonEmpty && agent != "*", "robots_crawl_delay: agent must be a concrete product token")
  override def prettyName: String = "robots_crawl_delay"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, org.apache.spark.sql.types.LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string robots_txt, bigint default), got (${a.simpleString}, ${b.simpleString})")
    }

  private val agentLower = agent.toLowerCase(java.util.Locale.ROOT)

  override def nullSafeEval(robots: Any, default: Any): Any =
    Robots.crawlDelay(robots.asInstanceOf[UTF8String].toString,
      agentLower, default.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentRef = ctx.addReferenceObj("agent", agentLower, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (r, d) => s"""
      ${ev.value} = graft.functions.Robots.crawlDelay($r.toString(), $agentRef, $d);
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Robots {

  /** One parsed policy: (isAllow, pattern) for the selected agent.
    * `octets` caches the pattern length in UTF-8 BYTES — the RFC's
    * "octets as written" precedence unit, which diverges from the Java
    * char count exactly on non-ASCII rule patterns.
    */
  private final case class Rule(allow: Boolean, pattern: String) {
    val octets: Int = pattern.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
  }

  /** Full glob match of `pat` (with `*` wildcards) against all of `s` —
    * iterative with single-star backtracking, O(|s|·stars) worst case,
    * linear on real patterns.
    */
  private def fullGlob(pat: String, s: String): Boolean = {
    var i = 0; var j = 0
    var star = -1; var mark = 0
    while (j < s.length) {
      if (i < pat.length && (pat.charAt(i) == s.charAt(j))) { i += 1; j += 1 }
      else if (i < pat.length && pat.charAt(i) == '*') { star = i; mark = j; i += 1 }
      else if (star >= 0) { i = star + 1; mark += 1; j = mark }
      else return false
    }
    while (i < pat.length && pat.charAt(i) == '*') i += 1
    i == pat.length
  }

  /** Does the rule pattern match the path? Trailing `$` anchors at the
    * path end; otherwise the pattern matches any PREFIX of the path
    * (expressed as fullGlob(pat + "*", path)).
    */
  private[graft] def ruleMatches(pattern: String, path: String): Boolean = {
    if (pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$')
      fullGlob(pattern.substring(0, pattern.length - 1), path)
    else if (pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '*')
      fullGlob(pattern, path)
    else fullGlob(pattern + "*", path)
  }

  /** One parsed group: agent tokens, rules, and the group's
    * `Crawl-delay` (de-facto field — not RFC 9309, but universally
    * emitted; non-negative integer seconds, other spellings ignored
    * under the lenient-parse posture).
    */
  private final class Group {
    val uas = scala.collection.mutable.ArrayBuffer.empty[String]
    val rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var delay: Long = -1L // -1 = absent
  }

  /** Shared lenient line parse (see the class doc for the rules). */
  private def parseGroups(robotsTxt: String): scala.collection.mutable.ArrayBuffer[Group] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var inUaRun = false // are we extending the current group's UA list?
    var lines = 0
    val it = robotsTxt.split("\n", -1).iterator
    while (it.hasNext && lines < MaxLines) {
      lines += 1
      var line = it.next()
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!inUaRun) {
              groups += new Group
              inUaRun = true
            }
            if (value.nonEmpty)
              groups.last.uas += value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" =>
            inUaRun = false
            // rules before any user-agent line are ignored (no group)
            if (groups.nonEmpty && value.nonEmpty)
              groups.last.rules += Rule(key == "allow", value)
          case "crawl-delay" =>
            inUaRun = false
            // integer seconds only; junk values ignored (lenient parse)
            // most-polite rule applies WITHIN a group too: a duplicate
            // Crawl-delay line takes the max, same as merged groups
            if (groups.nonEmpty && value.nonEmpty && value.forall(_.isDigit) &&
                value.length <= 9)
              groups.last.delay = math.max(groups.last.delay, value.toLong)
          case _ => // sitemap, junk: ignored (lenient parse)
        }
      }
    }
    groups
  }

  /** Group selection: exact-agent groups, else `*` groups (may be empty). */
  private def select(groups: scala.collection.mutable.ArrayBuffer[Group],
      agentLower: String): scala.collection.mutable.ArrayBuffer[Group] = {
    val exact = groups.filter(_.uas.contains(agentLower))
    if (exact.nonEmpty) exact else groups.filter(_.uas.contains("*"))
  }

  /** Evaluate the policy for a lowercase agent token against a path. */
  def allowed(robotsTxt: String, agentLower: String, path: String): Boolean = {
    val chosen = select(parseGroups(robotsTxt), agentLower)
    if (chosen.isEmpty) return true
    var bestLen = -1
    var bestAllow = true
    chosen.foreach { g =>
      g.rules.foreach { r =>
        if (ruleMatches(r.pattern, path)) {
          val len = r.octets
          if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
            bestLen = len; bestAllow = r.allow
          }
        }
      }
    }
    if (bestLen < 0) true else bestAllow
  }

  /** The selected groups' `Crawl-delay` in seconds for a lowercase
    * agent token, or `default` when no selected group declares one.
    * Multiple declarations across merged groups take the MAX (most
    * polite) — deterministic regardless of file order.
    */
  def crawlDelay(robotsTxt: String, agentLower: String, default: Long): Long = {
    val chosen = select(parseGroups(robotsTxt), agentLower)
    var best = -1L
    chosen.foreach { g => if (g.delay > best) best = g.delay }
    if (best < 0) default else best
  }

  /** `Sitemap:` URLs in file order — field-scoped (not group-scoped),
    * same lenient line parse and MaxLines cap as the policy fields.
    */
  def sitemapArray(robotsTxt: String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var lines = 0
    val it = robotsTxt.split("\n", -1).iterator
    while (it.hasNext && lines < MaxLines) {
      lines += 1
      var line = it.next()
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        if (key == "sitemap") {
          val value = line.substring(colon + 1).trim
          if (value.nonEmpty) out += UTF8String.fromString(value)
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Parse cap: a robots.txt is a policy file, not a corpus — a
    * million-line blob is an attack on the parser (the RFC caps the
    * file a crawler must process at 500 KiB; 10k lines is the same
    * posture in line terms). Lines past the cap are ignored, matching
    * the RFC's "may stop parsing" language — not a NULL.
    */
  val MaxLines: Int = 10000
}
