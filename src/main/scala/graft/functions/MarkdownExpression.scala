package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML -> markdown conversion (reference F10: the MCP layer markdownifies
  * every response string, `backend/mcp.py:12-20`) as a single native
  * expression. The composed-Column form this replaces ran ~25 separate
  * regexp passes per row with a fixed depth-3 inline unroll; this kernel
  * precompiles every pattern once and iterates the same staged rules to a
  * TRUE fixpoint, so arbitrarily nested inline tags and nested `<ol>`
  * scopes convert completely:
  *
  *   1. `<br>` -> space.
  *   2. Inline rules looped until nothing changes (bounded by
  *      [[HtmlToMarkdown.MaxIters]]): bold/strong -> `**..**`, i/em ->
  *      `*..*`, links -> `[text](url)`, code -> `` `..` ``. Inner tags
  *      convert before their parents because each rule's content group
  *      is `[^<]*`.
  *   3. Images (either attribute order) -> `![alt](src)`, `<hr>` -> `---`.
  *   4. Headings h1-h6 -> ATX `#`-runs (markdownify's Setext underlines
  *      are meaningless once whitespace is canonicalized, so the ATX form
  *      carries the level); blockquote -> `> `.
  *   5. Ordered lists innermost-first: the innermost `<ol>` scope (its
  *      content contains no other `<ol>`/`</ol>`) has its `<li>` items
  *      numbered `1. 2. ...`, then is spliced back and the search repeats,
  *      so NESTED list numbering is scoped per `<ol>` (each scope restarts
  *      at 1). Remaining `<li>` (unordered lists) -> `- `.
  *   6. Remaining tags stripped, entities decoded (amp last so `&amp;lt;`
  *      does not double-decode), whitespace collapsed to single spaces
  *      (markdownify keeps layout newlines; the engine's canonical text
  *      form is space-collapsed).
  *
  * Every pattern is lookaround-free, so the DuckDB oracle (Text.mdSql)
  * states the identical staged pipeline — the two fixpoint loops become
  * recursive CTEs over the same regexes, sharing [[HtmlToMarkdown.MaxIters]],
  * [[HtmlToMarkdown.OlMaxIters]] and [[HtmlToMarkdown.InnerOlPattern]]
  * verbatim.
  */
case class HtmlToMarkdown(child: Expression)
    extends UnaryKernel("html_to_markdown", KernelInput.Utf8, StringType,
      "HtmlToMarkdown.convert", quarantines = false) {
  override def nullSafeEval(v: Any): Any = HtmlToMarkdown.convert(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Block-layout variant of [[HtmlToMarkdown]] (reference F10's markdownify
  * separates blocks with newlines and indents nested lists — the one
  * documented deviation of the canonical space-collapsed form). Same
  * staged pipeline and the same fixpoint bounds, but:
  *
  *   - headings/blockquote/`<p>`/`<hr>` emit BLANK-LINE separators,
  *     `<br>` a single newline;
  *   - `<ol>`/`<ul>` scopes convert innermost-first in ONE shared loop
  *     (so a `<ul>` nested in an `<ol>` indents correctly, and vice
  *     versa): each item starts on its own line and nested list lines
  *     indent 2 spaces per wrapping level (applied as the wrap happens —
  *     the inner list's newlines gain "  " each time an outer scope
  *     splices around them);
  *   - whitespace cleanup preserves the introduced newlines: space runs
  *     collapse, spaces around newlines drop, 3+ newlines become the
  *     blank-line pair, ends trim.
  *
  * Layout dialect (documented, both engines share it): ATX headings
  * (markdownify's default Setext underlines carry no more information),
  * `- ` bullets, 2-space nesting indent. Internally newlines ride as
  * U+001F markers until the final step, so the cleanup regexes cannot
  * confuse SOURCE whitespace (collapsed to plain spaces up front) with
  * STRUCTURAL breaks; the oracle does the same with chr(31).
  */
case class HtmlToMarkdownBlocks(child: Expression)
    extends UnaryKernel("html_to_markdown_blocks", KernelInput.Utf8, StringType,
      "HtmlToMarkdown.convertBlocks", quarantines = false) {
  override def nullSafeEval(v: Any): Any = HtmlToMarkdown.convertBlocks(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HtmlToMarkdown {

  /** Iteration bound for the INLINE fixpoint loop — shared with the
    * oracle's recursive CTE so a pathological document hits the same
    * cutoff on both engines. One iteration unwraps one nesting LEVEL of
    * bold/em/link/code, so this bounds inline nesting depth; real depth
    * is tiny and 30 is head-room, not a semantic knob.
    */
  val MaxIters: Int = 30

  /** Iteration bound for the `<ol>` loop. Each iteration splices exactly
    * ONE innermost scope (the leftmost match) — on both engines, because
    * the oracle's computed numbering can only splice the leftmost match
    * per recursion step — so this bounds the TOTAL `<ol>` COUNT in the
    * document (siblings included), NOT nesting depth. 512 keeps the
    * cutoff far beyond any real document while the shared constant keeps
    * the two engines in lockstep past it.
    */
  val OlMaxIters: Int = 512

  /** Innermost-`<ol>` matcher: group 1 is scope content containing no
    * other `<ol>`/`</ol>` tag. RE2-safe "does not contain substring"
    * construction (no lookahead, which RE2 lacks): every `<` inside the
    * content must be followed by characters that break both `ol` and
    * `/ol`, and those follower characters are themselves not `<` so the
    * next tag start is never consumed.
    */
  val InnerOlPattern: String =
    "(?i)<ol\\b[^>]*>((?:[^<]|<(?:[^o/<]|o[^l<]|/[^o<]|/o[^l<]))*)</ol>"

  private val Br = Pattern.compile("(?i)<br\\s*/?>")
  private val Bold = Pattern.compile("(?i)<(?:b|strong)\\b[^>]*>([^<]*)</(?:b|strong)>")
  private val Em = Pattern.compile("(?i)<(?:i|em)\\b[^>]*>([^<]*)</(?:i|em)>")
  private val Link = Pattern.compile("(?i)<a\\b[^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>")
  private val Code = Pattern.compile("(?i)<code\\b[^>]*>([^<]*)</code>")
  private val ImgAltSrc =
    Pattern.compile("(?i)<img\\b[^>]*alt=\"([^\"]*)\"[^>]*src=\"([^\"]*)\"[^>]*/?>")
  private val ImgSrcAlt =
    Pattern.compile("(?i)<img\\b[^>]*src=\"([^\"]*)\"[^>]*alt=\"([^\"]*)\"[^>]*/?>")
  private val Hr = Pattern.compile("(?i)<hr\\s*/?>")
  private val Headings: Array[Pattern] = (1 to 6).map { h =>
    Pattern.compile(s"(?i)<h$h\\b[^>]*>([^<]*)</h$h>")
  }.toArray
  private val Blockquote =
    Pattern.compile("(?i)<blockquote\\b[^>]*>([^<]*)</blockquote>")
  private val InnerOl = Pattern.compile(InnerOlPattern)
  private val Li = Pattern.compile("(?i)<li\\b[^>]*>")
  private val AnyTag = Pattern.compile("<[^>]*>")
  private val Ws = Pattern.compile("\\s+")

  /** Number the `<li>` items of one (innermost) `<ol>` scope: split on the
    * open tags; segment 0 precedes the first item, segment j >= 1 becomes
    * `" j. " + segment`. Mirrors the oracle's indexed list_transform.
    */
  private def numberItems(content: String): String = {
    val parts = Li.split(content, -1)
    val sb = new java.lang.StringBuilder(content.length + 8 * parts.length)
    sb.append(parts(0))
    var j = 1
    while (j < parts.length) {
      sb.append(' ').append(j).append(". ").append(parts(j))
      j += 1
    }
    sb.toString
  }

  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def convert(u: UTF8String): UTF8String = {
    val s = u.toString
    // every rule's pattern starts with '<' and every entity with '&': text
    // with neither is only the closing whitespace collapse
    if (s.indexOf('<') < 0 && s.indexOf('&') < 0) return UTF8String.fromString(collapseWs(s))
    var x = Br.matcher(s).replaceAll(" ")

    // inline rules to fixpoint: inner tags convert before parents
    var prev: String = null
    var it = 0
    while (x != prev && it < MaxIters) {
      prev = x
      x = Bold.matcher(x).replaceAll("**$1**")
      x = Em.matcher(x).replaceAll("*$1*")
      x = Link.matcher(x).replaceAll("[$2]($1)")
      x = Code.matcher(x).replaceAll("`$1`")
      it += 1
    }

    x = ImgAltSrc.matcher(x).replaceAll("![$1]($2)")
    x = ImgSrcAlt.matcher(x).replaceAll("![$2]($1)")
    x = Hr.matcher(x).replaceAll(" --- ")

    // block rules after inline, so their content groups see no inner tags;
    // surrounding spaces keep adjacent blocks apart (markdownify separates
    // blocks with newlines — collapsed to one space here)
    var h = 0
    while (h < Headings.length) {
      x = Headings(h).matcher(x).replaceAll(" " + ("#" * (h + 1)) + " $1 ")
      h += 1
    }
    x = Blockquote.matcher(x).replaceAll(" > $1 ")

    // ordered lists innermost-first: number one scope, splice, repeat
    // (one splice per iteration => OlMaxIters bounds total scope count)
    it = 0
    var m = InnerOl.matcher(x)
    while (m.find() && it < OlMaxIters) {
      x = x.substring(0, m.start()) + " " + numberItems(m.group(1)) + " " +
        x.substring(m.end())
      m = InnerOl.matcher(x)
      it += 1
    }
    x = Li.matcher(x).replaceAll("- ")

    // strip_html tail: tag removal, entity decode (amp last), collapse
    x = AnyTag.matcher(x).replaceAll(" ")
    x = decodeEntities(x)
    UTF8String.fromString(Ws.matcher(x).replaceAll(" ").trim)
  }

  /** `Ws.matcher(s).replaceAll(" ").trim` without the regex: each run of
    * Java's six `\s` characters becomes one space, then `String.trim`. */
  private[graft] def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var inRun = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r') {
        if (!inRun) sb.append(' ')
        inRun = true
      } else {
        sb.append(c)
        inRun = false
      }
      i += 1
    }
    sb.toString.trim
  }

  private def decodeEntities(x: String): String =
    x.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")

  // --- block-layout variant ([[HtmlToMarkdownBlocks]]) ---------------------

  /** Internal newline marker (becomes '\n' at the last step). Introduced
    * AFTER all source whitespace collapses to plain spaces, so every
    * marker in flight is structural. The oracle uses chr(31) identically —
    * an input that already contains U+001F turns into newlines on BOTH
    * engines the same way, so lockstep survives even that corner.
    */
  private val M = "\u001F"

  /** Indent-unit marker (one nesting level = one marker = two spaces at
    * the final step). A separate channel from [[M]] so the cleanup can
    * strip SOURCE spaces around newline markers aggressively without
    * eating structural indentation; the oracle uses chr(30).
    */
  private val I = "\u001E"

  /** Innermost list scope of EITHER kind: content contains no other
    * ol/ul open/close tag. RE2 has neither lookahead nor backreferences,
    * so the alternation duplicates the content group — group 1 is an
    * `<ol>` scope's content, group 2 a `<ul>`'s. One shared loop (not
    * ol-then-ul passes) so mixed nesting indents correctly in both
    * directions.
    */
  val InnerListContent: String =
    "((?:[^<]|<(?:[^ou/<]|o[^l<]|u[^l<]|/[^ou<]|/o[^l<]|/u[^l<]))*)"
  val InnerListPattern: String =
    s"(?i)(?:<ol\\b[^>]*>$InnerListContent</ol>|<ul\\b[^>]*>$InnerListContent</ul>)"

  private val InnerList = Pattern.compile(InnerListPattern)
  private val PTag = Pattern.compile("(?i)</?p\\b[^>]*>")
  private val SpaceRuns = Pattern.compile(" +")
  private val SpacedMarker = Pattern.compile(" *\u001F *")
  private val MarkerRuns = Pattern.compile("\u001F{3,}")
  private val MarkerEnds = Pattern.compile("^[\u001E\u001F ]+|[\u001E\u001F ]+$")

  /** One (innermost) list scope: each `<li>` item starts on its own line
    * with its `1. `/`- ` head, and newlines already INSIDE the item (a
    * previously-converted nested list) gain a 2-space indent — depth
    * accumulates naturally as outer scopes wrap. Mirrors the oracle's
    * indexed list_transform splice.
    */
  private def listItems(content: String, ordered: Boolean): String = {
    val parts = Li.split(content, -1)
    val sb = new java.lang.StringBuilder(content.length + 8 * parts.length)
    sb.append(parts(0))
    var j = 1
    while (j < parts.length) {
      sb.append(M)
      if (ordered) sb.append(j).append(". ") else sb.append("- ")
      sb.append(parts(j).replace(M, M + I))
      j += 1
    }
    sb.toString
  }

  /** Shared eval/codegen kernel of the block-layout variant. */
  def convertBlocks(u: UTF8String): UTF8String = {
    // SOURCE whitespace first: markdownify treats layout whitespace like
    // HTML does (insignificant); structure re-enters via markers only
    var x = Ws.matcher(u.toString).replaceAll(" ")
    x = Br.matcher(x).replaceAll(M)

    // inline rules to fixpoint — identical to the canonical kernel
    var prev: String = null
    var it = 0
    while (x != prev && it < MaxIters) {
      prev = x
      x = Bold.matcher(x).replaceAll("**$1**")
      x = Em.matcher(x).replaceAll("*$1*")
      x = Link.matcher(x).replaceAll("[$2]($1)")
      x = Code.matcher(x).replaceAll("`$1`")
      it += 1
    }

    x = ImgAltSrc.matcher(x).replaceAll("![$1]($2)")
    x = ImgSrcAlt.matcher(x).replaceAll("![$2]($1)")
    x = Hr.matcher(x).replaceAll(M + M + "---" + M + M)
    var h = 0
    while (h < Headings.length) {
      x = Headings(h).matcher(x).replaceAll(M + M + ("#" * (h + 1)) + " $1" + M + M)
      h += 1
    }
    x = Blockquote.matcher(x).replaceAll(M + M + "> $1" + M + M)
    x = PTag.matcher(x).replaceAll(M + M)

    // list scopes innermost-first, one splice per iteration (OlMaxIters
    // bounds total scope count — see the canonical loop's note)
    it = 0
    var m = InnerList.matcher(x)
    while (m.find() && it < OlMaxIters) {
      val ordered = m.group(1) != null
      val content = if (ordered) m.group(1) else m.group(2)
      x = x.substring(0, m.start()) + listItems(content, ordered) +
        x.substring(m.end())
      m = InnerList.matcher(x)
      it += 1
    }
    x = Li.matcher(x).replaceAll(M + "- ") // orphan items (unclosed lists)

    x = AnyTag.matcher(x).replaceAll(" ")
    x = decodeEntities(x)

    // newline-preserving cleanup: space runs, spaces around breaks, 3+
    // breaks -> blank line, trim; only then do markers become newlines
    x = SpaceRuns.matcher(x).replaceAll(" ")
    x = SpacedMarker.matcher(x).replaceAll(M)
    x = MarkerRuns.matcher(x).replaceAll(M + M)
    x = MarkerEnds.matcher(x).replaceAll("")
    UTF8String.fromString(x.replace(I, "  ").replace("\u001F", "\n"))
  }
}
