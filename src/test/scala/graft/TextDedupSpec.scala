package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.{minhash_signature, simhash64}
import graft.functions.TextFunctions._
import graft.operators.Dedup

class TextDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.sfDir

  private def textDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("tokens / token_count handle empty, blank, and multi-space input") {
    val got = textDf((1L, "a  b\tc"), (2L, ""), (3L, "   "), (4L, "one"))
      .select(col("doc_id"), token_count(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("word_shingles: n-grams in order; short docs yield empty") {
    val got = textDf((1L, "a b c d"), (2L, "a b"))
      .select(col("doc_id"), word_shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    assert(got(2L) === Seq())
  }

  test("native WordShingles matches the composed transform/slice form on edge inputs") {
    import org.apache.spark.sql.functions.{array_distinct, array_join, lit, sequence, size, slice, transform, when, split, trim, length, array}
    def composed(c: org.apache.spark.sql.Column, n: Int) = {
      val t = when(length(trim(c)) === 0, array().cast("array<string>"))
        .otherwise(split(trim(c), "\\s+"))
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(t) - n),
          i => array_join(slice(t, i + 1, lit(n)), " ")))
    }
    val inputs = Seq("a b c d e", "a  b\tc", " leading and trailing ", "", "   ",
      "x", "x y", "\ttab first", "a b a b a b")
    val df = textDf(inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }: _*)
    val rows = df.select(
      word_shingles(col("text"), 3).as("native"),
      composed(col("text"), 3).as("comp"),
      shingle_set(col("text"), 2).as("nativeSet"),
      array_distinct(composed(col("text"), 2)).as("compSet")).collect()
    rows.zip(inputs).foreach { case (r, in) =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), s"ordered mismatch for '$in'")
      assert(r.getSeq[String](2) === r.getSeq[String](3), s"distinct mismatch for '$in'")
    }
  }

  test("fingerprint is case/whitespace-insensitive but content-sensitive") {
    val fps = textDf((1L, "Hello  World"), (2L, "hello world"), (3L, "hello worlds"))
      .select(fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("lang_guess picks marker-dominant language, zh first, unknown fallback") {
    val got = textDf(
      (1L, "the cat and the dog is here"),
      (2L, "le chat et la maison les arbres"),
      (3L, "el perro y los gatos"),
      (4L, "der hund und die katze ist"),
      (5L, "这是中文文本"),
      (6L, "xyzzy plugh"))
      .select(col("doc_id"), lang_guess(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "fr", 3L -> "es", 4L -> "de",
      5L -> "zh", 6L -> "unknown"))
  }

  test("native QualityScore is bit-identical to the composed formula on real and edge docs") {
    import graft.functions.TextFunctions.quality_score_composed
    val edge = textDf((1L, ""), (2L, "   "), (3L, "the"), (4L, "a b the to and of"),
      (5L, "!!!"), (6L, "x\ty  z"))
      .select(quality_score(col("text")).as("n"), quality_score_composed(col("text")).as("c"))
      .collect()
    edge.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
      .select(quality_score(col("text")).as("n"), quality_score_composed(col("text")).as("c"))
      .collect()
    docs.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("quality_score stays in [0,1] and ranks rich text above degenerate text") {
    val got = textDf(
      (1L, "the quick brown fox jumps over a lazy dog of the meadow and then rests to sleep"),
      (2L, "aaa aaa aaa aaa"),
      (3L, "!!! ??? ###"))
      .select(col("doc_id"), quality_score(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.values.foreach(q => assert(q >= 0.0 && q <= 1.0))
    assert(got(1L) > got(2L) && got(2L) > got(3L))
  }

  test("bpe_token_count segments letters/digits/punctuation runs") {
    val got = textDf((1L, "the cat's fur, isn't it? 42 times!"), (2L, ""), (3L, "a1b2 c3"))
      .select(col("doc_id"), bpe_token_count(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 14, 2L -> 0, 3L -> 6)) // verified against RE2
  }

  test("strip_html removes tags, decodes entities (amp last), collapses whitespace") {
    val got = textDf(
      (1L, "<p>Hello <b>world</b></p>"),
      (2L, "a &amp;lt; b &lt; c&nbsp;&quot;d&quot;"),
      (3L, "no markup"))
      .select(strip_html(col("text"))).collect().map(_.getString(0))
    assert(got(0) === "Hello world")
    assert(got(1) === "a &lt; b < c \"d\"") // &amp;lt; must NOT double-decode
    assert(got(2) === "no markup")
  }

  test("html_to_markdown renders bold/em/links/list items, strips the rest (reference F10)") {
    val got = textDf(
      (1L, """<p><b>Title</b> and <em>tone</em>: see <a href="https://x.org/a?b=1">the docs</a></p>"""),
      (2L, """<ul><li>first</li><li>second &amp; third</li></ul>"""),
      (3L, """plain text stays"""),
      (4L, """<STRONG>caps tag</STRONG> <br/> after break"""))
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "**Title** and *tone*: see [the docs](https://x.org/a?b=1)")
    assert(got(2L) === "- first - second & third")
    assert(got(3L) === "plain text stays")
    assert(got(4L) === "**caps tag** after break")
  }

  test("html_to_markdown round-5 tag set: headings, nesting, ol numbering, blockquote, code") {
    val got = textDf(
      (1L, """<h1>Top</h1><h3>Sub</h3> body"""),
      (2L, """<h2><b><i>deep</i></b></h2>"""),              // depth-3 nesting
      (3L, """<ol><li>alpha</li><li><b>beta</b></li><li>gamma</li></ol>"""),
      (4L, """<blockquote>wise words</blockquote> then <code>x = 1</code>"""),
      (5L, """<ol><li>a</li></ol><p>mid</p><ol><li>b</li><li>c</li></ol>"""),
      (6L, """<b><i><em>four</em></i></b>"""),               // depth-3 fixpoint
      (7L, """<img src="https://x.org/i.png" alt="pic"/> then <img alt="alt2" src="u2">"""),
      (8L, """before <hr/> after"""))
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "# Top ### Sub body")
    assert(got(2L) === "## ***deep***")
    assert(got(3L) === "1. alpha 2. **beta** 3. gamma")
    assert(got(4L) === "> wise words then `x = 1`")
    // numbering restarts per <ol> scope
    assert(got(5L) === "1. a mid 1. b 2. c")
    // em, then i, then b each wrap: *four* -> **four** -> ****four****
    assert(got(6L) === "****four****")
    assert(got(7L) === "![pic](https://x.org/i.png) then ![alt2](u2)")
    assert(got(8L) === "before --- after")
  }

  test("html_to_markdown fixpoint: arbitrary-depth inline nesting converts completely") {
    val got = textDf(
      // depth-6 same-tag nest: each pass peels ONE level, so the old
      // 3-pass unroll left tags behind; the fixpoint converts all six
      (1L, "<b><b><b><b><b><b>deep</b></b></b></b></b></b>"),
      // depth-5 alternating with a late-rule (code) pivot inside
      (2L, "<b><i><b><i><code>x</code></i></b></i></b>"),
      (3L, "<em><em><em><em>quad</em></em></em></em>"))
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "************deep************")
    // b+i+b+i wrapping = 2+1+2+1 = 6 asterisks per side around `x`
    assert(got(2L) === "******`x`******")
    assert(got(3L) === "****quad****")
  }

  test("html_to_markdown nested <ol>: numbering is scoped per list, innermost first") {
    val got = textDf(
      (1L, "<ol><li>one<ol><li>inner</li><li>two<ol><li>core</li></ol></li></ol></li>" +
        "<li>outer2</li></ol>"),
      // nested ol inside a ul: the ol numbers, the ul items dash
      (2L, "<ul><li>u1<ol><li>n1</li><li>n2</li></ol></li><li>u2</li></ul>"),
      // sibling scopes still restart (the round-5 behavior, preserved)
      (3L, "<ol><li>a</li></ol><ol><li>b</li></ol>"))
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "1. one 1. inner 2. two 1. core 2. outer2")
    assert(got(2L) === "- u1 1. n1 2. n2 - u2")
    assert(got(3L) === "1. a 1. b")
  }

  test("html_to_markdown list-heavy document: >30 sibling <ol> scopes all number (OlMaxIters)") {
    // one splice per iteration bounds SCOPE COUNT, not depth — 40 sibling
    // lists exceed the old shared MaxIters=30 and every one must convert
    val html = (1 to 40).map(i => s"<ol><li>a$i</li><li>b$i</li></ol>").mkString(" ")
    val got = textDf((1L, html))
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (1 to 40).map(i => s"1. a$i 2. b$i").mkString(" ")
    assert(got(1L) === want)
  }

  test("html_to_markdown_blocks: blank-line block separation + nested list indentation") {
    val got = textDf(
      (1L, "<h1>T</h1><p>body <b>x</b></p><ol><li>one<ol><li>inner</li></ol></li>" +
        "<li>two</li></ol><ul><li>u1<ul><li>u2</li></ul></li></ul>"),
      // a <ul> nested in an <ol> indents too (the shared innermost loop)
      (2L, "<ol><li>a<ul><li>b</li></ul></li></ol>"),
      // source newlines are layout, not structure: collapsed before markers
      (3L, "<p>x\n\n\ny</p><p>z</p>"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.html_to_markdown_blocks(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) ===
      "# T\n\nbody **x**\n\n1. one\n  1. inner\n2. two\n- u1\n  - u2")
    assert(got(2L) === "1. a\n  - b")
    assert(got(3L) === "x y\n\nz")
  }

  test("html_to_markdown native kernel matches the old composed form on depth<=3 non-nested corpora") {
    // the composed ladder is the round-5 semantics; on its own supported
    // regime (inline depth <=3, non-nested <ol>) the kernel is identical
    val markup = Seq(
      "<h1>T</h1><p><b>Doc</b> <em>note</em>: body text</p>",
      "<h2><b><i>meta</i></b></h2><blockquote>q</blockquote>",
      "<ol><li>a</li><li><b>b</b></li></ol><ul><li>c</li></ul>",
      "<a href=\"https://x.org/p\">go</a> <code>run</code> <hr/> tail",
      "<img src=\"u.png\" alt=\"alt\"/> plain &amp; entities &lt;ok&gt;")
    val df = textDf(markup.zipWithIndex.map { case (s, i) => (i.toLong, s) }: _*)
    val native = df.select(col("doc_id"),
        graft.functions.TextFunctions.html_to_markdown(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val composed = df.select(col("doc_id"),
        graft.functions.TextFunctions.html_to_markdown_composed(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native === composed)
  }

  test("html_to_markdown property: tag-free text is whitespace-collapse identity (seeded)") {
    // markdown metacharacters in plain text must pass through untouched —
    // the rules only fire on real tags
    val rng = new scala.util.Random(42)
    val words = Seq("alpha", "beta", "*", "**x**", "#", "##", "-", "1.",
      "(x)", "[y]", "a_b", ">", "---", "`tick`")
    val docs = (1L to 40L).map { i =>
      val n = 1 + rng.nextInt(8)
      (i, Seq.fill(n)(words(rng.nextInt(words.length))).mkString("  "))
    }
    val got = textDf(docs: _*)
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (i, s) =>
      assert(got(i) === s.trim.replaceAll("\\s+", " "), s"doc $i: <$s>")
    }
  }

  test("html_to_markdown fast path: text without '<' or '&' is exactly the regex collapse (seeded)") {
    // every rule needs a '<' and every entity an '&', so the full kernel
    // reduces such text to \s+ -> ' ' then trim; the fast path must agree on
    // Java's six \s characters, the C0 controls trim strips but \s does not
    // match, U+00A0/U+0085/U+2028 (neither), and surrogate pairs
    val alphabet = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u0000", "\u0001", "\u001C",
      "\u001F", "\u007F", "\u00A0", "\u0085", "\u2028", "a", "Z", "*", "#", "é", "😀")
    val rng = new scala.util.Random(2023)
    for (n <- 0 until 2000) {
      val s = Seq.fill(rng.nextInt(24))(alphabet(rng.nextInt(alphabet.size))).mkString
      val got = graft.functions.HtmlToMarkdown.convert(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      assert(got === s.replaceAll("\\s+", " ").trim, s"case $n: ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("html_to_markdown property: every supported inline tag marks arbitrary tag-free content (seeded)") {
    val rng = new scala.util.Random(7)
    val inner = Seq("x", "two words", "punct, and.", "1. not a list", "d-ash")
    val cases = Seq[(String, String => String)](
      "b" -> (c => s"**$c**"), "strong" -> (c => s"**$c**"),
      "i" -> (c => s"*$c*"), "em" -> (c => s"*$c*"),
      "code" -> (c => s"`$c`"))
    val docs = (1L to 30L).map { i =>
      val (tag, render) = cases(rng.nextInt(cases.length))
      val c = inner(rng.nextInt(inner.length))
      (i, s"pre <$tag>$c</$tag> post", s"pre ${render(c)} post")
    }
    val got = textDf(docs.map(d => (d._1, d._2)): _*)
      .select(col("doc_id"), graft.functions.TextFunctions.html_to_markdown(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (i, in, want) => assert(got(i) === want, s"doc $i: <$in>") }
  }

  test("rolling_fingerprint matches the oracle recurrence incl non-ASCII; empty -> 0") {
    // pinned DuckDB values: list_reduce over string_split(text,'') + ascii
    // (one step per Unicode code point) with (a*131+b) % 2^55
    val got = textDf((1L, "abc"), (2L, ""), (3L, "abd"), (4L, "héllo 世界"))
      .select(col("doc_id"), rolling_fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1677554L)           // duckdb-pinned
    assert(got(4L) === 34007476064947596L) // duckdb-pinned, multi-byte chars
    assert(got(2L) === 0L)
    assert(got(1L) !== got(3L))
  }

  test("minhash signature: identical sets agree everywhere; jaccard estimate tracks truth") {
    val df = textDf(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),          // identical
      (3L, "a b c d e f g h i j k z"),          // near-dup
      (4L, "q r s t u v w x y z zz zzz"))       // disjoint
      .select(col("doc_id"), minhash_signature(shingle_set(col("text"), 3), 256).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y } / 256.0
    assert(agree(sigs(1L), sigs(2L)) === 1.0)
    val nearSim = agree(sigs(1L), sigs(3L))
    assert(nearSim > 0.5 && nearSim < 1.0, s"near-dup est $nearSim")
    assert(agree(sigs(1L), sigs(4L)) === 0.0)
  }

  test("simhash: identical -> distance 0; one-token edit -> small distance; disjoint -> large") {
    val df = textDf(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 zz"),
      (4L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12 v13 v14 v15 v16"))
      .select(col("doc_id"), simhash64(shingle_set(col("text"), 3)).as("sim"))
    val sims = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(2L)) === 0)
    assert(ham(sims(1L), sims(3L)) < ham(sims(1L), sims(4L)))
  }

  test("MinHash-LSH near-dups equal the exact Jaccard pairs on the documents table") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshNearDupPairs(docs, "doc_id", "text", 3, 128, 32, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-dups in testdata")
    // verification step makes LSH precise; banding geometry makes misses
    // vanishingly rare at j>=0.5 -> expect exact equality here
    assert(lsh === exact)
  }

  test("SimHash pairs docs with equal canonical shingle sets, not disjoint docs") {
    // SimHash hamming distance is statistically meaningful only for large
    // feature sets; the deterministic contract tested here is (a) equal
    // distinct-shingle sets -> identical fingerprint -> paired via chunk
    // blocking, (b) disjoint docs -> far fingerprints -> not paired.
    val docs = textDf(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15 t16"),
      (2L, "t1  t2   t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15 t16"), // same tokens, messy spacing
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16"))
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("hammingPairs bucket-volume guard refuses a degenerate signature corpus") {
    import spark.implicits._
    // 12 identical all-zero signatures: every doc lands in the SAME
    // (chunk, v=0) bucket for all 4 chunks -> candidate volume
    // 4 * 12*11/2 = 264, the hot-bucket shape that would make one task
    // materialize the whole corpus as a single array row at scale
    val degenerate = (1L to 12L).map(i => (i, 0L)).toDF("id", "sig")
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(degenerate, maxHamming = 3, maxPairEstimate = 100L)
        .collect()
    }
    assert(e.getMessage.contains("maxPairEstimate"),
      s"guard message must name the knob: ${e.getMessage}")
    // the same corpus under the default cap still computes exact pairs
    val ok = Dedup.hammingPairs(degenerate, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok.size === 12 * 11 / 2, "all identical sigs must all pair")
  }

  test("minhashLshNearDupPairs bucket-volume guard refuses a degenerate corpus") {
    // 40 identical docs share every band bucket: 32 bands * 40*39/2 =
    // 24960 candidate pairs from one array row per band
    val docs = textDf((1L to 40L).map(i => (i, "c1 c2 c3 c4")): _*)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashLshNearDupPairs(docs, "doc_id", "text", n = 3,
        maxPairEstimate = 100L)
    }
    assert(e.getMessage.contains("maxPairEstimate"),
      s"guard message must name the knob: ${e.getMessage}")
  }

  test("simhashNearDupPairs forwards maxPairEstimate: a tiny cap is refused, naming the knob") {
    // 12 identical docs -> one simhash -> 4 chunks * 12*11/2 = 264 pairs
    val docs = textDf((1L to 12L).map(i => (i, "t1 t2 t3 t4 t5 t6 t7 t8")): _*)
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3, maxHamming = 3,
        maxPairEstimate = 100L)
    }
    assert(e.getMessage.contains("maxPairEstimate"),
      s"guard message must name the knob: ${e.getMessage}")
  }

  test("jaccard maxDf blocking: ubiquitous shingle pruned, sizes share the filtered universe") {
    // every doc carries the boilerplate shingle "c1 c2 c3"; docs 1/2 are
    // near-dups of each other beyond it, doc 3 shares ONLY the boilerplate
    val docs = textDf(
      (1L, "c1 c2 c3 a1 a2 a3 a4"),
      (2L, "c1 c2 c3 a1 a2 a3 a5"),
      (3L, "c1 c2 c3 z1 z2 z3 z4"))
    // unblocked: boilerplate counts toward overlap everywhere
    val unblocked = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // maxDf=2 prunes the df-3 boilerplate path: doc 3 shares nothing in the
    // filtered universe, while (1,2) still clear 0.5 Jaccard on the
    // filtered sets (numerator AND sizes both exclude pruned shingles)
    val blocked = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unblocked.contains((1L, 2L)))
    assert(blocked === Set((1L, 2L)))
    // gate geometry: d2's maxDf=100 leaves the sf0.001 corpus untouched
    val real = Tables.documents(spark, sfDir)
    val gated = Dedup.jaccardNearDupPairs(real, "doc_id", "text", 3, 0.5, Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardNearDupPairs(real, "doc_id", "text", 3, 0.5, None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated === exact)
  }

  test("jaccard pair-volume guard: quadratic regime refuses loudly toward the LSH path") {
    // 40 identical docs -> 2 distinct shingles, each df=40: post-blocking
    // pair volume = 2 * 40*39/2 = 1560, and maxDf=1000 cannot prune it
    // (the sf1 regime — vocabulary too small for df blocking to bite)
    val docs = textDf((1L to 40L).map(i => (i, "c1 c2 c3 c4")): _*)
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, Some(1000),
        maxPairEstimate = 100L)
    }
    assert(e.getMessage.contains("minhashLshNearDupPairs"))
    // the named escape hatch runs the exact baseline deliberately
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, Some(1000),
      maxPairEstimate = 2000L)
    assert(pairs.count() === 780L) // all 40-choose-2 pairs at jaccard 1.0
  }

  test("jaccard fallbackToLsh: past-cap inputs route to the LSH path, result equals it") {
    val docs = textDf((1L to 40L).map(i => (i, "c1 c2 c3 c4")): _*)
    // same forced-guard regime as above, but the opt-in routes instead
    // of refusing — and produces exactly what the LSH path produces
    val routed = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, Some(1000),
        maxPairEstimate = 100L, fallbackToLsh = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshNearDupPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed === lsh)
    // under-cap inputs never route: identical to the exact baseline
    val small = textDf((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
    val exact = Dedup.jaccardNearDupPairs(small, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noRoute = Dedup.jaccardNearDupPairs(small, "doc_id", "text", 3, 0.5,
        fallbackToLsh = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noRoute === exact)
  }

  test("shingle postings, maxDf=None: a shingle whose df alone passes the cap refuses d2 and d19; fallbackToLsh routes") {
    // every doc carries "h1 h2 h3" (df 30, 435 pairs alone) plus its own words
    val docs = textDf((1L to 30L).map(i => (i, s"h1 h2 h3 w$i x$i")): _*)
    val d2 = intercept[IllegalArgumentException] {
      Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, None, maxPairEstimate = 100L)
    }
    assert(d2.getMessage.contains("jaccardNearDupPairs is the exact baseline"))
    val d19 = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9, None, maxPairEstimate = 100L)
    }
    assert(d19.getMessage.contains("containmentPairs would shuffle ~435 candidate pairs"))
    val routed = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, None,
        maxPairEstimate = 100L, fallbackToLsh = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshNearDupPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed === lsh)
  }

  test("shingle postings: a shingle past maxDf never reaches them; no array outgrows Pairs.bound") {
    import graft.operators.Pairs
    val docs = textDf((1L to 30L).map(i => (i, s"h1 h2 h3 w${i % 10} x${i % 10}")): _*)
    def arrays(maxDf: Option[Int], cap: Long) = {
      val (ps, volume) = Dedup.postings(docs, "doc_id", "text", 3, maxDf, cap)
      (ps.collect().map(r => (r.getSeq[Long](0), r.getLong(1))).toSeq, volume)
    }
    // maxDf=3: the hot shingle (df 30) is dropped; each kept array is whole
    val (kept, keptVolume) = arrays(Some(3), 50000000L)
    assert(kept.nonEmpty && kept.forall { case (ids, df) => df <= 3 && ids.size == df })
    assert(keptVolume === kept.map { case (_, df) => df * (df - 1) / 2 }.sum)
    // maxDf=1000 and a cap of 100: the bound is 16, so the hot shingle's
    // array stops at 16 ids while its df stays exact and the volume alone
    // passes the cap (the operators refuse before reading the array)
    val bound = Pairs.bound(Some(1000), 100L)
    assert(bound === 16)
    val (capped, cappedVolume) = arrays(Some(1000), 100L)
    assert(capped.forall { case (ids, df) => ids.size.toLong === math.min(df, bound.toLong) })
    assert(capped.exists { case (ids, df) => df == 30L && ids.size == bound })
    assert(cappedVolume > 100L)
  }

  test("shingle postings: maxDf=None and maxPairEstimate=Long.MaxValue return the normal result") {
    val docs = textDf(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w"), (4L, "a b"), (5L, "a b c d e f"))
    def pairs(cap: Long) =
      Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5, None, maxPairEstimate = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs(Long.MaxValue) === Seq((1L, 2L), (1L, 5L), (2L, 5L)))
    assert(pairs(Long.MaxValue) === pairs(50000000L))
    val contained = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9, None,
        maxPairEstimate = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(contained === Seq((1L, 5L)))
    val windows = Dedup.sharedWindowPairs(docs, "doc_id", "text", 3, Int.MaxValue,
        maxPairEstimate = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(windows === Seq((1L, 2L, 3L), (1L, 5L, 4L), (2L, 5L, 3L)))
  }

  test("promoted codegen kernels agree across NO_CODEGEN and CODEGEN_ONLY") {
    import graft.functions.GraftFunctions.{minhash_signature, simhash64, rolling_hash, hashing_tf,
      hyperplane_bands, fnv64, cm_buckets, nfc_normalize}
    import graft.functions.TextFunctions.{shingle_set, quality_score, html_to_markdown}
    val docs = Tables.documents(spark, sfDir).limit(50)
    val (interpreted, codegen) = CodegenParity.rows(docs,
        shingle_set(col("text"), 3).as("sh"),
        html_to_markdown(concat(lit("<b><b><i>x</i></b></b><ol><li>"), col("text"),
          lit("</li></ol>"))).as("md"),
        minhash_signature(shingle_set(col("text"), 3), 16).as("mh"),
        simhash64(shingle_set(col("text"), 3)).as("sim"),
        rolling_hash(col("text")).as("rh"),
        quality_score(col("text")).as("q"),
        hyperplane_bands(hashing_tf(shingle_set(col("text"), 3), 64), 8, 8, 7L).as("hb"),
        fnv64(col("text")).as("fnv"),
        cm_buckets(col("text"), 4, 64).as("cm"),
        nfc_normalize(col("text")).as("nfc"))
    assert(interpreted === codegen)
    assert(interpreted.nonEmpty)
  }

  test("contamination: full overlap scores 1, disjoint scores 0, short docs absent") {
    val train = textDf(
      (1L, "alpha beta gamma delta"),      // both shingles in eval -> 1.0
      (2L, "zz yy xx ww vv"),              // disjoint -> 0.0
      (3L, "one two"))                     // < 3 tokens: no shingles, absent
    val eval = textDf((100L, "alpha beta gamma delta epsilon"))
    val rows = graft.operators.Contamination.scores(train, "doc_id", "text", eval, "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1L) === ((2L, 2L, 1.0)))
    assert(rows(2L) === ((3L, 0L, 0.0)))
    assert(!rows.contains(3L))
  }

  test("nearDupClusters: chains and cliques collapse to min-id components") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("star contraction equals the driver union-find") {
    import spark.implicits._
    // chain (worst case for propagation, easy for star contraction),
    // triangle, isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val viaStars = Dedup.starClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars === viaDriver)
    // one seeded random graph as cross-validation
    val rng = new scala.util.Random(11)
    val rand = Seq.fill(12)((rng.nextInt(14).toLong, rng.nextInt(14).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("id1", "id2")
    val s2 = Dedup.starClusters(rand)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l2 = Dedup.nearDupClusters(rand)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s2 === l2)
  }

  test("star contraction closes a 64-chain; past maxRounds both paths refuse") {
    import spark.implicits._
    // the d8 gate geometry: a path of diameter 63 needs ~63 propagation
    // rounds but only O(log 64) star-contraction rounds
    val chain = (100L until 163L).map(i => (i, i + 1)).toDF("id1", "id2")
    val viaStars = Dedup.starClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars === (100L to 163L).map(_ -> 100L).toMap)
    // the fixture genuinely needs more than 3 contraction rounds, so the
    // 4-way convergence witness is exercised on real rounds: a 3-round
    // cap refuses instead of returning the unconverged labels
    val capped = intercept[IllegalArgumentException](Dedup.starClusters(chain, maxRounds = 3))
    assert(capped.getMessage.contains("maxRounds = 3"))
    // the driver pass is one round: it answers within any maxRounds >= 1
    // and refuses below
    val viaDriver = Dedup.nearDupClusters(chain, maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaStars)
    val none = intercept[IllegalArgumentException](Dedup.nearDupClusters(chain, maxRounds = 0))
    assert(none.getMessage.contains("maxRounds = 0"))
  }

  test("BM25 matches hand-computed scores; tf raises, length normalizes, absent term drops") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join"),             // both terms, short
      (2L, "spark spark join"),       // higher tf
      (3L, "spark a a a a a a join"), // same tf as 1, longer -> penalized
      (4L, "nothing relevant here"),  // no query terms
      (5L, "JOIN")                    // case-folded single term
    ).toDF("doc_id", "text")
    val got = graft.operators.Bm25.topK(docs, "doc_id", "text",
      Seq("spark", "join"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // hand computation: N=5, avgdl = (2+3+8+3+1)/5 = 3.4
    val n = 5L
    val avgdl = 3.4
    def idf(df: Long) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def ts(idfV: Double, tf: Long, dl: Long) =
      idfV * tf * 2.2 / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
    val iSpark = idf(3) // docs 1,2,3
    val iJoin = idf(4)  // docs 1,2,3,5
    val expected = Map(
      1L -> (ts(iSpark, 1, 2) + ts(iJoin, 1, 2)),
      2L -> (ts(iSpark, 2, 3) + ts(iJoin, 1, 3)),
      3L -> (ts(iSpark, 1, 8) + ts(iJoin, 1, 8)),
      5L -> ts(iJoin, 1, 1))
    assert(got.map(_._1).toSet === expected.keySet) // doc 4 never scores
    got.foreach { case (id, s) =>
      assert(math.abs(s - expected(id)) < 1e-12, s"doc $id: $s vs ${expected(id)}")
    }
    val rank = got.map(_._1)
    // tf monotonicity and length normalization: 2 > 1 > 3 among the
    // both-term docs; the single-term doc 5 ranks where its one
    // (shortest-doc-boosted) contribution lands — just check 2 first
    assert(rank.head === 2L)
    assert(rank.indexOf(1L) < rank.indexOf(3L))
  }

  test("Packing.manifest: spans, straddling windows, empty docs dropped, groups isolated") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b c"),              // 3 tok: [0,3)  -> bin 0
      (2L, "en", "d e f g"),            // 4 tok: [3,7)  -> straddles 0..1 at L=4
      (3L, "en", "   "),                // 0 tok: dropped
      (4L, "en", "h i j k l"),          // 5 tok: [7,12) -> bins 1..2
      (5L, "fr", "x y z w q r s t u")   // fr stream restarts: [0,9) -> 0..2
    ).toDF("doc_id", "lang", "text")
    val got = graft.operators.Packing.manifest(docs, "doc_id", "text", "lang", maxLen = 4L)
      .orderBy(col("grp"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      ("en", 1L, 3L, 0L, 0L, 0L, 1L),
      ("en", 2L, 4L, 3L, 0L, 1L, 2L),
      ("en", 4L, 5L, 7L, 1L, 2L, 2L),
      ("fr", 5L, 9L, 0L, 0L, 2L, 3L)))
    // invariants: within a group, spans tile the stream with no gaps
    val en = got.filter(_._1 == "en")
    en.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 + a._3 === b._4, "gap in the packed stream") }
  }

  test("Packing.manifestGlobal: two-pass prefix sum == grouped manifest under one group, partition-invariant") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .withColumn("g", org.apache.spark.sql.functions.lit("all"))
    def strip(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "n_tok", "start_off", "first_bin", "last_bin", "n_bins")
      .collect().map(_.toSeq).toSeq
    val grouped = strip(graft.operators.Packing.manifest(docs, "doc_id", "text", "g", 64L)
      .orderBy(col("id")))
    val global1 = strip(graft.operators.Packing.manifestGlobal(docs, "doc_id", "text", 64L,
      numPartitions = 1).orderBy(col("id")))
    val global7 = strip(graft.operators.Packing.manifestGlobal(docs, "doc_id", "text", 64L,
      numPartitions = 7).orderBy(col("id")))
    assert(global1 === grouped)
    assert(global7 === grouped) // partition boundaries cancel out
  }

  test("Packing.lengthBatches: hand-computed buckets, batches, and pad waste") {
    import spark.implicits._
    // token counts: 1, 2, 3 (bucket 1 with width 4); 5, 6 (bucket 2);
    // empty doc drops. batchSize 2 -> bucket 1 holds batches
    // [1,2] (max 2, waste 1) and [3] (max 3, waste 0);
    // bucket 2 holds [5,6] (max 6, waste 1)
    val docs = Seq(
      (1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, "a b c d e"), (5L, "a b c d e f"), (6L, "   ")).toDF("doc_id", "text")
    val got = graft.operators.Packing.lengthBatches(docs, "doc_id", "text",
      bucketWidth = 4L, batchSize = 2L)
      .orderBy("bucket", "batch_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 0L, 2L, 2L, 1L),
      (1L, 1L, 1L, 3L, 0L),
      (2L, 0L, 2L, 6L, 1L)))
  }

  test("BM25 all-miss query returns empty with the plan's schema (string ids too)") {
    import spark.implicits._
    val docs = Seq(("a", "spark join"), ("b", "nothing")).toDF("doc_id", "text")
    val res = graft.operators.Bm25.topK(docs, "doc_id", "text",
      Seq("zzzabsent"), k = 5)
    // schema derives from the real plan in both the empty and non-empty
    // cases: id keeps the corpus' id type (string here), score is double
    assert(res.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq("id" -> "string", "score" -> "double"))
    assert(res.count() === 0L)
    val hit = graft.operators.Bm25.topK(docs, "doc_id", "text",
      Seq("spark"), k = 5)
    assert(hit.schema === res.schema)
    assert(hit.collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("nearDupClusters: self-pairs and null ids add no edge on either path") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(2L)), (Some(5L), Some(5L)),
      (Some(7L), None), (None, Some(8L)), (None, None), (Some(3L), Some(2L)))
      .toDF("id1", "id2")
    val want = Seq(Row(1L, 1L), Row(2L, 1L), Row(3L, 1L))
    val driver = Dedup.nearDupClusters(pairs)
    val stars = Dedup.starClusters(pairs)
    assert(driver.collect().toSeq === want)
    assert(stars.collect().toSeq === want)
    assert(driver.schema === stars.schema)
    // non-nullable ids keep a non-nullable `id` on both paths
    val strict = Seq((4L, 3L), (3L, 9L)).toDF("id1", "id2")
    assert(Dedup.nearDupClusters(strict).schema === Dedup.starClusters(strict).schema)
    assert(!Dedup.nearDupClusters(strict).schema("id").nullable)
  }

  test("nearDupClusters under the cap: one job, then a local result") {
    val pairs = spark.range(0, 200, 1, 1)
      .select(col("id").as("id1"), (col("id") % 17).as("id2"))
    var got: org.apache.spark.sql.DataFrame = null
    assert(SparkTestSession.jobsOf { got = Dedup.nearDupClusters(pairs) } === 1)
    assert(got.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    var rows: Array[Row] = null
    assert(SparkTestSession.jobsOf { rows = got.collect() } === 0)
    // i ~ i % 17: every id joins the component of its residue
    assert(rows.toSeq === (0L until 200L).map(i => Row(i, i % 17)))
  }

  test("nearDupClusters past LocalMaxPairs pairs takes the star path") {
    // a star of LocalMaxPairs + 1 edges round hub 0: one bounded collect
    // sees the overflow, and contraction converges in its first round
    val n = Dedup.LocalMaxPairs + 1L
    val pairs = spark.range(1, n + 1).select(lit(0L).as("id1"), col("id").as("id2"))
    val got = Dedup.nearDupClusters(pairs)
    assert(!got.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val summary = got.agg(count(lit(1)), max(col("keeper")), max(col("id"))).head()
    assert(summary === Row(n + 1, 0L, n))
  }

  test("star contraction: reliable checkpoints match localCheckpoint") {
    import spark.implicits._
    // the fault-tolerant variant for long-running 100 TB contractions:
    // same algorithm, rounds truncated via durable checkpoint() files
    val chain = (100L until 163L).map(i => (i, i + 1)).toDF("id1", "id2")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val durable = Dedup.starClusters(chain, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable === (100L to 163L).map(_ -> 100L).toMap)
    // the rounds really went through the reliable checkpoint dir
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no checkpoint data under $dir")
  }

  test("nearDupClusters equals union-find on random graphs (seeded)") {
    import spark.implicits._
    // ClusterProperties covers larger graphs, string ids and both paths
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 2) {
      val n = 16
      val edges = Seq.fill(12)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // in-memory union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // after all unions, path-compress to the true minimum root
      val expected = nodes.map(v => v -> find(v)).toMap
      val got = Dedup.nearDupClusters(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial: $edges")
    }
  }

  test("incremental dedup: only genuinely-new content survives the anti-join") {
    val existing = textDf((1L, "Shared  Doc"), (2L, "old content"))
    val incoming = textDf(
      (10L, "shared doc"),   // canonical dup of 1 (case/whitespace) -> dropped
      (11L, "fresh content"))
    val ids = Dedup.incrementalNew(incoming, existing, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(11L))
  }

  test("incremental NEAR-dup: reformatted re-crawls drop, fresh and below-threshold content survives") {
    // standing corpus; incoming has a near-copy (one token changed over a
    // long shared run -> jaccard >> 0.5), an exact re-crawl, a doc sharing
    // only a little (< 0.5), and genuinely fresh content
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val existing = textDf((2L, base), (4L, "completely different standing text here"))
    val incoming = textDf(
      (1L, base.replace("mu", "nu")),          // near-dup of 2 -> dropped
      (3L, base),                              // exact re-crawl of 2 -> dropped
      (5L, "alpha beta gamma then nothing in common with anything else at all"),
      (7L, "entirely fresh incoming content nothing shared"))
    val kept = Dedup.incrementalNearDupNew(incoming, existing, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept === Seq(5L, 7L))
    // equality with the exact cross-side Jaccard definition on the corpus split
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val inc = docs.filter(col("doc_id") % 2 === 1)
    val ext = docs.filter(col("doc_id") % 2 === 0)
    val got = Dedup.incrementalNearDupNew(inc, ext, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    import graft.functions.TextFunctions.shingle_set
    val exactDup = inc.select(col("doc_id").as("idn"), shingle_set(col("text"), 3).as("s1"))
      .crossJoin(ext.select(col("doc_id").as("ide"), shingle_set(col("text"), 3).as("s2")))
      .filter(size(array_intersect(col("s1"), col("s2"))).cast("double") /
        size(array_union(col("s1"), col("s2"))) >= 0.5)
      .select("idn").distinct().collect().map(_.getLong(0)).toSet
    val expected = inc.select("doc_id").collect().map(_.getLong(0)).toSet -- exactDup
    assert(got === expected)
  }

  test("cluster keep-best composition: transitive cluster resolves to the best-quality member") {
    import org.apache.spark.sql.functions._
    // chain 1~2~3 via shared shingles; member 2 gets the richest text
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = textDf(
      (1L, base),
      (2L, base + " the of and to a extra rich tail content"), // highest quality
      (3L, base + " different tail"),
      (9L, "totally unrelated content island standing alone here"))
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.3, maxDf = Some(100))
    val clusters = Dedup.nearDupClusters(pairs)
    val q = docs.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.quality_score(col("text")).as("q"))
    val best = clusters.join(q, Seq("id"))
      .groupBy(col("keeper").as("cluster"))
      .agg(max_by(col("id"), struct(col("q"), (-col("id")).as("ni"))).as("best"),
        count(lit(1)).as("n_members"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(best.length === 1) // doc 9 is a singleton, absent from pairs
    val (cluster, keeper, n) = best.head
    assert(cluster === 1L && n === 3L)
    // keeper is the quality argmax, not the min id
    val qs = q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(keeper === Seq(1L, 2L, 3L).maxBy(id => (qs(id), -id)))
    assert(keeper === 2L, s"expected the rich doc to win, got $keeper (qs=$qs)")
  }

  test("keep-best dedup: highest score wins, ties break to lowest id") {
    import org.apache.spark.sql.functions.{col, length}
    // score = text length: id 2's raw text is longer; ids 1/2 share a
    // canonical fingerprint (case/whitespace), 3 is its own group
    val docs = textDf((1L, "Same  Text"), (2L, "same text"), (3L, "x"))
    val best = Dedup.exactDupGroupsBest(docs, "doc_id", "text", length(col("text")).cast("double"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(best === Array((1L, 2L), (3L, 1L))) // 10 chars beats 9; singleton keeps itself
    // equal scores: lowest id kept
    val tied = Dedup.exactDupGroupsBest(textDf((5L, "aa bb"), (4L, "AA  BB")),
      "doc_id", "text", org.apache.spark.sql.functions.lit(1.0))
      .collect().map(r => r.getLong(1))
    assert(tied === Array(4L))
  }

  test("exact dup groups: synthetic exact dups collapse to one keeper") {
    val docs = textDf((1L, "Same  Text"), (2L, "same text"), (3L, "other text"))
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(groups.length === 2)
    val dupGroup = groups.find(_._3 == 2L).get
    assert(dupGroup._2 === 1L) // min id kept
  }

  test("sharedWindowPairs: verbatim span inside different documents, Jaccard-invisible") {
    val boiler = "please subscribe to our newsletter for updates" // 7 tokens
    val docs = textDf(
      (1L, s"alpha beta gamma $boiler delta epsilon zeta eta theta"),
      (2L, s"one two three four $boiler five six seven eight nine ten"),
      (3L, "totally unrelated words with no overlap at all whatsoever"))
    // w=4: doc 1 and 2 share exactly the windows fully inside the
    // 7-token boilerplate span = 7-4+1 = 4 windows; doc 3 shares none
    val got = Dedup.sharedWindowPairs(docs, "doc_id", "text", w = 4, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array((1L, 2L, 4L)))
    // the same pair is invisible to whole-document Jaccard at 0.5
    val jac = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
      n = 4, minJaccard = 0.5).count()
    assert(jac === 0L)
  }

  test("sharedWindowPairs: maxDf blocks ubiquitous windows; repeated in-doc windows count once") {
    val span = "a b c d" // the window itself
    val docs = textDf(
      (1L, s"$span x $span"), // window appears twice in doc 1 -> distinct once
      (2L, s"y $span z"),
      (3L, s"q $span r"))
    val got = Dedup.sharedWindowPairs(docs, "doc_id", "text", w = 4, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)))
    // df blocking: the shared window sits in 3 docs; maxDf=2 removes it
    val blocked = Dedup.sharedWindowPairs(docs, "doc_id", "text", w = 4, maxDf = 2)
    assert(blocked.count() === 0L)
  }

  test("sharedWindowPairs refuses past the candidate-pair cap") {
    val docs = textDf((1L to 20L).map(i => (i, "same exact shared text here")): _*)
    val e = intercept[IllegalArgumentException] {
      Dedup.sharedWindowPairs(docs, "doc_id", "text", w = 4, maxDf = 100,
        maxPairEstimate = 5L)
    }
    assert(e.getMessage.contains("candidate pairs"))
  }

  test("cdcChunks: chunks partition the token stream; manifest fields are consistent") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val chunks = Dedup.cdcChunks(docs, "doc_id", "text", divisor = 8)
    import org.apache.spark.sql.functions._
    // per doc: chunk_idx dense from 0, starts/sizes tile the stream exactly
    val agg = chunks.groupBy("id").agg(
      count(lit(1)).as("n_chunks"),
      max(col("chunk_idx")).as("max_idx"),
      sum(col("n_tok")).as("tok_total"),
      min(col("start_tok")).as("first_start")).collect()
    assert(agg.nonEmpty)
    agg.foreach { r =>
      assert(r.getAs[Int]("max_idx").toLong === r.getAs[Long]("n_chunks") - 1)
      assert(r.getAs[Int]("first_start") === 1)
    }
    val toks = docs.select(col("doc_id").as("id"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
    val bad = chunks.groupBy("id").agg(sum("n_tok").as("s"))
      .join(toks, "id").filter(col("s") =!= col("n"))
    assert(bad.isEmpty)
  }

  test("cdcChunks: fingerprints re-sync after an insertion (the CDC property)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val docs = textDf((1L, base), (2L, "INSERTED " + base))
    val out = Dedup.cdcChunks(docs, "doc_id", "text", divisor = 4).collect()
    val fp1 = out.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_fp")).toSet
    val fp2 = out.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_fp")).toSet
    // every chunk of doc 1 except (at most) the first re-appears in doc 2:
    // the inserted token only perturbs chunks up to the first cut point
    val shared = fp1.intersect(fp2)
    assert(shared.size >= fp1.size - 1, s"expected re-sync, got $shared of $fp1")
    // and a fixed-width chunker would NOT re-sync: sanity that the corpus
    // actually has interior cut points making the property non-vacuous
    assert(fp1.size >= 2)
  }

  test("nextFitShards: bins respect capacity, docs stay whole, oversized docs get singleton bins") {
    import org.apache.spark.sql.functions._
    val docs = textDf(
      (1L, ("w " * 300).trim),  // 300 tokens
      (2L, ("w " * 300).trim),
      (3L, ("w " * 300).trim),
      (4L, ("w " * 600).trim),  // oversized vs capacity 512
      (5L, ("w " * 10).trim),
      (6L, ("w " * 10).trim))
    val out = graft.operators.Packing.nextFitShards(docs, "doc_id", "text",
      capacity = 512L, shards = 1)
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // every doc appears exactly once
    assert(rows.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // no bin of non-oversized docs exceeds capacity
    val fills = rows.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._3).sum }
    fills.foreach { case (b, fill) =>
      val hasOversized = rows.exists(r => r._1 == b && r._3 > 512L)
      assert(hasOversized || fill <= 512L, s"bin $b overfilled: $fill")
    }
    // the oversized doc is alone in its bin
    val big = rows.find(_._2 == 4L).get
    assert(rows.count(_._1 == big._1) === 1)
  }

  test("containmentPairs: finds the boilerplate-wrapped doc Jaccard misses; direction and tie-breaks") {
    val core = "alpha beta gamma delta epsilon zeta eta theta"
    val boiler = "nav header menu login search footer copyright terms " +
      "privacy contact about sitemap rss feed subscribe newsletter"
    val docs = textDf(
      (1L, core),                               // the small doc
      (2L, boiler + " " + core + " " + boiler), // wrapped: contains doc 1
      (3L, "totally different words entirely unrelated content here"),
      (4L, core))                               // identical set to doc 1
    val got = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 and 4 are identical sets -> one directed row (smaller id contained);
    // both sit inside 2; 3 matches nothing
    assert(got === Set((1L, 2L), (4L, 2L), (1L, 4L)))
    // Jaccard at the same threshold misses the wrap (union dominated by 2)
    val jac = graft.operators.Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
    // the counted-volume guard refuses loudly
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, maxPairEstimate = 1L)
    }
    assert(e.getMessage.contains("candidate pairs"))
  }

  test("noveltyFractions: verbatim re-crawl scores zero, fresh doc scores one; hand-computed overlap") {
    val docs = textDf(
      (1L, "a b c d e"),        // grams: abc bcd cde -> all novel (first id)
      (2L, "a b c d e"),        // verbatim copy -> novelty 0
      (3L, "c d e f g"),        // cde seen (doc 1); def efg novel -> 2/3
      (4L, "x y"))              // < 3 tokens -> absent
    val out = graft.operators.Dedup.noveltyFractions(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((3L, 3L)))
    assert(out(2L) === ((3L, 0L)))
    assert(out(3L) === ((3L, 2L)))
  }

  test("noveltyFractions: deterministic under repartitioning") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = graft.operators.Dedup.noveltyFractions(docs, "doc_id", "text")
      .orderBy("id").collect().toSeq
    val b = graft.operators.Dedup.noveltyFractions(docs.repartition(11), "doc_id", "text")
      .orderBy("id").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("nextFitShards: refuses a non-integral id column loudly") {
    import spark.implicits._
    val docs = Seq(("doc-a", "w w w"), ("doc-b", "w w")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Packing.nextFitShards(docs, "doc_id", "text", 512L, 2)
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("nextFitShards: deterministic under repartitioning; shards pack independently") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = graft.operators.Packing.nextFitShards(docs, "doc_id", "text", 512L, 4)
      .orderBy("shard", "bin", "id").collect().toSeq
    val b = graft.operators.Packing.nextFitShards(docs.repartition(13), "doc_id", "text", 512L, 4)
      .orderBy("shard", "bin", "id").collect().toSeq
    assert(a === b)
    assert(a.map(_.getInt(0)).distinct.size > 1)
  }

  test("chunkDupMass: planted shifted duplicate carries shared chunk mass; unique doc reports zero") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = textDf(
      (1L, base),
      (2L, "SHIFT " + base),           // shifted copy: re-syncs after first cut
      (3L, "totally different words entirely unrelated content here now"))
    val out = graft.operators.Dedup.chunkDupMass(docs, "doc_id", "text", divisor = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out(1L)._2 > 0L && out(2L)._2 > 0L, "shifted pair shares chunk mass")
    assert(out(3L)._2 === 0L && out(3L)._3 === 0.0)
    assert(out(1L)._3 > 0.5, s"most of doc 1 re-syncs: ${out(1L)}")
    out.values.foreach { case (n, d, f) =>
      assert(d <= n && f >= 0.0 && f <= 1.0)
    }
  }
}
