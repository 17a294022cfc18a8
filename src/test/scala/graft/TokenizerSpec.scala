package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{HtmlBlocks, PdfGlyphRuns}

/** Table-driven unit tests for the two tokenizer expressions (JVM-level;
  * their Catalyst integration is covered by GoldenEqualitySpec and the
  * SQL-registration test in FunctionsSpec).
  */
class TokenizerSpec extends AnyFunSuite {

  // ------------------------------------------------------------- html

  private def blocks(s: String) = HtmlBlocks.tokenize(s)

  test("simple paragraph block with raw span") {
    val s = "<p>hello world</p>"
    val b = blocks(s)
    assert(b.map(_.text) === Vector("hello world"))
    assert(b.head.start === 3 && b.head.end === 14)
    assert(b.head.words === 2 && b.head.linkWords === 0 && !b.head.boiler)
  }

  test("inline tags merge, block tags split") {
    val b = blocks("<div>one <b>two</b> three<br>four</div>")
    assert(b.map(_.text) === Vector("one two three", "four"))
  }

  test("whitespace collapses; spans exclude surrounding whitespace") {
    val s = "<p>  a \t\n b  </p>"
    val b = blocks(s)
    assert(b.head.text === "a b")
    assert(s.substring(b.head.start, b.head.end) === "a \t\n b")
  }

  test("entities decode; unknown entities stay literal") {
    val b = blocks("<p>a&amp;b &#65; &#x42; &nope; &unterminated x</p>")
    assert(b.head.text === "a&b A B &nope; &unterminated x")
  }

  test("script/style/comment content is skipped entirely") {
    val b = blocks(
      "<style>p{a:1}</style><script>if(x<2){y}</script><!-- no -->" +
        "<p>kept words</p>")
    assert(b.map(_.text) === Vector("kept words"))
  }

  test("link words counted inside <a>; boiler flag inside nav/footer") {
    val b = blocks(
      "<nav><a href='/'>Home</a> <a href='/x'>About</a></nav>" +
        "<p>body <a href='#'>link</a> words</p>" +
        "<footer>fine print</footer>")
    assert(b.length === 3)
    assert(b(0).boiler && b(0).linkWords === 2 && b(0).words === 2)
    assert(!b(1).boiler && b(1).linkWords === 1 && b(1).words === 3)
    assert(b(2).boiler && b(2).linkWords === 0)
  }

  test("unclosed tags and bare < are tolerated") {
    val b = blocks("<div><p>first block still works<div>second")
    assert(b.map(_.text) === Vector("first block still works", "second"))
    val c = blocks("5 < 6 and 7 > 2")
    assert(c.head.text === "5 < 6 and 7 > 2")
  }

  test("self-closing anchor does not leak link state") {
    val b = blocks("<p><a href='x'/>plain words here</p>")
    assert(b.head.linkWords === 0)
  }

  test("empty / tags-only input yields no blocks") {
    assert(blocks("").isEmpty)
    assert(blocks("<div><p></p></div>").isEmpty)
  }

  // ------------------------------------------------------------- pdf

  private def runs(s: String) = PdfGlyphRuns.parse(s)

  test("runs parse with raw offsets and y-gap line clustering") {
    val s = "%PDF-SIM\nG 40 140 12 second line\nG 40 100 12 first\nG 80 102 12 line\n"
    val r = runs(s)
    assert(r.length === 3)
    val byLine = r.sortBy(x => (x.line, x.x))
    assert(byLine.map(_.text).toSeq === Seq("first", "line", "second line"))
    assert(byLine.map(_.line).toSeq === Seq(0, 0, 1))
    // offsets point into the raw payload
    assert(s.substring(r(0).start, r(0).end) === "second line")
  }

  test("jitter within RowTol keeps runs on one line") {
    val s = "%PDF-SIM\nG 10 100 12 a\nG 50 108 12 b\nG 90 95 12 c\n"
    assert(runs(s).map(_.line).distinct.toSeq === Seq(0))
  }

  test("malformed run lines are skipped, valid ones survive") {
    val s = "%PDF-SIM\nG x y z bad\nG 10 20 12 good\nnot a run\nG 10 20\n"
    val r = runs(s)
    assert(r.map(_.text).toSeq === Seq("good"))
  }

  test("missing header yields no runs") {
    assert(runs("G 10 20 12 text").isEmpty)
    assert(runs("%PDF-").isEmpty) // header but no newline
    assert(runs("").isEmpty)
  }

  test("leading whitespace before header is tolerated") {
    assert(runs("  \n%PDF-SIM\nG 1 2 3 ok\n").length === 1)
  }

  test("recursive XY-cut orders two-column pages column-major") {
    val s = "%PDF-SIM\n" +
      "G 400 100 10 right one\nG 40 100 10 left one\n" +
      "G 400 140 10 right two\nG 40 140 10 left two\n"
    val r = runs(s).sortBy(x => (x.line, x.x))
    assert(r.map(_.text).toSeq ===
      Seq("left one", "left two", "right one", "right two"))
    assert(r.map(_.line).toSeq === Seq(0, 1, 2, 3))
  }

  test("one wrapping tag before the %PDF- magic is tolerated (cascade)") {
    val s = "<div class=\"doc\">\n%PDF-SIM\nG 40 100 10 hello\n</div>"
    val r = runs(s)
    assert(r.map(_.text).toSeq === Seq("hello"))
    assert(s.substring(r(0).start, r(0).end) === "hello")
  }

  test("Readability subtree totals: container sums exclude boiler siblings") {
    val html = "<html><body>" +
      "<div>" + (1 to 5).map(i => s"<p>tiny card number $i here</p>").mkString + "</div>" +
      "<p>lonely stray line</p>" +
      "<nav><a href='/'>Home</a> menu items listed here</nav>" +
      "</body></html>"
    val bs = HtmlBlocks.tokenize(html)
    val cards = bs.filter(_.text.startsWith("tiny card"))
    assert(cards.length === 5)
    assert(cards.forall(_.words === 5))
    assert(cards.forall(_.cwords === 25)) // div subtree total
    val lonely = bs.find(_.text == "lonely stray line").get
    assert(lonely.cwords === 3) // body-level total: boiler nav excluded
    val nav = bs.find(_.boiler).get
    assert(nav.cwords === 3) // boiler words never rescue a container
  }

  test("hostile payloads are bounded by the run and block caps") {
    val big = "%PDF-SIM\n" +
      (0 until 6000).map(i => s"G 40 ${100 + i * 40} 10 w$i\n").mkString
    assert(runs(big).length === PdfGlyphRuns.MaxRuns)
    val html = "<html><body>" +
      (0 until 1500).map(i => s"<p>block $i</p>").mkString + "</body></html>"
    assert(HtmlBlocks.tokenize(html).length === HtmlBlocks.MaxBlocks)
  }

  test("chunk windows partition the parsed-run space with offset lines") {
    val R = PdfGlyphRuns.MaxRuns
    val big = "%PDF-SIM\n" +
      (0 until R + 700).map(i => s"G 40 ${100 + i * 40} 10 w$i\n").mkString
    val c0 = PdfGlyphRuns.parse(big, 0)
    val c1 = PdfGlyphRuns.parse(big, 1)
    assert(c0.length === R && c1.length === 700)
    // chunk 0 is exactly the unchunked parse
    assert(c0.map(_.text).toSeq === runs(big).map(_.text).toSeq)
    // concatenated chunks cover every run, in payload order here
    assert((c0 ++ c1).map(_.text).toSeq ===
      (0 until R + 700).map(i => s"w$i"))
    // chunk-1 lines are offset by chunk·MaxRuns → total chunk-major order
    assert(c1.map(_.line).min === R)
    assert(c0.map(_.line).max < R)
    // malformed lines don't consume window slots (windows are in
    // PARSED-run index space)
    val holey = "%PDF-SIM\n" +
      (0 until 2 * R + 10).map(i =>
        if (i % 3 == 2) s"G bad line $i\n" else s"G 40 ${100 + i * 40} 10 w$i\n")
        .mkString
    val good = (0 until 2 * R + 10).filter(_ % 3 != 2)
    val h0 = PdfGlyphRuns.parse(holey, 0)
    val h1 = PdfGlyphRuns.parse(holey, 1)
    assert(h0.length === R)
    assert((h0 ++ h1).map(_.text).toSeq === good.map(i => s"w$i"))
    // a window past the content is empty, not an error
    assert(PdfGlyphRuns.parse(big, 5).isEmpty)
  }

  test("the parser accepts exactly the wrapping tags the pdf sniff accepts") {
    import graft.expressions.TurnNative
    import org.apache.spark.unsafe.types.UTF8String
    // the sniff's `<[^>]{0,200}>` counts code points: a surrogate pair
    // is one, so 150 astral chars (300 UTF-16 units) still wrap
    def wrapped(inner: String) = "<" + inner + ">\n%PDF-1\nG 1 2 3 a\nG 4 5 6 b\n"
    val astral = "\uD83D\uDE00"
    val cases = Seq(("d" * 199, "pdf", 2), ("d" * 200, "pdf", 2),
      ("d" * 201, "html", 0), (astral * 150, "pdf", 2), (astral * 200, "pdf", 2),
      (astral * 201, "plain", 0))
    for ((inner, fmt, n) <- cases) {
      val s = wrapped(inner)
      assert(TurnNative.sniff(UTF8String.fromString(s), null).toString === fmt,
        inner.length)
      assert(runs(s).length === n, inner.length)
    }
  }

  test("candidateCount equals the declarative G-line count on pdf payloads") {
    // PdfGlyphRuns.extract's confidence denominator; the staged Catalyst
    // form it replaced split the payload on \n and counted lines
    // starting with "G "
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.sniff
    val payloads = Seq(
      "%PDF-1\nG 1 2 3 a\nG 4 5 6 b\n",
      "<div class=\"w\">\n%PDF-1\nG 1 2 3 a\nG bad\n",
      "<div\nG 1 2 3 in-tag\n>%PDF-1\nG 1 2 3 a",
      "%PDF-1\r\nG 1 2 3 a\r\nG 4 5 6 b\r\n\r\nG",
      "  \n%PDF-1\nG 1 2 3 a\nG",
      "%PDF-1\nG 1 2 3 a\nG ",
      "%PDF-1\nG 1 2 3 \uD83D\uDE00\n\uD83D\uDE00G 1 2 3 x\nG \uD83D\uDE00\n",
      "%PDF-1\n\nGG 1 2 3 x\n G 1 2 3 y\nGx\n%%EOF")
    val rows = payloads.toDF("t").select(col("t"),
      sniff(col("t"), lit(null).cast("string")).as("fmt"),
      size(filter(split(col("t"), "\n"),
        l => substring(l, 1, 2) === "G ")).as("n")).collect()
    for (r <- rows) {
      assert(r.getString(1) === "pdf", r.getString(0))
      assert(PdfGlyphRuns.candidateCount(r.getString(0)) === r.getInt(2),
        r.getString(0))
    }
  }

  test("cap_cursor names where the block cap stopped the scan") {
    val B = HtmlBlocks.MaxBlocks
    // cap fires with real content beyond: cursor < end of input
    val over = "<html><body>" +
      (0 until B + 5).map(i => s"<p>block number $i</p>").mkString +
      "</body></html>"
    val ob = HtmlBlocks.tokenize(over)
    assert(ob.length === B)
    assert(ob.last.capCursor >= 0 && ob.last.capCursor < over.length)
    assert(ob.init.forall(_.capCursor === -1))
    // adversarial: cap coincides with the exact end of content — the
    // document IS fully consumed, nothing dropped, so NO cursor (the
    // tokenizer only sets cap_cursor when non-ws material remains past
    // the stop point; the old last-block-end-vs-contentEnd heuristic
    // over-flagged this)
    val exact = "<html><body>" +
      (0 until B - 1).map(i => s"<p>block number $i</p>").mkString +
      "<p>final words here"
    val eb = HtmlBlocks.tokenize(exact)
    assert(eb.length === B)
    assert(eb.last.capCursor === -1)
    // whitespace-only tail past the cap: consumed-equivalent, no cursor
    assert(HtmlBlocks.tokenize(exact + "  \n\t  ").last.capCursor === -1)
    // astral chars before the cap (each 2 UTF-16 units / 1 code point)
    // must not hide dropped content: the tokenizer's own-coordinate
    // test still flags — the old Spark-side compare of the UTF-16
    // cursor against the code-point contentEnd could under-flag this
    val astral = "<html><body><p>😀😀 intro</p>" +
      (0 until B).map(i => s"<p>block number $i</p>").mkString +
      "<p>dropped tail</p></body></html>"
    val ab = HtmlBlocks.tokenize(astral)
    assert(ab.length === B)
    assert(ab.last.capCursor >= 0)
    // no cap → no cursor anywhere
    assert(HtmlBlocks.tokenize("<p>a b</p><p>c d</p>")
      .forall(_.capCursor === -1))
  }
}
