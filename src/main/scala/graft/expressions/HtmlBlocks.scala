package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Streaming HTML tag tokenizer + block builder as a native Catalyst
  * call: `html_blocks(text)` →
  * `array<struct<text,start,end,words,link_words,boiler>>`.
  *
  * One pass over the payload: tags are tokenized (attributes skipped
  * quote-aware, comments and script/style content dropped), text content is
  * entity-decoded and whitespace-collapsed, and block-level tags flush
  * accumulated text into block structs carrying
  *  - `text`  — decoded, collapsed block text
  *  - `start`/`end` — char-span of the block's content in the RAW payload
  *  - `words` / `link_words` — token counts for Boilerpipe-style
  *    text-density / link-density classification
  *  - `boiler` — inside a nav/header/footer/aside ancestor
  *
  * This is the graft analog of the reference's text-detection stage (boxes +
  * per-box features, `pytorch_mobile/ocr_pipeline.py:447-533`).
  * [[HtmlBlocks.extract]] adds the classification and confidence on top;
  * [[TurnNative.extract]] arbitrates its selections on the τ-ladder.
  *
  * The SQL name is a [[NativeFunction]] over a static call of
  * [[HtmlBlocks.evalUtf8]]. Per-row cost is linear in payload size.
  */
object HtmlBlocks {

  /** classifier: minimum words for a content block (Boilerpipe-style) */
  val MinWords = 8

  /** One block selection and its confidence. */
  final case class Selection(blocks: Vector[Block], conf: Double) {
    /** the blocks' texts, newline-joined */
    def text: String = blocks.map(_.text).mkString("\n")
  }

  /** [[extract]]'s result: the block count, the cap flag, and the primary
    * (`kept`) and aggressive (`aggr`) selections, each None when empty. */
  final case class Extracted(total: Int, truncated: Boolean,
      kept: Option[Selection], aggr: Option[Selection])

  /** The html path's parse, one call: tokenize, then select the
    * density-classified blocks (`kept`, see [[keep]]) and the aggressive
    * re-parse (`aggr`: every non-boiler block regardless of density, its
    * confidence halved — the re-parse penalty). Confidence is the
    * reference's top-k geometric mean (A1) over per-block
    * (1 - link_density²) scores. `truncated`: the [[MaxBlocks]] cap fired
    * with non-whitespace content left past the stop point (`capCursor`).
    */
  def extract(s: String): Extracted = {
    val blocks = tokenize(s)
    val n = blocks.length
    Extracted(n, n == MaxBlocks && blocks.last.capCursor >= 0,
      select(blocks.filter(keep), 1.0), select(blocks.filterNot(_.boiler), 0.5))
  }

  /** Boilerpipe-style keep predicate with Readability-style subtree
    * rescue: a block below the per-block word floor is still kept when its
    * container subtree is content-dense (aggregate words ≥ 2×floor at
    * acceptable aggregate link density) AND the container consists
    * entirely of small blocks — a content `<div>` of many short `<p>`s no
    * longer drops wholesale, while short trimmings sharing a container
    * with a substantial block stay dropped (that block already carries
    * the container's content).
    */
  private def keep(b: Block): Boolean =
    !b.boiler && b.linkWords * 3 <= b.words &&
      (b.words >= MinWords ||
        (b.cmaxWords < MinWords && b.cwords >= MinWords * 2 &&
          b.clinkWords * 3 <= b.cwords))

  private def select(bs: Vector[Block], confScale: Double): Option[Selection] =
    if (bs.isEmpty) None
    else Some(Selection(bs, geoMeanTopK(bs.map { b =>
      val ld = b.linkWords.toDouble / b.words
      1.0 - ld * ld
    }.toArray) * confScale))

  /** Top-k geometric mean (reference `field_confidence`,
    * `pipeline.py:399-414`): floor each score at 1e-3, keep the top 80 %
    * when n > 20, return prod^(1/k) — summed in descending order with
    * StrictMath, as Spark's `log`/`exp` evaluate it, so the value is bit
    * for bit `graft.functions.TextFunctions.geoMeanTopK`. Sorts `scores`
    * in place.
    */
  def geoMeanTopK(scores: Array[Double]): Double = {
    val n = scores.length
    val k = if (n > 20) math.ceil(n * 0.8).toInt else n
    java.util.Arrays.sort(scores)
    if (n == 0) 0.0
    else StrictMath.exp((n - 1 to n - k by -1).foldLeft(0.0)((acc, i) =>
      acc + StrictMath.log(math.max(scores(i), 1e-3))) / k)
  }

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String): ArrayData = {
    val blocks = tokenize(input.toString)
    new GenericArrayData(blocks.map { b =>
      InternalRow(UTF8String.fromString(b.text), b.start, b.end,
        b.words, b.linkWords, b.boiler, b.cwords, b.clinkWords, b.cmaxWords,
        b.capCursor)
    }.toArray[Any])
  }

  val blockStruct: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("words", IntegerType, nullable = false),
    StructField("link_words", IntegerType, nullable = false),
    StructField("boiler", BooleanType, nullable = false),
    StructField("cwords", IntegerType, nullable = false),
    StructField("clink_words", IntegerType, nullable = false),
    StructField("cmax_words", IntegerType, nullable = false),
    // raw UTF-16 cursor position where tokenization STOPPED because the
    // MaxBlocks cap fired WITH non-whitespace material remaining beyond
    // it, carried on the LAST block (-1 everywhere else, when the cap
    // never fired, and when the stop point had only whitespace after
    // it): `cap_cursor >= 0` IS the dropped-content signal — the test
    // lives in the tokenizer's own coordinates (round-5 review: a
    // Spark-side compare against the code-point contentEnd could
    // under-flag astral-char payloads; round-4 verdict #6: the earlier
    // last-block-end heuristic over-flagged a fully-consumed document
    // and could not name where the scan stopped)
    StructField("cap_cursor", IntegerType, nullable = false)))

  val outType: DataType = ArrayType(blockStruct, containsNull = false)

  final case class Block(text: String, start: Int, end: Int,
      words: Int, linkWords: Int, boiler: Boolean,
      var cwords: Int = 0, var clinkWords: Int = 0, var cmaxWords: Int = 0,
      var capCursor: Int = -1)

  /** tags that terminate the current text block */
  private val blockTags: Set[String] = Set(
    "html", "head", "body", "title", "p", "div", "h1", "h2", "h3", "h4",
    "h5", "h6", "ul", "ol", "li", "table", "thead", "tbody", "tr", "td",
    "th", "br", "hr", "pre", "blockquote", "section", "article", "nav",
    "header", "footer", "aside", "form", "main", "figure", "figcaption",
    "dl", "dt", "dd", "caption")

  private val boilerTags: Set[String] = Set("nav", "header", "footer", "aside")

  /** tags opening a Readability-style scoring subtree ("container"):
    * per-block keep decisions may be rescued by their container's
    * aggregate text/link density (north-star "Readability-like DOM-
    * subtree scoring") — a content `<div>` of many short `<p>`s keeps
    * its children even though each is below the per-block word floor.
    */
  private val containerTags: Set[String] = Set(
    "body", "div", "article", "section", "main", "td", "li",
    "blockquote", "form", "figure")

  private val namedEntities: Map[String, Char] = Map(
    "amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"',
    "apos" -> '\'', "nbsp" -> ' ')

  /** hard cap on emitted blocks per payload (reference
    * max_candidates=1000, `pytorch_mobile/ocr_pipeline.py:474`): a
    * hostile payload stops tokenizing here instead of materializing an
    * unbounded block array.
    */
  val MaxBlocks = 1000

  // scalastyle:off cyclomatic.complexity method.length
  def tokenize(s: String): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val containerOf = Vector.newBuilder[Int] // parallel: block → container id
    var emitted = 0
    val n = s.length
    var i = 0
    var anchorDepth = 0
    var boilerDepth = 0
    var containerId = 0 // 0 = document root
    var nextContainerId = 1
    val containerStack = scala.collection.mutable.ArrayBuffer.empty[Int]

    // current block accumulation
    val text = new java.lang.StringBuilder(64)
    var bStart = -1
    var bEnd = -1
    var words = 0
    var linkWords = 0
    var boiler = false
    var pendingWs = false
    var inWord = false

    def flush(): Unit = {
      if (text.length > 0) {
        out += Block(text.toString, bStart, bEnd, words, linkWords, boiler)
        containerOf += containerId
        emitted += 1
      }
      text.setLength(0); bStart = -1; bEnd = -1
      words = 0; linkWords = 0; boiler = false
      pendingWs = false; inWord = false
    }

    /** append one decoded content char whose raw source occupied [rs, re) */
    def content(c: Char, rs: Int, re: Int): Unit = {
      if (c.isWhitespace) {
        if (text.length > 0) pendingWs = true
        inWord = false
      } else {
        if (pendingWs) { text.append(' '); pendingWs = false }
        if (!inWord) {
          words += 1
          if (anchorDepth > 0) linkWords += 1
          inWord = true
        }
        if (text.length == 0) boiler = boilerDepth > 0
        if (bStart < 0) bStart = rs
        text.append(c)
        bEnd = re
      }
    }

    def lowerName(from: Int): (String, Int) = {
      var j = from
      val sb = new java.lang.StringBuilder(8)
      while (j < n && (s.charAt(j).isLetterOrDigit)) {
        val c = s.charAt(j)
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        j += 1
      }
      (sb.toString, j)
    }

    /** skip attributes, quote-aware; returns index after '>' (or n) and
      * whether the tag self-closed (a '/' immediately before '>').
      */
    def skipToTagEnd(from: Int): (Int, Boolean) = {
      var j = from
      var quote: Char = 0
      var prev: Char = 0
      while (j < n) {
        val c = s.charAt(j)
        if (quote != 0) { if (c == quote) quote = 0 }
        else if (c == '"' || c == '\'') quote = c
        else if (c == '>') return (j + 1, prev == '/')
        if (quote == 0 && !c.isWhitespace) prev = c
        j += 1
      }
      (n, false)
    }

    while (i < n && emitted < MaxBlocks) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && s.charAt(i + 1) == '!') {
          val e = s.indexOf('>', i + 2) // <!doctype ...>
          i = if (e < 0) n else e + 1
        } else if (i + 1 < n && (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '/')) {
          val closing = s.charAt(i + 1) == '/'
          val (name, afterName) = lowerName(if (closing) i + 2 else i + 1)
          if (name.isEmpty) { content('<', i, i + 1); i += 1 }
          else {
            val (afterTag, selfClosed) = skipToTagEnd(afterName)
            i = afterTag
            if (!closing && (name == "script" || name == "style")) {
              flush()
              // skip raw content until matching close tag (case-insensitive)
              val close = "</" + name
              var j = i
              var found = -1
              while (found < 0 && j >= 0) {
                j = s.indexOf('<', j)
                if (j < 0) found = n
                else if (j + close.length <= n &&
                  s.regionMatches(true, j, close, 0, close.length)) {
                  val e = s.indexOf('>', j)
                  found = if (e < 0) n else e + 1
                } else j += 1
              }
              i = found
            } else {
              if (name == "a") {
                if (closing) anchorDepth = math.max(0, anchorDepth - 1)
                else if (!selfClosed) anchorDepth += 1
              }
              if (blockTags.contains(name)) {
                flush()
                if (boilerTags.contains(name)) {
                  if (closing) boilerDepth = math.max(0, boilerDepth - 1)
                  else if (!selfClosed) boilerDepth += 1
                }
                if (containerTags.contains(name)) {
                  if (closing) {
                    containerId =
                      if (containerStack.nonEmpty)
                        containerStack.remove(containerStack.length - 1)
                      else 0
                  } else if (!selfClosed) {
                    containerStack += containerId
                    containerId = nextContainerId
                    nextContainerId += 1
                  }
                }
              }
            }
          }
        } else {
          content('<', i, i + 1); i += 1
        }
      } else if (c == '&') {
        // entity: &name; | &#dd; | &#xHH;   (bounded scan, else literal '&')
        var j = i + 1
        var k = 0
        while (j < n && k < 10 && s.charAt(j) != ';' &&
          (s.charAt(j).isLetterOrDigit || s.charAt(j) == '#')) { j += 1; k += 1 }
        if (j < n && s.charAt(j) == ';' && j > i + 1) {
          val body = s.substring(i + 1, j)
          val decoded: Option[Char] =
            if (body.charAt(0) == '#') {
              val num = body.substring(1)
              try {
                val cp =
                  if (num.nonEmpty && (num.charAt(0) == 'x' || num.charAt(0) == 'X'))
                    Integer.parseInt(num.substring(1), 16)
                  else Integer.parseInt(num)
                if (cp >= 0 && cp <= 0xFFFF) Some(cp.toChar) else None
              } catch { case _: NumberFormatException => None }
            } else namedEntities.get(body.toLowerCase(java.util.Locale.ROOT))
          decoded match {
            case Some(ch) => content(ch, i, j + 1); i = j + 1
            case None => content('&', i, i + 1); i += 1
          }
        } else { content('&', i, i + 1); i += 1 }
      } else {
        content(c, i, i + 1)
        i += 1
      }
    }
    if (emitted < MaxBlocks) flush()
    val blocks = out.result()
    // cap fired AND non-whitespace material remains beyond the stop
    // point: record where the scan stopped on the last block. The
    // dropped-content test lives HERE, in the tokenizer's own UTF-16
    // coordinates — a Spark-side `cap_cursor < contentEnd(raw)` compare
    // mixed UTF-16 code units with code-point lengths, so payloads with
    // astral chars (each 2 units / 1 point) could under-flag dropped
    // content. Whitespace class matches contentEnd's Java-regex \s
    // ([ \t\n\x0B\f\r]): ANY other char — markup included — counts as
    // dropped, keeping the flag conservative (never the reverse).
    if (emitted == MaxBlocks && blocks.nonEmpty) {
      var j = i; var dropped = false
      while (j < n && !dropped) {
        val c = s.charAt(j)
        dropped = c != ' ' && c != '\t' && c != '\n' &&
          c != '\u000B' && c != '\f' && c != '\r'
        j += 1
      }
      if (dropped) blocks.last.capCursor = i
    }
    // Readability-style container totals: per nearest container subtree,
    // sum the words/link-words of its NON-boiler blocks (boiler content
    // must not rescue its neighbors), then annotate every block
    val cids = containerOf.result()
    val totW = scala.collection.mutable.Map.empty[Int, Int]
    val totL = scala.collection.mutable.Map.empty[Int, Int]
    val maxW = scala.collection.mutable.Map.empty[Int, Int]
    var k = 0
    while (k < blocks.length) {
      if (!blocks(k).boiler) {
        val c = cids(k)
        totW(c) = totW.getOrElse(c, 0) + blocks(k).words
        totL(c) = totL.getOrElse(c, 0) + blocks(k).linkWords
        maxW(c) = math.max(maxW.getOrElse(c, 0), blocks(k).words)
      }
      k += 1
    }
    k = 0
    while (k < blocks.length) {
      val c = cids(k)
      blocks(k).cwords = totW.getOrElse(c, 0)
      blocks(k).clinkWords = totL.getOrElse(c, 0)
      blocks(k).cmaxWords = maxW.getOrElse(c, 0)
      k += 1
    }
    blocks
  }
  // scalastyle:on
}
