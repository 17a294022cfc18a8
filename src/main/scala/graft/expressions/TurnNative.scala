package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions.{HtmlSniffRe, JsonSniffRe, PdfSniffRe}

/** One turn of [[graft.operators.Extract]] as one static call,
  * [[extract]]: the blank check on the bytes, one decode, the content
  * sniff on the decoded text, the per-format parse ([[HtmlBlocks.extract]],
  * [[PdfGlyphRuns.extract]], `get_json_object`'s evaluator plus the
  * tool-JSON value span, or [[PlainNormalize]]) and the τ-ladder that
  * picks the result. The sniff and the blank check are also Column
  * functions of their own ([[graft.functions.TextFunctions]]). The call
  * replaces Catalyst expressions whose generated code pushed Extract's
  * row loop past HotSpot's 8,000-byte JIT limit (MethodSizeSpec).
  *
  * The regexes are the [[graft.functions.TextFunctions]] constants the
  * DuckDB twins are generated from; all are `\A`-anchored, so `lookingAt`
  * is `rlike`'s `find(0)` without the retry at every offset. The
  * declarative forms, the Catalyst ladder included, are the spec twins in
  * `src/test` (FunctionsSpec, ExtractTwinSpec).
  */
object TurnNative {

  private val PdfSniff = Pattern.compile(PdfSniffRe)
  private val HtmlSniff = Pattern.compile(HtmlSniffRe)
  private val JsonSniff = Pattern.compile(JsonSniffRe)

  private val Blank = UTF8String.fromString("blank")
  private val Pdf = UTF8String.fromString("pdf")
  private val Html = UTF8String.fromString("html")
  private val ToolJson = UTF8String.fromString("tooljson")
  private val Plain = UTF8String.fromString("plain")

  /** NULL, or every byte ≤ 0x20 — `BlankRe` (`[\s\x00-\x1F]` is exactly
    * U+0000..U+0020) on the UTF-8 bytes, where every non-ASCII byte is
    * ≥ 0x80.
    */
  def isBlank(text: UTF8String): Boolean = {
    if (text == null) return true
    var i = 0
    while (i < text.numBytes && (text.getByte(i) & 0xff) <= 0x20) i += 1
    i == text.numBytes
  }

  /** blank, pdf (magic, optionally behind one wrapping tag), html, tooljson
    * (a `{` payload with a tool) or plain — decoded once, cheapest first
    */
  def sniff(text: UTF8String, tool: UTF8String): UTF8String =
    if (isBlank(text)) Blank else sniff(text.toString, tool)

  /** [[sniff]] of the decoded text of a non-blank turn */
  private def sniff(s: String, tool: UTF8String): UTF8String =
    if (PdfSniff.matcher(s).lookingAt()) Pdf
    else if (HtmlSniff.matcher(s).lookingAt()) Html
    else if (tool != null && JsonSniff.matcher(s).lookingAt()) ToolJson
    else Plain

  /** raw-char spans `{start, end}`, the `spans` type of every path */
  val wholeSpanType: ArrayType = ArrayType(StructType(Seq(
    StructField("start", IntegerType), StructField("end", IntegerType))))

  /** Java-regex `\s`: space, \t, \n, \x0B, \f, \r */
  private def javaWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private def span(start: Int, end: Int): ArrayData =
    new GenericArrayData(Array[Any](InternalRow(start, end)))

  private def noSpans: ArrayData = new GenericArrayData(Array.empty[Any])

  /** The content region between leading and trailing `\s` runs, in code
    * points (Spark `length`); empty for NULL or all-`\s` text.
    */
  def wholeSpan(text: UTF8String): ArrayData =
    if (text == null) noSpans else wholeSpan(text.toString)

  /** [[wholeSpan]] of decoded text: the `\s` runs are ASCII, so their
    * char counts are code-point counts
    */
  private def wholeSpan(s: String): ArrayData = {
    var b = 0
    while (b < s.length && javaWs(s.charAt(b))) b += 1
    var e = s.length
    while (e > b && javaWs(s.charAt(e - 1))) e -= 1
    if (e == b) noSpans else span(b, b + s.codePointCount(b, e))
  }

  private val OutputKey = UTF8String.fromString("\"output\"")
  private val TextMarker = UTF8String.fromString("\"text\":\"")

  /** Span and confidence of a tool result's parsed `$.output.text` value
    * `t`: the value marker is searched from the `"output"` key onward (an
    * earlier unrelated `"text"` key cannot mis-anchor), and the value's
    * raw span is only reported, at confidence 1.0, when the raw chars
    * there equal `t` — JSON escapes break raw-offset equivalence, in which
    * case the whole-content span is reported at 0.9.
    */
  def toolJsonSpan(raw: UTF8String, t: UTF8String): InternalRow = {
    val out = raw.indexOf(OutputKey, 0)
    val marker = if (out < 0) -1 else raw.indexOf(TextMarker, out)
    val start = marker + TextMarker.numChars
    val end = start + t.numChars
    if (marker >= 0 && raw.substring(start, end) == t) InternalRow(span(start, end), 1.0)
    else InternalRow(wholeSpan(raw), 0.9)
  }

  // ------------------------------------------------------------- extract

  /** fixed confidence of the plain-normalization alternative */
  val PlainAltConf = 0.3

  /** [[extract]]'s result, Extract's output columns. `truncated` is the
    * truncation lineage (reference warnings trail, `pipeline.py:2799-2801`):
    * hostile payloads stop at the parsers' hard caps, and the flag records
    * that content MAY have been dropped, so the manifest's
    * `turns_truncated` sees it instead of a silent cap. Each parser derives
    * it in its own coordinates (PDF at the chunk bound, HTML from the
    * tokenizer's cap-hit cursor), and every result of a parsed path,
    * the plain alternative included, carries its parser's flag.
    */
  val extractType: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("text", StringType),
    StructField("spans", wholeSpanType),
    StructField("confidence", DoubleType),
    StructField("status", StringType, nullable = false),
    StructField("blocks_total", IntegerType),
    StructField("blocks_kept", IntegerType),
    StructField("truncated", BooleanType)))

  private val Success = UTF8String.fromString("success")
  private val Fallback = UTF8String.fromString("fallback")

  /** `get_json_object(_, '$.output.text')`'s own evaluator, one per
    * thread: `setJson` mutates it
    */
  private val OutputText = ThreadLocal.withInitial[GetJsonObjectEvaluator](
    () => new GetJsonObjectEvaluator(UTF8String.fromString("$.output.text")))

  /** One whole turn, `text` decoded at most once: the blank check on its
    * bytes, then the [[sniff]] of the decoded text routes it. Blank turns
    * are empty; a tool result reports its parsed `$.output.text` value
    * ([[toolJsonSpan]]); pdf and html parses go through the τ-ladder;
    * plain text is normalized. Every "fallback" result outside pdf and
    * html is the plain alternative ([[plainAlt]]), e.g. a tool result
    * whose value does not parse.
    */
  def extract(text: UTF8String, tool: UTF8String): InternalRow =
    if (isBlank(text))
      result(Blank, UTF8String.EMPTY_UTF8, noSpans, 0.0, Blank, 0, 0, truncated = false)
    else {
      val s = text.toString
      val fmt = sniff(s, tool)
      if (fmt eq Pdf) pdf(s)
      else if (fmt eq Html) html(s)
      else if (fmt eq ToolJson) toolJson(text, s)
      else result(Plain, UTF8String.fromString(PlainNormalize.normalize(s)),
        wholeSpan(s), 1.0, Success, 1, 1, truncated = false)
    }

  private def toolJson(text: UTF8String, s: String): InternalRow = {
    val json = OutputText.get
    json.setJson(text)
    json.evaluate() match {
      case t: UTF8String =>
        val sc = toolJsonSpan(text, t)
        result(ToolJson, t, sc.getArray(0), sc.getDouble(1), Success, 1, 1,
          truncated = false)
      case _ => plainAlt(s, ToolJson, 1, truncated = false)
    }
  }

  private def result(path: UTF8String, text: UTF8String, spans: ArrayData,
      conf: Double, status: UTF8String, total: Int, kept: Int,
      truncated: Boolean): InternalRow =
    InternalRow(path, text, spans, conf, status, total, kept, truncated)

  /** The plain-normalization alternative a low-confidence parse falls
    * back to, at [[PlainAltConf]] with no blocks kept.
    */
  private def plainAlt(s: String, path: UTF8String, total: Int,
      truncated: Boolean): InternalRow =
    result(path, UTF8String.fromString(PlainNormalize.normalize(s)), wholeSpan(s),
      PlainAltConf, Fallback, total, 0, truncated)

  /** html τ-ladder (reference `config.py:10-12`: accept 0.95 / enhance
    * 0.90 / escalate 0.85; routing `pipeline.py:1984-2050`): keep-better
    * across the primary selection, the aggressive re-parse of the SAME
    * row and the plain alternative (primary wins ties; an empty selection
    * competes at -1) — the scale-correct form of the reference's "retry
    * at 600 DPI and keep whichever is better" (a filter+union second pass
    * would double the input scan at 100 TB). Ladder-chosen alternatives
    * report status "fallback". A primary at the enhance bar is accepted
    * without a clause of its own: the aggressive confidence is halved, so
    * at most 0.5, and a primary at 0.90 already wins keep-better. The
    * escalate tier (<0.85 → LLM) has no Spark analog by design.
    */
  private def html(s: String): InternalRow = {
    val h = HtmlBlocks.extract(s)
    val ck = h.kept.fold(-1.0)(_.conf)
    val ca = h.aggr.fold(-1.0)(_.conf)
    def chosen(c: HtmlBlocks.Selection, status: UTF8String) =
      result(Html, UTF8String.fromString(c.text),
        new GenericArrayData(c.blocks.map[Any](b => InternalRow(b.start, b.end)).toArray),
        c.conf, status, h.total, c.blocks.length, h.truncated)
    if (ck >= ca && ck >= PlainAltConf) chosen(h.kept.get, Success)
    else if (ca >= math.max(ck, PlainAltConf)) chosen(h.aggr.get, Fallback)
    // best-effort return (`pipeline.py:2052-2065`): the plain
    // normalization of the raw payload beats everything parsed
    else plainAlt(s, Html, h.total, h.truncated)
  }

  /** pdf τ-ladder: the plain alternative IS the pdf path's alternative —
    * zero runs, or a run fraction below [[PlainAltConf]], returns it.
    */
  private def pdf(s: String): InternalRow = {
    val p = PdfGlyphRuns.extract(s)
    if (p.runs.nonEmpty && p.conf >= PlainAltConf)
      result(Pdf, UTF8String.fromString(p.text),
        new GenericArrayData(p.runs.map[Any](r => InternalRow(r.start, r.end))),
        p.conf, if (p.conf >= 1.0) Success else Fallback, p.lines, p.lines, p.truncated)
    else plainAlt(s, Pdf, 0, p.truncated)
  }
}
