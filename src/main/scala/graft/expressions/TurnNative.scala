package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions.{HtmlSniffRe, JsonSniffRe, PdfSniffRe}

/** The per-turn routing checks of [[graft.operators.Extract]] as static
  * calls, each staged through one [[NativeCall.static]] like
  * [[HtmlBlocks.extract]]: the content sniff, the blank check, the
  * whole-content span and the tool-JSON value span. Each replaces a chain
  * of regex and string expressions whose generated code pushed Extract's
  * row loop past HotSpot's 8,000-byte JIT limit (MethodSizeSpec).
  *
  * The regexes are the [[graft.functions.TextFunctions]] constants the
  * DuckDB twins are generated from; all are `\A`-anchored, so `lookingAt`
  * is `rlike`'s `find(0)` without the retry at every offset. The
  * declarative forms are the spec twins in `src/test` (FunctionsSpec).
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
    if (isBlank(text)) Blank
    else {
      val s = text.toString
      if (PdfSniff.matcher(s).lookingAt()) Pdf
      else if (HtmlSniff.matcher(s).lookingAt()) Html
      else if (tool != null && JsonSniff.matcher(s).lookingAt()) ToolJson
      else Plain
    }

  /** `wholeSpan`'s type: one `{start, end}` or none */
  val wholeSpanType: ArrayType = ArrayType(StructType(Seq(
    StructField("start", IntegerType), StructField("end", IntegerType))))

  /** Java-regex `\s`: space, \t, \n, \x0B, \f, \r */
  private def javaWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** The content region between leading and trailing `\s` runs, in code
    * points (Spark `length`); empty for NULL or all-`\s` text. The runs
    * are ASCII, so a byte scan from each end counts their chars.
    */
  def wholeSpan(text: UTF8String): ArrayData = {
    val n = if (text == null) 0 else text.numBytes
    var b = 0
    while (b < n && javaWs(text.getByte(b))) b += 1
    var e = n
    while (e > b && javaWs(text.getByte(e - 1))) e -= 1
    new GenericArrayData(
      if (e == b) Array.empty[Any]
      else Array[Any](InternalRow(b, text.numChars - (n - e))))
  }

  /** [[toolJsonSpan]]'s result */
  val toolJsonType: StructType = HtmlBlocks.requiredStruct(
    "spans" -> HtmlBlocks.spansType, "conf" -> DoubleType)

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
    if (marker >= 0 && raw.substring(start, end) == t)
      InternalRow(new GenericArrayData(Array[Any](InternalRow(start, end))), 1.0)
    else InternalRow(wholeSpan(raw), 0.9)
  }
}
