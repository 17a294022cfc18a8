package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

import graft.expressions.{HtmlBlocks, KieBest, NativeFunction, PdfGlyphRuns, Simhash, TokenSpans, VecDot}

/** Column facade + SQL registration for the graft's named natives: each
  * name is a [[graft.expressions.NativeFunction]] over a static call.
  * Everything else in the engine is Spark built-ins.
  */
object GraftFunctions {

  /** `html_blocks(text)` → array<struct<text,start,end,words,link_words,
    * boiler,cwords,clink_words,cmax_words,cap_cursor>>
    */
  def html_blocks(text: Column): Column = call("html_blocks", text)

  /** `pdf_glyph_runs(text)` → array<struct<line,x,y,text,start,end>> */
  def pdf_glyph_runs(text: Column): Column = call("pdf_glyph_runs", text)

  /** `simhash64(text)` → 64-bit document fingerprint (long) */
  def simhash64(text: Column): Column = call("simhash64", text)

  /** `kie_best(text)` → struct<ke:int,kc:int> best field candidates */
  def kie_best(text: Column): Column = call("kie_best", text)

  /** `token_spans(text)` → array<struct<tok,start,end>> whitespace tokens
    * with offsets in the single-space-collapsed string
    */
  def token_spans(text: Column): Column = call("token_spans", text)

  /** One SQL-callable native: name, usage text, and the static call
    * `owner.method` with its output type and argument types. [[builder]]
    * gates the exact arity (review fix: `exprs.head` builders silently
    * DROPPED surplus arguments — e.g. a misremembered
    * html_blocks(text, limit) analyzed fine and ignored the limit).
    */
  private[graft] final case class SqlFunction(name: String, usage: String,
      owner: Class[_], method: String, outType: DataType, inputTypes: Seq[DataType]) {
    val builder: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == inputTypes.length,
        s"$name expects ${inputTypes.length} argument(s), got ${exprs.length}")
      NativeFunction(name, owner, method, outType, inputTypes, exprs)
    }
  }

  /** The one function table both SQL registration paths loop over:
    * [[register]] (session temp functions) and [[graft.GraftExtensions]]
    * (catalog-visible, injected at session build).
    */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("html_blocks",
      "html_blocks(text) - tokenizes HTML into content blocks with spans and link-density features",
      HtmlBlocks.getClass, "evalUtf8", HtmlBlocks.outType, Seq(StringType)),
    SqlFunction("pdf_glyph_runs",
      "pdf_glyph_runs(text) - parses glyph-run payloads into line-clustered runs with spans",
      PdfGlyphRuns.getClass, "evalUtf8", PdfGlyphRuns.outType, Seq(StringType)),
    SqlFunction("vec_dot",
      "vec_dot(a, b) - allocation-free dot product of two array<double> columns",
      VecDot.getClass, "dot", DoubleType, Seq(ArrayType(DoubleType), ArrayType(DoubleType))),
    SqlFunction("simhash64",
      "simhash64(text) - single-pass 64-bit SimHash document fingerprint",
      Simhash.getClass, "evalUtf8", LongType, Seq(StringType)),
    SqlFunction("kie_best",
      "kie_best(text) - best electricity/carbon KIE candidates as struct<ke,kc>",
      KieBest.getClass, "evalUtf8", KieBest.outType, Seq(StringType)),
    SqlFunction("token_spans",
      "token_spans(text) - whitespace tokens with char spans in the single-space-collapsed string",
      TokenSpans.getClass, "evalUtf8", TokenSpans.OutType, Seq(StringType)))

  /** The table's `name` over `args`, as a Column. */
  private[graft] def call(name: String, args: Column*): Column =
    column(sqlFunctions.find(_.name == name).get.builder(args.map(expr)))

  /** Register the expressions for SQL use (`SELECT html_blocks(text)…`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.builder, "built-in"))
  }
}
