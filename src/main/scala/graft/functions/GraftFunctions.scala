package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}

import graft.expressions.{HtmlBlocks, KieBest, PdfGlyphRuns, Simhash, TokenSpans, VecDot}

/** Column facade + SQL registration for the graft's custom Catalyst
  * expressions: each name is a `RuntimeReplaceable` shell over a
  * [[graft.expressions.NativeCall]]. Everything else in the engine is
  * Spark built-ins.
  */
object GraftFunctions {

  /** `html_blocks(text)` → array<struct<text,start,end,words,link_words,
    * boiler,cwords,clink_words,cmax_words,cap_cursor>>
    */
  def html_blocks(text: Column): Column =
    column(HtmlBlocks(expr(text)))

  /** `pdf_glyph_runs(text)` → array<struct<line,x,y,text,start,end>> */
  def pdf_glyph_runs(text: Column): Column =
    column(PdfGlyphRuns(expr(text)))

  /** `simhash64(text)` → 64-bit document fingerprint (long) */
  def simhash64(text: Column): Column =
    column(Simhash(expr(text)))

  /** `kie_best(text)` → struct<ke:int,kc:int> best field candidates */
  def kie_best(text: Column): Column =
    column(KieBest(expr(text)))

  /** `token_spans(text)` → array<struct<tok,start,end>> whitespace tokens
    * with offsets in the single-space-collapsed string
    */
  def token_spans(text: Column): Column =
    column(TokenSpans(expr(text)))

  /** One SQL-callable custom expression: name, usage text, accepted
    * argument counts and builder. [[builder]] gates the exact arity
    * (review fix: `exprs.head` builders silently DROPPED surplus
    * arguments — e.g. a misremembered html_blocks(text, limit) analyzed
    * fine and ignored the limit).
    */
  private[graft] final case class SqlFunction(name: String, usage: String,
      arities: Set[Int], build: Seq[Expression] => Expression) {
    val builder: Seq[Expression] => Expression = { exprs =>
      require(arities.contains(exprs.length),
        s"$name expects ${arities.toSeq.sorted.mkString(" or ")} argument(s), " +
          s"got ${exprs.length}")
      build(exprs)
    }
  }

  /** The one function table both SQL registration paths loop over:
    * [[register]] (session temp functions) and [[graft.GraftExtensions]]
    * (catalog-visible, injected at session build).
    */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("html_blocks",
      "html_blocks(text) - tokenizes HTML into content blocks with spans and link-density features",
      Set(1), e => HtmlBlocks(e.head)),
    SqlFunction("pdf_glyph_runs",
      "pdf_glyph_runs(text) - parses glyph-run payloads into line-clustered runs with spans",
      Set(1), e => PdfGlyphRuns(e.head)),
    SqlFunction("vec_dot",
      "vec_dot(a, b) - allocation-free dot product of two array<double> columns",
      Set(2), e => VecDot(e.head, e(1))),
    SqlFunction("simhash64",
      "simhash64(text) - single-pass 64-bit SimHash document fingerprint",
      Set(1), e => Simhash(e.head)),
    SqlFunction("kie_best",
      "kie_best(text) - best electricity/carbon KIE candidates as struct<ke,kc>",
      Set(1), e => KieBest(e.head)),
    SqlFunction("token_spans",
      "token_spans(text) - whitespace tokens with char spans in the single-space-collapsed string",
      Set(1), e => TokenSpans(e.head)))

  /** Register the expressions for SQL use (`SELECT html_blocks(text)…`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.builder, "built-in"))
  }
}
