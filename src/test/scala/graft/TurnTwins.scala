package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Declarative spec twins of the native routing checks in
  * [[graft.expressions.TurnNative]]: the Catalyst regex and string
  * expressions they replaced, built from the same TextFunctions
  * constants. FunctionsSpec checks native ≡ twin on seeded inputs, and
  * [[ExtractTwin]] builds its ladder from them, so the twin side of
  * ExtractTwinSpec makes no TurnNative call.
  */
object TurnTwins {

  def isBlank(text: Column): Column =
    text.isNull || text.rlike(BlankRe)

  def sniff(text: Column, tool: Column): Column =
    when(isBlank(text), "blank")
      .when(text.rlike(PdfSniffRe), "pdf")
      .when(text.rlike(HtmlSniffRe), "html")
      .when(tool.isNotNull && text.rlike(JsonSniffRe), "tooljson")
      .otherwise("plain")

  def wholeSpan(text: Column): Column = {
    val s = contentStart(text)
    val e = contentEnd(text)
    when(e > s, array(struct(s.cast("int").as("start"), e.cast("int").as("end"))))
      .otherwise(array().cast("array<struct<start:int,end:int>>"))
  }

  /** `{spans, conf}` of the parsed tool value `t` (NULL when `t` is):
    * the 1-based `"output"` key position, the value marker searched from
    * there, and the raw substring at the value compared with `t`
    */
  def toolJsonSpan(raw: Column, t: Column): Column = {
    val outPos = instr(raw, "\"output\"")
    val markerPos = when(outPos > 0,
      call_function("locate", lit("\"text\":\""), raw, outPos))
      .otherwise(lit(0))
    val start = markerPos + lit(7) // 0-based offset of the value
    val verified = markerPos > 0 && raw.substr(start + 1, length(t)) === t
    when(t.isNotNull && verified, struct(
      array(struct(start.cast("int").as("start"),
        (start + length(t)).cast("int").as("end"))).as("spans"),
      lit(1.0).as("conf")))
      .when(t.isNotNull, struct(wholeSpan(raw).as("spans"), lit(0.9).as("conf")))
  }
}
