package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{HtmlBlocks, NativeCall, PdfGlyphRuns, PlainNormalize}
import graft.expressions.TurnNative.PlainAltConf
import graft.TurnTwins.{sniff, toolJsonSpan, wholeSpan}

/** The html and pdf parses packed as the Spark structs the declarative
  * ladder in [[ExtractTwin]] reads: static calls for [[NativeCall.static]].
  */
object ParserStructs {

  /** NOT NULL struct of the given fields */
  private def requiredStruct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private val spansType: ArrayType = ArrayType(
    requiredStruct("start" -> IntegerType, "end" -> IntegerType), containsNull = false)

  /** one assembled block selection: joined text, spans, confidence, size */
  private val candidateType = requiredStruct("text" -> StringType,
    "spans" -> spansType, "conf" -> DoubleType, "n" -> IntegerType)

  /** [[html]]'s result: all blocks, the cap flag, and the primary (`kept`)
    * and aggressive (`aggr`) selections — each NULL when it is empty */
  val htmlType: StructType =
    requiredStruct("total" -> IntegerType, "truncated" -> BooleanType)
      .add("kept", candidateType).add("aggr", candidateType)

  val pdfType: StructType = requiredStruct(
    "text" -> StringType, "spans" -> spansType,
    "conf" -> DoubleType, "lines" -> IntegerType, "runs" -> IntegerType,
    "truncated" -> BooleanType)

  def html(input: UTF8String): InternalRow = {
    val h = HtmlBlocks.extract(input.toString)
    def candidate(c: Option[HtmlBlocks.Selection]): InternalRow = c.map { sel =>
      InternalRow(UTF8String.fromString(sel.text),
        new GenericArrayData(sel.blocks.map[Any](b => InternalRow(b.start, b.end)).toArray),
        sel.conf, sel.blocks.length)
    }.orNull
    InternalRow(h.total, h.truncated, candidate(h.kept), candidate(h.aggr))
  }

  def pdf(input: UTF8String): InternalRow = {
    val p = PdfGlyphRuns.extract(input.toString)
    InternalRow(UTF8String.fromString(p.text),
      new GenericArrayData(p.runs.map[Any](r => InternalRow(r.start, r.end))),
      p.conf, p.lines, p.runs.length, p.truncated)
  }
}

/** Declarative spec twin of [[graft.operators.Extract]]: the staged
  * Catalyst τ-ladder that [[graft.expressions.TurnNative.extract]]
  * replaced — each parse materialized once per row as a gated struct
  * column, and a CASE per format reading their fields. ExtractTwinSpec
  * checks native ≡ twin on seeded inputs.
  */
object ExtractTwin {

  /** the reference's enhance bar (`config.py:10-12`): a primary html
    * selection at or above it is accepted as-is. The native ladder has
    * no such clause, because keep-better already accepts it; keeping it
    * here lets ExtractTwinSpec show the two agree. */
  private val TauEnhance = 0.90

  private def res(path: Column, text: Column, spans: Column, conf: Column,
      status: Column, total: Column, kept: Column, truncated: Column): Column =
    struct(
      path.as("path"),
      text.as("text"),
      spans.as("spans"),
      conf.cast("double").as("confidence"),
      status.as("status"),
      total.cast("int").as("blocks_total"),
      kept.cast("int").as("blocks_kept"),
      truncated.as("truncated"))

  /** the plain normalization without its blank gate: every blank row is
    * routed to "blank" first */
  private def normalizeNonBlank(raw: Column): Column =
    column(NativeCall.static(PlainNormalize.getClass, "evalUtf8", StringType,
      Seq(expr(raw))))

  private val emptySpans: Column =
    array().cast("array<struct<start:int,end:int>>")

  private def blankRes: Column =
    res(lit("blank"), lit(""), emptySpans, lit(0.0), lit("blank"), lit(0), lit(0),
      lit(false))

  /** the whole payload, normalized, as its own single span */
  private def plainRes(raw: Column): Column =
    res(lit("plain"), normalizeNonBlank(raw), wholeSpan(raw), lit(1.0),
      lit("success"), lit(1), lit(1), lit(false))

  /** `t` is the staged parse of `$.output.text`, `s` its staged
    * [[toolJsonSpan]]; a failed parse falls back to the plain alternative
    */
  private def toolJsonRes(raw: Column, t: Column, s: Column): Column =
    when(t.isNotNull,
      res(lit("tooljson"), t, s.getField("spans"), s.getField("conf"),
        lit("success"), lit(1), lit(1), lit(false)))
      .otherwise(plainAlt(raw, lit("tooljson"), lit(1), lit(false)))

  /** html τ-ladder over the staged [[ParserStructs.html]] struct `h` */
  private def htmlRes(raw: Column, h: Column): Column = {
    val truncated = h.getField("truncated")
    def assemble(c: Column, status: String): Column =
      res(lit("html"), c.getField("text"), c.getField("spans"),
        c.getField("conf"), lit(status), h.getField("total"), c.getField("n"),
        truncated)

    val kept = h.getField("kept")
    val ckv = coalesce(kept.getField("conf"), lit(-1.0))
    val cav = coalesce(h.getField("aggr").getField("conf"), lit(-1.0))
    // accepted at τ_enhance, else the keep-better ladder below it (primary
    // wins ties; an empty selection competes at -1)
    when(kept.getField("conf") >= TauEnhance ||
      (ckv >= cav && ckv >= PlainAltConf), assemble(kept, "success"))
      .when(cav >= greatest(ckv, lit(PlainAltConf)),
        assemble(h.getField("aggr"), "fallback"))
      .otherwise(plainAlt(raw, lit("html"), h.getField("total"), truncated))
  }

  /** the plain alternative, inlined in each ladder branch that returns it */
  private def plainAlt(raw: Column, path: Column, total: Column,
      truncated: Column): Column =
    res(path, normalizeNonBlank(raw), wholeSpan(raw), lit(PlainAltConf),
      lit("fallback"), total, lit(0), truncated)

  /** pdf τ-ladder over the staged [[ParserStructs.pdf]] struct `p` */
  private def pdfRes(raw: Column, p: Column): Column = {
    val conf = p.getField("conf")
    val truncated = p.getField("truncated")
    when(p.getField("runs") > 0 && conf >= PlainAltConf,
      res(lit("pdf"), p.getField("text"), p.getField("spans"), conf,
        when(conf >= 1.0, "success").otherwise("fallback"),
        p.getField("lines"), p.getField("lines"), truncated))
      .otherwise(plainAlt(raw, lit("pdf"), lit(0), truncated))
  }

  /** [[graft.operators.Extract.apply]]'s output, declaratively */
  def apply(df: DataFrame): DataFrame = {
    val raw = col("text")
    val fmt = col("__fmt")
    val h = col("__h")
    val p = col("__p")
    val tj = col("__tj")
    val staged = df
      .withColumn("__fmt", sniff(raw, col("tool")))
      // stage the non-cheap parses ONCE per row, gated by format
      .withColumn("__h", when(fmt === "html",
        column(NativeCall.static(ParserStructs.getClass, "html",
          ParserStructs.htmlType, Seq(expr(raw))))))
      .withColumn("__p", when(fmt === "pdf",
        column(NativeCall.static(ParserStructs.getClass, "pdf",
          ParserStructs.pdfType, Seq(expr(raw))))))
      .withColumn("__tj", when(fmt === "tooljson",
        get_json_object(raw, "$.output.text")))
      // read twice by the tooljson branch (spans, conf): staged too
      .withColumn("__tjs", toolJsonSpan(raw, tj))

    val routed = staged.withColumn("__x",
      when(fmt === "blank", blankRes)
        .when(fmt === "pdf", pdfRes(raw, p))
        .when(fmt === "html", htmlRes(raw, h))
        .when(fmt === "tooljson", toolJsonRes(raw, tj, col("__tjs")))
        .otherwise(plainRes(raw)))

    routed.select(col("conv_id"), col("turn_idx"),
      col("__x.path").as("path"),
      col("__x.text").as("text"),
      col("__x.spans").as("spans"),
      col("__x.confidence").as("confidence"),
      col("__x.status").as("status"),
      col("__x.blocks_total").as("blocks_total"),
      col("__x.blocks_kept").as("blocks_kept"),
      col("__x.truncated").as("truncated"))
  }
}
