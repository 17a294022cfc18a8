package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}

import graft.expressions.{HtmlBlocks, NativeCall, PdfGlyphRuns}
import graft.functions.TextFunctions._

/** The extraction core: per-turn content sniffing → per-format extraction
  * path → extracted text + raw-char spans + confidence + status. Narrow
  * (no shuffle), staged projections.
  *
  * Spark re-expression of the reference's run_ocr routing
  * (`pipeline.py:1889-2065`): the cheapest check (blank) is the first CASE
  * branch — predicate-order short-circuiting plays the role of the
  * reference's early blank detection (`pipeline.py:1917-1936`); the
  * per-path low-confidence fallback re-parse (aggressive params) lives in
  * lazy CASE branches of the SAME projection with keep-better semantics,
  * the scale-correct form of the reference's "retry at 600 DPI and keep
  * whichever is better" (`pipeline.py:1989-2002`) — a filter+union second
  * pass was rejected because it doubles the input scan at 100 TB.
  *
  * Staging note (scale-critical): each parsed path is ONE native call —
  * [[graft.expressions.HtmlBlocks.extract]] /
  * [[graft.expressions.PdfGlyphRuns.extract]], each owning its path's
  * classification, chunking, reading order and caps — and it and the
  * Jackson JSON parse are materialized ONCE per row as intermediate
  * struct columns, gated by the sniffed format (`when(fmt === ..., parse)`);
  * the τ-ladder CASE reads their fields. Catalyst's CollapseProject keeps
  * the stages separate because the producing expressions are non-cheap
  * and multiply-referenced; without this the assembled CASE would
  * re-evaluate each parse several times per row. The plain normalization
  * and the whole-content span are not staged: they sit in each ladder
  * branch that returns them, and a CASE evaluates one branch per row. The
  * sniff, the blank check, the whole-content span and the tool-JSON value
  * span are [[graft.expressions.TurnNative]] calls too: the whole stage
  * compiles to one generated row loop, and HotSpot leaves a method over
  * 8,000 bytecode bytes to the interpreter — MethodSizeSpec holds every
  * stage of Extract and of the job's map stage under that limit.
  */
object Extract {

  /** Confidence ladder (reference `config.py:10-12`: accept 0.95 /
    * enhance 0.90 / escalate 0.85; routing `pipeline.py:1984-2050`): a
    * parse at or above TauEnhance is accepted as-is; below it the
    * alternate parses of the SAME row (aggressive re-parse, plain
    * normalization) are evaluated lazily and whichever confidence wins is
    * kept — the scale-correct form of the reference's "retry at 600 DPI
    * and keep whichever is better" (a filter+union second pass would
    * double the input scan at 100 TB). The escalate tier (<0.85 → LLM)
    * has no Spark analog by design; keep-better best-effort applies.
    */
  val TauEnhance = 0.90

  /** fixed confidence of the plain-normalization alternative */
  val PlainAltConf = 0.3

  /** Output struct shared by every path.
    *
    * `truncated` is the truncation lineage (reference warnings trail,
    * `pipeline.py:2799-2801`): hostile payloads stop at the parsers' hard
    * caps — the flag records that content MAY have been dropped, so
    * lineage (manifest `turns_truncated`) sees it instead of a silent cap.
    * The flag is CONSERVATIVE, like the reference's page-count warning,
    * and each parser derives it in its own coordinates: PDF at the CHUNK
    * bound (single-window overflows are chunk-processed, not dropped),
    * HTML from the tokenizer's cap-hit cursor. Every ladder branch of a
    * parsed path carries its parser's flag.
    */
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

  private val emptySpans: Column =
    array().cast("array<struct<start:int,end:int>>")

  // ------------------------------------------------------------- blank

  private def blankRes: Column =
    res(lit("blank"), lit(""), emptySpans, lit(0.0), lit("blank"), lit(0), lit(0),
      lit(false))

  // ------------------------------------------------------------- plain

  /** the whole payload, normalized, as its own single span */
  private def plainRes(raw: Column): Column =
    res(lit("plain"), normalizeNonBlank(raw), wholeSpan(raw), lit(1.0),
      lit("success"), lit(1), lit(1), lit(false))

  // ------------------------------------------------------------- tooljson

  /** JSON tool-result path: `$.output.text` via Jackson-backed
    * get_json_object (SURVEY X12), with span and confidence from the
    * staged [[toolJsonSpan]] struct `s` (the value's raw span at
    * 1.0 when the raw chars there equal the parsed value, else the whole
    * content at 0.9); on parse failure falls back to the plain
    * normalization path with reduced confidence (status `fallback`).
    * `t` is the staged (once-per-row) parse result column.
    */
  private def toolJsonRes(raw: Column, t: Column, s: Column): Column =
    when(t.isNotNull,
      res(lit("tooljson"), t, s.getField("spans"), s.getField("conf"),
        lit("success"), lit(1), lit(1), lit(false)))
      .otherwise(plainAlt(raw, lit("tooljson"), lit(1), lit(false)))

  // ------------------------------------------------------------- html

  /** HTML path from the staged [[HtmlBlocks.extract]] struct `h`: `kept`
    * (density-classified content blocks) and `aggr` (the aggressive
    * re-parse, confidence pre-halved), each NULL when empty.
    *
    * τ-ladder ([[TauEnhance]]): primary at ≥ 0.90 is accepted; below
    * that, keep-better across primary / aggressive / plain-normalization
    * (the round-2 form only cascaded on EMPTY parses — a one-garbage-
    * block parse at confidence 0.001 never tried the alternatives).
    * Ladder-chosen alternatives report status "fallback" (the status
    * vocabulary is the {success, fallback, blank} contract).
    */
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
      // best-effort return (`pipeline.py:2052-2065`): the plain
      // normalization of the raw payload beats everything parsed
      .otherwise(plainAlt(raw, lit("html"), h.getField("total"), truncated))
  }

  /** Low-confidence plain-path alternative used by the per-path cascade.
    * Inlined in each ladder branch that returns it: a CASE evaluates one
    * branch per row, so the normalization runs at most once per row, and
    * only on rows the ladder hands to it.
    */
  private def plainAlt(raw: Column, path: Column, total: Column,
      truncated: Column): Column =
    res(path, normalizeNonBlank(raw), wholeSpan(raw), lit(PlainAltConf),
      lit("fallback"), total, lit(0), truncated)

  // ------------------------------------------------------------- pdf

  /** PDF path from the staged [[PdfGlyphRuns.extract]] struct `p`:
    * reading-order text and spans, `lines` (distinct text lines) and
    * `conf` (parsed-run fraction over candidate `G ` lines).
    *
    * τ-ladder: the pdf alternative IS the plain normalization — a parse
    * whose run fraction falls below [[PlainAltConf]] loses the
    * keep-better comparison and returns the plain alternative (the
    * round-2 form only cascaded when ZERO runs parsed).
    */
  private def pdfRes(raw: Column, p: Column): Column = {
    val conf = p.getField("conf")
    val truncated = p.getField("truncated")
    when(p.getField("runs") > 0 && conf >= PlainAltConf,
      res(lit("pdf"), p.getField("text"), p.getField("spans"), conf,
        when(conf >= 1.0, "success").otherwise("fallback"),
        p.getField("lines"), p.getField("lines"), truncated))
      // keep-better: zero runs OR run fraction below the plain
      // alternative's confidence → plain normalization wins
      .otherwise(plainAlt(raw, lit("pdf"), lit(0), truncated))
  }

  // ------------------------------------------------------------- routing

  /** transcripts(conv_id, turn_idx, role, text, tool, ts) →
    * extracted(conv_id, turn_idx, path, text, spans, confidence, status,
    * blocks_total, blocks_kept)
    */
  def apply(df: DataFrame): DataFrame = apply(df, Nil)

  /** As [[apply]], additionally passing through `passThrough` input
    * columns unchanged (e.g. `ts` for event-time streaming aggregation).
    */
  def apply(df: DataFrame, passThrough: Seq[String]): DataFrame = {
    val raw = col("text")
    val fmt = col("__fmt")
    val h = col("__h")
    val p = col("__p")
    val tj = col("__tj")
    val staged = df
      .withColumn("__fmt", sniff(raw, col("tool")))
      // stage the non-cheap parses ONCE per row, gated by format
      .withColumn("__h", when(fmt === "html",
        column(NativeCall.static(HtmlBlocks.getClass, "extract",
          HtmlBlocks.extractType, Seq(expr(raw))))))
      .withColumn("__p", when(fmt === "pdf",
        column(NativeCall.static(PdfGlyphRuns.getClass, "extract",
          PdfGlyphRuns.extractType, Seq(expr(raw))))))
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

    routed.select(Seq(col("conv_id"), col("turn_idx"),
      col("__x.path").as("path"),
      col("__x.text").as("text"),
      col("__x.spans").as("spans"),
      col("__x.confidence").as("confidence"),
      col("__x.status").as("status"),
      col("__x.blocks_total").as("blocks_total"),
      col("__x.blocks_kept").as("blocks_kept"),
      col("__x.truncated").as("truncated")) ++
      passThrough.map(col): _*)
  }
}
