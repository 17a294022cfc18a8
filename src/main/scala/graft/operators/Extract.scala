package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
import org.apache.spark.sql.types.DataType

import graft.expressions.{HtmlBlocks, PdfGlyphRuns}
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
  * re-evaluate each parse several times per row. The sniff, the blank
  * check, the whole-content span and the tool-JSON value span are
  * [[graft.expressions.TurnNative]] calls too: the whole stage compiles
  * to one generated row loop, and HotSpot leaves a method over 8,000
  * bytecode bytes to the interpreter — MethodSizeSpec holds every
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

  /** output struct shared by every path */
  private def res(path: Column, text: Column, spans: Column, conf: Column,
      status: Column, total: Column, kept: Column): Column =
    struct(
      path.as("path"),
      text.as("text"),
      spans.as("spans"),
      conf.cast("double").as("confidence"),
      status.as("status"),
      total.cast("int").as("blocks_total"),
      kept.cast("int").as("blocks_kept"))

  private val emptySpans: Column =
    array().cast("array<struct<start:int,end:int>>")

  // ------------------------------------------------------------- blank

  private def blankRes: Column =
    res(lit("blank"), lit(""), emptySpans, lit(0.0), lit("blank"), lit(0), lit(0))

  // ------------------------------------------------------------- plain

  /** `plain`/`wspan`: the staged normalized-text / whole-span columns */
  private def plainRes(plain: Column, wspan: Column): Column =
    res(lit("plain"), plain, wspan, lit(1.0),
      lit("success"), lit(1), lit(1))

  // ------------------------------------------------------------- tooljson

  /** JSON tool-result path: `$.output.text` via Jackson-backed
    * get_json_object (SURVEY X12), with span and confidence from the
    * staged [[toolJsonSpan]] struct `s` (the value's raw span at
    * 1.0 when the raw chars there equal the parsed value, else the whole
    * content at 0.9); on parse failure falls back to the plain
    * normalization path with reduced confidence (status `fallback`).
    * `t` is the staged (once-per-row) parse result column.
    */
  private def toolJsonRes(t: Column, s: Column, plain: Column,
      wspan: Column): Column =
    when(t.isNotNull,
      res(lit("tooljson"), t, s.getField("spans"), s.getField("conf"),
        lit("success"), lit(1), lit(1)))
      .otherwise(
        res(lit("tooljson"), plain, wspan,
          lit(0.3), lit("fallback"), lit(1), lit(0)))

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
  private def htmlRes(plain: Column, wspan: Column, h: Column): Column = {
    def assemble(c: Column, status: String): Column =
      res(lit("html"), c.getField("text"), c.getField("spans"),
        c.getField("conf"), lit(status), h.getField("total"), c.getField("n"))

    val kept = h.getField("kept")
    val (ckv, cav) = htmlConfs(h)
    when(kept.getField("conf") >= TauEnhance, assemble(kept, "success"))
      // keep-better ladder below τ_enhance (primary wins ties)
      .when(ckv >= cav && ckv >= PlainAltConf, assemble(kept, "success"))
      .when(cav >= greatest(ckv, lit(PlainAltConf)),
        assemble(h.getField("aggr"), "fallback"))
      // best-effort return (`pipeline.py:2052-2065`): the plain
      // normalization of the raw payload beats everything parsed
      .otherwise(plainAlt(plain, wspan, lit("html"), h.getField("total")))
  }

  /** (primary, aggressive) html confidences, -1 for an empty selection */
  private def htmlConfs(h: Column): (Column, Column) =
    (coalesce(h.getField("kept").getField("conf"), lit(-1.0)),
      coalesce(h.getField("aggr").getField("conf"), lit(-1.0)))

  /** low-confidence plain-path alternative used by the per-path cascade */
  private def plainAlt(plain: Column, wspan: Column, path: Column,
      total: Column): Column =
    res(path, plain, wspan, lit(0.3), lit("fallback"), total, lit(0))

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
  private def pdfRes(plain: Column, wspan: Column, p: Column): Column = {
    val conf = p.getField("conf")
    when(p.getField("runs") > 0 && conf >= PlainAltConf,
      res(lit("pdf"), p.getField("text"), p.getField("spans"), conf,
        when(conf >= 1.0, "success").otherwise("fallback"),
        p.getField("lines"), p.getField("lines")))
      // keep-better: zero runs OR run fraction below the plain
      // alternative's confidence → plain normalization wins
      .otherwise(plainAlt(plain, wspan, lit("pdf"), lit(0)))
  }

  /** one staged per-row parse: the path module's static `extract` */
  private def nativeExtract(owner: Class[_], dataType: DataType,
      raw: Column): Column =
    column(StaticInvoke(owner, dataType, "extract", Seq(expr(raw)),
      returnNullable = false))

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
        nativeExtract(classOf[HtmlBlocks], HtmlBlocks.extractType, raw)))
      .withColumn("__p", when(fmt === "pdf",
        nativeExtract(classOf[PdfGlyphRuns], PdfGlyphRuns.extractType, raw)))
      .withColumn("__tj", when(fmt === "tooljson",
        get_json_object(raw, "$.output.text")))

    // plain-path text + whole-span, staged ONCE and gated to the rows
    // that can actually read them (plain, unparsed tooljson; html/pdf
    // only when every parsed alternative sits below the plain
    // alternative's confidence → the ladder will pick plain). Staged
    // because each is referenced by four result branches (plain path,
    // tooljson fallback, html/pdf cascade): inlined, they would run up to
    // four times per row and grow the generated row loop past HotSpot's
    // 8,000-byte JIT limit (MethodSizeSpec).
    val (ckv, cav) = htmlConfs(h)
    val needPlain = fmt === "plain" || (fmt === "tooljson" && tj.isNull) ||
      (fmt === "html" && greatest(ckv, cav) < PlainAltConf) ||
      (fmt === "pdf" &&
        (p.getField("runs") === 0 || p.getField("conf") < PlainAltConf))
    val staged2 = staged
      .withColumn("__plain", when(needPlain, plainNormalize(raw)))
      .withColumn("__wspan", when(needPlain, wholeSpan(raw)))
      // read twice by the tooljson branch (spans, conf): staged too
      .withColumn("__tjs", toolJsonSpan(raw, tj))
    val plain = col("__plain")
    val wspan = col("__wspan")

    // Truncation lineage (reference warnings trail, `pipeline.py:
    // 2799-2801`): hostile payloads stop at the parsers' hard caps — the
    // flag records that content MAY have been dropped, so lineage
    // (manifest `turns_truncated`) sees it instead of a silent cap. The
    // flag is CONSERVATIVE, like the reference's page-count warning, and
    // each parser derives it in its own coordinates: PDF at the CHUNK
    // bound (single-window overflows are chunk-processed, not dropped),
    // HTML from the tokenizer's cap-hit cursor.
    val routed = staged2.withColumn("__x",
      when(fmt === "blank", blankRes)
        .when(fmt === "pdf", pdfRes(plain, wspan, p))
        .when(fmt === "html", htmlRes(plain, wspan, h))
        .when(fmt === "tooljson", toolJsonRes(tj, col("__tjs"), plain, wspan))
        .otherwise(plainRes(plain, wspan)))
      .withColumn("__trunc", when(fmt === "pdf", p.getField("truncated"))
        .when(fmt === "html", h.getField("truncated")).otherwise(lit(false)))

    routed.select(Seq(col("conv_id"), col("turn_idx"),
      col("__x.path").as("path"),
      col("__x.text").as("text"),
      col("__x.spans").as("spans"),
      col("__x.confidence").as("confidence"),
      col("__x.status").as("status"),
      col("__x.blocks_total").as("blocks_total"),
      col("__x.blocks_kept").as("blocks_kept"),
      col("__trunc").as("truncated")) ++
      passThrough.map(col): _*)
  }
}
