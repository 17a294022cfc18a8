package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}

import graft.expressions.{NativeCall, PlainNormalize, TurnNative}

/** Column functions for content sniffing, plain-text normalization, spans
  * and confidence — no UDF-opaque regex soup. The per-row hot checks
  * (sniff, blank, plain normalization) are
  * native codegen'd calls in [[graft.expressions]], each cross-checked in
  * FunctionsSpec against a declarative spec twin built from
  * the same constants; the rest are built-in Catalyst expressions.
  */
object TextFunctions {

  // Shared pattern/constant tables — the Spark expressions AND the DuckDB
  // SQL twins below are generated from these, so they cannot drift.
  // Everything stays in the Java-regex ∩ RE2 subset, with ONE known
  // inexactness: `\s` itself — Java's \s is [ \t\n\x0B\f\r] while RE2's
  // is [ \t\n\f\r] (no vertical tab), so a payload containing \x0B would
  // diverge between the engines. Accepted deliberately: \x0B never occurs
  // in the generators or fixtures, Java's semantics are the engine's
  // contract (the DuckDB twins exist to check the engine, not vice
  // versa), and spelling [ \t\n\f\r\x0B] at every \s site would make the
  // dozen patterns below unreadable for a latent-only divergence.
  val BlankRe = "\\A[\\s\\x00-\\x1F]*\\z"
  /** most code points inside the one tag that may wrap a `%PDF-` payload */
  final val PdfWrapperChars = 200
  val PdfSniffRe = s"(?s)\\A\\s*(?:<[^>]{0,$PdfWrapperChars}>\\s*)?%PDF-"
  val HtmlSniffRe = "(?is)\\A\\s*<(!doctype|!--|[a-z][a-z0-9]*[\\s>/])"
  val JsonSniffRe = "\\A\\s*\\{"
  val NumTokenRe = "\\A[0-9lIoOzZsSgGbB|]+\\z"
  val ConfusablesFrom = "lI|OoZzSsGgBb"
  val ConfusablesTo = "1110022556988"

  /** one [[TurnNative]] call; NULL inputs reach it (it owns their meaning) */
  private def turnNative(name: String, dataType: DataType, args: Column*): Column =
    column(NativeCall.static(TurnNative.getClass, name, dataType,
      args.map(expr), propagateNull = false))

  /** A string that is null / empty / whitespace / control chars only
    * (exactly [[BlankRe]]) — the graft analog of the reference's
    * blank-image early check (`_is_blank_image`, reference
    * `pipeline.py:425-456`). NOTE: Spark's `trim` strips only spaces.
    */
  def isBlank(text: Column): Column = turnNative("isBlank", BooleanType, text)

  /** Content format sniffing — the analog of the reference's magic-byte
    * `_validate_file_format` (reference `pipeline.py:2615-2685`), cheapest
    * first: blank short-circuits everything (the early blank check at
    * `pipeline.py:1917-1936`); then the `%PDF-` magic, optionally behind
    * ONE wrapping tag of ≤ [[PdfWrapperChars]] chars (content beats
    * container framing — the sniff-right-content-wrong cascade case); then
    * an html tag; then a `{` payload WITH a tool. Invalid / unknown
    * content routes to "plain", never raises.
    */
  def sniff(text: Column, tool: Column): Column =
    turnNative("sniff", StringType, text, tool)

  /** 0-based offset of the first non-whitespace char (0 when none). */
  def contentStart(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\A\\s+", ""))

  /** 0-based offset just past the last non-whitespace char. */
  def contentEnd(text: Column): Column =
    length(regexp_replace(text, "\\s+\\z", ""))

  /** Char-level OCR-confusion correction, gated to numeric-looking tokens —
    * the canonical Catalyst re-expression of the reference's char-correction
    * (reference `pipeline.py:1296-1336`, gate `\b[0-9lIoOzZsSgGbB|]+\b` with
    * >=1 digit; cases mirrored from `pytorch_mobile/test_pipeline.py:115-121`:
    * l23→123, O5→05, Z99→299, l2O→120, Hello→Hello).
    * translate map: l,I,|→1  O,o→0  Z,z→2  S,s→5  G→6  g→9  B,b→8.
    */
  def correctToken(w: Column): Column =
    when(w.rlike(NumTokenRe) && w.rlike("[0-9]"),
      translate(w, ConfusablesFrom, ConfusablesTo))
      .otherwise(w)

  /** Plain-text path: whitespace collapse + numeric-context char
    * correction — native single pass
    * ([[PlainNormalize]]; this is the extraction job's
    * hot stage: every plain/tooljson turn and every τ-ladder fallback
    * pays it, and the declarative form spent 3.1 of a 4.0 s full-Extract
    * pass in per-token regex work). The declarative pipeline is the
    * cross-checked spec twin in `src/test`.
    */
  def plainNormalize(text: Column): Column =
    when(isBlank(text), lit("")).otherwise(column(NativeCall.static(
      PlainNormalize.getClass, "evalUtf8", StringType, Seq(expr(text)))))

  /** Top-k geometric-mean confidence over an array<double> of block/token
    * scores — the reference's `field_confidence` aggregate
    * (`pipeline.py:399-414`): floor each score at 1e-3, keep top 80% when
    * n>20, return prod^(1/k). Pure expression, no UDAF.
    */
  def geoMeanTopK(scores: Column): Column = {
    val n = size(scores)
    val k = when(n > 20, ceil(n * 0.8).cast("int")).otherwise(n)
    val sorted = slice(sort_array(scores, asc = false), lit(1), k)
    when(n === 0, lit(0.0)).otherwise(
      exp(aggregate(sorted, lit(0.0),
        (acc, c) => acc + log(greatest(c, lit(1e-3)))) / k))
  }

  /** Cross-row geometric-mean confidence (per-conversation aggregate):
    * exp(avg(ln(greatest(conf, 1e-3)))) — SURVEY A1's cross-row form.
    */
  def geoMeanAgg(conf: Column): Column =
    exp(avg(log(greatest(conf, lit(1e-3)))))

  /** Run-length collapse of repeated characters — the CTC-decode analog
    * (SURVEY G8; reference collapse-repeats-drop-blanks,
    * `pytorch_mobile/ocr_pipeline.py:556-594`): "aab  ba" → "ab ba" with
    * the blank analog being whitespace runs.
    */
  def collapseRuns(text: Column): Column =
    regexp_replace(text, "(.)\\1+", "$1")

  /** Per-field confidence from OCR-style token confidences — the
    * match-region alignment (SURVEY J2; reference
    * `_calculate_field_confidence`, `pipeline.py:2505-2529`): geometric
    * mean (floored at 0.01, capped at 0.99) of the confidences of tokens
    * whose text occurs in the matched region; null when no token aligns
    * (callers coalesce to the engine default, mirroring the reference
    * fallback).
    * `tokens`: array<struct<text:string, conf:double>>.
    */
  def fieldConfidence(matched: Column, tokens: Column): Column = {
    val rel = filter(tokens, t =>
      t.getField("conf").isNotNull &&
        instr(matched, t.getField("text")) > 0)
    val n = size(rel)
    when(n > 0,
      least(
        exp(aggregate(rel, lit(0.0),
          (acc, t) => acc + log(greatest(t.getField("conf"), lit(0.01)))) / n),
        lit(0.99)))
  }

  // ===================================================== DuckDB SQL twins
  // Generated from the SAME constants as the Spark expressions above
  // (one source of truth per regex/translate table — the oracle cannot
  // drift). DuckDB notes: regexp_replace needs the explicit 'g' flag;
  // RE2 has no pattern backrefs.

  /** twin of [[isBlank]]; `x` is a SQL expression string */
  def isBlankSql(x: String): String =
    s"($x IS NULL OR regexp_matches($x, '$BlankRe'))"

  /** twin of [[sniff]] with a NULL tool column (tooljson never fires) */
  def sniffNoToolSql(x: String): String =
    s"""CASE WHEN ${isBlankSql(x)} THEN 'blank'
        WHEN regexp_matches($x, '$PdfSniffRe') THEN 'pdf'
        WHEN regexp_matches($x, '$HtmlSniffRe') THEN 'html'
        ELSE 'plain' END"""

  /** whitespace-collapse of the trimmed text (the light-normalization
    * stage; '' for blank) */
  def wsCollapseSql(x: String): String =
    s"""CASE WHEN ${isBlankSql(x)} THEN ''
        ELSE regexp_replace(regexp_replace(regexp_replace($x,
          '\\A\\s+', ''), '\\s+\\z', ''), '\\s+', ' ', 'g') END"""

  /** twin of [[correctToken]]; `x` names a token-valued SQL expression */
  def correctTokenSql(x: String): String =
    s"""CASE WHEN regexp_matches($x, '$NumTokenRe')
              AND regexp_matches($x, '[0-9]')
        THEN translate($x, '$ConfusablesFrom', '$ConfusablesTo')
        ELSE $x END"""

  /** twin of [[plainNormalize]] */
  def plainNormalizeSql(x: String): String =
    s"""CASE WHEN ${isBlankSql(x)} THEN ''
        ELSE array_to_string(list_transform(
          string_split_regex(regexp_replace(regexp_replace($x,
            '\\A\\s+', ''), '\\s+\\z', ''), '\\s+'),
          w -> ${correctTokenSql("w")}), ' ') END"""

  /** twins of [[contentStart]] / [[contentEnd]] */
  def contentStartSql(x: String): String =
    s"CAST(length($x) - length(regexp_replace($x, '\\A\\s+', '')) AS INT)"

  def contentEndSql(x: String): String =
    s"CAST(length(regexp_replace($x, '\\s+\\z', '')) AS INT)"
}
