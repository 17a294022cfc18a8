package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language identification and document
  * fingerprinting — all pure Catalyst expressions (codegen'd, no UDFs),
  * evaluated per-row with no shuffle, so they scale linearly with input
  * splits at 100 TB.
  *
  * Role in the graft: these are the text analogs of the reference's
  * image-quality feature stack (`adaptive_ocr_pipeline.py:76-148` —
  * sharpness/contrast/brightness → weighted score → tier): cheap numeric
  * features, a weighted score, and a CASE tier, computed over text.
  *
  * Every function here has a DuckDB-SQL twin generated from the SAME
  * constants (see [[TextAnalysis.oracle]]), so the harness verifies them
  * value-for-value against an independent engine.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish sub-token estimate: runs of letters, runs of digits, or a
    * single other non-space char (the classic pre-tokenizer regex).
    */
  val subTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(subTokenPattern), lit(0)))

  /** ASCII punctuation characters (regex char class shared with the SQL twin). */
  val punctClass = "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]"

  /** punctuation chars / total chars (0 for empty text). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, punctClass, ""))).cast("double")
        / length(text))

  /** English stopword sample used for the quality score. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this")

  /** how many of the tokens `toks` are in `words` */
  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(t === _).reduce(_ || _)))

  /** fraction of the whitespace tokens `toks` that are stopwords. */
  def stopwordRatio(toks: Column): Column =
    when(size(toks) === 0, 0.0)
      .otherwise(hits(toks, stopwords).cast("double") / size(toks))

  /** Mean token length of the whitespace tokens `toks`. */
  def meanTokenLen(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(toks))

  /** Weighted quality score in [0,1] — the analog of the reference's
    * weighted image-quality score (`adaptive_ocr_pipeline.py:139-143`).
    * Components: enough tokens (saturating at 100), sane mean token
    * length (peak near 5), low punctuation, some stopwords. Takes the
    * whitespace tokens `toks` with their [[punctRatio]],
    * [[meanTokenLen]] and [[stopwordRatio]], so a caller that stages
    * those evaluates each once per row.
    */
  def qualityScore(toks: Column, punct: Column, mtl: Column, stopr: Column): Column = {
    val lenScore = least(size(toks).cast("double") / 100.0, lit(1.0))
    val mtlScore = greatest(lit(0.0), lit(1.0) - abs(mtl - 5.0) / 5.0)
    val punctScore = greatest(lit(0.0), lit(1.0) - punct * 4.0)
    val stopScore = least(stopr * 5.0, lit(1.0))
    // NULL text (so NULL tokens) pins to 0.0 explicitly: least/greatest
    // SKIP nulls (both here and in DuckDB), so without the guard a null
    // document's null-poisoned components vanish and the score lands at
    // 0.6 → tier "medium" — a missing payload must route as very_low, not
    // medium (adversarial probe, round 5)
    when(toks.isNull, lit(0.0)).otherwise(
      round(lenScore * 0.3 + mtlScore * 0.2 + punctScore * 0.2
        + stopScore * 0.3, 6))
  }

  /** quality tier from the score — mirrors QualityTier
    * (`adaptive_ocr_pipeline.py:27-32`). */
  def qualityTier(score: Column): Column =
    when(score >= 0.8, "high")
      .when(score >= 0.6, "medium")
      .when(score >= 0.4, "low")
      .otherwise("very_low")

  /** Language marker words: (lang, markers). Order = tie-break priority. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** n-gram-heuristic language ID over the lower-cased whitespace
    * tokens `ltoks`: count marker-token hits per language, argmax with
    * fixed priority-order tie-break; "und" (undetermined) when no marker
    * hits at all.
    */
  def langId(ltoks: Column): Column = {
    val counts = langMarkers.map { case (l, ms) => l -> hits(ltoks, ms) }
    val best = greatest(counts.map(_._2): _*)
    counts.foldLeft(when(best === 0, "und")) {
      case (acc, (l, h)) => acc.when(h === best, l)
    }.otherwise("und")
  }

  /** Rolling polynomial fingerprint of the text: fold chars as
    * (acc*31 + ascii(c)) mod 1e9+7 — deterministic, overflow-free in
    * 64-bit on both Spark and DuckDB, so the oracle can recompute it.
    * Native single-pass call ([[graft.expressions.Fingerprint]]);
    * the declarative form is the cross-checked spec twin
    * `fingerprintDeclarative` in `src/test` (it allocates a one-char
    * UTF8String per character — the dominant t01 allocation).
    */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
    import org.apache.spark.sql.types.LongType
    import graft.expressions.{Fingerprint, NativeCall}
    column(NativeCall.static(Fingerprint.getClass, "evalUtf8", LongType,
      Seq(expr(text))))
  }

  /** Full per-document analysis projection over a `documents`-shaped
    * table. The token arrays and every shared sub-feature are STAGED as
    * intermediate columns (same discipline as the Extract operator):
    * the naive form re-evaluates the tokenizer ~15× per row across the
    * quality components, the language scores and the ratios.
    */
  def analyze(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = col("__toks")
    val staged = docs
      .withColumn("__toks", tokens(t))
      .withColumn("__ltoks", tokens(lower(t)))
      .withColumn("__punct", punctRatio(t))
      .withColumn("__stopr", stopwordRatio(toks))
      .withColumn("__mtl", meanTokenLen(toks))
      .withColumn("__q",
        qualityScore(toks, col("__punct"), col("__mtl"), col("__stopr")))
      .withColumn("__lang", langId(col("__ltoks")))
    staged.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      subTokenCount(t).cast("long").as("n_subtokens"),
      round(col("__punct"), 6).as("punct_ratio"),
      round(col("__stopr"), 6).as("stopword_ratio"),
      round(col("__mtl"), 6).as("mean_token_len"),
      col("__q").as("quality"),
      qualityTier(col("__q")).as("tier"),
      col("__lang").as("lang_pred"),
      fingerprint(t).as("fingerprint"))
  }

  // ------------------------------------------------------------- oracle

  /** DuckDB SQL twin of [[analyze]], generated from the same constants.
    * Kept in one place so the Spark expression and the SQL can never
    * drift independently.
    */
  def oracle: String = {
    val toks = "string_split_regex(trim(text), '\\s+')"
    val toksLower = "string_split_regex(trim(lower(text)), '\\s+')"
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
    val nTok = s"len($toks)"
    val punct =
      s"""CASE WHEN length(text)=0 THEN 0.0 ELSE
          CAST(length(text) - length(regexp_replace(text, '${punctClass.replace("'", "''")}', '', 'g')) AS DOUBLE)/length(text) END"""
        .replaceAll("\\s+", " ")
    // NOTE duckdb regexp_replace needs the 'g' flag; standard SQL string
    // literals pass backslashes through verbatim, so the Java-regex class
    // text is already the RE2 text — only single-quotes need doubling.
    val stopHits =
      s"len(list_filter($toks, t -> list_contains(${inList(stopwords)}, t)))"
    val stopRatio =
      s"CASE WHEN $nTok=0 THEN 0.0 ELSE CAST($stopHits AS DOUBLE)/$nTok END"
    val mtl =
      s"CASE WHEN $nTok=0 THEN 0.0 ELSE CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE)/$nTok END"
    val lenScore = s"least(CAST($nTok AS DOUBLE)/100.0, 1.0)"
    val mtlScore = s"greatest(0.0, 1.0 - abs(($mtl) - 5.0)/5.0)"
    val punctScore = s"greatest(0.0, 1.0 - ($punct)*4.0)"
    val stopScore = s"least(($stopRatio)*5.0, 1.0)"
    val quality = // NULL text pins to 0.0, mirroring qualityScore's guard
      s"CASE WHEN text IS NULL THEN 0.0 ELSE round(($lenScore)*0.3 + ($mtlScore)*0.2 + ($punctScore)*0.2 + ($stopScore)*0.3, 6) END"
    val tier =
      s"CASE WHEN q >= 0.8 THEN 'high' WHEN q >= 0.6 THEN 'medium' WHEN q >= 0.4 THEN 'low' ELSE 'very_low' END"
    val hitExprs = langMarkers.map { case (l, ms) =>
      l -> s"len(list_filter($toksLower, t -> list_contains(${inList(ms)}, t)))"
    }
    val bestHits = s"greatest(${hitExprs.map(_._2).mkString(", ")})"
    val langCase = {
      val whens = hitExprs
        .map { case (l, h) => s"WHEN $h = m THEN '$l'" }.mkString(" ")
      s"CASE WHEN m = 0 THEN 'und' $whens ELSE 'und' END"
    }
    val fp =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text,''), c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc*31 + c) % 1000000007)"
    s"""SELECT doc_id,
        $nTok AS n_tokens,
        len(regexp_extract_all(text, '$subTokenPattern')) AS n_subtokens,
        round($punct, 6) AS punct_ratio,
        round($stopRatio, 6) AS stopword_ratio,
        round($mtl, 6) AS mean_token_len,
        q AS quality,
        $tier AS tier,
        $langCase AS lang_pred,
        $fp AS fingerprint
        FROM (SELECT *, $quality AS q, $bestHits AS m FROM documents)
        ORDER BY doc_id""".replaceAll("\\s+", " ")
  }
}
