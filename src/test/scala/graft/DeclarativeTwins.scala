package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{correctToken, isBlank}
import graft.operators.FieldExtract.{Rule, ci}

/** Declarative spec twins of the graft's single-pass natives: the Catalyst
  * pipelines each native replaced, kept as the reference its spec checks
  * native ≡ twin against (FunctionsSpec, SpanVoteSpec, TextAnalysisSpec,
  * DedupSpec, FieldExtractSpec).
  */
object DeclarativeTwins {

  /** [[graft.functions.TextFunctions.plainNormalize]]: split on \s+ of the
    * trimmed text, per-token gated translate, rejoin — higher-order
    * `transform` over the token array.
    */
  def plainNormalizeDeclarative(text: Column): Column = {
    val trimmed = regexp_replace(regexp_replace(text, "\\A\\s+", ""), "\\s+\\z", "")
    when(isBlank(text), lit(""))
      .otherwise(array_join(transform(split(trimmed, "\\s+"), w => correctToken(w)), " "))
  }

  /** [[graft.functions.TextFunctions.tokenSpans]]: running-sum offsets via
    * an indexed transform over the token array.
    */
  def tokenSpansDeclarative(text: Column): Column = {
    val trimmed =
      regexp_replace(regexp_replace(text, "\\A\\s+", ""), "\\s+\\z", "")
    val toks = split(trimmed, "\\s+")
    val lens = transform(toks, t => length(t))
    transform(toks, (t, i) => {
      val off = (aggregate(slice(lens, lit(1), i), lit(0), (a, l) => a + l) +
        i).cast("int")
      struct(t.as("tok"), off.as("start"), (off + length(t)).cast("int").as("end"))
    })
  }

  /** [[graft.textanalysis.TextAnalysis.fingerprint]] */
  def fingerprintDeclarative(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)

  /** [[graft.dedup.Dedup.shingleHashes]] */
  def shingleHashesDeclarative(text: Column, w: Int = 3): Column = {
    val toks = split(trim(text), "\\s+")
    val hs = transform(toks, t => xxhash64(t))
    val n = size(hs)
    when(n < w, array(xxhash64(array_join(toks, " "))))
      .otherwise(transform(sequence(lit(1), n - (w - 1)),
        i => xxhash64(slice(hs, i, lit(w)))))
  }

  /** digit-string → int with an explicit length gate instead of a
    * try-cast: ANSI mode (Spark 4 default) makes a bare overflow cast
    * THROW (the SQL twin `gatedIntSql` gates the same way).
    */
  private def gatedInt(digits: Column, maxLen: Int): Column =
    when(length(digits) <= maxLen, digits).cast("int")

  private def extractGroup(text: Column, p: String): Column =
    nullif(regexp_extract(text, ci(p), 1), lit(""))

  /** `_normalise_number` (X9): l→1 g→9 O→0, strip non-digits, null when
    * no digits survive.
    */
  private def normaliseNumber(s: Column): Column =
    gatedInt(
      nullif(regexp_replace(translate(s, "lgO", "190"), "[^0-9]", ""), lit("")),
      maxLen = 9)

  /** [[graft.operators.FieldExtract.applyRules]] */
  def applyRulesDeclarative(text: Column, rules: Seq[Rule],
      caseInsensitive: Boolean): Column =
    rules.foldLeft(text) { case (acc, (p, r)) =>
      regexp_replace(acc, if (caseInsensitive) ci(p) else p, r)
    }

  /** [[graft.operators.FieldExtract.firstInt]] */
  def firstIntDeclarative(text: Column, pats: Seq[String], lo: Int,
      hi: Int): Column =
    coalesce(pats.map { p =>
      val v = gatedInt(translate(extractGroup(text, p), ",", ""), maxLen = 7)
      when(v.between(lo, hi), v)
    }: _*)

  /** [[graft.operators.FieldExtract.normChain]] */
  def normChainDeclarative(text: Column, pats: Seq[String]): Column =
    coalesce(pats.map(p => normaliseNumber(extractGroup(text, p))): _*)
}
