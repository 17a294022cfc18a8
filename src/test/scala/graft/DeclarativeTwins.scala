package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.shingles
import graft.expressions.MinhashSig.{P31, hashParams}
import graft.functions.TextFunctions.{correctToken, isBlank}
import graft.operators.FieldExtract.{KieCarbon, KieCtxTokens, KieElec, KieField, Rule, ci, kieNumToken}

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

  /** [[graft.functions.GraftFunctions.token_spans]]: running-sum offsets via
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

  private def extractGroup(text: Column, p: String, idx: Int = 1): Column =
    nullif(regexp_extract(text, ci(p), idx), lit(""))

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

  /** [[graft.operators.FieldExtract.firstStr]] */
  def firstStrDeclarative(text: Column, pats: Seq[String], idx: Int): Column =
    coalesce(pats.map(p => extractGroup(text, p, idx)): _*)

  /** [[graft.operators.FieldExtract.firstDouble]] */
  def firstDoubleDeclarative(text: Column, pats: Seq[String], lo: Double,
      hi: Double): Column =
    coalesce(pats.map { p =>
      val v = extractGroup(text, p).try_cast("double")
      when(v >= lo && v <= hi, v)
    }: _*)

  /** [[graft.operators.FieldExtract.normChain]] */
  def normChainDeclarative(text: Column, pats: Seq[String]): Column =
    coalesce(pats.map(p => normaliseNumber(extractGroup(text, p))): _*)

  /** [[graft.dedup.Dedup.minhashSig]] over PRE-COMPUTED base hashes (each
    * in [0, P31)): numHashes minhash values, family member i applies
    * (a_i*h + b_i) mod P31.
    */
  def minhashSignature(baseHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      val (a, b) = hashParams(i)
      array_min(transform(baseHashes, h =>
        pmod(h * lit(a) + lit(b), lit(P31))))
    }: _*)

  /** doc_id + minhash signature per document over string shingles. The
    * shingle array and the base hashes are STAGED as intermediate columns
    * so each of the numHashes permutation passes reads an attribute
    * instead of re-evaluating the shingle subtree.
    */
  def minhashed(docs: DataFrame, numHashes: Int = 32, shingleWidth: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("__sh", shingles(col(textCol), shingleWidth))
      .withColumn("__base", transform(col("__sh"), s => pmod(xxhash64(s), lit(P31))))
      .select(col(idCol).as("doc_id"),
        minhashSignature(col("__base"), numHashes).as("sig"))

  /** per-token xxhash64 array — stage this as its own column before
    * calling [[simhashFromHashes]] so the 64 bit-vote passes read an
    * attribute instead of re-tokenizing
    */
  def tokenHashes(text: Column): Column =
    transform(split(trim(text), "\\s+"), t => xxhash64(t))

  /** [[graft.functions.GraftFunctions.simhash64]]: 64 bit-vote aggregates
    * over a pre-computed hash array (Scala-side loop so each shift amount
    * is a literal — every vote is one codegen'd array pass).
    */
  def simhashFromHashes(hs: Column): Column =
    (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1)
          .otherwise(-1))
      when(vote > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))

  /** Packed sort key for KIE candidate selection: one BIGINT encoding
    * (score desc, |v-center| asc, position asc, value) so `array_min`
    * replaces a struct-comparator sort identically in Spark and DuckDB.
    * Layout: (35-score)·2^48 + absdiff·2^28 + min(idx,1000)·2^18 + v,
    * with v < 2^18 (KIE values ≤ 100000). Ties resolve to the earliest
    * candidate — Python's stable sort.
    */
  private val VBits = 262144L // 2^18

  /** tokenized scan input, staged once per row */
  def kieTokens(pre: Column): Column = split(pre, "\\s+")

  /** KIE candidate key arrays for one field over the staged token array.
    * `center` is the tie-break anchor (`pipeline.py:2294-2300`).
    */
  private def kieKeys(toks: Column, isElectricity: Boolean): Column = {
    val KieField(kws, boostWords, lo, hi, center) =
      if (isElectricity) KieElec else KieCarbon
    // guard: sequence(1, 0) infers a DESCENDING step in Spark — an empty
    // token list must yield an empty index list, not [1, 0]
    val idxs = when(size(toks) > 0, sequence(lit(1), size(toks)))
      .otherwise(array().cast("array<int>"))
    val keys = transform(idxs, i => {
      val vs = translate(
        regexp_extract(element_at(toks, i), kieNumToken, 1), ",", "")
      val v = when(length(vs).between(1, 7), vs).cast("long")
      val lo5 = greatest(i - KieCtxTokens, lit(1))
      val ctx = lower(array_join(concat(
        slice(toks, lo5, i - lo5),
        slice(toks, i + 1, lit(KieCtxTokens))), " "))
      val score = kws.map(w => when(ctx.contains(w), 2L).otherwise(0L))
        .reduce(_ + _) +
        when(boostWords.map(w => ctx.contains(w)).reduce(_ || _), 3L).otherwise(0L)
      when(v >= 10 && v <= 100000 && score > 0 && v.between(lo, hi),
        (lit(35L) - score) * lit(1L << 48) +
          abs(v - center) * lit(1L << 28) +
          least(i.cast("long"), lit(1000L)) * lit(VBits) + v)
    })
    filter(keys, k => k.isNotNull)
  }

  /** [[graft.functions.GraftFunctions.kie_best]]: best KIE candidate
    * value (null when none) for one field.
    */
  def kieField(toks: Column, isElectricity: Boolean): Column = {
    val ks = kieKeys(toks, isElectricity)
    when(size(ks) > 0, pmod(array_min(ks), lit(VBits)).cast("int"))
  }
}
