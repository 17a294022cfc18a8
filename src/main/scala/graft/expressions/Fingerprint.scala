package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial fingerprint `fold(acc·31 + char) mod 1e9+7` as ONE
  * native expression — the [[Simhash]]/[[MinhashSig]] escalation path:
  * the declarative form (`fingerprintDeclarative`, the cross-checked spec
  * twin in `src/test`) materializes
  * a one-character UTF8String PER CHARACTER via `split(text, "")` before
  * folding — the dominant allocation in the t01 analysis pass.
  *
  * Semantics are IDENTICAL to `aggregate(split(text, ""), 0L,
  * (acc, c) => (acc*31 + ascii(c)) % 1000000007)`: CODE-POINT iteration —
  * Java regex split("") breaks between code points, so an astral pair
  * stays one element and Spark's ascii (codePointAt) folds its code
  * point; a LONE surrogate is its own element, which
  * UTF8String.fromString turns into '?' → folds as 63. ascii("") = 0
  * keeps the empty string at 0. Spec-equivalence test covers empty,
  * BMP, astral-pair and lone-surrogate inputs. The DuckDB twin in
  * `TextAnalysis.oracle` is unchanged (codepoint semantics there too).
  */
object Fingerprint {

  private val P = 1000000007L

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String): Long = {
    val s = input.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val v =
        if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
          i += 1
          Character.toCodePoint(c, s.charAt(i))
        } else if (Character.isSurrogate(c)) 63
        else c.toInt
      acc = (acc * 31 + v) % P
      i += 1
    }
    acc
  }
}
