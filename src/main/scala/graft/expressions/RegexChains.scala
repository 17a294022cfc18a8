package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

/** Native regex-chain evaluators for the KIE field-extraction operator.
  *
  * Each instance evaluates a whole first-match-wins pattern chain (or a
  * sequential replace-rule list) with PRECOMPILED `java.util.regex`
  * patterns in one call. The declarative per-pattern form
  * (`coalesce(nullif(regexp_extract(...)))` × N) stays the semantic spec
  * mirrored by the DuckDB oracle; these evaluators exist because the
  * inlined chains grew the collapsed projection's whole-stage codegen
  * past Janino's 64 KB method limit ("Code grows beyond 64 KB",
  * observed), silently interpreting the entire stage — and because one
  * precompiled-matcher loop avoids N UTF8String→String conversions per
  * row. Same regex engine (Java) as `regexp_extract`/`regexp_replace`,
  * so semantics are bit-identical; FieldExtractSpec + the x05 oracle
  * compare enforce that.
  *
  * Each evaluator is a serializable case class called per row through
  * [[NativeCall.evaluator]]: `eval` returns the value, or null for no
  * match. The patterns compile lazily once per deserialized instance.
  */
object RegexChains {
  /** compile with the same inline-(?i) convention as the Column chains */
  def compile(patterns: Seq[String], ci: Boolean): Array[Pattern] =
    patterns.map(p => Pattern.compile(if (ci) "(?i)" + p else p)).toArray
}

/** sequential regexp_replace rule list (X7/X8 OCR normalization) */
case class RegexReplaceChain(rules: Seq[(String, String)], caseInsensitive: Boolean) {
  @transient private lazy val compiled =
    RegexChains.compile(rules.map(_._1), caseInsensitive)
  @transient private lazy val repls = rules.map(_._2).toArray

  def eval(input: UTF8String): UTF8String = {
    var cur = input.toString
    var i = 0
    while (i < compiled.length) {
      cur = compiled(i).matcher(cur).replaceAll(repls(i))
      i += 1
    }
    UTF8String.fromString(cur)
  }
}

/** first-match-wins int chain with per-pattern range guard (X3):
  * group(1), commas stripped, digit-length gate, value must be in
  * [lo, hi] or the NEXT pattern is tried.
  */
case class FirstIntChain(patterns: Seq[String], lo: Int, hi: Int, maxLen: Int) {
  @transient private lazy val compiled =
    RegexChains.compile(patterns, ci = true)

  def eval(input: UTF8String): java.lang.Integer = {
    val s = input.toString
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      if (m.find()) {
        val g = m.group(1)
        if (g != null && g.nonEmpty) {
          val d = if (g.indexOf(',') >= 0) g.replace(",", "") else g
          if (d.length <= maxLen && d.forall(_.isDigit) && d.nonEmpty) {
            val v = java.lang.Long.parseLong(d)
            if (v >= lo && v <= hi) return java.lang.Integer.valueOf(v.toInt)
          }
        }
      }
      i += 1
    }
    null
  }
}

/** first-match-wins string chain (mobile account/date/period fields) */
case class FirstStrChain(patterns: Seq[String], groupIdx: Int) {
  @transient private lazy val compiled =
    RegexChains.compile(patterns, ci = true)

  def eval(input: UTF8String): UTF8String = {
    val s = input.toString
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      if (m.find()) {
        val g = m.group(groupIdx)
        if (g != null && g.nonEmpty) return UTF8String.fromString(g)
      }
      i += 1
    }
    null
  }
}

/** X1/X2 advanced chain: first pattern whose `_normalise_number`d group
  * (l→1 g→9 O→0, strip non-digits, ≤ maxLen digits) is non-null.
  */
case class NormIntChain(patterns: Seq[String], maxLen: Int) {
  @transient private lazy val compiled =
    RegexChains.compile(patterns, ci = true)

  def eval(input: UTF8String): java.lang.Integer = {
    val s = input.toString
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      if (m.find()) {
        val g = m.group(1)
        if (g != null && g.nonEmpty) {
          val sb = new java.lang.StringBuilder(g.length)
          var k = 0
          while (k < g.length) {
            g.charAt(k) match {
              case c if c >= '0' && c <= '9' => sb.append(c)
              case 'l' => sb.append('1')
              case 'g' => sb.append('9')
              case 'O' => sb.append('0')
              case _ => ()
            }
            k += 1
          }
          if (sb.length > 0 && sb.length <= maxLen)
            return java.lang.Integer.valueOf(Integer.parseInt(sb.toString))
        }
      }
      i += 1
    }
    null
  }
}

/** first-match-wins fractional chain with range guard (water, X5) */
case class FirstDoubleChain(patterns: Seq[String], lo: Double, hi: Double) {
  @transient private lazy val compiled =
    RegexChains.compile(patterns, ci = true)

  def eval(input: UTF8String): java.lang.Double = {
    val s = input.toString
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      if (m.find()) {
        val g = m.group(1)
        if (g != null && g.nonEmpty) {
          val v = java.lang.Double.parseDouble(g) // pattern shape: \d+(\.\d+)?
          if (v >= lo && v <= hi) return java.lang.Double.valueOf(v)
        }
      }
      i += 1
    }
    null
  }
}
