package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

/** Native regex-chain evaluators for the KIE field-extraction operator.
  *
  * Each instance evaluates a whole first-match-wins pattern chain
  * ([[FirstMatchChain]]) or a sequential replace-rule list
  * ([[RegexReplaceChain]]) with PRECOMPILED `java.util.regex` patterns in
  * one call. The declarative per-pattern form
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

/** How a [[FirstMatchChain]] turns a non-empty matched group into its
  * value: the value (boxed as the column's type), or null to send the
  * chain on to its NEXT pattern.
  */
sealed trait GroupValue extends Serializable {
  def apply(g: String): AnyRef
}

object GroupValue {

  /** the group itself (mobile account/date/period fields) */
  case object AsString extends GroupValue {
    def apply(g: String): AnyRef = UTF8String.fromString(g)
  }

  /** commas stripped, at most `maxLen` digits, value in [lo, hi] (X3) */
  case class IntIn(lo: Int, hi: Int, maxLen: Int) extends GroupValue {
    def apply(g: String): AnyRef = {
      val d = if (g.indexOf(',') >= 0) g.replace(",", "") else g
      if (d.length <= maxLen && d.nonEmpty && d.forall(_.isDigit)) {
        val v = java.lang.Long.parseLong(d)
        if (v >= lo && v <= hi) return java.lang.Integer.valueOf(v.toInt)
      }
      null
    }
  }

  /** X1/X2 `_normalise_number` (X9): l→1 g→9 O→0, strip non-digits,
    * null unless 1 to `maxLen` digits survive
    */
  case class NormInt(maxLen: Int) extends GroupValue {
    def apply(g: String): AnyRef = {
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
        java.lang.Integer.valueOf(Integer.parseInt(sb.toString))
      else null
    }
  }

  /** fractional value in [lo, hi] (water, X5) */
  case class DoubleIn(lo: Double, hi: Double) extends GroupValue {
    def apply(g: String): AnyRef = {
      val v = java.lang.Double.parseDouble(g) // pattern shape: \d+(\.\d+)?
      if (v >= lo && v <= hi) java.lang.Double.valueOf(v) else null
    }
  }
}

/** first-match-wins chain: the value of the first pattern whose `group`
  * is non-empty and accepted by `value`; a rejected group (range guard,
  * digit-length gate) falls through to the NEXT pattern, mirroring the
  * reference's `break`-only-when-in-range loops.
  */
case class FirstMatchChain(patterns: Seq[String], group: Int, value: GroupValue) {
  @transient private lazy val compiled =
    RegexChains.compile(patterns, ci = true)

  def eval(input: UTF8String): AnyRef = {
    val s = input.toString
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      if (m.find()) {
        val g = m.group(group)
        if (g != null && g.nonEmpty) {
          val v = value(g)
          if (v != null) return v
        }
      }
      i += 1
    }
    null
  }
}
