package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/** Whitespace collapse + numeric-context OCR char correction as ONE
  * native single-pass expression — the plain path's entire projection
  * (reference char-correction `pipeline.py:1296-1336`; SURVEY X6/X11).
  *
  * This is the extraction job's HOT stage: every plain/tooljson turn and
  * every τ-ladder fallback pays it, and the declarative form
  * (trim-regex ×2 → split → per-token transform with TWO rlike matches
  * and a translate → array_join) spends its time in per-token regex
  * invocations and small-array allocation — measured 3.1 s of a 4.0 s
  * full-Extract pass at 400 k turns. Here the token gate is a hand
  * character-class loop and the whole output builds into one buffer.
  *
  * Semantics are IDENTICAL to the declarative pipeline, kept as the
  * `plainNormalizeDeclarative` spec twin in `src/test` and
  * cross-checked in FunctionsSpec (hand edge cases + a ScalaCheck
  * equivalence property over confusables/whitespace/control/unicode
  * alphabets):
  * tokens = Java-regex `\s+` split of the `\A\s+`/`\s+\z`-trimmed text
  * (an all-whitespace remainder yields one empty token, matching Spark
  * split's limit -1); a token rewrites through the confusables map
  * l,I,|→1 O,o→0 Z,z→2 S,s→5 G→6 g→9 B,b→8 iff ALL its chars are in
  * `[0-9lIoOzZsSgGbB|]` and at least one is a digit; join with single
  * spaces. Blank/null gating stays OUTSIDE in
  * [[graft.functions.TextFunctions.plainNormalize]].
  */
object PlainNormalize {

  // lookup tables DERIVED from the single-source constant strings in
  // TextFunctions (the module's stated rule: expressions and DuckDB
  // twins generate from the same tables so they cannot drift); lazy so
  // the two objects' mutual reference cannot deadlock initialization
  private lazy val mapTable: Array[Char] = {
    val from = graft.functions.TextFunctions.ConfusablesFrom
    val to = graft.functions.TextFunctions.ConfusablesTo
    val t = Array.tabulate(128)(_.toChar)
    var i = 0
    while (i < from.length) { t(from.charAt(i)) = to.charAt(i); i += 1 }
    t
  }

  /** membership in `[0-9lIoOzZsSgGbB|]` (digits + ConfusablesFrom —
    * the NumTokenRe character class by construction)
    */
  private lazy val gateTable: Array[Boolean] = {
    val t = new Array[Boolean](128)
    var c = '0'
    while (c <= '9') { t(c) = true; c = (c + 1).toChar }
    graft.functions.TextFunctions.ConfusablesFrom.foreach(ch => t(ch) = true)
    t
  }

  private def mapChar(c: Char): Char =
    if (c < 128) mapTable(c) else c

  /** gate-class membership; the eval loop handles digits before calling
    * this, so it reduces to the table lookup
    */
  private def confusable(c: Char): Boolean =
    c < 128 && gateTable(c)

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String): UTF8String =
    UTF8String.fromString(normalize(input.toString))

  /** the normalization of an already-decoded payload */
  def normalize(input: String): String = {
    val s = TokenSpans.trimJavaWs(input)
    val toks = TokenSpans.splitJavaWs(s)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < toks.length) {
      if (i > 0) sb.append(' ')
      val t = toks(i)
      var ok = t.length > 0
      var hasDigit = false
      var j = 0
      while (ok && j < t.length) {
        val c = t.charAt(j)
        if (c >= '0' && c <= '9') hasDigit = true
        else if (!confusable(c)) ok = false
        j += 1
      }
      if (ok && hasDigit) {
        var k = 0
        while (k < t.length) { sb.append(mapChar(t.charAt(k))); k += 1 }
      } else sb.append(t)
      i += 1
    }
    sb.toString
  }
}
