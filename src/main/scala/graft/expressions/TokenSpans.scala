package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens with char-span offsets in the COLLAPSED string
  * (tokens rejoined by single spaces) as ONE native single-pass call,
  * `token_spans(text)` ([[NativeFunction]]) — the token-offset stage of
  * the span-vote ensemble (SURVEY J1+A4; reference token/bbox alignment
  * `pipeline.py:1729-1837`).
  *
  * Replaces the posexplode + per-row window prefix-sum pipeline: that
  * shape shuffles every token row once just to compute a running sum the
  * generator already knows — at 10^12 turns the token-offset Exchange
  * dominates the ensemble path's cost. This expression emits
  * `array<struct<tok:string,start:int,end:int>>` per row, so the plan
  * stays NARROW until the ensemble's grid equi-join.
  *
  * Semantics are IDENTICAL to the declarative pipeline (cross-checked in
  * SpanVoteSpec): tokens = `split(regexp_replace(regexp_replace(text,
  * "\\A\\s+", ""), "\\s+\\z", ""), "\\s+")` (trims ALL leading/trailing
  * whitespace — unlike Spark `trim`, which strips ' ' only — and keeps
  * Spark split's limit -1 behavior: an all-whitespace input yields one
  * empty token); start_0 = 0, start_i = start_{i-1} + numChars_{i-1} + 1
  * (offsets in the single-space-joined string); end = start + numChars.
  * Lengths count Unicode code points, matching Spark `length`.
  */
object TokenSpans {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false))), containsNull = false)

  /** hoisted: String.split("\\s+") recompiles the pattern per call */
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val LeadWS = java.util.regex.Pattern.compile("\\A\\s+")
  private val TrailWS = java.util.regex.Pattern.compile("\\s+\\z")

  /** `\A\s+`/`\s+\z` trim with Java-regex `\s` (== what Spark's
    * regexp_replace uses, NOT Unicode whitespace) — the load-bearing
    * trim semantics shared by [[evalUtf8]] and [[PlainNormalize]]
    */
  def trimJavaWs(s: String): String =
    TrailWS.matcher(LeadWS.matcher(s).replaceFirst("")).replaceFirst("")

  /** `\s+` split with limit -1 ("" → [""], matching Spark split) —
    * shared with [[PlainNormalize]] for the same reason
    */
  def splitJavaWs(s: String): Array[String] = WS.split(s, -1)

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String): ArrayData = {
    val s = trimJavaWs(input.toString)
    val toks = splitJavaWs(s)
    val out = new Array[Any](toks.length)
    var off = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val n = t.codePointCount(0, t.length) // Spark length() = code points
      val row = new GenericInternalRow(3)
      row.update(0, UTF8String.fromString(t))
      row.setInt(1, off)
      row.setInt(2, off + n)
      out(i) = row.asInstanceOf[InternalRow]
      off += n + 1
      i += 1
    }
    new GenericArrayData(out)
  }
}
