package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}

import graft.expressions.{NativeCall, TurnNative}

/** The extraction core: per-turn content sniffing → per-format extraction
  * path → extracted text + raw-char spans + confidence + status +
  * blocks_total / blocks_kept + truncated. Narrow (no shuffle).
  *
  * Spark re-expression of the reference's run_ocr routing
  * (`pipeline.py:1889-2065`): the cheapest check (blank) comes first — the
  * reference's early blank detection (`pipeline.py:1917-1936`); the
  * per-path low-confidence fallback (aggressive re-parse, plain
  * normalization) is chosen in the SAME row with keep-better semantics,
  * the scale-correct form of the reference's "retry at 600 DPI and keep
  * whichever is better" (`pipeline.py:1989-2002`) — a filter+union second
  * pass was rejected because it doubles the input scan at 100 TB.
  *
  * One [[graft.expressions.TurnNative.extract]] call per turn owns the
  * whole turn: it decodes the text once, sniffs it, parses it on its path
  * (a tool result's `$.output.text` through `get_json_object`'s own
  * evaluator) and runs the τ-ladder. The call is materialized once per
  * row and its fields selected from it, so each parse runs at most once,
  * and the stage compiles to a generated row loop under HotSpot's
  * 8,000-byte JIT limit (MethodSizeSpec).
  */
object Extract {

  /** transcripts(conv_id, turn_idx, role, text, tool, ts) →
    * extracted(conv_id, turn_idx, path, text, spans, confidence, status,
    * blocks_total, blocks_kept, truncated)
    */
  def apply(df: DataFrame): DataFrame = apply(df, Nil)

  /** As [[apply]], additionally passing through `passThrough` input
    * columns unchanged (e.g. `ts` for event-time streaming aggregation).
    */
  def apply(df: DataFrame, passThrough: Seq[String]): DataFrame = {
    val x = column(NativeCall.static(TurnNative.getClass, "extract",
      TurnNative.extractType, Seq(expr(col("text")), expr(col("tool"))),
      propagateNull = false))
    df.withColumn("__x", x).select(Seq(col("conv_id"), col("turn_idx")) ++
      TurnNative.extractType.fieldNames.map(f => col(s"__x.$f").as(f)) ++
      passThrough.map(col): _*)
  }
}
