package graft

import scala.util.matching.Regex

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gen.TranscriptGen
import graft.operators.Extract

/** The north-rule invariant: per-turn text equality against analytically
  * generated goldens (re-expression of the reference's exact-equality field
  * accuracy, `run_comprehensive_tests.py:53-70`).
  */
class GoldenEqualitySpec extends SparkSpecBase {

  private val N = 3000L

  lazy val out = Extract(TranscriptGen.inputDf(spark, N)).cache()
  lazy val golden = TranscriptGen.goldenDf(spark, N)

  /** Parquet-backed input — local relations constant-fold and show no
    * real plan. */
  private lazy val parquetInput = {
    val dir = tempDir("graft-plan")
    TranscriptGen.inputDf(spark, 200L).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("staged projection: each tokenizer plans EXACTLY once") {
    // The staging invariant (Extract Scaladoc): the whole turn — sniff,
    // Jackson JSON parse, path parse and τ-ladder — is one native
    // `TurnNative.extract` call, materialized once per row; a refactor
    // that lets CollapseProject re-inline the call into each selected
    // field multiplies per-row cost. The sniff and the parsers run inside
    // the call: no call of their own and no higher-order lambda is left
    // in the plan.
    val plan = Extract(parquetInput).queryExecution.executedPlan.toString
    val fn = "graft.expressions.TurnNative.extract("
    val count = Regex.quote(fn).r.findAllMatchIn(plan).size
    assert(count === 1, s"$fn appears $count times in the plan:\n$plan")
    for (absent <- Seq("get_json_object(", "TurnNative.sniff(", "HtmlBlocks.extract(",
        "PdfGlyphRuns.extract(", "html_blocks", "pdf_glyph_runs", "lambda"))
      assert(!plan.contains(absent), s"$absent in the plan:\n$plan")
  }

  test("output schema: names, types and nullability are pinned") {
    // the parquet footer, and so the job's output bytes, follow this
    // schema (e.g. `truncated` stays nullable)
    val span = StructType(Seq(StructField("start", IntegerType),
      StructField("end", IntegerType)))
    val expected = StructType(Seq(
      StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType),
      StructField("path", StringType, nullable = false),
      StructField("text", StringType),
      StructField("spans", ArrayType(span, containsNull = true)),
      StructField("confidence", DoubleType),
      StructField("status", StringType, nullable = false),
      StructField("blocks_total", IntegerType),
      StructField("blocks_kept", IntegerType),
      StructField("truncated", BooleanType)))
    assert(Extract(parquetInput).schema === expected)
  }

  test("row count matches golden count") {
    assert(out.count() === N)
  }

  test("per-turn extracted text is byte-for-byte equal to golden") {
    val joined = out.join(golden, Seq("conv_id", "turn_idx"))
    assert(joined.count() === N) // (conv_id, turn_idx) unique + complete
    val bad = joined.filter(
      !(col("text") <=> col("expected_text")) ||
        !(col("path") <=> col("expected_path")) ||
        !(col("status") <=> col("expected_status")))
    val sample = bad
      .select("conv_id", "turn_idx", "path", "expected_path", "status",
        "expected_status", "text", "expected_text")
      .take(5)
    assert(bad.count() === 0,
      s"\nfirst mismatches:\n${sample.mkString("\n")}")
  }

  test("spans match golden spans exactly") {
    val joined = out.join(golden, Seq("conv_id", "turn_idx"))
    val bad = joined.filter(!(col("spans") <=> col("expected_spans")))
    val sample = bad
      .select("conv_id", "turn_idx", "path", "spans", "expected_spans")
      .take(5)
    assert(bad.count() === 0,
      s"\nfirst span mismatches:\n${sample.mkString("\n")}")
  }

  test("every payload class is exercised by the generator") {
    val paths = out.groupBy("path").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (p <- Seq("plain", "html", "pdf", "tooljson", "blank"))
      assert(paths.getOrElse(p, 0L) > 0, s"path $p not generated")
  }

  test("fallback status is exercised (malformed tooljson)") {
    assert(out.filter(col("status") === "fallback").count() > 0)
  }

  test("τ-ladder keep-better is exercised: low-confidence html AND pdf parses " +
    "return the plain alternative at PlainAltConf") {
    // the generator's lowconf class parses on its sniffed path but below
    // the plain alternative's confidence — the ladder must have swapped in
    // the plain normalization (conf exactly PlainAltConf, zero blocks kept)
    for (p <- Seq("html", "pdf")) {
      val ladder = out.filter(col("path") === p &&
        col("status") === "fallback" &&
        col("confidence") === graft.expressions.TurnNative.PlainAltConf)
      assert(ladder.count() > 0, s"no ladder-fallback rows for path $p")
      assert(ladder.filter(col("blocks_kept") =!= 0).count() === 0)
    }
  }
}
