package graft

import org.apache.spark.sql.functions._

import graft.operators.{AdaptiveRoute, FieldExtract}

/** Tier→strategy routing (reference `_select_processing_strategy`,
  * `adaptive_ocr_pipeline.py:349-407`) and the full
  * classify→route→extract→annotate shape over bills.
  */
class AdaptiveRouteSpec extends SparkSpecBase {
  import spark.implicits._

  test("strategy table mirrors the reference tier mapping") {
    val tiers = Seq("high", "medium", "low", "very_low").toDF("tier")
    val got = tiers.select(col("tier"),
        AdaptiveRoute.engineFor(col("tier")).as("engine"),
        AdaptiveRoute.preprocessingFor(col("tier")).as("pre"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(got("high") === (("chain-simple", "")))
    assert(got("medium") === (("chain-simple", "whitespace_collapse")))
    assert(got("low") === (("kie", "whitespace_collapse,char_correction")))
    assert(got("very_low") ===
      (("kie", "whitespace_collapse,char_correction,run_collapse")))
  }

  test("routed text applies exactly the annotated preprocessing chain") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val out = AdaptiveRoute.route(docs)
    // self-consistency per row: routed_text == the formula for ITS tier
    val bad = out.filter(!(col("routed_text") <=>
      AdaptiveRoute.routedText(col("tier"), col("text"))))
    assert(bad.count() === 0)
    // every strategy column is non-null and the engine set is exact
    assert(out.filter(col("engine").isNull || col("preprocessing").isNull ||
      col("reason").isNull).count() === 0)
    assert(out.select("engine").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("chain-simple", "kie")))
  }

  test("classify→route→extract recovers an OCR-degraded bill via routing") {
    // degraded numerics ('2gg kWh') + noisy enough text to stay below the
    // high tier: the routed char-correction repairs the token BEFORE the
    // field chains run
    val noisy = ("ref :: 77 !! ## " * 3) +
      "Electricity 2gg kWh this period " + ("%% !! @@ ~~ ^^ " * 4)
    val df = Seq((1L, noisy)).toDF("doc_id", "bill")
    val routed = AdaptiveRoute.route(df, "bill")
    val tier = routed.select("tier").head().getString(0)
    assert(tier !== "high", s"fixture unexpectedly scored high: $tier")
    val out = FieldExtract.withFields(routed, textCol = "routed_text")
    assert(out.select("electricity_kwh").head().getAs[Any](0) === 299)
  }

  test("routeFanout: cached fan-out equals uncached recompute, cache released") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size

    val got = AdaptiveRoute.routeFanout(docs)

    // S5 lifecycle: the corpus-sized routed cache is released before the
    // call returns (a leaked cache per call poisons a long session); the
    // ONE surviving block is the eager localCheckpoint backing the small
    // result frame itself
    assert(spark.sparkContext.getPersistentRDDs.size === before + 1)

    // value equality vs the zero-cache recompute (each branch re-derives
    // the routed frame from scratch)
    val routed = AdaptiveRoute.route(docs)
    def agg(df: org.apache.spark.sql.DataFrame, branch: String,
        k1: org.apache.spark.sql.Column, k2: org.apache.spark.sql.Column) =
      df.groupBy(k1.as("k1"), k2.as("k2"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("routed_text"))).cast("long").as("chars"))
        .select(lit(branch).as("branch"), col("k1"), col("k2"),
          col("n"), col("chars"))
    val expected = agg(routed, "by_tier", col("tier"), col("engine"))
      .unionByName(agg(routed, "by_prep", col("preprocessing"), lit("")))
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)

    // the branch counts cover the whole corpus exactly twice
    val total = docs.count()
    val sums = got.groupBy("branch").agg(sum("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums === Map("by_tier" -> total, "by_prep" -> total))
  }
}
