package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{collapseRuns, isBlank, plainNormalize}
import graft.textanalysis.TextAnalysis

/** Tier→strategy adaptive routing — the reference's clearest pipeline
  * shape (classify → route → extract → annotate;
  * `adaptive_ocr_pipeline.py:349-407` `_select_processing_strategy`):
  * the quality tier selects an engine and a preprocessing chain BEFORE
  * extraction, and the chosen strategy is annotated on every row.
  *
  * Text-domain analog of the reference's image strategies (bilateral
  * filter / histogram eq / denoising have no text meaning):
  *
  *  | tier     | engine       | preprocessing                    |
  *  |----------|--------------|----------------------------------|
  *  | high     | chain-simple | (none)                           |
  *  | medium   | chain-simple | whitespace_collapse              |
  *  | low      | kie          | + char_correction                |
  *  | very_low | kie          | + run_collapse (CTC analog, G8)  |
  *
  * Everything is ONE gated projection — the route is a CASE over the
  * staged tier, never a filter+union (which would re-scan the input per
  * tier at 100 TB). The whole stage is narrow: classify, route, and
  * normalize run at scan speed with zero shuffles.
  */
object AdaptiveRoute {

  /** whitespace collapse only (the "light enhancement" stage) */
  def wsCollapse(text: Column): Column =
    when(isBlank(text), lit(""))
      .otherwise(regexp_replace(
        regexp_replace(regexp_replace(text, "\\A\\s+", ""), "\\s+\\z", ""),
        "\\s+", " "))

  /** strategy annotation from a tier column — the literal routing table */
  def engineFor(tier: Column): Column =
    when(tier === "high" || tier === "medium", "chain-simple")
      .otherwise("kie")

  def preprocessingFor(tier: Column): Column =
    when(tier === "high", "")
      .when(tier === "medium", "whitespace_collapse")
      .when(tier === "low", "whitespace_collapse,char_correction")
      .otherwise("whitespace_collapse,char_correction,run_collapse")

  def reasonFor(tier: Column): Column =
    when(tier === "high", "high quality, minimal processing")
      .when(tier === "medium", "medium quality, light normalization")
      .when(tier === "low", "low quality, char correction + collapse")
      .otherwise("very low quality, all normalization stages")

  /** run_collapse gated OFF digit-bearing tokens: the CTC collapse
    * analog (G8) repairs stutter in words ("helllo"→"helo") but must
    * never destroy numeric values ("299"→"29") — the same gating
    * philosophy as correctToken. Input is already single-spaced.
    */
  def gatedRunCollapse(text: Column): Column =
    when(isBlank(text), lit(""))
      .otherwise(array_join(transform(split(text, " "), w =>
        when(w.rlike("[0-9]"), w).otherwise(collapseRuns(w))), " "))

  /** routed text: the tier's preprocessing chain applied (plainNormalize
    * = whitespace_collapse + char_correction; gated run_collapse on top
    * for the worst tier).
    */
  def routedText(tier: Column, text: Column): Column =
    when(tier === "high", text)
      .when(tier === "medium", wsCollapse(text))
      .when(tier === "low", plainNormalize(text))
      .otherwise(gatedRunCollapse(plainNormalize(text)))

  /** classify → route → annotate over any (idCols..., textCol) frame.
    * Output: input id columns + (tier, engine, preprocessing, reason,
    * routed_text). The tokens and the quality score/tier are STAGED so
    * the score's components and the four strategy columns read an
    * attribute, not re-evaluations.
    */
  def route(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = col("__toks")
    val staged = df
      .withColumn("__toks", TextAnalysis.tokens(t))
      .withColumn("__q", TextAnalysis.qualityScore(toks, TextAnalysis.punctRatio(t),
        TextAnalysis.meanTokenLen(toks), TextAnalysis.stopwordRatio(toks)))
      .withColumn("tier", TextAnalysis.qualityTier(col("__q")))
    staged
      .withColumn("engine", engineFor(col("tier")))
      .withColumn("preprocessing", preprocessingFor(col("tier")))
      .withColumn("reason", reasonFor(col("tier")))
      .withColumn("routed_text", routedText(col("tier"), t))
      .drop("__q", "__toks")
  }

  /** S5 cache/memo between routing and extraction (the reference's
    * ImageCache holds decoded pages between the route decision and every
    * downstream engine read, `pipeline.py:100-191`; SURVEY §2 maps it to
    * `persist(MEMORY_AND_DISK)` between the stages): the routed frame is
    * persisted and fanned out to TWO downstream consumers — per
    * (tier, engine) stats and per preprocessing-chain stats — so the
    * classify+route stage runs ONCE, not once per consumer. The small
    * union is materialized eagerly (localCheckpoint) while the cache is
    * live, then the cache is released — same lifecycle discipline as
    * SpanVote's token frame (a leaked corpus-sized cache per call is a
    * session poison at 100 TB). Eviction under memory pressure is
    * Spark's block manager spilling to disk, not the reference's
    * clear-everything-on-overflow.
    */
  def routeFanout(df: DataFrame, textCol: String = "text"): DataFrame = {
    val routed = route(df, textCol)
      .select(col("doc_id"), col("tier"), col("engine"),
        col("preprocessing"), col("routed_text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val byTier = routed.groupBy(col("tier"), col("engine"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("routed_text"))).cast("long").as("chars"))
        .select(lit("by_tier").as("branch"), col("tier").as("k1"),
          col("engine").as("k2"), col("n"), col("chars"))
      val byPrep = routed.groupBy(col("preprocessing"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("routed_text"))).cast("long").as("chars"))
        .select(lit("by_prep").as("branch"),
          col("preprocessing").as("k1"), lit("").as("k2"),
          col("n"), col("chars"))
      byTier.unionByName(byPrep).orderBy("branch", "k1", "k2")
        .localCheckpoint() // eager: both consumers read the live cache
    } finally routed.unpersist(blocking = false)
  }

  /** DuckDB twin of [[routeFanout]]: the routed frame is a CTE consumed
    * by both branch aggregates — semantically the cache fan-out (DuckDB
    * materializes the CTE once). length() counts code points in both
    * engines; sums cast to BIGINT (DuckDB sum(BIGINT) is HUGEINT).
    */
  def fanoutOracle: String =
    s"""WITH routed AS ($oracle),
      b1 AS (SELECT 'by_tier' AS branch, tier AS k1, engine AS k2,
        count(*) AS n, CAST(sum(length(routed_text)) AS BIGINT) AS chars
        FROM routed GROUP BY 1, 2, 3),
      b2 AS (SELECT 'by_prep' AS branch, preprocessing AS k1, '' AS k2,
        count(*) AS n, CAST(sum(length(routed_text)) AS BIGINT) AS chars
        FROM routed GROUP BY 1, 2, 3)
      SELECT * FROM b1 UNION ALL SELECT * FROM b2
      ORDER BY branch, k1, k2"""

  /** DuckDB twin of [[route]] over the documents table — the tier comes
    * from the same TextAnalysis oracle; strategy CASEs and normalization
    * chains mirror the Spark expressions (regexp_replace needs explicit
    * 'g' flags in DuckDB).
    */
  def oracle: String = {
    import graft.functions.TextFunctions.{plainNormalizeSql, wsCollapseSql}
    val collapsed = wsCollapseSql("d.text")
    val norm = plainNormalizeSql("d.text")
    s"""WITH ta AS (${TextAnalysis.oracle})
      SELECT d.doc_id AS doc_id, ta.tier,
        CASE WHEN ta.tier IN ('high', 'medium') THEN 'chain-simple' ELSE 'kie' END AS engine,
        CASE ta.tier WHEN 'high' THEN ''
          WHEN 'medium' THEN 'whitespace_collapse'
          WHEN 'low' THEN 'whitespace_collapse,char_correction'
          ELSE 'whitespace_collapse,char_correction,run_collapse' END AS preprocessing,
        CASE ta.tier WHEN 'high' THEN 'high quality, minimal processing'
          WHEN 'medium' THEN 'medium quality, light normalization'
          WHEN 'low' THEN 'low quality, char correction + collapse'
          ELSE 'very low quality, all normalization stages' END AS reason,
        CASE ta.tier WHEN 'high' THEN d.text
          WHEN 'medium' THEN $collapsed
          WHEN 'low' THEN $norm
          ELSE array_to_string(list_transform(string_split($norm, ' '),
            w -> CASE WHEN regexp_matches(w, '[0-9]') THEN w
                 ELSE array_to_string(list_filter(string_split(w, ''),
                   (c, i) -> i = 1 OR c <> string_split(w, '')[i - 1]), '')
                 END), ' ')
          END AS routed_text
      FROM documents d JOIN ta ON d.doc_id = ta.doc_id
      ORDER BY d.doc_id"""
  }
}
