package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-engine ensemble voting over span-aligned tokens — the graft
  * form of the reference's bbox-IoU grouping + weighted vote
  * (`_calculate_bbox_iou` `pipeline.py:1729-1748`, grouping
  * `pipeline.py:1774-1799`, vote `pipeline.py:1801-1837`, SURVEY J1+A4):
  * token candidates from ≥2 extraction passes over the same payload are
  * clustered by char-span IoU and each cluster elects one text variant
  * by confidence-weighted vote.
  *
  * Scale shape (the J1 idiom): candidate pairs come from an EQUI-join on
  * (row, span-grid-cell) with the IoU predicate as residual — never an
  * all-pairs loop; only (ids, spans, conf) shuffle. Clustering is
  * representative-based like the reference's greedy pass (each token
  * joins the cluster of its minimal overlapping token), computed with
  * one aggregation instead of a sequential loop — deterministic under
  * any partitioning.
  *
  * Vote semantics (`pipeline.py:1826-1830`): per variant,
  * `weighted = Σconf(variant) / |cluster|`; argmax, ties to the
  * lexicographically first variant (Python's stable max over dict-order
  * is not portable; a total order is).
  */
object SpanVote {

  /** widest span [[vote]] accepts (16 M chars): far beyond any real
    * token, small enough that one token's grid-cell fan-out stays ≤
    * width/grid ≈ 1 M and iou's arithmetic stays far from Int range.
    */
  val MaxSpanWidth: Long = 1L << 24

  /** span IoU — LONG arithmetic: int endpoint pairs near ±2^31 would
    * overflow `(aE-aS)+(bE-bS)` (ANSI throws, non-ANSI wraps the sign);
    * values are identical for in-range inputs, so the x14 value oracle
    * is unaffected. */
  def iou(aS: Column, aE: Column, bS: Column, bE: Column): Column = {
    val (as_, ae, bs_, be) = (aS.cast("long"), aE.cast("long"),
      bS.cast("long"), bE.cast("long"))
    val inter = greatest(least(ae, be) - greatest(as_, bs_), lit(0L))
    val uni = (ae - as_) + (be - bs_) - inter
    when(uni > 0, inter.cast("double") / uni).otherwise(lit(0.0))
  }

  /** Input: (row_id, engine, text, conf, start, end) token candidates.
    * Output: one elected row per cluster —
    * (row_id, start, end, text, score, votes, cluster_size).
    *
    * The normalized token frame is referenced THREE times (both grid
    * self-join sides + the cluster-assign join), so it is persisted for
    * the duration of the call and the (small — one elected row per
    * cluster) result is materialized via localCheckpoint before the
    * token cache is released: the upstream of `tokens` runs ONCE, not 3×
    * (round-3 verdict: the unpersisted form recomputed an expensive
    * exploded-token stage three times).
    *
    * `checkpointDir` is the cluster-scale alternative (round-4 verdict
    * #4): the normalized token frame is written to parquet under the
    * given dir and every downstream reference reads the DURABLE copy —
    * localCheckpoint blocks are executor-local and die with executors /
    * the session, so a long multi-stage job over a non-ephemeral input
    * should pay the one table write instead. Both paths produce
    * identical results (SpanVoteSpec pins it); the caller owns the dir's
    * lifecycle.
    */
  def vote(tokens: DataFrame, iouThreshold: Double = 0.5,
      grid: Int = 16, checkpointDir: Option[String] = None): DataFrame = {
    val ident = struct(col("start"), col("end"), col("engine"), col("text"))
    val t0 = tokens.select(col("row_id"), col("engine"), col("text"),
      // null conf contributes 0 to the weighted sum (the aggregate()
      // election would otherwise null-poison where sum() skipped)
      coalesce(col("conf").cast("double"), lit(0.0)).as("conf"),
      // widen to long FIRST: the guard below must see the raw offsets.
      // A direct cast("int") of a wide-typed hostile offset (JSON
      // ingestion infers LongType) would throw CAST_OVERFLOW under ANSI
      // before the guard runs — or, non-ANSI, wrap into a plausible
      // in-range phantom span that sails through it (review finding).
      // try_cast: an offset with no long value (a Double/Decimal beyond
      // long range, NaN, ±Inf, a non-numeric string) becomes NULL in any
      // ANSI mode — never a throw, never NaN's non-ANSI 0 — and the
      // guard drops it; in-range fractional offsets truncate as before
      col("start").try_cast("long").as("startL"),
      col("end").try_cast("long").as("endL"))
      // hostile-span guard AT THE SOURCE (null/inverted/degenerate/
      // out-of-int-range spans describe no span and never elect —
      // SpanVoteSpec/OperatorFuzzSpec pin the drop; filtering here
      // rather than downstream also bounds the machinery): an inverted
      // pair would explode cells() as a DESCENDING sequence and an
      // absurd width an ascending one, each ~width/grid rows per token
      // (executor OOM near 2^31 widths), and iou()'s int arithmetic sits
      // near ARITHMETIC_OVERFLOW under ANSI. MaxSpanWidth (16 M chars)
      // is far beyond any real token yet keeps the per-token cell
      // fan-out ≤ ~1 M cells.
      .filter(col("endL") > col("startL") &&
        col("endL") - col("startL") <= MaxSpanWidth &&
        col("startL") >= Int.MinValue.toLong &&
        col("endL") <= Int.MaxValue.toLong)
      .select(col("row_id"), col("engine"), col("text"), col("conf"),
        col("startL").cast("int").as("start"),
        col("endL").cast("int").as("end"))
    val t = checkpointDir match {
      case Some(dir) =>
        // unique subdir per invocation (review fix: a FIXED subpath +
        // Overwrite let a second vote() on the same dir delete the
        // parquet under the first call's still-lazy result). The caller
        // owns the dir's lifecycle; each call adds one subdir.
        val path = s"$dir/spanvote_tokens_${java.util.UUID.randomUUID()}"
        t0.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(path)
        tokens.sparkSession.read.parquet(path)
      case None =>
        t0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {

    // every grid cell a span touches (equi-join key; IoU is residual)
    def cells(df: DataFrame): DataFrame =
      df.withColumn("cell",
        explode(sequence(floor(col("start") / grid),
          floor((col("end") - 1) / grid))))

    val a = cells(t).as("a")
    val b = cells(t).as("b")
    // duplicate pairs (a pair of spans sharing several grid cells) are
    // harmless under the min() below — deduplicating them first cost a
    // full Exchange + aggregate of the LARGEST frame in the job
    val pairs = a.join(b,
        col("a.row_id") === col("b.row_id") &&
          col("a.cell") === col("b.cell") &&
          iou(col("a.start"), col("a.end"), col("b.start"), col("b.end"))
            >= iouThreshold)
      .select(col("a.row_id").as("row_id"),
        struct(col("a.start"), col("a.end"), col("a.engine"), col("a.text"))
          .as("me"),
        struct(col("b.start"), col("b.end"), col("b.engine"), col("b.text"))
          .as("partner"))

    // representative = minimal overlapping token (self always qualifies
    // at IoU 1.0) — the greedy cluster anchor
    val reps = pairs.groupBy(col("row_id"), col("me"))
      .agg(min(col("partner")).as("rep"))

    val clustered = t
      .join(reps,
        t("row_id") === reps("row_id") && ident === col("me"))
      .select(t("row_id"), col("rep"), col("text"), col("conf"))

    // ONE aggregation per cluster (collect the members), then the whole
    // election — per-variant (votes, Σconf) and the argmax — runs inside
    // the row over the SMALL cluster array (bounded by engines ×
    // overlapping spans, never by corpus size). The earlier two-level
    // groupBy (variants, then argmax) paid a second Exchange of the
    // near-token-count variants frame just to combine rows that were
    // already co-located. Within a cluster the weighted score
    // conf_sum/cluster_size shares the denominator, so argmax(score) ≡
    // argmax(conf_sum); sorting by (-conf_sum, text) keeps the
    // lexicographically-first tie-break.
    val members = col("members")
    val texts = array_distinct(transform(members, m => m.getField("text")))
    val stats = transform(texts, tx => struct(
      tx.as("text"),
      size(filter(members, m => m.getField("text") === tx)).as("votes"),
      aggregate(filter(members, m => m.getField("text") === tx),
        lit(0.0), (acc, m) => acc + m.getField("conf")).as("conf_sum")))
    val winner = element_at(array_sort(stats, (l, r) =>
      when(l.getField("conf_sum") > r.getField("conf_sum"), -1)
        .when(l.getField("conf_sum") < r.getField("conf_sum"), 1)
        .when(l.getField("text") < r.getField("text"), -1)
        .when(l.getField("text") > r.getField("text"), 1)
        .otherwise(0)), 1)

    val elected = clustered
      .groupBy(col("row_id"), col("rep"))
      .agg(collect_list(struct(col("text"), col("conf"))).as("members"))
      .select(col("row_id"), col("rep"), winner.as("w"), size(members).as("n"))
      .select(col("row_id"),
        col("rep.start").as("start"), col("rep.end").as("end"),
        col("w.text").as("text"),
        round(col("w.conf_sum") / col("n"), 6).as("score"),
        col("w.votes").cast("long").as("votes"),
        col("n").as("cluster_size"))
    // eager: materializes the elected rows while `t` is cached, so the
    // token cache can be released before returning the (lazy-consumed)
    // result frame; the finally releases it on ANY exit — a mid-job
    // failure must not pin the token cache for the rest of the session.
    // The checkpointed path needs neither: `t` reads durable parquet
    // that outlives the call, so the result can stay lazy.
    if (checkpointDir.isDefined) elected else elected.localCheckpoint()
    } finally if (checkpointDir.isEmpty) t.unpersist(blocking = false)
  }
}
