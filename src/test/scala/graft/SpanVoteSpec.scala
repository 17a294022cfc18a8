package graft

import org.apache.spark.sql.functions._

import graft.operators.SpanVote

/** Span-IoU clustering + weighted vote (SURVEY J1+A4), mirroring the
  * reference's bbox ensemble semantics (`pipeline.py:1729-1837`).
  */
class SpanVoteSpec extends SparkSpecBase {
  import spark.implicits._

  private def toks(rows: (String, String, String, Double, Int, Int)*) =
    rows.toDF("row_id", "engine", "text", "conf", "start", "end")

  test("overlapping variants elect the confidence-weighted winner") {
    val out = SpanVote.vote(toks(
      ("r", "a", "123", 0.9, 0, 3),
      ("r", "b", "l23", 0.55, 0, 4))).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("text") === "123")
    assert(out.head.getAs[Int]("cluster_size") === 2)
    assert(math.abs(out.head.getAs[Double]("score") - 0.45) < 1e-9)
  }

  test("agreeing engines pool votes and confidence") {
    val out = SpanVote.vote(toks(
      ("r", "a", "abc", 0.9, 10, 13),
      ("r", "b", "abc", 0.5, 10, 13))).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("votes") === 2L)
    assert(math.abs(out.head.getAs[Double]("score") - 0.7) < 1e-9)
  }

  test("equal-confidence tie elects the lexicographically first variant") {
    // the reference's Python max over dict order is not portable; the
    // election pins a total order: argmax conf_sum, ties by text ASC
    val out = SpanVote.vote(toks(
      ("r", "a", "zzz", 0.7, 0, 3),
      ("r", "b", "aaa", 0.7, 0, 3))).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("text") === "aaa")
  }

  test("disjoint spans stay in separate clusters; rows never mix") {
    val out = SpanVote.vote(toks(
      ("r1", "a", "aa", 0.9, 0, 2),
      ("r1", "a", "bb", 0.9, 10, 12),
      ("r2", "a", "aa", 0.9, 0, 2))).collect()
    assert(out.length === 3)
  }

  test("grid cells do not split wide spans (IoU join finds cross-cell overlaps)") {
    val out = SpanVote.vote(toks(
      ("r", "a", "wide token here", 0.8, 10, 40),
      ("r", "b", "wide token hero", 0.6, 12, 40)), grid = 16).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("text") === "wide token here")
  }

  test("null/degenerate token fields never throw; malformed spans are dropped") {
    // a multi-engine token stream over real transcripts WILL contain
    // rows with missing text/conf and corrupt offsets; the election must
    // stay total: null conf weighs 0 (not null-poison the sum), null or
    // inverted offsets drop the token (they describe no span), and the
    // surviving cluster still elects
    val df = Seq(
      (1L, "e1", "word", java.lang.Double.valueOf(0.9),
        java.lang.Integer.valueOf(0), java.lang.Integer.valueOf(4)),
      (1L, "e2", null: String, null: java.lang.Double,
        java.lang.Integer.valueOf(0), java.lang.Integer.valueOf(4)),
      (1L, "e3", "word", java.lang.Double.valueOf(0.8),
        null: java.lang.Integer, null: java.lang.Integer),
      (2L, "e1", "x", java.lang.Double.valueOf(0.5),
        java.lang.Integer.valueOf(2), java.lang.Integer.valueOf(1)))
      .toDF("row_id", "engine", "text", "conf", "start", "end")
    val out = SpanVote.vote(df).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("row_id") === 1L)
    assert(r.getAs[String]("text") === "word")
    assert(r.getAs[Int]("cluster_size") === 2) // e1 + the null-text token
    assert(math.abs(r.getAs[Double]("score") - 0.45) < 1e-9) // (0.9+0.0)/2
  }

  test("wide-typed (long) offsets beyond int range are dropped, not cast-crashed") {
    // JSON ingestion infers LongType for offsets: a corrupt row with a
    // >2^31 offset must neither throw CAST_OVERFLOW under ANSI (the
    // guard has to see the PRE-cast value) nor wrap into a plausible
    // phantom span non-ANSI; an in-int-range long row must still elect
    val df = Seq(
      (1L, "e1", "ok", 0.9, 0L, 4L),
      (1L, "e2", "corrupt", 0.9, 3000000000L, 3000000010L),
      (1L, "e3", "corrupt2", 0.9, -3000000010L, -3000000000L))
      .toDF("row_id", "engine", "text", "conf", "start", "end")
    val out = SpanVote.vote(df).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("text") === "ok")
    assert(out.head.getAs[Int]("start") === 0)
  }

  test("non-integral offsets with no long value are dropped, not cast-crashed") {
    // Double and Decimal offsets (JSON or CSV ingestion) beyond long
    // range, NaN and ±Inf have no long value: under ANSI the cast to
    // long threw; non-ANSI NaN became offset 0, a phantom span. They
    // must drop like any other hostile span while in-range rows elect.
    val inf = Double.PositiveInfinity
    val dbl = Seq(
      (1L, "e1", "ok", 0.9, 0.0, 4.0),
      (1L, "e2", "nan", 0.9, Double.NaN, 4.0),
      (1L, "e3", "inf", 0.9, 0.0, inf),
      (1L, "e4", "ninf", 0.9, -inf, 4.0),
      (1L, "e5", "huge", 0.9, 0.0, 1e30))
      .toDF("row_id", "engine", "text", "conf", "start", "end")
    val dec = dbl.filter(col("text").isin("ok", "huge"))
      .withColumn("start", col("start").cast("decimal(38,0)"))
      .withColumn("end", col("end").cast("decimal(38,0)"))
    for (ansi <- Seq("true", "false"); df <- Seq(dbl, dec)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val out = SpanVote.vote(df).collect()
        assert(out.map(_.getAs[String]("text")).toSeq === Seq("ok"), s"ansi=$ansi")
        assert(out.head.getAs[Int]("end") === 4)
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("native tokenSpans equals the declarative running-sum spec") {
    import graft.functions.GraftFunctions.token_spans
    import DeclarativeTwins.tokenSpansDeclarative
    val cases = Seq(
      "plain simple words",
      "  leading and trailing  ",
      "\t tabs\nnewlines\r\n mixed ws ",
      "one",
      " ",
      "a  b   c",
      "unicode été café 123",
      "l23 O5 Z99 numbers 42")
    val df = cases.toDF("text")
      .select(token_spans($"text").as("nat"),
        tokenSpansDeclarative($"text").as("dec"))
    assert(df.filter(to_json($"nat") =!= to_json($"dec")).count() === 0)
    // spot-check offsets are collapsed-string offsets
    val one = Seq("  aa   bbb c ").toDF("text")
      .select(token_spans($"text").as("s")).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(one === Seq(("aa", 0, 2), ("bbb", 3, 6), ("c", 7, 8)))
  }

  test("tokenSpans token stage is NARROW — no Exchange before the ensemble join") {
    import graft.functions.GraftFunctions.token_spans
    // parquet-backed input: local relations constant-fold and would show
    // no real plan (verify-skill gotcha)
    val dir = tempDir("graft-ts")
    spark.range(100)
      .selectExpr("cast(id as string) AS row_id", "'a bb ccc' AS text")
      .write.mode("overwrite").parquet(dir)
    val toks = spark.read.parquet(dir)
      .select(col("row_id"), explode(token_spans(col("text"))).as("t"))
    val plan = toks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"token-offset stage must not shuffle:\n$plan")
    assert(plan.contains("graft.expressions.TokenSpans.evalUtf8("), plan)
  }

  test("x07 end-to-end: elected tokens equal the golden corrected tokens") {
    val voted = SparkEntry.queries("x07_span_vote")(spark, "")
      .groupBy("row_id")
      .agg(sort_array(collect_list(struct(col("start"), col("text"))))
        .as("elected"))
      .select(col("row_id"),
        transform(col("elected"), e => e.getField("text")).as("texts"))
    val golden = graft.gen.TranscriptGen.goldenDf(spark, 5000L)
      .filter(col("expected_path") === "plain")
      .select(concat_ws("#", col("conv_id"), col("turn_idx")).as("row_id"),
        split(col("expected_text"), " ").as("exp"))
    val joined = voted.join(golden, Seq("row_id"))
    assert(joined.count() > 500)
    assert(joined.filter(col("texts") =!= col("exp")).count() === 0)
  }

  test("checkpointDir path produces results identical to the persist path") {
    // round-4 verdict #4: the durable-checkpoint alternative (the
    // cluster-scale shape — localCheckpoint blocks die with executors)
    // must be executable and equal, not a comment
    val in = toks(
      ("r", "a", "123", 0.9, 0, 3),
      ("r", "b", "l23", 0.55, 0, 4),
      ("r", "b", "far", 0.7, 40, 43),
      ("r2", "a", "xx", 0.8, 0, 2))
    val dir = new java.io.File(tempDir("graft-sv-ckpt"))
    val persisted = SpanVote.vote(in)
      .orderBy("row_id", "start", "end").collect().toSeq
    val checkpointed = SpanVote.vote(in, checkpointDir = Some(dir.getPath))
      .orderBy("row_id", "start", "end").collect().toSeq
    assert(checkpointed === persisted)
    // the durable copy actually exists where promised (one unique
    // subdir per invocation — a second vote() must not overwrite the
    // first call's still-lazy result)
    def ckptDirs() = Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("spanvote_tokens_"))
    assert(ckptDirs().length === 1)
    val again = SpanVote.vote(in, checkpointDir = Some(dir.getPath))
      .orderBy("row_id", "start", "end").collect().toSeq
    assert(again === persisted)
    assert(ckptDirs().length === 2)
  }
}
