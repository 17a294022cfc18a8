package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expressions.HtmlBlocks
import graft.gen.TranscriptGen
import graft.operators.Extract

/** Property tests (FIXTURES.md §5): normalization idempotence, span
  * validity, and partitioning invariance. Uses raw ScalaCheck generators
  * with a fixed seed (the scalatest-scalacheck bridge is not in the
  * offline dependency cache).
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  /** deterministic samples from a generator */
  private def samples[T](gen: Gen[T], n: Int): List[T] =
    (0 until n).flatMap(i =>
      gen(Gen.Parameters.default.withSize(40), Seed(42L + i))).toList

  private val anyText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "), Gen.const("\t"),
      Gen.const("\n"), Gen.const("<p>"), Gen.const("</p>"), Gen.const("&amp;"),
      Gen.const("<a href='x'>"), Gen.const("</a>"), Gen.const("l23")))
      .map(_.mkString))

  test("plainNormalize is idempotent") {
    import graft.functions.TextFunctions.plainNormalize
    val texts = samples(anyText, 200)
    val df = texts.toDF("t")
      .select(plainNormalize(col("t")).as("once"))
      .select(col("once"), plainNormalize(col("once")).as("twice"))
    assert(df.filter(col("once") =!= col("twice")).count() === 0)
  }

  test("html tokenizer spans are valid, sorted and disjoint") {
    samples(anyText, 400).foreach { s =>
      val bs = HtmlBlocks.tokenize(s)
      bs.foreach { b =>
        assert(0 <= b.start && b.start < b.end && b.end <= s.length,
          s"bad span (${b.start},${b.end}) for input ${s.take(80)}")
        assert(b.words > 0 && b.linkWords >= 0 && b.linkWords <= b.words)
      }
      bs.sliding(2).foreach {
        case Vector(a, b) => assert(a.end <= b.start, "overlapping blocks")
        case _ =>
      }
    }
  }

  test("extraction output spans always index into the raw payload") {
    val in = TranscriptGen.genDs(spark, 1500L)
    val out = Extract(in.select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      .join(in.select(col("conv_id"), col("turn_idx"),
        col("text").as("raw")), Seq("conv_id", "turn_idx"))
    val bad = out.filter(
      exists(col("spans"), sp =>
        sp.getField("start") < 0 ||
          sp.getField("start") >= sp.getField("end") ||
          sp.getField("end") > length(coalesce(col("raw"), lit("")))))
    assert(bad.count() === 0)
  }

  test("seeded corruption fuzz: contract statuses and span bounds survive") {
    // randomized generalization of PerturbationSpec's hand-curated
    // hostile list: every generator payload class (html/pdf/plain/tool)
    // corrupted by seeded random truncation, NUL/byte splices, chunk
    // duplication, and tag/run-line injection must still extract with a
    // contract status and in-bounds spans — never throw
    val base = TranscriptGen.inputDf(spark, 400L)
      .select("conv_id", "turn_idx", "role", "text", "tool")
      .collect()
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val rng = new scala.util.Random(seed)
      def corrupt(s: String): String = {
        if (s == null || s.isEmpty) return s
        rng.nextInt(5) match {
          case 0 => s.take(rng.nextInt(s.length)) // truncate anywhere
          case 1 => // splice control/NUL bytes at a random offset
            val i = rng.nextInt(s.length)
            s.substring(0, i) + "\u0000\u202e" + s.substring(i)
          case 2 => // duplicate a random chunk (simulates re-sent frames)
            val i = rng.nextInt(s.length); val j = i + rng.nextInt(s.length - i)
            s.substring(0, j) + s.substring(i, j) + s.substring(j)
          case 3 => // inject structure the sniffers key on
            val i = rng.nextInt(s.length)
            s.substring(0, i) + "<div><p>G 12 x 9 %PDF-{\"" + s.substring(i)
          case _ => s.reverse
        }
      }
      val fuzzed = base.map(r => (
        r.getString(0), r.getInt(1), r.getString(2),
        corrupt(r.getString(3)),
        Option(r.getString(4)).map(corrupt).orNull))
        .toSeq.toDF("conv_id", "turn_idx", "role", "text", "tool")
      val out = Extract(fuzzed)
        .join(fuzzed.select(col("conv_id"), col("turn_idx"),
          col("text").as("raw")), Seq("conv_id", "turn_idx"))
        .collect() // forces full evaluation of every fuzzed row
      assert(out.length === base.length, s"seed $seed")
      val okStatus = Set("success", "fallback", "blank")
      out.foreach { r =>
        assert(okStatus.contains(r.getAs[String]("status")), s"seed $seed: $r")
        val rawLen = Option(r.getAs[String]("raw")).map(_.length).getOrElse(0)
        r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("spans")).foreach { sp =>
          val (st, en) = (sp.getInt(0), sp.getInt(1))
          assert(st >= 0 && st < en && en <= rawLen, s"seed $seed: bad span ($st,$en)")
        }
      }
    }
  }

  test("same output regardless of input partitioning") {
    val a = Extract(TranscriptGen.inputDf(spark, 1200L).repartition(2))
    val b = Extract(TranscriptGen.inputDf(spark, 1200L).repartition(17))
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }
}
