package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{FieldExtract, SpanVote}

/** Seeded corruption fuzz over the public operator surfaces beyond
  * Extract (whose fuzz lives in PropertySpec): KIE field extraction,
  * the span-vote ensemble, text analysis, and the multimodal binary
  * decode plumbing. Mirrors the reference's
  * stress matrix philosophy (`stress_test.py:107-154`) but with
  * generative hostile inputs instead of a hand-curated list — every
  * seeded sample must honor the operator's output contract, never
  * throw, and elect/extract only values derivable from its input.
  */
class OperatorFuzzSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- KIE field extraction -------------------------------------------

  private val billFrags = Vector(
    "Electricity", "Electrlcity", "ELECTRICITY", "kWh", "kwh", "KWH",
    "299", "l20", "I23", "O0O", "12345678901234567890", "-50", "0.5",
    "Kg CO2e", "coze", "Carbon Footprint", "carbon", "CO2",
    "Account No: 12345", "Date: 01/02/2026", "water 12.5 m3", "m3",
    "%PDF-", "<p>", "</div>", "\u0000", "\u202e", "&amp;", "{\"k\":",
    "Current Reading", "Previous Reading", "Peak Demand", "consumption",
    "xxxxxx", "|", "::", "999999", "kW h", "co2e l20", "period")

  private val seps = Vector(" ", "  ", "\t", "\n", "", " | ")

  private def fuzzBills(n: Int, seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val k = 1 + rng.nextInt(12)
      (0 until k).map(_ => billFrags(rng.nextInt(billFrags.length)))
        .mkString(seps(rng.nextInt(seps.length)))
    }
  }

  test("field extraction honors its contract on 300 fuzzed bills") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val bills = fuzzBills(300, seed)
      val out = FieldExtract.withFusedConfidence(
        FieldExtract.withFields(
          bills.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "bill")))
        .collect() // never throws, every row evaluates
      assert(out.length === bills.length, s"seed $seed")
      val elecConfs = Set(0.6, 0.8, 0.9)
      val carbConfs = Set(0.6, 0.8, 0.85)
      out.foreach { r =>
        def opt[T](c: String): Option[T] =
          if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[T](c))
        // confidence comes only from the pinned reference ladder
        opt[Double]("elec_conf").foreach(c => assert(elecConfs.contains(c), s"seed $seed: $r"))
        opt[Double]("carbon_conf").foreach(c => assert(carbConfs.contains(c), s"seed $seed: $r"))
        // a confidence without a value would be a phantom extraction
        if (opt[Double]("elec_conf").isDefined)
          assert(opt[Any]("electricity_kwh").isDefined, s"seed $seed: $r")
        if (opt[Double]("carbon_conf").isDefined)
          assert(opt[Any]("carbon_kgco2e").isDefined, s"seed $seed: $r")
        // range validation must survive corruption
        opt[Double]("water_m3").foreach(w => assert(w >= 0.1 && w <= 10000.0, s"seed $seed: $r"))
        assert(!r.isNullAt(r.fieldIndex("valid")), s"seed $seed: $r")
        // fusion is clamped and the review gate matches its definition
        val fused = r.getAs[Double]("fused_conf")
        assert(fused >= 0.0 && fused <= 1.0, s"seed $seed: $r")
        assert(r.getAs[Boolean]("needs_review") === (fused < 0.7), s"seed $seed: $r")
      }
    }
  }

  // ---- span-vote ensemble ---------------------------------------------

  private def fuzzTokens(n: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    val texts = Vector("alpha", "a1pha", "alph@", "beta", "b3ta", "", "x")
    (0 until n).map { _ =>
      val start = rng.nextInt(40) - 5 // negative and inverted spans included
      val end = start + rng.nextInt(12) - 2
      (s"r${rng.nextInt(6)}",
        Seq("eng_a", "eng_b", "eng_c")(rng.nextInt(3)),
        texts(rng.nextInt(texts.length)),
        if (rng.nextInt(8) == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(rng.nextDouble()),
        start, end)
    }
  }

  test("span vote elects only input variants under 400 fuzzed tokens") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val rows = fuzzTokens(400, seed)
      val tokens = rows.toDF("row_id", "engine", "text", "conf", "start", "end")
      val out = SpanVote.vote(tokens).collect()
      // the operator drops degenerate spans; whatever survives must be an
      // election over real input variants with sane counts and scores
      val byRow = rows.groupBy(_._1)
      out.foreach { r =>
        val rid = r.getAs[String]("row_id")
        val input = byRow(rid)
        assert(input.exists(_._3 == r.getAs[String]("text")),
          s"seed $seed: elected variant not in input: $r")
        val votes = r.getAs[Number]("votes").longValue()
        val size = r.getAs[Number]("cluster_size").longValue()
        assert(votes >= 1 && size >= votes, s"seed $seed: $r")
        val score = r.getAs[Double]("score")
        assert(score >= 0.0 && !score.isNaN, s"seed $seed: $r")
        val (st, en) = (r.getAs[Int]("start"), r.getAs[Int]("end"))
        assert(st < en, s"seed $seed: degenerate elected span: $r")
        assert(input.exists(t => t._5 == st && t._6 == en),
          s"seed $seed: elected span not an input span: $r")
      }
      // determinism: the election is a total order, so a rerun is identical
      val again = SpanVote.vote(tokens).collect()
      assert(out.map(_.toString).sorted.toSeq ===
        again.map(_.toString).sorted.toSeq, s"seed $seed")
    }
  }

  // ---- text analysis ----------------------------------------------------

  test("text analysis honors its contract on 300 fuzzed documents") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val rng = new scala.util.Random(seed)
      val frags = Vector("the", "und", "la", "de", "的", "!!!", "....", "",
        "\u0000", "\u202e", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "x", "42",
        "&amp;", "<p>", "\n\n", "\t", "é é é", "ß", "｡｡｡")
      val docs = (0 until 300).map { i =>
        val t =
          if (i % 37 == 0) null
          else (0 until rng.nextInt(30)).map(_ =>
            frags(rng.nextInt(frags.length))).mkString(" ")
        (i.toLong, t)
      }.toDF("doc_id", "text")
      val out = graft.textanalysis.TextAnalysis.analyze(docs).collect()
      assert(out.length === 300, s"seed $seed")
      val tiers = Set("high", "medium", "low", "very_low")
      val langs = Set("en", "es", "de", "fr", "zh", "und")
      out.foreach { r =>
        val q = r.getAs[Double]("quality")
        assert(q >= 0.0 && q <= 1.0, s"seed $seed: $r")
        assert(tiers.contains(r.getAs[String]("tier")), s"seed $seed: $r")
        assert(langs.contains(r.getAs[String]("lang_pred")), s"seed $seed: $r")
        assert(r.getAs[Long]("n_tokens") >= 0, s"seed $seed: $r")
        assert(r.getAs[Long]("n_subtokens") >= 0, s"seed $seed: $r")
      }
      // a null document is pinned to the worst tier, never "medium"
      val nullRows = out.filter(_.getAs[Long]("doc_id") % 37 == 0)
      nullRows.foreach { r =>
        assert(r.getAs[Double]("quality") === 0.0, s"seed $seed: $r")
        assert(r.getAs[String]("tier") === "very_low", s"seed $seed: $r")
      }
    }
  }

  // ---- adaptive routing ---------------------------------------------------

  test("adaptive routing honors the strategy table on fuzzed documents") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val rng = new scala.util.Random(seed)
      val frags = Vector("the quick brown fox", "!!!!", "299 kWh", "helllo",
        "\u0000", "\u202e", " ", "", "aAaA", "x y z w v u t s r q p o n m",
        "....,,,,;;;;", "word " * 40)
      val docs = (0 until 300).map { i =>
        val t =
          if (i % 41 == 0) null
          else (0 until rng.nextInt(8)).map(_ =>
            frags(rng.nextInt(frags.length))).mkString(" ")
        (i.toLong, t)
      }.toDF("doc_id", "text")
      val out = graft.operators.AdaptiveRoute.route(docs).collect()
      assert(out.length === 300, s"seed $seed")
      val table = Map( // the reference tier mapping, verbatim
        "high" -> ("chain-simple", ""),
        "medium" -> ("chain-simple", "whitespace_collapse"),
        "low" -> ("kie", "whitespace_collapse,char_correction"),
        "very_low" ->
          ("kie", "whitespace_collapse,char_correction,run_collapse"))
      out.foreach { r =>
        val tier = r.getAs[String]("tier")
        val (eng, pre) = table.getOrElse(tier, fail(s"seed $seed: unknown tier: $r"))
        assert(r.getAs[String]("engine") === eng, s"seed $seed: $r")
        assert(r.getAs[String]("preprocessing") === pre, s"seed $seed: $r")
        // routed text only rewrites whitespace/chars — it never grows a
        // digit run (the CTC-collapse numeric gate) and a null doc routes
        // as very_low with empty routed text, never a throw
        if (r.isNullAt(1)) {
          assert(tier === "very_low", s"seed $seed: $r")
          assert(r.getAs[String]("routed_text") === "", s"seed $seed: $r")
        }
      }
    }
  }

  // ---- multimodal binary -------------------------------------------------

  test("media decode honors its contract on fuzzed binary blobs") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val rng = new scala.util.Random(seed)
      val magics = Vector(
        "GIM0".getBytes("US-ASCII"), "GAU0".getBytes("US-ASCII"),
        "GMV0".getBytes("US-ASCII"), "XXXX".getBytes("US-ASCII"),
        Array[Byte]())
      val blobs: Seq[(Long, Array[Byte])] = (0L until 200L).map { i =>
        val head = magics(rng.nextInt(magics.length))
        val tail = Array.fill(rng.nextInt(40))(rng.nextInt(256).toByte)
        (i, if (rng.nextInt(19) == 0) null else head ++ tail)
      }
      val out = graft.media.Media.process(
        blobs.toDF("media_id", "bin")).collect()
      assert(out.length === 200, s"seed $seed")
      out.foreach { r =>
        val meta = r.getAs[Row]("meta")
        if (meta != null && !meta.isNullAt(meta.fieldIndex("payload_bytes"))) {
          assert(meta.getAs[Long]("payload_bytes") >= 0, s"seed $seed: $r")
        }
        if (meta != null && !meta.isNullAt(meta.fieldIndex("n_frames"))) {
          // header fields only decode when the full 8-byte header survives
          assert(meta.getAs[Long]("n_frames") >= 0, s"seed $seed: $r")
          assert(meta.getAs[String]("kind") !== "unknown", s"seed $seed: $r")
        }
        val n = r.getAs[Int]("n_sampled")
        assert(n >= 0, s"seed $seed: $r")
      }
    }
  }
}
