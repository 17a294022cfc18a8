package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.expressions.{NativeCall, TurnNative}
import graft.functions.GraftFunctions
import graft.functions.TextFunctions._
import graft.DeclarativeTwins.plainNormalizeDeclarative

/** Unit tests for the pure-Catalyst column functions (sniffer, char
  * correction, normalization, confidence aggregate) — mirrors the
  * reference's table-driven char-correction cases
  * (`pytorch_mobile/test_pipeline.py:110-126`).
  */
class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  /** the natives [[TurnNative.extract]] calls for a turn's spans, as
    * columns of their own: NULL text reaches `wholeSpan`, and a NULL
    * argument makes `toolJsonSpan` NULL
    */
  private def wholeSpan(text: Column): Column =
    column(NativeCall.static(TurnNative.getClass, "wholeSpan",
      TurnNative.wholeSpanType, Seq(expr(text)), propagateNull = false))

  private val toolJsonType = StructType(Seq(
    StructField("spans", ArrayType(StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("conf", DoubleType, nullable = false)))

  private def toolJsonSpan(raw: Column, t: Column): Column =
    column(NativeCall.static(TurnNative.getClass, "toolJsonSpan", toolJsonType,
      Seq(expr(raw), expr(t))))

  private def sniffOne(text: String, tool: String = null): String =
    Seq((text, tool)).toDF("text", "tool")
      .select(sniff(col("text"), col("tool"))).head.getString(0)

  test("sniffer routes blank/pdf/html/tooljson/plain") {
    assert(sniffOne(null) === "blank")
    assert(sniffOne("") === "blank")
    assert(sniffOne(" \t\n ") === "blank")
    assert(sniffOne("\u0000\u0001") === "blank")
    assert(sniffOne("%PDF-SIM\nG 1 2 3 x") === "pdf")
    assert(sniffOne("  %PDF-x") === "pdf")
    assert(sniffOne("<!doctype html><p>x</p>") === "html")
    assert(sniffOne("<div>x</div>") === "html")
    assert(sniffOne("<p >x") === "html")
    assert(sniffOne("<!-- c --><p>x") === "html")
    assert(sniffOne("{\"a\":1}", tool = "search") === "tooljson")
    assert(sniffOne("{\"a\":1}") === "plain") // json without tool = plain
    assert(sniffOne("<3 plain") === "plain")
    assert(sniffOne("just words") === "plain")
  }

  test("char correction: reference table cases") {
    // mirrors pytorch_mobile/test_pipeline.py:115-121
    val cases = Seq(
      "l23" -> "123", "O5" -> "05", "Z99" -> "299", "l2O" -> "120",
      "Hello" -> "Hello", // not numeric-gated
      "2|4" -> "214", "B0b" -> "808", "g1" -> "91",
      "bog" -> "bog", // all confusable chars but NO digit => untouched
      "12,5" -> "12,5") // punctuation breaks the gate (word-level gate)
    val df = cases.map(_._1).toDF("w")
      .select(correctToken(col("w")).as("got"))
    assert(df.as[String].collect().toSeq === cases.map(_._2))
  }

  test("plainNormalize collapses whitespace and corrects in context") {
    val got = Seq("  the l23 quick  \t brown\nZ99  ")
      .toDF("t").select(plainNormalize(col("t"))).head.getString(0)
    assert(got === "the 123 quick brown 299")
  }

  test("native plainNormalize equals the declarative spec twin") {
    // hand edges: blank classes, Java \\s whitespace variants, unicode,
    // all-confusable-no-digit, windows newlines, empty string
    val edges = Seq("", "   ", "\t\n\f\r", "ab", "ab  c",
      " l23  O5 ", "bog BOG", "m\u00fcnchen  Z99", "x\r\ny", "|||", "1|l",
      " l23 ", "a  b   c", "l23 O5", "01", "a\u0001b  c", "\u0001")
    // ScalaCheck property: arbitrary strings over the alphabets that
    // exercise the gate and the whitespace machinery — confusables,
    // digits, plain letters, every Java \s char, controls, unicode
    import org.scalacheck.{Gen, rng}
    val alpha = Gen.oneOf(
      Gen.oneOf("lI|OoZzSsGgBb".toSeq).map(_.toString),
      Gen.numChar.map(_.toString),
      Gen.alphaChar.map(_.toString),
      Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r"),
      Gen.oneOf("\u0001", "\u001f", "\u00fc", "\u4e2d"))
    val anyStr = Gen.listOf(alpha).map(_.mkString)
    val prop = (0 until 400).flatMap(i =>
      anyStr(Gen.Parameters.default.withSize(30), rng.Seed(1000L + i)))
    val df = (edges ++ prop).toDF("t").select(
      plainNormalize(col("t")).as("nat"),
      plainNormalizeDeclarative(col("t")).as("dec"))
    val bad = df.filter(not(col("nat") <=> col("dec"))).collect()
    assert(bad.isEmpty, s"native/declarative diverge: ${bad.take(3).mkString}")
  }

  test("wholeSpan covers trimmed region; empty for blank") {
    val df = Seq("  abc  ", "x", "   ", "").toDF("t")
      .select(wholeSpan(col("t")).as("s"))
    val rows = df.collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](0).head.toSeq === Seq(2, 5))
    assert(rows(1).getSeq[org.apache.spark.sql.Row](0).head.toSeq === Seq(0, 1))
    assert(rows(2).getSeq[org.apache.spark.sql.Row](0).isEmpty)
    assert(rows(3).getSeq[org.apache.spark.sql.Row](0).isEmpty)
  }

  test("native sniff, isBlank, wholeSpan and tool-JSON span equal their " +
    "declarative twins (3 seeds, interpreted and codegen)") {
    import org.scalacheck.{Gen, rng}
    // hand edges: each Java \s char, the controls, DEL and U+00A0 (not
    // \s), astral chars, upper-case tags, a 200- and a 201-char wrapping
    // tag before the pdf magic (the sniff's bound), tool-result JSON
    def wrapped(n: Int) = "<" + "d" * n + ">\n%PDF-1\nG 1 2 3 a"
    val edges = Seq(null, "", " ", " \t\n\u000b\f\r ", "\u000b", "\f", "\r\n",
      " \r\n x \u000b", "\fx\f", (0 to 0x1f).map(_.toChar).mkString, "\u007f", " \u007f ",
      "\u00a0", "\u00a0x\u00a0", "\uD83D\uDE00", " \uD83D\uDE00 x \uD83D\uDE00\r\n",
      "<DIV>x</DIV>", "<!DOCTYPE HTML><P>x", "\u000b<P >x", wrapped(200),
      wrapped(201), "{\"output\":{\"text\":\"hi\"}}", "\f{\"a\":1}", "{")
    val frag = Gen.oneOf(
      Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r", "\r\n", "\u00a0"),
      Gen.choose(0, 0x1f).map(_.toChar.toString), Gen.const("\u007f"),
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("\uD83D\uDE00", "\u00e9", "\u4e2d"),
      Gen.oneOf("<p>", "<DIV ", "</p>", "<!doctype html>", "<!-- c -->", "<3",
        ">", "%PDF-", "{", "}", "\"output\"", "\"text\":\"", "G 1 2 3 x\n"))
    // JSON's own whitespace, so most tool results parse
    val ws = Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(" ", "\t", "\n", "\r\n")))
      .map(_.mkString)
    // tool results whose value is raw-verifiable or not (escapes, a
    // spaced marker, an earlier "text" key, astral chars before it)
    val toolJson = for {
      lead <- ws
      early <- Gen.oneOf("", "\"text\":\"early\",", "\"n\":\"\uD83D\uDE00\",")
      marker <- Gen.oneOf("\"text\":\"", "\"text\": \"")
      v <- Gen.listOf(Gen.oneOf("a", "Z9", " ", "\\\"", "\\n", "\\u00e9", "\u00e9",
        "\uD83D\uDE00")).map(_.mkString)
      trail <- ws
    } yield s"$lead{$early\"output\":{$marker$v\"}}$trail"

    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      def sample(g: Gen[String], n: Int, salt: Long) = (0 until n).flatMap(i =>
        g(Gen.Parameters.default.withSize(40), rng.Seed(seed * 7919 + salt + i)))
      val texts = edges ++ sample(Gen.listOf(frag).map(_.mkString), 300, 0) ++
        sample(toolJson, 100, 100000)
      val local = texts.flatMap(t => Seq((t, null: String), (t, "search")))
        .toDF("t", "tool")
      val dir = tempDir("graft-twins")
      local.write.mode("overwrite").parquet(dir)
      for (df <- Seq(local, spark.read.parquet(dir))) {
        val (t, tj) = (col("t"), get_json_object(col("t"), "$.output.text"))
        val pairs = Seq(
          "isBlank" -> (isBlank(t), TurnTwins.isBlank(t)),
          "sniff" -> (sniff(t, col("tool")), TurnTwins.sniff(t, col("tool"))),
          "wholeSpan" -> (wholeSpan(t), TurnTwins.wholeSpan(t)),
          "toolJsonSpan" -> (toolJsonSpan(t, tj), TurnTwins.toolJsonSpan(t, tj)))
        val out = df.select(col("t") +: pairs.flatMap { case (n, (a, b)) =>
          Seq(a.as(s"${n}_nat"), b.as(s"${n}_dec")) }: _*).cache()
        for ((n, _) <- pairs) {
          val bad = out.filter(!(col(s"${n}_nat") <=> col(s"${n}_dec"))).collect()
          assert(bad.isEmpty, s"seed $seed: native/declarative $n diverge: " +
            bad.take(3).mkString("; "))
        }
        // the inputs reach every route and both tool-span outcomes
        val fmts = out.select("sniff_nat").distinct().collect().map(_.getString(0))
        assert(fmts.toSet === Set("blank", "pdf", "html", "tooljson", "plain"))
        val confs = out.select("toolJsonSpan_nat.conf").distinct().collect()
        assert(confs.filterNot(_.isNullAt(0)).map(_.getDouble(0)).toSet === Set(0.9, 1.0))
        out.unpersist()
      }
    }
  }

  test("geoMeanTopK matches the reference aggregate semantics") {
    def gm(scores: Seq[Double]): Double =
      Seq(scores).toDF("s").select(geoMeanTopK(col("s"))).head.getDouble(0)

    // n<=20: plain geometric mean with 1e-3 floor
    assert(math.abs(gm(Seq(0.5, 0.5)) - 0.5) < 1e-12)
    assert(math.abs(gm(Seq(1.0, 0.25)) - 0.5) < 1e-12)
    assert(gm(Seq()) === 0.0)
    // floor at 1e-3 (reference pipeline.py:403)
    assert(math.abs(gm(Seq(0.0, 1.0)) - math.sqrt(1e-3)) < 1e-12)
    // n>20: top 80% kept (reference pipeline.py:407-410)
    val scores = Seq.fill(20)(1.0) ++ Seq.fill(5)(1e-3)
    val k = math.ceil(25 * 0.8).toInt // 20
    val expected = 1.0 // top 20 of 25 are all 1.0
    assert(math.abs(gm(scores) - expected) < 1e-9)
    assert(k === 20)

    // the html path's native top-k mean is this expression bit for bit
    // (x19/x20 round confidence to 6 places, so only this pins it)
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val rng = new scala.util.Random(seed)
      val cases = Seq(Seq(0.5, 0.5), Seq(0.0, 1.0), Seq(1e-4, 0.3, 0.97),
        Seq.fill(20)(0.9), scores) ++
        (1 to 60).map(n => Seq.fill(n)(
          if (rng.nextInt(5) == 0) rng.nextDouble() * 2e-3 else rng.nextDouble()))
      assert(cases.exists(_.size <= 20) && cases.exists(_.size > 20) &&
        cases.exists(_.exists(_ < 1e-3)), s"seed $seed")
      val catalyst = cases.toDF("s").select(geoMeanTopK(col("s")))
        .collect().map(_.getDouble(0))
      for ((s, c) <- cases.zip(catalyst)) {
        val native = graft.expressions.HtmlBlocks.geoMeanTopK(s.toArray)
        assert(java.lang.Double.doubleToRawLongBits(native) ===
          java.lang.Double.doubleToRawLongBits(c), s"seed $seed: $native vs $c on $s")
      }
    }
  }

  test("geoMeanAgg cross-row aggregate") {
    val got = Seq(0.5, 0.5, 0.5).toDF("c")
      .agg(geoMeanAgg(col("c"))).head.getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12)
  }

  test("SQL registration: custom expressions usable from SQL") {
    GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT size(html_blocks('<p>three little words</p>')) b, " +
        "size(pdf_glyph_runs('%PDF-S\nG 1 2 3 t\n')) r, " +
        "simhash64('a b c') h, kie_best('Electricity 299 kWh').ke ke")
      .head
    assert(n.getInt(0) === 1 && n.getInt(1) === 1)
    assert(n.getLong(2) !== 0L)
    assert(n.getInt(3) === 299)
  }

  test("collapseRuns: CTC-decode analog (G8)") {
    val got = Seq("aab  ba", "xxx", "ab").toDF("s")
      .select(collapseRuns(col("s")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("ab ba", "x", "ab"))
  }

  test("fieldConfidence: match-region token alignment (J2)") {
    import org.apache.spark.sql.functions.{array, struct, lit}
    val toks = array(
      struct(lit("299").as("text"), lit(0.9).as("conf")),
      struct(lit("kWh").as("text"), lit(0.4).as("conf")),
      struct(lit("zzz").as("text"), lit(0.1).as("conf")))
    val got = Seq("x").toDF("s")
      .select(fieldConfidence(lit("299 kWh"), toks).as("v"))
      .head.getDouble(0)
    // geometric mean of 0.9 and 0.4 (zzz not in region)
    assert(math.abs(got - math.sqrt(0.9 * 0.4)) < 1e-9)
    val none = Seq("x").toDF("s")
      .select(fieldConfidence(lit("nothing"), toks).as("v"))
      .head
    assert(none.isNullAt(0)) // no aligned token -> null (caller default)
  }
}
