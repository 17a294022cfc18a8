package graft

import org.apache.spark.sql.functions._

import graft.textanalysis.TextAnalysis

class TextAnalysisSpec extends SparkSpecBase {
  import spark.implicits._

  private def analyzeOne(text: String) =
    TextAnalysis.analyze(Seq((0L, text)).toDF("doc_id", "text")).head()

  test("token and sub-token counting") {
    val r = analyzeOne("Hello, world! This is a test-case x2.")
    // Hello, | world! | This | is | a | test-case | x2. → 7 tokens
    assert(r.getAs[Long]("n_tokens") === 7)
    // Hello , world ! This is a test - case x 2 . → 13 sub-tokens
    assert(r.getAs[Long]("n_subtokens") === 13)
  }

  test("punctuation and stopword ratios") {
    val r = analyzeOne("the cat, the hat")
    // 1 punct char of 16 chars
    assert(math.abs(r.getAs[Double]("punct_ratio") - 1.0 / 16) < 1e-6)
    // the/the are stopwords → 2 of 4 tokens
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.5) < 1e-6)
  }

  test("language id picks the marker-heavy language; und when none") {
    assert(analyzeOne("the cat and the dog is big").getAs[String]("lang_pred") === "en")
    assert(analyzeOne("el perro de la casa que ladra").getAs[String]("lang_pred") === "es")
    assert(analyzeOne("der hund und die katze nicht").getAs[String]("lang_pred") === "de")
    assert(analyzeOne("le chat et les chiens une").getAs[String]("lang_pred") === "fr")
    assert(analyzeOne("qwerty zxcvb asdfgh").getAs[String]("lang_pred") === "und")
    // tie (1 en hit, 1 es hit) → priority order wins (en first)
    assert(analyzeOne("the el").getAs[String]("lang_pred") === "en")
  }

  test("quality score is in [0,1] and empty-ish text scores low") {
    val rows = TextAnalysis.analyze(
      Seq((0L, "x"), (1L, ("the quick brown fox jumps over a lazy dog " * 12)))
        .toDF("doc_id", "text")).collect()
    val bad = rows.find(_.getAs[Long]("doc_id") == 0L).get.getAs[Double]("quality")
    val good = rows.find(_.getAs[Long]("doc_id") == 1L).get.getAs[Double]("quality")
    assert(bad >= 0.0 && good <= 1.0 && bad < good)
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality"); q >= 0.0 && q <= 1.0
    })
  }

  test("null text scores 0.0 / very_low, never medium") {
    // least/greatest SKIP nulls, so without the explicit guard a null
    // document's score landed at 0.6 → "medium" (round-5 probe); a
    // missing payload must route as very_low
    val r = TextAnalysis.analyze(
      Seq((0L, null: String), (1L, "")).toDF("doc_id", "text")).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("quality"), x.getAs[String]("tier"))).toMap
    assert(r(0L) === ((0.0, "very_low")))
    assert(r(1L)._2 === "very_low")
  }

  test("fingerprint matches the reference rolling-hash computed in Scala") {
    val s = "abc xyz"
    val expected = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    assert(analyzeOne(s).getAs[Long]("fingerprint") === expected)
  }

  test("fingerprint is deterministic and content-sensitive") {
    val a = analyzeOne("some document text").getAs[Long]("fingerprint")
    val b = analyzeOne("some document text").getAs[Long]("fingerprint")
    val c = analyzeOne("some document texT").getAs[Long]("fingerprint")
    assert(a === b); assert(a !== c)
  }

  test("native Fingerprint equals the declarative split-fold pipeline") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("", "a", "abc xyz", "  spaced\tout ", "numbers 123",
      "unicode: café 中文", "astral 😀 pair", "lone \ud83d surrogate")
      .toDF("text")
    val native = df.select(TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(_.getLong(0)).toSeq
    val decl = df.select(DeclarativeTwins.fingerprintDeclarative(col("text")).as("f"))
      .collect().map(_.getLong(0)).toSeq
    assert(native === decl)
  }
}
