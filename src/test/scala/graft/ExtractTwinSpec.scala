package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.expressions.{HtmlBlocks, PdfGlyphRuns}
import graft.functions.TextFunctions.PdfWrapperChars
import graft.gen.TranscriptGen
import graft.operators.Extract

/** Extract's native turn ([[graft.expressions.TurnNative.extract]]) against
  * its declarative twin ([[ExtractTwin]], the staged Catalyst τ-ladder):
  * every output column equal, confidence bit for bit.
  */
class ExtractTwinSpec extends SparkSpecBase {
  import spark.implicits._

  /** payloads at the parsers' caps and the sniff's edges: (text, tool) */
  private val hostile: Seq[(String, String)] = {
    def html(blocks: Int, tail: String) = "<div>" + "<p>word</p>" * blocks + tail
    def pdf(runs: Int) = "%PDF-1\n" + (0 until runs).map(i => s"G ${i % 7} $i 9 r$i").mkString("\n")
    def wrapped(inner: String) = s"<$inner>\n%PDF-1\nG 1 2 3 a"
    val edgeHtml = Seq(HtmlBlocks.MaxBlocks - 1, HtmlBlocks.MaxBlocks, HtmlBlocks.MaxBlocks + 1)
      .flatMap(n => Seq(html(n, ""), html(n, " \n "), html(n, "<p>past the cap</p>")))
    val edgePdf = Seq(PdfGlyphRuns.MaxRuns, PdfGlyphRuns.MaxRuns + 1,
      PdfGlyphRuns.MaxChunks * PdfGlyphRuns.MaxRuns,
      PdfGlyphRuns.MaxChunks * PdfGlyphRuns.MaxRuns + 1).map(pdf)
    val wrappers = Seq(PdfWrapperChars - 1, PdfWrapperChars, PdfWrapperChars + 1)
      .flatMap(n => Seq(wrapped("d" * n), wrapped("😀" * n)))
    val blank = Seq(null, "", " ", " \t\n\u000b\f\r ", "\u0000\u0001",
      (0 to 0x1f).map(_.toChar).mkString)
    val json = Seq("{", "{\"a\":1}", " {\"output\":{\"text\":\"plain value\"}}",
      "{\"output\":{\"text\":\"an \\\"escaped\\\" value\\n\"}}",
      "{\"output\":{\"text\": \"spaced marker\"}}",
      "{\"text\":\"early\",\"output\":{\"text\":\"late\"}}",
      "{\"output\":{\"text\":\"😀 astral\"}}", "{\"output\":")
    (edgeHtml ++ edgePdf ++ wrappers ++ blank).map(_ -> (null: String)) ++
      (json ++ blank).flatMap(t => Seq(t -> (null: String), t -> "search"))
  }

  /** seeded mixed payloads: html / pdf / json fragments, whitespace,
    * controls and astral chars */
  private def fuzzed(seed: Long, n: Int): Seq[String] = {
    import org.scalacheck.{Gen, rng}
    val frag = Gen.oneOf(
      Gen.oneOf(" ", "\t", "\n", "\u000b", "\r\n", " ", "\u0001"),
      Gen.alphaNumChar.map(_.toString), Gen.oneOf("l23", "O5", "Z99", "words here"),
      Gen.oneOf("😀", "é", "中"),
      Gen.oneOf("<p>", "<DIV ", "</p>", "<nav>", "</nav>", "<a>", "</a>", "&amp;",
        "<!doctype html>", "<script>x</script>", "%PDF-1\n", "G 1 2 3 x\n",
        "G 200 2 3 col\n", "G bad\n", "{", "\"output\":{", "\"text\":\"", "\"}}"))
    (0 until n).flatMap(i =>
      Gen.listOf(frag).map(_.mkString)(Gen.Parameters.default.withSize(60),
        rng.Seed(seed * 7919 + i)))
  }

  private def inputs(seed: Long): Seq[(String, Int, String, String)] = {
    val gen = TranscriptGen.inputDf(spark, 1500L, seed)
      .select("conv_id", "turn_idx", "text", "tool").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    val extra = (hostile ++ fuzzed(seed, 300).flatMap(t => Seq(t -> null, t -> "shell")))
      .zipWithIndex.map { case ((t, tool), i) => ("hostile", i, t, tool) }
    gen.toSeq ++ extra
  }

  private def rows(df: DataFrame): Array[Row] =
    df.orderBy("conv_id", "turn_idx").collect()

  /** Extract's native rows, after asserting they equal the twin's */
  private def sameAsTwin(df: DataFrame, label: String): Array[Row] = {
    val nat = Extract(df)
    val twin = ExtractTwin(df)
    assert(nat.schema === twin.schema, label)
    val (a, b) = (rows(nat), rows(twin))
    assert(a.length === b.length, label)
    val conf = nat.schema.fieldIndex("confidence")
    def bits(r: Row) = r.toSeq.updated(conf,
      if (r.isNullAt(conf)) null
      else java.lang.Double.doubleToRawLongBits(r.getDouble(conf)))
    val bad = a.zip(b).filter { case (x, y) => bits(x) != bits(y) }
    assert(bad.isEmpty, s"$label: ${bad.length} rows diverge, first: " +
      bad.take(2).map { case (x, y) => s"\n native $x\n twin   $y" }.mkString)
    a
  }

  test("native Extract equals the declarative τ-ladder twin (3 seeds, " +
    "interpreted and codegen)") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val local = inputs(seed).toDF("conv_id", "turn_idx", "text", "tool")
      val dir = tempDir("graft-extract-twin")
      local.write.mode("overwrite").parquet(dir)
      for ((mode, df) <- Seq("local" -> local, "parquet" -> spark.read.parquet(dir))) {
        val a = sameAsTwin(df, s"seed $seed $mode")
        // the inputs reach every path, status and cap flag
        val seen = a.map(r => (r.getAs[String]("path"), r.getAs[String]("status"))).toSet
        for (p <- Seq("html", "pdf", "tooljson"); s <- Seq("success", "fallback"))
          assert(seen((p, s)), s"seed $seed $mode: no $p/$s row")
        assert(seen(("blank", "blank")) && seen(("plain", "success")))
        assert(a.exists(_.getAs[Boolean]("truncated")))
      }
    }
  }

  test("the per-thread JSON evaluator holds no state between rows: tool-JSON " +
    "kinds interleaved in one partition and across concurrent tasks") {
    // every other row parses to its own value, so a row that reads the
    // value left over from an earlier row shows whatever its kind
    val parsed = (i: Int) => s"""{"output":{"text":"value $i"}}""" -> "search"
    val kinds: Seq[Int => (String, String)] = Seq(
      parsed, i => s"""{"output":{"text":"cut $i""" -> "search", // unparsable
      parsed, i => s"""{"other":{"text":"no output $i"}}""" -> "search",
      parsed, _ => "{" -> null) // a `{` without a tool is plain
    val local = (0 until 1800).map { i =>
      val (text, tool) = kinds(i % kinds.length)(i)
      ("tj", i, text, tool)
    }.toDF("conv_id", "turn_idx", "text", "tool")
    // files of 250 interleaved rows each, read as concurrent tasks
    val dir = tempDir("graft-extract-tj")
    local.coalesce(1).write.mode("overwrite").option("maxRecordsPerFile", 250L).parquet(dir)
    val parquet = spark.read.parquet(dir)
    assert(parquet.rdd.getNumPartitions > 1)
    for ((mode, df) <- Seq("local" -> local, "one partition" -> parquet.coalesce(1),
        "tasks on local[4]" -> parquet)) {
      val a = sameAsTwin(df, mode)
      val seen = a.map(r => (r.getAs[String]("path"), r.getAs[String]("status")))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(seen === Map(("tooljson", "success") -> 900, ("tooljson", "fallback") -> 600,
        ("plain", "success") -> 300), mode)
    }
  }
}
