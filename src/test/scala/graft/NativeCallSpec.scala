package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.functions.TextFunctions.plainNormalize
import graft.gen.{BillGen, TranscriptGen}
import graft.operators.FieldExtract
import graft.textanalysis.TextAnalysis

/** Every per-row native reaches the plan as a Spark `StaticInvoke` /
  * `Invoke` ([[graft.expressions.NativeCall]]), so its generated code and
  * its interpreted (reflective) eval are Spark's two paths over one
  * method. This spec runs both over the same hostile, generated and
  * corrupted payloads and requires identical values, and pins the SQL
  * names' output columns (name, type, nullability) to the form they had
  * as hand-written expressions.
  */
class NativeCallSpec extends SparkSpecBase {
  import spark.implicits._

  private val astral = "\uD83D\uDE00"

  private def wrapped(inner: String) = "<" + inner + ">\n%PDF-1\nG 1 2 3 a\nG 4 5 6 b\n"

  private val edges: Seq[String] = Seq(null, "", " ", " \t\n\u000b\f\r ", "\u000b",
    "\r\n", (0 to 0x1f).map(_.toChar).mkString, "\u007f", " x ",
    astral, s" $astral x $astral\r\n", "\ud800 lone \udfff", "<DIV>x</DIV>",
    "<!DOCTYPE HTML><P>x", "<p>a &amp; &bogus; b<script>x</script></p><nav>n</nav>",
    "<p unclosed", wrapped("d" * 200), wrapped("d" * 201), wrapped(astral * 150),
    "%PDF-", "%PDF-1\nG 1 2 x bad\nG -5 99999999999 3 y\n",
    "{\"output\":{\"text\":\"hi\"}}", "{", "l23 O5 Z99 l2O Hello | 1|2",
    "Electricity 299 kWh Carbon Footprint l20 Kg CO2e water 12.5 m3",
    "Account No: 12345 Date: 01/02/2026 period 01/01/2026 - 31/01/2026",
    "Current Reading 123456 Previous Reading 123000 Peak Demand 42 kW")

  /** the same seeded corruptions as PropertySpec's fuzz */
  private def corrupt(rng: scala.util.Random)(s: String): String =
    if (s == null || s.isEmpty) s
    else rng.nextInt(5) match {
      case 0 => s.take(rng.nextInt(s.length))
      case 1 =>
        val i = rng.nextInt(s.length)
        s.substring(0, i) + "\u0000\u202e" + s.substring(i)
      case 2 =>
        val i = rng.nextInt(s.length); val j = i + rng.nextInt(s.length - i)
        s.substring(0, j) + s.substring(i, j) + s.substring(j)
      case 3 =>
        val i = rng.nextInt(s.length)
        s.substring(0, i) + "<div><p>G 12 x 9 %PDF-{\"" + s.substring(i)
      case _ => s.reverse
    }

  /** generated turns and bills, uncorrupted */
  private lazy val generatedTexts: Seq[String] = {
    val turns = TranscriptGen.inputDf(spark, 400L).select("text", "tool").collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1)))
    val bills = BillGen.withBill(spark.range(150).selectExpr("id AS doc_id", "'' AS text"))
      .select("bill").as[String].collect()
    turns.toSeq ++ bills
  }

  /** the edges, the generated texts and their corruptions under `seed` */
  private def texts(seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    edges ++ generatedTexts ++ generatedTexts.map(corrupt(rng))
  }

  /** each converted function's column over `t` (string) */
  private def converted(t: Column): Seq[(String, Column)] = {
    import GraftFunctions._
    // vec_dot over two unequal-length arrays derived from the text
    val v = transform(split(t, ""), c => ascii(c).cast("double") / 7.0)
    Seq(
      "html_blocks" -> html_blocks(t),
      "pdf_glyph_runs" -> pdf_glyph_runs(t),
      "vec_dot" -> Dedup.dot(v, reverse(slice(v, 1, 9))),
      "simhash64" -> simhash64(t),
      "kie_best" -> kie_best(t),
      "token_spans" -> token_spans(t),
      "minhash_sig" -> Dedup.minhashSig(Dedup.shingleHashes(t), 16),
      "plainNormalize" -> plainNormalize(t),
      "fingerprint" -> TextAnalysis.fingerprint(t),
      "shingleHashes" -> Dedup.shingleHashes(t, 2),
      "preprocessOcrErrors" -> FieldExtract.preprocessOcrErrors(t),
      "numericalCorrections" -> FieldExtract.numericalCorrections(t),
      "firstInt" -> FieldExtract.firstInt(t, FieldExtract.elecPatterns, 50, 50000),
      "firstStr" -> FieldExtract.firstStr(t, FieldExtract.periodPatterns, 2),
      "normChain" -> FieldExtract.normChain(t, FieldExtract.energyChain),
      "firstDouble" -> FieldExtract.firstDouble(t, FieldExtract.waterPatterns, 0.1, 10000.0))
  }

  /** the rows by id, and whether a generated row loop computed them */
  private def evaluate(df: DataFrame): (Array[Row], Boolean) = {
    val out = df.select(col("id") +: converted(col("t")).map { case (n, c) => c.as(n) }: _*)
    (out.collect().sortBy(_.getInt(0)),
      out.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
  }

  test("generated and interpreted calls agree on every converted function") {
    for (seed <- Seq(fuzzSeed, 1L, 2L)) {
      val texts = this.texts(seed)
      val local = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
      val dir = tempDir("graft-native")
      local.write.mode("overwrite").parquet(dir)
      val (interpreted, localCodegen) = evaluate(local)
      val (generated, scanCodegen) = evaluate(spark.read.parquet(dir))
      // the local relation is evaluated while planning (reflective eval);
      // the parquet scan runs the generated row loop
      assert(!localCodegen && scanCodegen, s"seed $seed")
      assert(interpreted.length === texts.length, s"seed $seed")
      val names = "id" +: converted(col("t")).map(_._1)
      for (k <- 1 until names.length) {
        val bad = interpreted.zip(generated).filter { case (a, b) => a.get(k) != b.get(k) }
        assert(bad.isEmpty, s"seed $seed: ${names(k)}: codegen and interpreted eval diverge on " +
          bad.take(2).map { case (a, b) => s"${texts(a.getInt(0))}: ${a.get(k)} vs ${b.get(k)}" }
            .mkString("; "))
      }
      // the corpus reaches the chains' matches, not only their NULLs
      for (k <- names.indices.drop(1))
        assert(interpreted.exists(!_.isNullAt(k)), s"seed $seed: ${names(k)}")
    }
  }

  test("SQL functions keep their output column names, types and nullability") {
    GraftFunctions.register(spark)
    val dir = tempDir("graft-sqlnames")
    Seq(("<p>a b</p>", Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5L))).toDF("t", "a", "b", "h")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("native_call_names")

    def struct(fields: (String, DataType, Boolean)*): StructType =
      StructType(fields.map { case (n, d, nl) => StructField(n, d, nl) })
    val html = ArrayType(struct(("text", StringType, false), ("start", IntegerType, false),
      ("end", IntegerType, false), ("words", IntegerType, false),
      ("link_words", IntegerType, false), ("boiler", BooleanType, false),
      ("cwords", IntegerType, false), ("clink_words", IntegerType, false),
      ("cmax_words", IntegerType, false), ("cap_cursor", IntegerType, false)),
      containsNull = false)
    val pdf = ArrayType(struct(("line", IntegerType, false), ("x", IntegerType, false),
      ("y", IntegerType, false), ("text", StringType, false), ("start", IntegerType, false),
      ("end", IntegerType, false)), containsNull = false)
    val kie = struct(("ke", IntegerType, true), ("kc", IntegerType, true))
    val spans = ArrayType(struct(("tok", StringType, false), ("start", IntegerType, false),
      ("end", IntegerType, false)), containsNull = false)

    def fields(sql: String) =
      spark.sql(sql).schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    // nullable columns in, nullable columns out
    assert(fields("SELECT html_blocks(t), pdf_glyph_runs(t), simhash64(t), " +
      "kie_best(t), token_spans(t), vec_dot(a, b) FROM native_call_names") === Seq(
      ("html_blocks(t)", html, true), ("pdf_glyph_runs(t)", pdf, true),
      ("simhash64(t)", LongType, true), ("kie_best(t)", kie, true),
      ("token_spans(t)", spans, true), ("vec_dot(a, b)", DoubleType, true)))
    // literals are non-null, and coerced arguments keep their SQL text
    assert(fields("SELECT html_blocks('x'), pdf_glyph_runs('x'), simhash64(123), " +
      "kie_best('x'), token_spans('x'), vec_dot(array(1d), array(2d))") === Seq(
      ("html_blocks(x)", html, false), ("pdf_glyph_runs(x)", pdf, false),
      ("simhash64(123)", LongType, false), ("kie_best(x)", kie, false),
      ("token_spans(x)", spans, false), ("vec_dot(array(1.0), array(2.0))", DoubleType, false)))
    // minhash_sig is built from code, not SQL
    val sig = spark.read.parquet(dir).select(Dedup.minhashSig(col("h"), 4))
      .schema.head
    assert((sig.name, sig.dataType, sig.nullable) ===
      (("minhash_sig(h)", ArrayType(LongType, containsNull = true), true)))
  }
}
