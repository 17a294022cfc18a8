package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects SQL functions via the builder") {
    val shared = TestSpark.spark // keep the shared SparkContext alive
    // getOrCreate returns the active session (without extensions), so
    // detach it first; the new session reuses the same SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val out = s.sql(
        """SELECT size(html_blocks('<p>one two three</p>')) AS nb,
                  size(pdf_glyph_runs('%PDF-1\nG 1 2 10 hello')) AS nr,
                  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                  token_spans(' a bb ') AS ts""")
        .head()
      assert(out.getAs[Int]("nb") === 1)
      assert(out.getAs[Int]("nr") === 1)
      assert(out.getAs[Double]("d") === 11.0)
      val ts = out.getSeq[org.apache.spark.sql.Row](out.fieldIndex("ts"))
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      assert(ts === Seq(("a", 0, 1), ("bb", 2, 4)))
      // catalog-visible (not just a temp function)
      assert(s.catalog.functionExists("vec_dot"))

      // type contracts (round-5 probe): mistyped args must fail at
      // ANALYSIS with DATATYPE_MISMATCH, not reach eval as a
      // ClassCastException — and never as silent garbage
      // (ArrayData.getDouble over an array<float> reads wrong bytes)
      for (bad <- Seq(
          "SELECT simhash64(ARRAY())",
          "SELECT vec_dot('abc', ARRAY(1.0D))",
          "SELECT html_blocks(ARRAY(1, 2))",
          "SELECT pdf_glyph_runs(ARRAY(1))")) {
        val e = intercept[org.apache.spark.sql.AnalysisException](
          s.sql(bad).collect())
        assert(e.getMessage.contains("DATATYPE_MISMATCH"), bad)
      }
      // legal coercions insert casts: array<float> -> array<double>,
      // atomic -> string
      assert(s.sql("SELECT vec_dot(ARRAY(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), ARRAY(2.0D, 3.0D)) AS d")
        .head().getAs[Double]("d") === 9.0)
      assert(s.sql("SELECT simhash64(123) = simhash64('123') AS eq")
        .head().getAs[Boolean]("eq"))

      // the whole table: each name is catalog-visible under
      // GraftExtensions with its usage text, gates its arity, and fails
      // analysis on each mistyped argument (an argument of each input
      // type, and one no implicit cast reaches)
      def good(t: DataType): String = t match {
        case StringType => "'x'"
        case ArrayType(DoubleType, _) => "ARRAY(1.0D)"
      }
      def mistyped(t: DataType): String = t match {
        case StringType => "ARRAY(1)"
        case ArrayType(DoubleType, _) => "'abc'"
      }
      for (f <- GraftFunctions.sqlFunctions) {
        val info = s.catalog.getFunction(f.name)
        assert(info.className === classOf[GraftExtensions].getName, f.name)
        assert(info.description === f.usage, f.name)
        val n = f.inputTypes.length
        for (count <- Seq(0, n + 1)) {
          val call = s"SELECT ${f.name}(${Seq.fill(count)("'x'").mkString(", ")})"
          val e = intercept[Exception](s.sql(call).collect())
          assert(e.getMessage.contains(s"${f.name} expects $n argument(s), got $count"), call)
        }
        for (i <- 0 until n) {
          val args = f.inputTypes.zipWithIndex.map { case (t, j) => if (j == i) mistyped(t) else good(t) }
          val call = s"SELECT ${f.name}(${args.mkString(", ")})"
          val e = intercept[org.apache.spark.sql.AnalysisException](s.sql(call).collect())
          assert(e.getMessage.contains("DATATYPE_MISMATCH"), call)
        }
        s.sql(s"SELECT ${f.name}(${f.inputTypes.map(good).mkString(", ")})").collect()
      }
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
