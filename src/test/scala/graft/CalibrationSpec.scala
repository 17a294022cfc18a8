package graft

import org.apache.spark.sql.functions._

import graft.calibration.Calibration

/** Isotonic calibration (X20): PAV fit against hand-computed sklearn
  * results, np.interp clip semantics, column/Scala agreement, the
  * min-samples gate, and the end-to-end x06 query.
  */
class CalibrationSpec extends SparkSpecBase {
  import spark.implicits._

  test("PAV merges adjacent violators exactly like sklearn") {
    val m = Calibration.pava(Seq(0.1 -> 0.0, 0.2 -> 1.0, 0.3 -> 0.0, 0.4 -> 1.0))
    assert(m.xs.toSeq === Seq(0.1, 0.2, 0.3, 0.4))
    assert(m.ys.toSeq === Seq(0.0, 0.5, 0.5, 1.0))
    // already-monotone input is untouched
    val id = Calibration.pava(Seq(0.1 -> 0.2, 0.5 -> 0.6, 0.9 -> 0.9))
    assert(id.ys.toSeq === Seq(0.2, 0.6, 0.9))
    // duplicate x pooled by mean before fitting
    val dup = Calibration.pava(Seq(0.5 -> 0.0, 0.5 -> 1.0, 0.8 -> 1.0))
    assert(dup.xs.toSeq === Seq(0.5, 0.8))
    assert(dup.ys.toSeq === Seq(0.5, 1.0))
  }

  test("PAV equals the L2-isotonic minimax closed form (the x16 oracle)") {
    // fitted_i = max_{j<=i} min_{k>=i} wmean(y[j..k]) over the grouped,
    // x-sorted points — the identity the x16 DuckDB oracle evaluates in
    // SQL. Pinned here against pava() on a deterministic noisy ramp so
    // the oracle's algebra has a living in-repo cross-check.
    val pts = (0 until 400).map { d =>
      ((d % 41) / 40.0, if ((d * 7919) % 100 < 10 + (d % 41) * 2) 1.0 else 0.0)
    }
    val m = Calibration.pava(pts)
    val grouped = pts.groupBy(_._1).toArray
      .map { case (x, ps) => (x, ps.map(_._2).sum, ps.size.toDouble) }
      .sortBy(_._1)
    val sy = grouped.scanLeft(0.0)(_ + _._2) // prefix sums (1-based)
    val sw = grouped.scanLeft(0.0)(_ + _._3)
    def wmean(j: Int, k: Int) = (sy(k + 1) - sy(j)) / (sw(k + 1) - sw(j))
    grouped.indices.foreach { i =>
      val minimax = (0 to i).map { j =>
        (i until grouped.length).map(k => wmean(j, k)).min
      }.max
      assert(math.abs(m.ys(i) - minimax) < 1e-12,
        s"at x=${m.xs(i)}: pava ${m.ys(i)} vs minimax $minimax")
    }
  }

  test("interpolation clips at both ends and is linear between breakpoints") {
    val m = Calibration.Model(Array(0.2, 0.6, 1.0), Array(0.1, 0.5, 0.9))
    assert(m.interpolate(0.0) === 0.1)
    assert(m.interpolate(1.5) === 0.9)
    assert(math.abs(m.interpolate(0.4) - 0.3) < 1e-12)
    assert(m.interpolate(0.6) === 0.5)
  }

  test("column interpolation equals Scala interpolation") {
    val m = Calibration.Model(Array(0.2, 0.35, 0.6, 1.0),
      Array(0.05, 0.4, 0.45, 0.95))
    val probes = Seq(0.0, 0.2, 0.21, 0.3499, 0.35, 0.5, 0.99, 1.0, 1.2)
    val got = probes.toDF("c").select(m.col($"c").as("v"))
      .collect().map(_.getDouble(0)).toSeq
    probes.zip(got).foreach { case (p, g) =>
      assert(math.abs(g - m.interpolate(p)) < 1e-12, s"at $p")
    }
  }

  test("NaN confidence: column path yields NULL, Scala path propagates NaN") {
    // the two paths intentionally diverge at NaN (Model.col scaladoc):
    // Spark comparisons treat NaN as GREATER than any double, so a NaN
    // calibrated value would pass `>= tau` acceptance gates there — NULL
    // fails them; Scala primitive comparisons are NaN-false, so the
    // driver-side NaN is already gate-safe
    val m = Calibration.Model(Array(0.2, 0.6, 1.0), Array(0.1, 0.5, 0.9))
    assert(m.interpolate(Double.NaN).isNaN)
    val rows = Seq(Double.NaN, 0.6).toDF("c")
      .select(m.col($"c").as("v"), (m.col($"c") >= lit(0.05)).as("gate"))
      .collect()
    assert(rows(0).isNullAt(0), "NaN must calibrate to NULL in the column path")
    assert(rows(0).isNullAt(1), "NULL calibrated conf must fail (null out) a tau gate")
    assert(rows(1).getDouble(0) === 0.5) // finite neighbor untouched
    assert(rows(1).getBoolean(1))
  }

  test("fit skips paths below the 10-sample gate, keeps raw passthrough") {
    val df = ((1 to 20).map(i => ("html", i / 20.0, i % 2 == 0)) ++
      (1 to 5).map(i => ("pdf", i / 5.0, true))).toDF("path", "confidence", "correct")
    val models = Calibration.fit(df)
    assert(models.keySet === Set("html"))
    val out = Seq(("pdf", 0.7), ("html", 0.7)).toDF("path", "c")
      .select($"path", Calibration.applyCol($"c", $"path", models).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("pdf") === 0.7) // unfitted path: raw confidence
    assert(out("html") >= 0.0 && out("html") <= 1.0)
  }

  test("fit skips unlabeled/corrupt validation rows instead of NPE-ing") {
    val df = ((1 to 20).map(i =>
      ("html", java.lang.Double.valueOf(i / 20.0),
        java.lang.Double.valueOf(i % 2))) ++ Seq(
      ("html", null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(1.0)),
      ("html", java.lang.Double.valueOf(0.5),
        null.asInstanceOf[java.lang.Double]),
      (null.asInstanceOf[String], java.lang.Double.valueOf(0.5),
        java.lang.Double.valueOf(1.0))))
      .toDF("path", "confidence", "correct")
    val clean = Calibration.fit(df.na.drop())
    val models = Calibration.fit(df) // must not throw on the null rows
    assert(models.keySet === Set("html"))
    assert(models("html").xs.toSeq === clean("html").xs.toSeq)
    assert(models("html").ys.toSeq === clean("html").ys.toSeq)
  }

  test("fit drops non-finite confidences and labels; model stays finite") {
    // NaN sorts past every finite conf, so unfiltered it lands in a PAV
    // pool whose mean (and every interpolated calibrated confidence)
    // turns NaN; +/-Inf would become model knots
    val df = ((1 to 20).map(i =>
      ("html", i / 20.0, (i % 2).toDouble)) ++ Seq(
      ("html", Double.NaN, 1.0),
      ("html", Double.PositiveInfinity, 0.0),
      ("html", Double.NegativeInfinity, 1.0),
      ("html", 0.5, Double.NaN),
      // an Inf LABEL poisons a pool mean to Inf: ys.last = Inf makes
      // threshold() report every target as met (review finding on the
      // first filter, which only screened the confidence column)
      ("html", 0.5, Double.PositiveInfinity)))
      .toDF("path", "confidence", "correct")
    val m = Calibration.fit(df)("html")
    assert(m.xs.forall(java.lang.Double.isFinite))
    assert(m.ys.forall(java.lang.Double.isFinite))
    assert(Calibration.threshold(m, 0.99) === None) // Inf label screened
    val clean = Calibration.fit(df.filter(
      !isnan($"confidence") && abs($"confidence") =!= Double.PositiveInfinity
        && !isnan($"correct") && abs($"correct") =!= Double.PositiveInfinity))(
      "html")
    assert(m.xs.toSeq === clean.xs.toSeq && m.ys.toSeq === clean.ys.toSeq)
  }

  test("calibrated confidence is monotone in raw confidence") {
    val rng = new scala.util.Random(11)
    val pts = Seq.fill(60)((rng.nextDouble(), if (rng.nextBoolean()) 1.0 else 0.0))
    val m = Calibration.pava(pts)
    val probes = (0 to 100).map(_ / 100.0).map(m.interpolate)
    assert(probes.zip(probes.tail).forall { case (a, b) => a <= b + 1e-12 })
  }

  test("threshold binary search matches hand-computed values") {
    // interp(c) = c - 0.1 on [0.2, 0.6], then slope 1 again to (1.0, 0.9)
    val m = Calibration.Model(Array(0.2, 0.6, 1.0), Array(0.1, 0.5, 0.9))
    // target 0.5 is hit exactly at the 0.6 breakpoint
    assert(math.abs(Calibration.threshold(m, 0.5).get - 0.6) < 1e-6)
    // target 0.3: 0.1 + (c-0.2) = 0.3  =>  c = 0.4
    assert(math.abs(Calibration.threshold(m, 0.3).get - 0.4) < 1e-6)
    // below the curve's bottom: every confidence qualifies
    assert(Calibration.threshold(m, 0.05) === Some(0.2))
    // above the curve's top: unreachable
    assert(Calibration.threshold(m, 0.95) === None)
    // τ ladder: one threshold per tier target (accept 0.85, llm 0.3)
    assert(math.abs(Calibration.threshold(m, 0.85).get - 0.95) < 1e-6)
    assert(math.abs(Calibration.threshold(m, 0.3).get - 0.4) < 1e-6)
  }

  test("x06 end-to-end: rows, bounds, and degraded rows carry lower calibration") {
    val df = SparkEntry.queries("x06_calibrated_conf")(spark, "")
    val rows = df.collect()
    assert(rows.length > 1000)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("calibrated"); c >= -1e-9 && c <= 1 + 1e-9
    })
    // calibration must separate: mean calibrated confidence of correct
    // rows strictly above that of incorrect rows
    val (ok, bad) = rows.partition(_.getAs[Boolean]("correct"))
    assert(bad.nonEmpty && ok.nonEmpty)
    val mOk = ok.map(_.getAs[Double]("calibrated")).sum / ok.length
    val mBad = bad.map(_.getAs[Double]("calibrated")).sum / bad.length
    assert(mOk > mBad, s"calibrated means: correct $mOk vs incorrect $mBad")
    // meets_accept (τ_accept from the fitted curve at target 0.95):
    // accepted rows must sit at calibrated accuracy ≥ the target
    val accepted = rows.filter(_.getAs[Boolean]("meets_accept"))
    assert(accepted.forall(_.getAs[Double]("calibrated") >= 0.95 - 1e-6))
  }
}
