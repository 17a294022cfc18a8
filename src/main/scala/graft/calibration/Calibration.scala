package graft.calibration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Isotonic confidence calibration (SURVEY X20; reference
  * `ConfidenceCalibrator`, `pipeline.py:196-369`): maps raw per-path
  * confidences to empirical accuracy probabilities with a monotone
  * piecewise-linear model — sklearn `IsotonicRegression
  * (out_of_bounds='clip')` re-expressed as
  *
  *  - FIT: pool-adjacent-violators on the driver over a collected
  *    (confidence, correct) validation set. Calibration sets are small
  *    by construction (the reference fits on tens of validation
  *    documents, `pipeline.py:223-245`); at 100 TB you calibrate on a
  *    sampled validation slice, never the corpus — collecting it is the
  *    scale-correct design, not a shortcut. The reference's
  *    min-10-samples gate is kept (`pipeline.py:231,263`).
  *  - APPLY: pure broadcast expressions — the breakpoints become two
  *    literal arrays and the interpolation is one array `filter` + two
  *    `element_at` reads per row (`np.interp` semantics, clipped at both
  *    ends), so the expression stays tiny no matter how many breakpoints
  *    the model has. Per-path models compose with a CASE chain; paths
  *    without a fitted model keep the raw confidence (reference
  *    fallback, `pipeline.py:292-295`).
  */
object Calibration {

  /** monotone piecewise-linear model: breakpoints sorted by x, unique */
  final case class Model(xs: Array[Double], ys: Array[Double]) {
    require(xs.length == ys.length && xs.nonEmpty)

    /** Scala-side interpolation (np.interp with clip) for tests */
    def interpolate(v: Double): Double = {
      if (v <= xs.head) return ys.head
      if (v >= xs.last) return ys.last
      var i = xs.length - 2
      while (xs(i) > v) i -= 1
      ys(i) + (ys(i + 1) - ys(i)) * (v - xs(i)) / (xs(i + 1) - xs(i))
    }

    /** column form: literal breakpoint arrays + clipped interpolation.
      * NULL confidence stays NULL (raw-passthrough contract) — without
      * the guard, `filter(axs, _ <= null)` drops every element and the
      * i===0 branch would fabricate the lowest breakpoint from nothing.
      * NaN confidence calibrates to NULL: without a guard, `x <= NaN`
      * keeps all breakpoints (Spark orders NaN above every value) and a
      * NaN input would calibrate to ys.last — the model's MAXIMUM
      * accuracy. Returning NaN instead of NULL would NOT close the gate
      * either: Spark's comparison operators also treat NaN as greater
      * than any double, so `calibrated >= τ` would still pass every
      * acceptance threshold (review finding). NULL fails every gate in
      * both Spark and DuckDB. This intentionally diverges from the
      * Scala [[interpolate]] path, which propagates NaN — safe THERE
      * because Scala primitive comparisons are NaN-false — and
      * CalibrationSpec pins both behaviors.
      */
    def col(conf: Column): Column = {
      val axs = array(xs.map(lit(_)).toSeq: _*)
      val ays = array(ys.map(lit(_)).toSeq: _*)
      val n = xs.length
      val i = size(filter(axs, x => x <= conf)) // count of xs ≤ conf (1-based left neighbor)
      when(conf.isNull, lit(null).cast("double"))
        .when(isnan(conf), lit(null).cast("double"))
        .when(i === 0, lit(ys.head))
        .when(i === n, lit(ys.last))
        .otherwise(
          element_at(ays, i) +
            (element_at(ays, i + 1) - element_at(ays, i)) *
            (conf - element_at(axs, i)) /
            (element_at(axs, i + 1) - element_at(axs, i)))
    }
  }

  /** Pool-adjacent-violators (increasing, L2, duplicate x averaged by
    * weight) — the exact fit sklearn's IsotonicRegression performs.
    * Returns the (x, fitted-y) breakpoints.
    */
  def pava(points: Seq[(Double, Double)]): Model = {
    require(points.nonEmpty, "empty calibration set")
    // group duplicate x by weighted mean, sort by x
    val grouped = points.groupBy(_._1).toArray
      .map { case (x, ps) => (x, ps.map(_._2).sum / ps.size, ps.size.toDouble) }
      .sortBy(_._1)
    // blocks: (sumY·w mean, weight, firstIdx)
    val my = new Array[Double](grouped.length) // block mean
    val mw = new Array[Double](grouped.length) // block weight
    val lo = new Array[Int](grouped.length) // block start index
    var top = -1
    grouped.zipWithIndex.foreach { case ((_, y, w), idx) =>
      top += 1
      my(top) = y; mw(top) = w; lo(top) = idx
      while (top > 0 && my(top - 1) > my(top)) {
        val wsum = mw(top - 1) + mw(top)
        my(top - 1) = (my(top - 1) * mw(top - 1) + my(top) * mw(top)) / wsum
        mw(top - 1) = wsum
        top -= 1
      }
    }
    val fitted = new Array[Double](grouped.length)
    (0 to top).foreach { b =>
      val hi = if (b == top) grouped.length else lo(b + 1)
      (lo(b) until hi).foreach(i => fitted(i) = my(b))
    }
    Model(grouped.map(_._1), fitted)
  }

  /** Fit per-path calibrators from a validation frame with columns
    * (pathCol, confCol, correctCol:boolean). Paths with fewer than
    * `minSamples` rows are skipped (reference gate).
    */
  def fit(validation: DataFrame, pathCol: String = "path",
      confCol: String = "confidence", correctCol: String = "correct",
      minSamples: Int = 10): Map[String, Model] = {
    val rows = validation
      .select(col(pathCol), col(confCol).cast("double"),
        col(correctCol).cast("double"))
      // unlabeled/corrupt validation rows are skipped, not NPE'd: a null
      // conf or label would throw in the driver-side getDouble below,
      // and a non-finite one would poison the fit (NaN sorts past every
      // conf, so it lands in a PAV pool whose mean — and every
      // calibrated confidence interpolated from it — turns NaN)
      .na.drop(Seq(pathCol, confCol, correctCol))
      .filter(!isnan(col(confCol).cast("double")) &&
        abs(col(confCol).cast("double")) =!= Double.PositiveInfinity &&
        !isnan(col(correctCol).cast("double")) &&
        // an Inf LABEL poisons a pool mean to Inf just like NaN: ys.last
        // = Inf would make threshold() report every target as met
        abs(col(correctCol).cast("double")) =!= Double.PositiveInfinity)
      .collect()
    rows.groupBy(_.getString(0))
      .filter(_._2.length >= minSamples)
      .map { case (p, rs) =>
        p -> pava(rs.toSeq.map(r => (r.getDouble(1), r.getDouble(2))))
      }
  }

  /** calibrated confidence column: per-path models, raw passthrough for
    * unfitted paths
    */
  def applyCol(conf: Column, path: Column, models: Map[String, Model]): Column =
    models.toSeq.sortBy(_._1).foldLeft(conf) { case (acc, (p, m)) =>
      when(path === p, m.col(conf)).otherwise(acc)
    }

  /** Confidence-threshold derivation from a target accuracy — the
    * reference's `ConfidenceCalibrator` binary search (`pipeline.py:
    * 196-369`, feeding the τ tables of `config.py:10-12`): the smallest
    * raw confidence whose CALIBRATED accuracy meets `targetAccuracy`,
    * found by bisection on the fitted monotone curve. None when even the
    * top of the curve falls short (no threshold can deliver the target —
    * the reference then keeps its static default).
    */
  def threshold(m: Model, targetAccuracy: Double,
      tol: Double = 1e-9): Option[Double] = {
    if (m.ys.last < targetAccuracy) return None
    if (m.ys.head >= targetAccuracy) return Some(m.xs.head)
    var lo = m.xs.head // interpolate(lo) < target
    var hi = m.xs.last // interpolate(hi) >= target
    while (hi - lo > tol) {
      val mid = (lo + hi) / 2
      if (m.interpolate(mid) >= targetAccuracy) hi = mid else lo = mid
    }
    Some(hi)
  }
}
