package graft.ops

import graft.agg.AggRegistry.nanToNull
import graft.core.TimeseriesFrame
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cubic-spline interpolation — the `method='cubic'` branch of
  * `interpolate_timeseries` (`functions.py:282,334-342`; scipy
  * `interp1d(kind='cubic')` = not-a-knot cubic spline through the known
  * points, out-of-range clamped to first/last known value).
  *
  * The spline solve is inherently global per series (a banded system over
  * ALL known points), so the knots are collected to the driver (documented
  * size bound — SURVEY §7.3), the solved coefficient table is broadcast
  * back, and evaluation stays distributed: each row binary-searches its
  * interval in the broadcast knot table (a deterministic scalar UDF — the
  * one place a UDF is the honest tool, since the lookup table is runtime
  * data).
  */
object CubicSpline {

  /** Natural/not-a-knot cubic spline second-derivative solve.
    * Returns per-knot (t, y, m) where m = second derivative. */
  def solveNotAKnot(ts: Array[Double], ys: Array[Double]): Array[(Double, Double, Double)] = {
    val n = ts.length
    require(n >= 4, "not-a-knot cubic needs >= 4 points")
    val h = Array.tabulate(n - 1)(i => ts(i + 1) - ts(i))
    val m = denseSolve(n, h, ys)
    ts.indices.map(i => (ts(i), ys(i), m(i))).toArray
  }

  /** Dense solve of the not-a-knot system (n is driver-side small). */
  private def denseSolve(n: Int, h: Array[Double], ys: Array[Double]): Array[Double] = {
    val A = Array.ofDim[Double](n, n)
    val rhs = new Array[Double](n)
    for (i <- 1 until n - 1) {
      A(i)(i - 1) = h(i - 1)
      A(i)(i) = 2 * (h(i - 1) + h(i))
      A(i)(i + 1) = h(i)
      rhs(i) = 6 * ((ys(i + 1) - ys(i)) / h(i) - (ys(i) - ys(i - 1)) / h(i - 1))
    }
    // not-a-knot boundary rows: third derivative continuous at x1 and x_{n-2}
    A(0)(0) = h(1); A(0)(1) = -(h(0) + h(1)); A(0)(2) = h(0)
    A(n - 1)(n - 3) = h(n - 2); A(n - 1)(n - 2) = -(h(n - 3) + h(n - 2))
    A(n - 1)(n - 1) = h(n - 3)
    // Gaussian elimination with partial pivoting
    val M = A.map(_.clone()); val r = rhs.clone()
    for (col <- 0 until n) {
      val piv = (col until n).maxBy(i => math.abs(M(i)(col)))
      val tmp = M(col); M(col) = M(piv); M(piv) = tmp
      val t2 = r(col); r(col) = r(piv); r(piv) = t2
      for (i <- col + 1 until n) {
        val f = M(i)(col) / M(col)(col)
        if (f != 0) { for (j <- col until n) M(i)(j) -= f * M(col)(j); r(i) -= f * r(col) }
      }
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var s = r(i)
      for (j <- i + 1 until n) s -= M(i)(j) * x(j)
      x(i) = s / M(i)(i)
    }
    x
  }

  /** Evaluate a solved knot table at `tv`: clamp outside the knot range,
    * else the standard cubic-Hermite-from-second-derivatives form over the
    * binary-searched interval. Shared by the driver UDF and the per-key
    * executor fan-out. */
  def evalAt(k: Array[(Double, Double, Double)], tv: Double): Double = {
    if (tv <= k.head._1) k.head._2
    else if (tv >= k.last._1) k.last._2
    else {
      var lo = 0; var hi = k.length - 1
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        if (k(mid)._1 <= tv) lo = mid else hi = mid
      }
      val (t0, y0, m0) = k(lo); val (t1, y1, m1) = k(hi)
      val h = t1 - t0
      val a = (t1 - tv) / h; val b = (tv - t0) / h
      a * y0 + b * y1 +
        ((a * a * a - a) * m0 + (b * b * b - b) * m1) * h * h / 6.0
    }
  }

  /** Per-series executor fan-out of [[interpolate]] for grouped corpora
    * (VERDICT r6 task 7; reference anchor `functions.py:319-345` — the
    * reference is single-table, so this is the scale extension): each
    * series' full rows arrive in time order from the
    * [[graft.core.SeriesGather]] sorted stream (ONE exchange, one input
    * scan), the not-a-knot solve AND the evaluation run inside the
    * executor task, and the filled rows are emitted directly
    * ([[graft.core.SeriesGather.fillSeries]] — no join-back, no second
    * scan, no driver involvement per series). Series with fewer than 4
    * knots are left untouched, exactly like the driver path; per-series
    * length is bounded by `maxRowsPerSeries` (must fit one executor
    * task), the same bound every keyed gather in this library carries. */
  def interpolateByKey(tsf: TimeseriesFrame, c: String,
      maxRowsPerSeries: Long = 10L * 1000 * 1000): DataFrame =
    interpolateByKey(tsf, Seq(c), maxRowsPerSeries)

  /** Multi-column [[interpolateByKey]]: ONE gather serves every column's
    * per-series spline (independent solves on the shared time axis) —
    * per-column calls would scan and shuffle the corpus k times for
    * k columns. Columns with fewer than 4 knots in a series are left
    * untouched there, exactly like the single-column path. */
  def interpolateByKey(tsf: TimeseriesFrame, cols: Seq[String],
      maxRowsPerSeries: Long): DataFrame = {
    require(cols.nonEmpty, "interpolateByKey needs at least one column")
    require(tsf.seriesKeys.nonEmpty,
      "interpolateByKey needs seriesKeys (use interpolate for one series)")
    tsf.timeCol.getOrElse(
      throw new IllegalArgumentException("cubic interpolation needs a time column"))
    val k = cols.size
    graft.core.SeriesGather.fillSeries(tsf, cols, "interpolateByKey",
      maxRowsPerSeries * k) { (times, vals) =>
      val n = vals.length
      val fills = new java.util.HashMap[Int, Array[java.lang.Double]]()
      var j = 0
      while (j < k) {
        val knownIdx = (0 until n).filterNot(i => vals(i)(j).isNaN)
        if (knownIdx.length >= 4) { // too few knots: column untouched
          val knots = solveNotAKnot(
            knownIdx.map(times).toArray, knownIdx.map(i => vals(i)(j)).toArray)
          (0 until n).iterator.filter(i => vals(i)(j).isNaN).foreach { i =>
            var a = fills.get(i)
            if (a == null) { a = new Array[java.lang.Double](k); fills.put(i, a) }
            a(j) = evalAt(knots, times(i))
          }
        }
        j += 1
      }
      import scala.jdk.CollectionConverters._
      fills.entrySet().iterator().asScala.map(e => (e.getKey.intValue, e.getValue))
    }
  }

  /** Fill nulls in `c` with cubic-spline values over the time axis. */
  def interpolate(tsf: TimeseriesFrame, c: String): DataFrame = {
    val spark = tsf.df.sparkSession
    val t = tsf.timeCol.getOrElse(
      throw new IllegalArgumentException("cubic interpolation needs a time column"))
    val known = tsf.df
      .filter(nanToNull(col(c)).isNotNull)
      .orderBy(col(t))
      .select(col(t).cast("double"), nanToNull(col(c)))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    if (known.length < 4) return tsf.df // too few knots: untouched (as linear<2)
    val ts = known.map(_._1); val ys = known.map(_._2)
    val knots = solveNotAKnot(ts, ys)
    val bc = spark.sparkContext.broadcast(knots)

    val fill = udf { (tv: Double) => evalAt(bc.value, tv) }
    tsf.df.withColumn(c,
      coalesce(nanToNull(col(c)), fill(col(t).cast("double"))))
  }
}
