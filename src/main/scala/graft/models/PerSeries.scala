package graft.models

import graft.core.{SeriesGather, TimeseriesFrame}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Per-series model fitting at cluster scale: one forecast model per
  * `seriesKeys` group, fitted on the EXECUTORS (the collected-series
  * driver path of [[ModelEvaluation]] is the reference's single-series
  * semantics; this is the horizontal generalization — at 100 TB each
  * series is small even when the table is not, so one gather per key
  * followed by an executor-side fit is the standard "millions of models"
  * recipe).
  *
  * The plan: the [[SeriesGather]] sorted stream (one exchange on the
  * keys at a pinned partition count, a sort by key and time) hands each
  * series to a kernel that fits the model and emits `steps` forecast
  * rows per key. No driver involvement per series.
  */
object PerSeries {

  /** Shared gather/fan-out shell: read each series in time order, run
    * `predictOf` on the executors, emit `steps` forecast rows per key. A
    * series with a null value is skipped like a failed fit. */
  private def forecastByKey(
      tsf: TimeseriesFrame,
      valueCol: String,
      steps: Int,
      minRows: Int)(
      predictOf: Array[Double] => (Array[Double], Array[Double], Array[Double]))
      : DataFrame =
    SeriesGather.byKey(tsf, Seq(valueCol), "per-series forecasting", Seq(
      StructField("step", LongType, nullable = false),
      StructField("forecast", DoubleType),
      StructField("ci_low", DoubleType),
      StructField("ci_high", DoubleType))) { cols =>
      val series = cols(0)
      if (series.length < minRows) Iterator.empty
      else try {
        val (fo, lo, hi) = predictOf(series)
        // Seq[Any]: a plain Seq(...) would numeric-widen the Long step
        // to Double via LUB inference and break the row layout
        (0 until steps).iterator.map(h => Seq[Any](h + 1L, fo(h), lo(h), hi(h)))
      } catch { case _: Exception => Iterator.empty }
    }

  /** Fit ARIMA(p,d,q) per series and forecast `steps` ahead.
    * Output: (seriesKeys..., step, forecast, ci_low, ci_high). Series
    * shorter than `minRows` are skipped. */
  def arimaForecastByKey(
      tsf: TimeseriesFrame,
      valueCol: String,
      p: Int, d: Int, q: Int,
      steps: Int,
      alpha: Double = 0.05,
      minRows: Int = 12): DataFrame =
    forecastByKey(tsf, valueCol, steps, minRows)(series =>
      new Arima(p, d, q).fit(series).predict(steps, alpha))

  /** Per-series ARIMAX forecast at FIXED (β, φ, μ) with the TIME-INDEX
    * regressor — q51's regression-with-AR(1)-errors predict surface as a
    * fan-out: exog is each series' 0-based position (so future exog is
    * known without a second gather), the regression residuals' scalar
    * Kalman filter and forecast run executor-side via
    * [[Arimax.fitFixed]]/predict. Gate q88 replays q51's recursive CTEs
    * per user. Output (seriesKeys..., step, forecast, ci_low, ci_high). */
  def arimaxTimeRegForecastFixedByKey(
      tsf: TimeseriesFrame,
      valueCol: String,
      beta: Double, phi: Double, mu: Double,
      steps: Int,
      alpha: Double = 0.05,
      minRows: Int = 8): DataFrame =
    forecastByKey(tsf, valueCol, steps, minRows) { y =>
      val n = y.length
      val exog = Array.tabulate(n)(i => Array(i.toDouble))
      new Arimax(1, 0, 0)
        .fitFixed(y, exog, Array(beta), Array(phi), Array(), mu)
        .predict(Array.tabulate(steps)(h => Array((n + h).toDouble)), alpha)
    }

  /** Per-series VAR(1) forecast at FIXED (A₁, c) — q45's predict surface
    * (residual covariance, forecast recursion, Ψ-matrix CI accumulation)
    * as a millions-of-models fan-out: each key's multivariate series is
    * gathered in time order and [[Var.fitFixed]]/predict run on the
    * executors. Because everything downstream of the fixed parameters is
    * deterministic linear algebra, the whole fan-out sits under the
    * DuckDB hash gate (q87: q45's recursive CTEs with every user stepped
    * simultaneously, the q52 pattern). Output: (seriesKeys..., step,
    * then per value column forecast/lo/hi). Series shorter than
    * `minRows` are skipped. */
  def varForecastFixedByKey(
      tsf: TimeseriesFrame,
      valueCols: Seq[String],
      a1: breeze.linalg.DenseMatrix[Double],
      trendConst: Array[Double],
      steps: Int,
      alpha: Double = 0.05,
      minRows: Int = 8): DataFrame = {
    require(valueCols.size == a1.rows && valueCols.size == trendConst.length,
      "valueCols, A1 and trendConst dimensions must agree")
    val nv = valueCols.size
    SeriesGather.byKey(tsf, valueCols, "varForecastFixedByKey",
      StructField("step", LongType, nullable = false) +:
        valueCols.flatMap(c => Seq(
          StructField(s"${c}_forecast", DoubleType),
          StructField(s"${c}_lo", DoubleType),
          StructField(s"${c}_hi", DoubleType)))) { cols =>
      val n = cols(0).length
      if (n < minRows) Iterator.empty
      else try {
        val series = Array.tabulate(n, nv)((i, j) => cols(j)(i))
        val fit = new Var().fitFixed(series, Array(a1), trendConst)
        val (fo, lo, hi) = fit.predict(steps, alpha)
        (0 until steps).iterator.map { h =>
          (h + 1).toLong +: (0 until nv).flatMap(j =>
            Seq[Any](fo(h)(j), lo(h)(j), hi(h)(j)))
        }
      } catch { case _: Exception => Iterator.empty }
    }
  }

  /** Per-series ARMA forecast at FIXED (φ, θ, μ) — the fan-out path at
    * known parameters. Unlike [[arimaForecastByKey]] (iterative MLE per
    * key, rows-only checkable), every per-key output here is a
    * deterministic function of that key's series, so the whole
    * millions-of-models recipe sits under the DuckDB hash gate (q52: the
    * q43 scalar Kalman/forecast/CI recursion, PARTITIONed per key). */
  def armaForecastFixedByKey(
      tsf: TimeseriesFrame,
      valueCol: String,
      phi: Array[Double], theta: Array[Double], mu: Double,
      steps: Int,
      alpha: Double = 0.05,
      minRows: Int = 8): DataFrame =
    forecastByKey(tsf, valueCol, steps, minRows)(
      series => new Arima(phi.length, 0, theta.length)
        .fitFixed(series, phi, theta, mu).predict(steps, alpha))
}
