package graft.models

import breeze.linalg.{DenseMatrix, DenseVector}

/** ARIMAX — ARIMA with exogenous regressors (`models.py:279-328`
  * `use_exog=True`: statsmodels fits a regression with SARIMAX errors).
  *
  * Estimator: iterated feasible GLS (Cochrane–Orcutt shape) as a warm
  * start — (1) OLS of the d-differenced target on the d-differenced exog,
  * (2) exact-MLE ARIMA on the regression residuals, (3) GLS re-estimate of
  * β through the fitted AR filter — followed by a JOINT maximization of
  * the concentrated Gaussian likelihood over (φ, θ, β, μ) with the same
  * Kalman machinery as [[Arima]], i.e. the regression is estimated inside
  * the state space like the reference's statsmodels path. (No reference
  * goldens exist for ARIMAX — `tests/test_models.py` covers the univariate
  * path only — so the spec checks parameter recovery on simulated data.)
  *
  * Forecasting requires future exog rows, matching the reference
  * (`predict(steps, exog)`).
  */
final class Arimax(val p: Int, val d: Int, val q: Int) {

  private var beta: DenseVector[Double] = _
  private var arima: Arima = _
  private var yRaw: Array[Double] = _
  private var xRaw: Array[Array[Double]] = _

  def fittedBeta: Array[Double] = beta.toArray
  def arimaPart: Arima = arima

  def fit(y: Array[Double], exog: Array[Array[Double]]): Arimax = {
    require(y.length == exog.length, "endog/exog length mismatch")
    yRaw = y; xRaw = exog
    val k = exog.head.length
    val yd = Arima.diff(y, d)
    val xd = (0 until k).map(j => Arima.diff(exog.map(_(j)), d)).toArray
    val n = yd.length

    val X = DenseMatrix.tabulate[Double](n, k)((i, j) => xd(j)(i))
    val yv = DenseVector(yd)
    // iterate: beta (OLS on innovation-whitened data) <-> ARMA on residuals
    var b = X \ yv
    var lastB = b - 1.0
    var iter = 0
    while (iter < 5 && breeze.linalg.norm(b - lastB) > 1e-8) {
      val resid = (yv - X * b).toArray
      arima = new Arima(p, 0, q) // residuals of the differenced regression
      arima.fit(resid)
      // whiten via the AR polynomial (conditional GLS): apply phi(B) to
      // both sides and re-OLS
      val phi = arima.fittedPhi
      def whiten(v: Array[Double]): Array[Double] =
        v.indices.drop(phi.length).map { t =>
          v(t) - phi.indices.map(i => phi(i) * v(t - i - 1)).sum
        }.toArray
      val yw = whiten(yd)
      val Xw = DenseMatrix.tabulate[Double](yw.length, k)((i, j) =>
        whiten(xd(j))(i))
      lastB = b
      b = Xw \ DenseVector(yw)
      iter += 1
    }
    // joint refinement: maximize the concentrated Gaussian likelihood over
    // [AR pacf-space, MA pacf-space, β, (μ when d=0)] simultaneously —
    // the statsmodels path estimates the regression inside the state space;
    // the iterated GLS above supplies the β warm start.
    val useMean = d == 0
    val nFree = p + q + k + (if (useMean) 1 else 0)
    def unpack(v: DenseVector[Double]) = {
      val ph = Arima.transformAr(v.toArray.slice(0, p))
      val th = Arima.transformMa(v.toArray.slice(p, p + q))
      val bb = DenseVector(v.toArray.slice(p + q, p + q + k))
      val m = if (useMean) v(p + q + k) else 0.0
      (ph, th, bb, m)
    }
    def negLL(v: DenseVector[Double]): Double = {
      val (ph, th, bb, m) = unpack(v)
      val resid = (yv - X * bb).toArray.map(_ - m)
      val ll = Arima.concentratedLogLik(resid, ph, th)
      if (ll.isNaN || ll.isInfinite) 1e10 else -ll
    }
    val objective = Arima.centralDifferences(negLL)
    val start = DenseVector.zeros[Double](nFree)
    for (j <- 0 until k) start(p + q + j) = b(j)
    if (useMean) {
      val r0 = (yv - X * b).toArray
      start(p + q + k) = r0.sum / r0.length
    }
    val lbfgs = new breeze.optimize.LBFGS[DenseVector[Double]](
      maxIter = 300, m = 7, tolerance = 1e-10)
    val opt = lbfgs.minimize(objective, start)
    val (phJ, thJ, bJ, muJ) = unpack(opt)
    beta = bJ
    val residFinal = (yv - X * bJ).toArray
    arima = new Arima(p, 0, q).setFitted(residFinal, phJ, thJ, muJ)
    this
  }

  /** Install fixed (β, φ, θ, μ) instead of fitting — the ARIMAX analogue
    * of `Arima.fitFixed`/`Var.fitFixed`: the regression residuals, their
    * Kalman filter, and the whole [[predict]] surface (u-forecast +
    * regression contribution + CI) become deterministic functions of the
    * data, which is what makes them DuckDB-oracle-checkable (gate q51).
    * σ² and the likelihood still come from the filter pass, exactly as
    * after [[fit]]. */
  def fitFixed(y: Array[Double], exog: Array[Array[Double]],
      b: Array[Double], ph: Array[Double], th: Array[Double],
      m: Double = 0.0): Arimax = {
    require(y.length == exog.length, "endog/exog length mismatch")
    require(b.length == exog.head.length, "one beta per exog column")
    yRaw = y; xRaw = exog
    val k = exog.head.length
    val yd = Arima.diff(y, d)
    val xd = (0 until k).map(j => Arima.diff(exog.map(_(j)), d)).toArray
    val n = yd.length
    val X = DenseMatrix.tabulate[Double](n, k)((i, j) => xd(j)(i))
    beta = DenseVector(b)
    val residFinal = (DenseVector(yd) - X * beta).toArray
    arima = new Arima(p, 0, q).setFitted(residFinal, ph, th, m)
    this
  }

  /** Forecast `steps` ahead given the future exog rows. */
  def predict(futureExog: Array[Array[Double]], alpha: Double = 0.05)
      : (Array[Double], Array[Double], Array[Double]) = {
    val steps = futureExog.length
    val (uF, uLo, uHi) = arima.predict(steps, alpha)
    val k = beta.length
    // regression contribution on the differenced scale, then integrate
    val xd = (0 until k).map { j =>
      val full = xRaw.map(_(j)) ++ futureExog.map(_(j))
      Arima.diff(full, d).takeRight(steps)
    }
    val regDiff = (0 until steps).map(h =>
      (0 until k).map(j => beta(j) * xd(j)(h)).sum).toArray
    // u-forecast is on the differenced-residual scale; integrate the
    // combined differenced forecast back onto the level
    val combinedDiff = regDiff.zip(uF).map { case (a, b) => a + b }
    val level = Arima.integrate(combinedDiff, yRaw, d)
    // CI width comes from the ARMA error process (β treated as known).
    // For d ≥ 1 the forecast-error variance must accumulate through the
    // integration — run the Kalman SE recursion with the d-fold level
    // accumulator (same machinery as Arima.predict) instead of reusing the
    // d=0 half-width on the integrated level.
    val se: Array[Double] =
      if (d == 0) {
        val z0 = Arima.zQuantile(alpha)
        uF.zip(uHi).map { case (f, h) => (h - f) / z0 }
      } else if (d == 1) arima.kalmanSe(steps, d)
      else
        Arima.integratedPsiSe(arima.fittedPhi, arima.fittedTheta,
          arima.fittedSigma2, steps, d)
    val z = Arima.zQuantile(alpha)
    val adjLo = level.zip(se).map { case (l, s) => l - z * s }
    val adjHi = level.zip(se).map { case (l, s) => l + z * s }
    (level, adjLo, adjHi)
  }
}
