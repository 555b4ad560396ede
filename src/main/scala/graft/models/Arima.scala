package graft.models

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS}

/** ARIMA(p,d,q) with exact Gaussian MLE — the Spark-side counterpart of the
  * reference's statsmodels wrapper (`orangecontrib/timeseries/
  * models.py:279-328`). The reference delegates to
  * `statsmodels.tsa.arima.model.ARIMA` (state-space exact MLE, stationary
  * initialization, no trend when d>0, constant mean when d=0); this
  * implementation reproduces that estimator from public formulas:
  *
  *  - Harvey state-space form of ARMA(p,q), m = max(p, q+1), with the
  *    stationary initial covariance solved from the discrete Lyapunov
  *    equation ([[ArmaKalman]], the one filter);
  *  - concentrated Gaussian log-likelihood via the Kalman filter;
  *  - stationarity/invertibility enforced through the Monahan (1984)
  *    PACF-space parameter transform (the same one statsmodels uses);
  *  - forecast CI (`get_forecast` + `conf_int` semantics,
  *    `models.py:312-316`): for d ≤ 1 the exact Kalman SE from the
  *    end-of-sample state covariance, for d ≥ 2 the ψ-weight MA(∞)
  *    expansion integrated d times.
  *
  * The filter runs once per installed parameter set ([[fit]]'s final pass
  * or [[fitFixed]]); [[predict]] and [[fittedValues]] reuse its
  * innovations and end-of-sample covariance.
  *
  * Fitting is driver-side by design: a forecast model consumes one
  * (collected) series — SURVEY §3.3/§4 — while Spark parallelizes across
  * (model × fold × series) fits.
  */
final class Arima(val p: Int, val d: Int, val q: Int) {

  private var phi: Array[Double] = Array.empty
  private var theta: Array[Double] = Array.empty
  private var mu: Double = 0.0 // constant mean (only when d == 0)
  private var w: Array[Double] = Array.empty // differenced series
  private var yRaw: Array[Double] = Array.empty
  private var space: ArmaKalman = _
  private var pass: ArmaKalman.Pass = _ // the filter pass at the installed parameters
  def nParams: Int = p + q + (if (d == 0) 1 else 0) + 1 // + sigma2

  def fittedPhi: Array[Double] = phi
  def fittedTheta: Array[Double] = theta
  def fittedSigma2: Double = pass.sigma2
  def fittedMu: Double = mu
  /** The (differenced, mean-centered) series the filter ran on. */
  def centeredSeries: Array[Double] = if (d == 0) w.map(_ - mu) else w
  def aic: Double = -2 * pass.logLik + 2 * nParams
  def bic: Double = -2 * pass.logLik + math.log(w.length) * nParams

  // ---------------------------------------------------------------- fit

  def fit(y: Array[Double]): Arima = {
    require(y.length > p + d + q + 1, "series too short")
    yRaw = y
    w = Arima.diff(y, d)
    val useMean = d == 0
    val wMean = if (useMean) w.sum / w.length else 0.0

    // optimize in unconstrained space: p PACF-transformed AR, q MA, [mu]
    val nFree = p + q + (if (useMean) 1 else 0)
    def unpack(v: DenseVector[Double]): (Array[Double], Array[Double], Double) = {
      val ph = Arima.transformAr(v.toArray.slice(0, p))
      val th = Arima.transformMa(v.toArray.slice(p, p + q))
      val m = if (useMean) v(p + q) else 0.0
      (ph, th, m)
    }

    def negLogLik(v: DenseVector[Double]): Double = {
      val (ph, th, m) = unpack(v)
      val centered = if (useMean) w.map(_ - m) else w
      val ll = Arima.concentratedLogLik(centered, ph, th)
      if (ll.isNaN || ll.isInfinite) 1e10 else -ll
    }

    val objective = Arima.centralDifferences(negLogLik)

    val start = DenseVector.zeros[Double](nFree)
    if (useMean) start(p + q) = wMean
    // crude AR warm start in PACF space: use sample PACF signs
    val lbfgs = new LBFGS[DenseVector[Double]](maxIter = 500, m = 7, tolerance = 1e-12)
    val opt1 = lbfgs.minimize(objective, start)
    // polish with a second run from the optimum (restarts help LBFGS+approx grads)
    val opt = lbfgs.minimize(objective, opt1)

    val (ph, th, m) = unpack(opt)
    install(ph, th, m)
  }

  /** Install fixed (externally-chosen) parameters instead of fitting —
    * exposes the predict surface at known (φ, θ, μ). σ² and the log-
    * likelihood still come from the Kalman filter pass, exactly as after
    * [[fit]]; this is what makes the forecast/CI recursion oracle-
    * checkable (the MLE itself is not SQL-expressible, but everything
    * downstream of the parameters is). */
  def fitFixed(y: Array[Double], ph: Array[Double], th: Array[Double],
      m: Double = 0.0): Arima = {
    require(ph.length == p && th.length == q, s"need $p AR and $q MA params")
    setFitted(y, ph, th, m)
  }

  /** Install externally-estimated parameters (used by [[Arimax]]'s joint
    * refinement, which optimizes the ARMA and regression parts together
    * and hands the ARMA piece back here for prediction/likelihood). */
  private[models] def setFitted(
      y: Array[Double], ph: Array[Double], th: Array[Double], m: Double): Arima = {
    yRaw = y
    w = Arima.diff(y, d)
    install(ph, th, m)
  }

  /** Set (φ, θ, μ) and run the one filter pass everything after reads. */
  private def install(ph: Array[Double], th: Array[Double], m: Double): Arima = {
    phi = ph; theta = th; mu = m
    space = new ArmaKalman(phi, theta)
    pass = space.run(centeredSeries)
    this
  }

  /** Kalman forecast SE 1..steps ahead, integrated `times` ≤ 1 times, from
    * the end-of-sample state covariance of the installed pass. */
  private[models] def kalmanSe(steps: Int, times: Int): Array[Double] =
    space.forecastSe(pass.pEnd, pass.sigma2, steps, times)

  // ------------------------------------------------------------- predict

  /** (forecast, ciLow, ciHigh) for 1..steps ahead at (1-alpha) confidence. */
  def predict(steps: Int, alpha: Double = 0.05): (Array[Double], Array[Double], Array[Double]) = {
    // forecast the ARMA process by iterating the difference equation on
    // filtered innovations (exact KF innovations at the end of sample)
    val fwMean = ArmaKalman.forecast(phi, theta, centeredSeries, pass.innovations, steps)
      .map(_ + mu)

    val level = Arima.integrate(fwMean, yRaw, d)

    val se: Array[Double] =
      if (d <= 1) kalmanSe(steps, d)
      else Arima.integratedPsiSe(phi, theta, pass.sigma2, steps, d)
    val z = Arima.zQuantile(alpha)
    (level, level.zip(se).map { case (f, s) => f - z * s },
      level.zip(se).map { case (f, s) => f + z * s })
  }

  /** In-sample one-step predictions on the level scale (typ='levels'). */
  def fittedValues(): Array[Double] = {
    val oneStepW = centeredSeries.zip(pass.innovations).map { case (x, e) => x - e + 0.0 }
      .map(_ + mu)
    if (d == 0) oneStepW
    else {
      // y_t = Δᵈy_t + Σ_{j<d} Δʲy_{t-1}: level_hat_t = y_{t-1} + (ŵ + Σ_{0<j<d}
      // Δʲy_{t-1}), ŵ the one-step prediction of Δᵈy_t = w_{t-d}; the
      // first d values are pinned to actuals
      val lower = (1 until d).map(j => Arima.diff(yRaw, j))
      Array.tabulate(yRaw.length) { t =>
        if (t < d) yRaw(t)
        else yRaw(t - 1) + lower.indices.foldLeft(oneStepW(t - d)) { (acc, i) =>
          acc + lower(i)(t - 2 - i)
        }
      }
    }
  }

  def residuals(): Array[Double] = {
    val f = fittedValues()
    yRaw.zip(f).map { case (a, b) => a - b }
  }

  /** In-sample error summary (`_BaseModel.errors`, `models.py:192-208`). */
  def errors(): Map[String, Double] = {
    val pred = fittedValues()
    Map(
      "r2" -> Metrics.r2(yRaw, pred),
      "mae" -> Metrics.mae(yRaw, pred),
      "rmse" -> Metrics.rmse(yRaw, pred),
      "mape" -> Metrics.mape(yRaw, pred),
      "pocid" -> Metrics.pocid(yRaw, pred))
  }
}

object Arima {

  /** Memoized standard-normal quantile z_{1-α/2}. The per-series fan-outs
    * (q52/q87/q88) construct the same distribution for the same α once per
    * key — cache the exact value instead (identical double, computed the
    * same way on first use). */
  private val zCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Double, java.lang.Double]()
  private[models] def zQuantile(alpha: Double): Double =
    zCache.computeIfAbsent(alpha, a =>
      new org.apache.commons.math3.distribution.NormalDistribution(0, 1)
        .inverseCumulativeProbability(1 - a.doubleValue / 2)).doubleValue

  /** `times`-fold first differences of `y`. */
  private[models] def diff(y: Array[Double], times: Int): Array[Double] =
    (1 to times).foldLeft(y)((a, _) => a.indices.drop(1).map(i => a(i) - a(i - 1)).toArray)

  /** Integrate differenced forecasts d times onto the last observed
    * levels of `y` (typ='levels'). */
  private[models] def integrate(fw: Array[Double], y: Array[Double], d: Int): Array[Double] =
    (1 to d).foldLeft(fw) { (level, k) =>
      var acc = diff(y, d - k).last // series at integration level k
      level.map { v => acc += v; acc }
    }

  /** The MLE objective with a central-difference gradient (step 1e-6). */
  private[models] def centralDifferences(negLogLik: DenseVector[Double] => Double)
      : DiffFunction[DenseVector[Double]] = new DiffFunction[DenseVector[Double]] {
    def calculate(v: DenseVector[Double]): (Double, DenseVector[Double]) = {
      val f0 = negLogLik(v)
      val g = DenseVector.zeros[Double](v.length)
      val h = 1e-6
      for (i <- 0 until v.length) {
        val vp = v.copy; vp(i) += h
        val vm = v.copy; vm(i) -= h
        g(i) = (negLogLik(vp) - negLogLik(vm)) / (2 * h)
      }
      (f0, g)
    }
  }

  /** Monahan (1984) transform: unconstrained reals → stationary AR region
    * via partial autocorrelations (same as statsmodels
    * `_ar_transparams`). */
  def transformAr(raw: Array[Double]): Array[Double] = {
    val k = raw.length
    if (k == 0) return raw
    val pacf = raw.map(x => x / math.sqrt(1 + x * x))
    val phi = Array.ofDim[Double](k, k)
    for (j <- 0 until k) {
      phi(j)(j) = pacf(j)
      for (i <- 0 until j)
        phi(j)(i) = phi(j - 1)(i) - pacf(j) * phi(j - 1)(j - 1 - i)
    }
    phi(k - 1)
  }

  /** statsmodels `_ma_transparams`: the Monahan recursion with `+=` in the
    * inner update — with the 1+θ₁L+…+θ_qL^q convention of the Harvey state
    * space, that (not the AR `-=` form) maps onto the invertible MA region;
    * for q ≥ 2 the AR-form image misses e.g. all root-flipped equivalents
    * of θ = (1.1, 0.3). */
  def transformMa(raw: Array[Double]): Array[Double] = {
    val k = raw.length
    if (k == 0) return raw
    val pacf = raw.map(x => x / math.sqrt(1 + x * x))
    val th = Array.ofDim[Double](k, k)
    for (j <- 0 until k) {
      th(j)(j) = pacf(j)
      for (i <- 0 until j)
        th(j)(i) = th(j - 1)(i) + pacf(j) * th(j - 1)(j - 1 - i)
    }
    th(k - 1)
  }

  /** ARMA ψ weights: ψ_0=1, ψ_j = θ_j + Σ_i φ_i ψ_{j-i}. Returns ψ_0..ψ_{n-1}. */
  def psiWeights(phi: Array[Double], theta: Array[Double], n: Int): Array[Double] = {
    val psi = new Array[Double](n)
    if (n == 0) return psi
    psi(0) = 1.0
    for (j <- 1 until n) {
      var v = if (j <= theta.length) theta(j - 1) else 0.0
      for (i <- 1 to math.min(phi.length, j)) v += phi(i - 1) * psi(j - i)
      psi(j) = v
    }
    psi
  }

  /** ψ-weight forecast SE cumulated through d integrations — the d ≥ 2
    * approximation (the Kalman accumulator state handles d ≤ 1 exactly). */
  def integratedPsiSe(phi: Array[Double], theta: Array[Double],
      sigma2: Double, steps: Int, d: Int): Array[Double] = {
    var psi = psiWeights(phi, theta, steps)
    for (_ <- 1 to d) {
      val c = new Array[Double](steps)
      var acc = 0.0
      for (i <- 0 until steps) { acc += psi(i); c(i) = acc }
      psi = c
    }
    val out = new Array[Double](steps)
    var cum = 0.0
    for (h <- 0 until steps) {
      cum += psi(h) * psi(h)
      out(h) = math.sqrt(sigma2 * cum)
    }
    out
  }

  def concentratedLogLik(x: Array[Double], phi: Array[Double], theta: Array[Double]): Double =
    new ArmaKalman(phi, theta).run(x).logLik
}
