package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, inv}

/** The one Kalman filter over the Harvey state space of a zero-mean
  * ARMA(p, q), m = max(p, q + 1): T has φ down its first column and ones
  * on the superdiagonal, R = (1, θ₁, …, θ_q), Z = e₁. Built once per
  * (φ, θ): T, R·Rᵀ and the stationary P₀ = T·P₀·Tᵀ + R·Rᵀ — 1/(1 − φ²) at
  * m = 1, vec(P₀) = (I − T⊗T)⁻¹·vec(R·Rᵀ) otherwise, the only Breeze call.
  * Matrices are row-major arrays and every product is a plain
  * left-to-right loop, so a step allocates nothing and fuses no
  * multiply-add (the hash-gated model surfaces replay these sums in SQL).
  * Variances are in units of σ². Used by [[Arima]] (and [[Arimax]]
  * through it) and by `StreamingOps.streamingArmaForecastFixed`. */
final class ArmaKalman(phi: Array[Double], theta: Array[Double]) extends Serializable {
  import ArmaKalman._

  private val m = math.max(phi.length, theta.length + 1)
  private val t = new Array[Double](m * m)
  for (i <- phi.indices) t(i * m) = phi(i)
  for (i <- 0 until m - 1) t(i * m + i + 1) = 1.0
  private val rr: Array[Double] = {
    val r = new Array[Double](m)
    r(0) = 1.0
    System.arraycopy(theta, 0, r, 1, theta.length)
    Array.tabulate(m * m)(ix => r(ix / m) * r(ix % m))
  }
  private val p0: Array[Double] =
    if (m == 1) Array(1.0 / (1.0 - t(0) * t(0)))
    else {
      val lhs = DenseMatrix.eye[Double](m * m)
      for (i <- 0 until m; j <- 0 until m; k <- 0 until m; l <- 0 until m)
        lhs(i * m + k, j * m + l) -= t(i * m + j) * t(k * m + l)
      val vecP = (inv(lhs) * DenseVector(rr.clone())).toArray // column-major P₀
      Array.tabulate(m * m)(ix => vecP((ix % m) * m + ix / m))
    }

  /** A filter at the stationary start: a = 0, P = P₀. */
  def start(): Filter = resume(new Array[Double](m), p0.clone())

  /** A filter continuing from the predicted state (a, P), updated in place. */
  def resume(a: Array[Double], pMat: Array[Double]): Filter = new Filter(m, t, rr, a, pMat)

  /** One pass over `x` from the stationary start. A non-positive or NaN F
    * makes the likelihood and σ² NaN; the innovations and P still cover `x`. */
  def run(x: Array[Double]): Pass = {
    val n = x.length
    val kf = start()
    val innov = new Array[Double](n)
    var sumLogF = 0.0
    var sumV2F = 0.0
    var ok = true
    var i = 0
    while (i < n) {
      val f = kf.f
      ok &&= f > 0 && !f.isNaN
      val v = kf.step(x(i))
      innov(i) = v
      sumLogF += math.log(f)
      sumV2F += v * v / f
      i += 1
    }
    val s2 = sumV2F / n
    if (!ok) Pass(Double.NaN, Double.NaN, innov, kf.pMat)
    else Pass(-0.5 * n * (math.log(2 * math.Pi) + 1 + math.log(s2)) - 0.5 * sumLogF,
      s2, innov, kf.pMat)
  }

  /** Forecast SE 1..`steps` ahead from the end-of-sample P, propagated
    * with no update (statsmodels `get_forecast().conf_int()`, including a
    * not-yet-converged P). d = 1 appends the level offset s, which sums
    * the future w's: [α; s] with transition row Z·T for s, disturbance
    * R₀ = 1, and s starting with the covariance of w_{n+1}. */
  def forecastSe(pEnd: Array[Double], sigma2: Double, steps: Int, d: Int): Array[Double] = {
    require(d == 0 || d == 1, s"Kalman forecast SE needs d <= 1, got $d")
    val n = m + d
    // index m of the augmented state reads the first ARMA state
    def augment(x: Array[Double]) = Array.tabulate(n * n)(ix => x((ix / n % m) * m + ix % n % m))
    val ta = augment(t)
    if (d == 1) {
      for (i <- 0 until m) ta(i * n + m) = 0.0
      ta(n * n - 1) = 1.0
    }
    val kf = new Filter(n, ta, augment(rr), new Array[Double](n), augment(pEnd))
    val at = if (d == 0) 0 else n * n - 1
    Array.tabulate(steps) { _ =>
      val se = math.sqrt(sigma2 * kf.pMat(at))
      kf.propagate()
      se
    }
  }
}

object ArmaKalman {

  /** Concentrated log-likelihood, σ̂² = Σ(v²/F)/n, the innovations and
    * the end-of-sample P, the covariance of α_{n+1}. */
  final case class Pass(logLik: Double, sigma2: Double,
      innovations: Array[Double], pEnd: Array[Double])

  /** Predicted state of an n-dimensional system observed through its
    * first coordinate: mean `a` and row-major covariance `pMat`. */
  final class Filter private[ArmaKalman] (n: Int, t: Array[Double], rr: Array[Double],
      val a: Array[Double], val pMat: Array[Double]) {
    private val k = new Array[Double](n)
    private val ta = new Array[Double](n)
    private val tp = new Array[Double](n * n)

    /** Innovation variance F = P₀₀ of the next observation. */
    def f: Double = pMat(0)

    /** Folds observation x into (a, P) and returns v = x − a₀. With
      * F = [[f]] and K = T·P·e₁/F: a ← T·a + K·v, P ← T·P·Tᵀ + R·Rᵀ − K·Kᵀ·F. */
    def step(x: Double): Double = {
      val v = x - a(0)
      val f = pMat(0)
      var i = 0
      while (i < n) {
        var sk = 0.0; var sa = 0.0; var j = 0
        while (j < n) { sk += t(i * n + j) * pMat(j * n); sa += t(i * n + j) * a(j); j += 1 }
        k(i) = sk / f; ta(i) = sa; i += 1
      }
      i = 0
      while (i < n) { a(i) = ta(i) + k(i) * v; i += 1 }
      predictCov(gain = true, f)
      v
    }

    /** P ← T·P·Tᵀ + R·Rᵀ: one step ahead with no observation. */
    def propagate(): Unit = predictCov(gain = false, 0.0)

    private def predictCov(gain: Boolean, f: Double): Unit = {
      var i = 0
      while (i < n) { // tp = T·P
        var j = 0
        while (j < n) {
          var s = 0.0; var l = 0
          while (l < n) { s += t(i * n + l) * pMat(l * n + j); l += 1 }
          tp(i * n + j) = s; j += 1
        }
        i += 1
      }
      i = 0
      while (i < n) { // P = tp·Tᵀ + R·Rᵀ [− K·Kᵀ·F]
        var j = 0
        while (j < n) {
          var s = 0.0; var l = 0
          while (l < n) { s += tp(i * n + l) * t(j * n + l); l += 1 }
          val ix = i * n + j
          pMat(ix) = if (gain) s + rr(ix) - k(i) * k(j) * f else s + rr(ix)
          j += 1
        }
        i += 1
      }
    }
  }

  /** `steps`-ahead forecasts of a zero-mean ARMA by its difference
    * equation on the last observations `w` and innovations `e`, oldest
    * first. History before them and future innovations count as 0. */
  def forecast(phi: Array[Double], theta: Array[Double], w: Array[Double],
      e: Array[Double], steps: Int): Array[Double] = {
    val fw = new Array[Double](steps)
    for (h <- 0 until steps) {
      var v = 0.0
      for (i <- 1 to phi.length) {
        val back = i - h // back-th most recent observation; <= 0: a forecast
        v += phi(i - 1) * (
          if (back <= 0) fw(h - i) else if (back <= w.length) w(w.length - back) else 0.0)
      }
      for (j <- 1 to theta.length) {
        val back = j - h
        v += theta(j - 1) * (if (back >= 1 && back <= e.length) e(e.length - back) else 0.0)
      }
      fw(h) = v
    }
    fw
  }
}
