package graft.models

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closes the q31–q34 golden-oracle circularity (VERDICT r6 task 2).
  *
  * The gate oracles for q31/q32 replay checked-in tables that were computed
  * by THIS engine, so on the gate data they pin regression, not independent
  * correctness. This spec re-derives the same numbers on the same gate
  * series through paths that share NOTHING with the Kalman/LBFGS (ARIMA)
  * and Breeze `\` (VAR) fit code:
  *
  *  - ARIMA(2,1,0) / (1,1,0): a conditional-sum-of-squares (CSS) estimate —
  *    plain OLS of the differenced series on its own lags, solved by a
  *    hand-rolled Gaussian elimination — must agree with the MLE φ at
  *    coarse tolerance, and a forecast replayed from the CSS parameters
  *    through the bare difference equation must land near the PINNED golden
  *    forecasts (re-stated here, so editing the goldens without editing
  *    this spec fails).
  *  - MLE local-max property: perturbing each fitted φ by ±ε strictly
  *    decreases the concentrated log-likelihood — a wrong-but-deterministic
  *    "optimum" that still hashes would fail this.
  *  - VAR(2) / VAR(1): the OLS coefficients must equal a from-scratch
  *    normal-equations solve (hand-built design matrix, hand-rolled
  *    elimination) at 1e-6, and the forecast recursion replayed from those
  *    independent coefficients must reproduce the pinned golden forecasts
  *    to ~golden-rounding (5e-4).
  *
  * Reference anchor for the semantics the goldens encode:
  * `orangecontrib/timeseries/models.py:279-328` (statsmodels exact MLE) and
  * `models.py:330-402` (statsmodels VAR OLS + forecast). */
class GoldenIndependenceSpec extends SparkSpec {

  // ------------------------------------------------------------ fixtures

  /** (v, c) daily gate series — the exact q31/q32 input (SparkEntry.daily:
    * exact integer-cents means, one row per day, ordered by day). */
  private def dailyVC(dir: String): (Array[Double], Array[Double]) = {
    // gate data goes through the ONE schema-sniffing loader (r7 verdict
    // task 3): a physical-layout change in the environment must not be
    // able to break this spec and SparkEntry differently
    val df = graft.SparkEntry.tbl(spark, dir, "events")
      .withColumn("tsx", col("ts"))
    val rows = df.groupBy(date_trunc("day", col("tsx")).as("d"))
      .agg((sum(expr("CAST(round(value*100) AS BIGINT)")) / 100.0 /
        count(lit(1))).as("v"),
        count(lit(1)).cast("double").as("c"))
      .orderBy("d").select("v", "c").collect()
    (rows.map(_.getDouble(0)), rows.map(_.getDouble(1)))
  }

  private lazy val sf001 = dailyVC("/root/testdata/sf0.01")
  private lazy val sf01 = dailyVC("/root/testdata/sf0.1")
  private def series(tag: Int): (Array[Double], Array[Double]) =
    if (tag == 1) sf001 else sf01

  // ---------------------------------------------- independent linear path

  /** Gaussian elimination with partial pivoting — deliberately NOT Breeze,
    * so the independent path shares no linear algebra with the fits. */
  private def solve(a0: Array[Array[Double]], b0: Array[Array[Double]])
      : Array[Array[Double]] = {
    val n = a0.length
    val m = b0.head.length
    val a = a0.map(_.clone)
    val b = b0.map(_.clone)
    for (col <- 0 until n) {
      val piv = (col until n).maxBy(r => math.abs(a(r)(col)))
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tmb = b(col); b(col) = b(piv); b(piv) = tmb
      require(math.abs(a(col)(col)) > 1e-12, "singular system")
      for (r <- col + 1 until n) {
        val f = a(r)(col) / a(col)(col)
        for (c <- col until n) a(r)(c) -= f * a(col)(c)
        for (c <- 0 until m) b(r)(c) -= f * b(col)(c)
      }
    }
    val x = Array.ofDim[Double](n, m)
    for (r <- n - 1 to 0 by -1; c <- 0 until m) {
      var s = b(r)(c)
      for (j <- r + 1 until n) s -= a(r)(j) * x(j)(c)
      x(r)(c) = s / a(r)(r)
    }
    x
  }

  private def diff1(y: Array[Double]): Array[Double] =
    Array.tabulate(y.length - 1)(i => y(i + 1) - y(i))

  /** CSS estimate for AR(p) on the differenced series: OLS of w_t on
    * (w_{t-1}..w_{t-p}), no intercept — matches the d=1 no-mean model. */
  private def cssAr(w: Array[Double], p: Int): Array[Double] = {
    val n = w.length
    val xtx = Array.ofDim[Double](p, p)
    val xty = Array.ofDim[Double](p, 1)
    for (t <- p until n) {
      for (i <- 0 until p) {
        xty(i)(0) += w(t - 1 - i) * w(t)
        for (j <- 0 until p) xtx(i)(j) += w(t - 1 - i) * w(t - 1 - j)
      }
    }
    solve(xtx, xty).map(_(0))
  }

  /** AR(p) difference-equation forecast on the ORIGINAL scale (d=1):
    * iterate w, cumulate onto the last observed level. */
  private def arForecast(y: Array[Double], phi: Array[Double], steps: Int)
      : Array[Double] = {
    val w = scala.collection.mutable.ArrayBuffer(diff1(y): _*)
    var level = y.last
    Array.fill(steps) {
      val next = phi.indices.map(i => phi(i) * w(w.length - 1 - i)).sum
      w += next
      level += next
      level
    }
  }

  /** From-scratch VAR(k) with intercept: normal-equations OLS on the
    * hand-built design [1, y_{t-1}·, …, y_{t-k}·]. Returns (B, const) with
    * B[lag][eq][var] in the statsmodels `coefs` layout. */
  private def handVar(m: Array[Array[Double]], k: Int)
      : (Array[Array[Array[Double]]], Array[Double]) = {
    val nV = m.head.length
    val p = 1 + k * nV
    val rows = (k until m.length).map { t =>
      (Array(1.0) ++ (1 to k).flatMap(l => m(t - l))) -> m(t)
    }
    val ztz = Array.ofDim[Double](p, p)
    val zty = Array.ofDim[Double](p, nV)
    rows.foreach { case (z, y) =>
      for (i <- 0 until p) {
        for (j <- 0 until p) ztz(i)(j) += z(i) * z(j)
        for (e <- 0 until nV) zty(i)(e) += z(i) * y(e)
      }
    }
    val beta = solve(ztz, zty) // p × nV
    val coefs = Array.tabulate(k, nV, nV)((l, eq, v) => beta(1 + l * nV + v)(eq))
    (coefs, Array.tabulate(nV)(eq => beta(0)(eq)))
  }

  /** VAR forecast recursion from independent coefficients. */
  private def handVarForecast(m: Array[Array[Double]],
      coefs: Array[Array[Array[Double]]], const: Array[Double], steps: Int)
      : Array[Array[Double]] = {
    val nV = m.head.length
    val k = coefs.length
    val hist = scala.collection.mutable.ArrayBuffer(m.takeRight(k): _*)
    Array.fill(steps) {
      val out = const.clone
      for (l <- 1 to k; eq <- 0 until nV; v <- 0 until nV)
        out(eq) += coefs(l - 1)(eq)(v) * hist(hist.length - l)(v)
      hist += out
      out
    }
  }

  // ------------------------------------- pinned goldens (= SparkEntry's)

  /** q31 golden (sf → (forecast, ci_low, ci_high) for steps 1..7) — the
    * SAME numbers as q31's oracle SQL in SparkEntry, restated so a
    * golden edit without a matching spec edit fails. */
  private val arimaGold: Map[Int, Seq[(Double, Double, Double)]] = Map(
    1 -> Seq((49.5486, 42.9291, 56.1681), (50.2096, 43.5101, 56.9091),
      (48.093, 40.7769, 55.4092), (49.5991, 41.4004, 57.7977),
      (49.2258, 40.7243, 57.7274), (48.9019, 39.8351, 57.9687),
      (49.3336, 39.7817, 58.8856)),
    2 -> Seq((50.1741, 48.494, 51.8543), (50.3342, 48.564, 52.1043),
      (50.1029, 48.2515, 51.9542), (50.1845, 48.0493, 52.3198),
      (50.2353, 47.9813, 52.4894), (50.1642, 47.8001, 52.5283),
      (50.1886, 47.6679, 52.7093)))

  /** q32 golden (sf → (v_f, v_lo, v_hi, c_f, c_lo, c_hi) steps 1..7) —
    * restated from q32's oracle SQL in SparkEntry. */
  private val varGold: Map[Int, Seq[(Double, Double, Double, Double, Double, Double)]] = Map(
    1 -> Seq(
      (50.0927, 44.1545, 56.0309, 340.4694, 312.9349, 368.004),
      (49.8495, 43.4867, 56.2124, 327.0177, 299.3868, 354.6486),
      (49.4823, 43.1163, 55.8483, 333.4822, 304.4481, 362.5164),
      (49.6833, 43.3135, 56.0531, 331.8781, 302.6786, 361.0776),
      (49.6134, 43.2428, 55.984, 332.0294, 302.8227, 361.2361),
      (49.6276, 43.257, 55.9983, 332.1339, 302.9272, 361.3406),
      (49.6282, 43.2575, 55.9989, 332.0586, 302.8518, 361.2654)),
    2 -> Seq(
      (49.7805, 48.1802, 51.3808, 3340.5989, 3226.8186, 3454.3791),
      (49.8858, 48.2686, 51.503, 3338.4944, 3224.6961, 3452.2928),
      (49.889, 48.2503, 51.5277, 3336.383, 3222.1752, 3450.5908),
      (49.8672, 48.2274, 51.507, 3336.759, 3222.5458, 3450.9723),
      (49.8685, 48.2281, 51.5088, 3336.6753, 3222.457, 3450.8935),
      (49.872, 48.2316, 51.5124, 3336.5872, 3222.3688, 3450.8056),
      (49.8713, 48.2309, 51.5117, 3336.5841, 3222.3655, 3450.8026)))

  // --------------------------------------------------------------- tests

  // CSS and exact MLE are different estimators; they converge together as
  // n grows. n = 30 days at both gate scales, but sf0.1's series is far
  // less noisy (3.3k events/day vs 330), so the agreement band tightens.
  private val cases = Seq((1, "sf0.01", 0.2), (2, "sf0.1", 0.05))

  for ((tag, name, fcTol) <- cases) {
    test(s"q31 $name: MLE matches pinned golden; independent CSS path agrees") {
      val y = series(tag)._1
      val m = new Arima(2, 1, 0).fit(y)
      val (fo, lo, hi) = m.predict(7)
      arimaGold(tag).zipWithIndex.foreach { case ((gf, gl, gh), i) =>
        assert(math.abs(fo(i) - gf) < 1e-3, s"fc[$i] ${fo(i)} vs golden $gf")
        assert(math.abs(lo(i) - gl) < 1e-3, s"lo[$i] ${lo(i)} vs golden $gl")
        assert(math.abs(hi(i) - gh) < 1e-3, s"hi[$i] ${hi(i)} vs golden $gh")
      }
      val phiCss = cssAr(diff1(y), 2)
      m.fittedPhi.zip(phiCss).foreach { case (a, b) =>
        assert(math.abs(a - b) < 0.3, s"MLE φ ${m.fittedPhi.toSeq} vs CSS ${phiCss.toSeq}")
      }
      val cssFc = arForecast(y, phiCss, 7)
      arimaGold(tag).zipWithIndex.foreach { case ((gf, _, _), i) =>
        assert(math.abs(cssFc(i) - gf) < fcTol,
          s"CSS forecast[$i] ${cssFc(i)} vs golden $gf (tol $fcTol)")
      }
    }

    test(s"q31 $name: fitted φ is a strict local max of the likelihood") {
      val y = series(tag)._1
      val w = diff1(y)
      for (p <- Seq(1, 2)) { // q31 uses (2,1,0); q33's eval uses (1,1,0)
        val m = new Arima(p, 1, 0).fit(y)
        val phi = m.fittedPhi
        val ll0 = Arima.concentratedLogLik(w, phi, Array.empty)
        for (i <- phi.indices; eps <- Seq(0.02, -0.02)) {
          val pert = phi.clone; pert(i) += eps
          val ll = Arima.concentratedLogLik(w, pert, Array.empty)
          assert(ll < ll0, s"p=$p: loglik rose under φ[$i]+=$eps: $ll0 -> $ll")
        }
      }
    }

    test(s"q32 $name: VAR OLS ≡ from-scratch normal equations; forecast matches pinned") {
      val (v, c) = series(tag)
      val m = v.indices.map(i => Array(v(i), c(i))).toArray
      for (k <- Seq(1, 2)) { // q32 uses VAR(2); q33's eval uses VAR(1)
        val vr = new Var(Some(k)).fit(m)
        val (hc, hconst) = handVar(m, k)
        val ec = vr.coefMatrices
        for (l <- 0 until k; eq <- 0 until 2; vv <- 0 until 2)
          assert(math.abs(ec(l)(eq)(vv) - hc(l)(eq)(vv)) <
            1e-6 * math.max(1.0, math.abs(hc(l)(eq)(vv))),
            s"k=$k A${l + 1}($eq,$vv): ${ec(l)(eq)(vv)} vs ${hc(l)(eq)(vv)}")
        vr.trendConstants.zip(hconst).foreach { case (a, b) =>
          assert(math.abs(a - b) < 1e-6 * math.max(1.0, math.abs(b)), s"k=$k const $a vs $b")
        }
        if (k == 2) {
          val fc = handVarForecast(m, hc, hconst, 7)
          varGold(tag).zipWithIndex.foreach { case ((vf, _, _, cf, _, _), i) =>
            assert(math.abs(fc(i)(0) - vf) < 5e-4, s"hand v fc[$i] ${fc(i)(0)} vs golden $vf")
            assert(math.abs(fc(i)(1) - cf) < 5e-4, s"hand c fc[$i] ${fc(i)(1)} vs golden $cf")
          }
          val (fo, lo, hi) = vr.predict(7)
          varGold(tag).zipWithIndex.foreach { case ((vf, vl, vh, cf, cl, ch), i) =>
            val got = Seq(fo(i)(0), lo(i)(0), hi(i)(0), fo(i)(1), lo(i)(1), hi(i)(1))
            val exp = Seq(vf, vl, vh, cf, cl, ch)
            got.zip(exp).foreach { case (a, e) =>
              assert(math.abs(a - e) < 1e-3, s"engine VAR[$i] $got vs golden $exp")
            }
          }
        }
      }
    }

    test(s"q51 $name: ARIMAX fit is a strict local max over (φ, β, μ) jointly") {
      // q51's gate row pins the fitFixed PREDICT surface; this pins the
      // FIT itself (the one model estimator without an independent
      // cross-check — r7 verdict task 7): on the q51 input shape (daily
      // series, time-index regressor), perturbing ANY free parameter of
      // the jointly-maximized concentrated likelihood by ±ε must strictly
      // decrease it. A deterministic-but-wrong "optimum" that still
      // hashes in the gate would fail here.
      val y = series(tag)._1
      val exog = Array.tabulate(y.length)(i => Array(i.toDouble))
      val m = new Arimax(1, 0, 0).fit(y, exog)
      val phi = m.arimaPart.fittedPhi
      val beta = m.fittedBeta
      val mu = m.arimaPart.fittedMu
      def ll(ph: Array[Double], b: Array[Double], m0: Double): Double = {
        val resid = y.indices.map { t =>
          y(t) - b.indices.map(j => b(j) * exog(t)(j)).sum - m0
        }.toArray
        Arima.concentratedLogLik(resid, ph, Array.empty)
      }
      val ll0 = ll(phi, beta, mu)
      for (eps <- Seq(0.02, -0.02)) {
        assert(ll(Array(phi(0) + eps), beta, mu) < ll0,
          s"loglik rose under φ+=$eps")
        assert(ll(phi, beta, mu + eps) < ll0, s"loglik rose under μ+=$eps")
        // β multiplies a regressor growing to n≈30, so a matched-scale
        // nudge is ε/n — big enough to clear float noise, small enough
        // to stay near the optimum
        val bPert = Array(beta(0) + eps / y.length)
        assert(ll(phi, bPert, mu) < ll0, s"loglik rose under β+=${eps / y.length}")
      }
    }
  }
}
