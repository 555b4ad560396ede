package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.scalatest.funsuite.AnyFunSuite

/** [[ArmaKalman]] against its Breeze twin: the dense matrix recursion
  * (gemv/gemm at every step) the filter's plain loops replace. Up to
  * m = 3 every output must be the same double; at m ≥ 4 Breeze hands the
  * products to BLAS `dgemm`, which sums in another order. */
class ArmaKalmanSpec extends AnyFunSuite {

  private final case class Out(logLik: Double, sigma2: Double, innov: Array[Double],
      se0: Array[Double], se1: Array[Double]) {
    def all: Array[Double] = Array(logLik, sigma2) ++ innov ++ se0 ++ se1
  }

  /** The Breeze twin: one filter pass, then the d = 0 and the d = 1
    * (augmented [α; s]) forecast SE from the end-of-sample P. */
  private def twin(x: Array[Double], phi: Array[Double], theta: Array[Double],
      steps: Int): Out = {
    val p = phi.length; val q = theta.length; val m = math.max(p, q + 1)
    val T = DenseMatrix.zeros[Double](m, m)
    for (i <- 0 until p) T(i, 0) = phi(i)
    for (i <- 0 until m - 1) T(i, i + 1) = 1.0
    val R = DenseVector.zeros[Double](m)
    R(0) = 1.0
    for (j <- 0 until q) R(j + 1) = theta(j)
    val RR = R * R.t
    val m2 = m * m
    val kron = DenseMatrix.zeros[Double](m2, m2)
    for (i <- 0 until m; j <- 0 until m; k <- 0 until m; l <- 0 until m)
      kron(i * m + k, j * m + l) = T(i, j) * T(k, l)
    val vecP = inv(DenseMatrix.eye[Double](m2) - kron) * DenseVector(RR.t.toArray)
    var P = new DenseMatrix(m, m, vecP.toArray)
    var a = DenseVector.zeros[Double](m)
    val innov = new Array[Double](x.length)
    var sumLogF = 0.0
    var sumV2F = 0.0
    var ok = true
    for (t <- x.indices) {
      val v = x(t) - a(0)
      val F = P(0, 0)
      if (F <= 0 || F.isNaN) ok = false
      innov(t) = v
      sumLogF += math.log(F)
      sumV2F += v * v / F
      val K = (T * P(::, 0)) / F
      a = T * a + K * v
      P = T * P * T.t + RR - (K * K.t) * F
    }
    val n = x.length
    val s2 = sumV2F / n
    val (ll, sig2) =
      if (ok) (-0.5 * n * (math.log(2 * math.Pi) + 1 + math.log(s2)) - 0.5 * sumLogF, s2)
      else (Double.NaN, Double.NaN)
    var Ph = P
    val se0 = Array.tabulate(steps) { _ =>
      val se = math.sqrt(sig2 * Ph(0, 0)); Ph = T * Ph * T.t + RR; se
    }
    val Ta = DenseMatrix.zeros[Double](m + 1, m + 1)
    for (i <- 0 until m; j <- 0 until m) Ta(i, j) = T(i, j)
    for (j <- 0 until m) Ta(m, j) = T(0, j)
    Ta(m, m) = 1.0
    val Ra = DenseVector.zeros[Double](m + 1)
    for (i <- 0 until m) Ra(i) = R(i)
    Ra(m) = R(0)
    val RRa = Ra * Ra.t
    var Pa = DenseMatrix.zeros[Double](m + 1, m + 1)
    for (i <- 0 until m; j <- 0 until m) Pa(i, j) = P(i, j)
    for (i <- 0 until m) { Pa(i, m) = P(i, 0); Pa(m, i) = P(0, i) }
    Pa(m, m) = P(0, 0)
    val se1 = Array.tabulate(steps) { _ =>
      val se = math.sqrt(sig2 * Pa(m, m)); Pa = Ta * Pa * Ta.t + RRa; se
    }
    Out(ll, sig2, innov, se0, se1)
  }

  private def filter(x: Array[Double], phi: Array[Double], theta: Array[Double],
      steps: Int): Out = {
    val space = new ArmaKalman(phi, theta)
    val pass = space.run(x)
    Out(pass.logLik, pass.sigma2, pass.innovations,
      space.forecastSe(pass.pEnd, pass.sigma2, steps, 0),
      space.forecastSe(pass.pEnd, pass.sigma2, steps, 1))
  }

  private def bits(v: Double) = java.lang.Double.doubleToLongBits(v)

  /** Stationary, invertible (φ, θ) from raw draws at `scale`; 1.5 puts
    * many partial autocorrelations near ±1. */
  private def draw(rnd: scala.util.Random, p: Int, q: Int, scale: Double) =
    (Arima.transformAr(Array.fill(p)(rnd.nextGaussian() * scale)),
      Arima.transformMa(Array.fill(q)(rnd.nextGaussian() * scale)))

  test("bit-identical to the Breeze twin for m <= 3: loglik, sigma2, innovations, SE at d = 0 and 1") {
    val rnd = new scala.util.Random(11)
    for ((p, q) <- Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (2, 1), (3, 2)); trial <- 0 until 60) {
      val (phi, theta) = draw(rnd, p, q, 1.5)
      val x = Array.fill(1 + rnd.nextInt(90))(rnd.nextGaussian() * 10)
      val got = filter(x, phi, theta, 8).all
      val want = twin(x, phi, theta, 8).all
      got.indices.foreach { i =>
        assert(bits(got(i)) == bits(want(i)),
          s"ARMA($p,$q) trial $trial n=${x.length} output $i: ${got(i)} vs ${want(i)}")
      }
    }
  }

  test("within 1e-12 of the Breeze twin at m >= 4, where BLAS dgemm sums in another order") {
    val rnd = new scala.util.Random(12)
    for ((p, q) <- Seq((2, 3), (4, 0), (5, 1)); trial <- 0 until 40) {
      val (phi, theta) = draw(rnd, p, q, 0.5)
      val x = Array.fill(20 + rnd.nextInt(70))(rnd.nextGaussian() * 10)
      val got = filter(x, phi, theta, 8)
      val want = twin(x, phi, theta, 8)
      val scale = want.innov.map(math.abs).max
      def rel(a: Double, b: Double) = math.abs(a - b) / math.max(math.abs(b), Double.MinPositiveValue)
      assert(rel(got.logLik, want.logLik) <= 1e-12 && rel(got.sigma2, want.sigma2) <= 1e-12,
        s"ARMA($p,$q) trial $trial: ${got.logLik} vs ${want.logLik}")
      got.innov.indices.foreach(i => assert(math.abs(got.innov(i) - want.innov(i)) <= 1e-12 * scale))
      (got.se0 ++ got.se1).zip(want.se0 ++ want.se1).foreach { case (a, b) => assert(rel(a, b) <= 1e-12) }
    }
  }

  test("degenerate inputs: unit and explosive AR(1), constant, length-1 and NaN-holding series") {
    val x = Array.tabulate(30)(i => math.sin(i * 0.9) * 3)
    for (phi <- Seq(1.0, 1.5)) {
      assert(Arima.concentratedLogLik(x, Array(phi), Array.empty).isNaN, s"phi=$phi")
      assert(new ArmaKalman(Array(phi), Array.empty).run(x).sigma2.isNaN, s"phi=$phi")
    }
    val inputs = Seq(Array.fill(25)(4.25), Array(3.5), x.updated(7, Double.NaN))
    for (y <- inputs; (phi, theta) <- Seq((Array(0.4), Array.empty[Double]),
        (Array(0.6), Array(0.3)), (Array(0.5, -0.2), Array(0.1, 0.2)))) {
      val got = filter(y, phi, theta, 5).all
      val want = twin(y, phi, theta, 5).all
      got.indices.foreach(i => assert(bits(got(i)) == bits(want(i)),
        s"n=${y.length} ARMA(${phi.length},${theta.length}) output $i: ${got(i)} vs ${want(i)}"))
    }
  }

  test("resume continues a pass: folding a prefix, then the rest from its state, is one pass") {
    val rnd = new scala.util.Random(5)
    val x = Array.fill(40)(rnd.nextGaussian())
    val space = new ArmaKalman(Array(0.5, -0.3), Array(0.4))
    val whole = space.start()
    val head = space.start()
    x.take(17).foreach(head.step)
    val tail = space.resume(head.a.clone(), head.pMat.clone())
    val v1 = x.map(whole.step)
    val v2 = x.take(17).indices.map(_ => 0.0) ++ x.drop(17).map(tail.step)
    (17 until 40).foreach(i => assert(bits(v1(i)) == bits(v2(i))))
    assert(whole.pMat.map(bits).toSeq == tail.pMat.map(bits).toSeq)
    assert(whole.a.map(bits).toSeq == tail.a.map(bits).toSeq)
  }

  test("forecast reads only the last p observations and q innovations") {
    val rnd = new scala.util.Random(3)
    val w = Array.fill(30)(rnd.nextGaussian())
    val e = Array.fill(30)(rnd.nextGaussian())
    val (phi, theta) = (Array(0.5, -0.2, 0.1), Array(0.3, 0.2))
    val full = ArmaKalman.forecast(phi, theta, w, e, 6)
    val last = ArmaKalman.forecast(phi, theta, w.takeRight(3), e.takeRight(2), 6)
    assert(full.map(bits).toSeq == last.map(bits).toSeq)
    // with one observation and no innovations yet, missing history is 0
    val short = ArmaKalman.forecast(Array(0.5, 0.25), Array.empty, Array(2.0), Array.empty, 3)
    assert(short.toSeq == Seq(1.0, 0.5 + 0.25 * 2.0, 0.5 * 1.0 + 0.25 * 1.0))
  }
}
