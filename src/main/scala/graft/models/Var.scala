package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, diag, inv}

/** Vector autoregression — the Spark-side counterpart of the reference's
  * statsmodels VAR wrapper (`orangecontrib/timeseries/models.py:331-402`):
  * multivariate OLS on lagged values with trend 'c'|'ct'|'ctt'|'n',
  * default `maxlags = 12·(n/10)^0.5`, information-criterion order
  * selection incl. the reference's 'magic' (mean of the four criteria's
  * argmins, `models.py:387-391`), forecasts by recursion, and CI
  * `forecast ± z·sqrt(diag(mse(h)))` (`models.py:393-402`).
  *
  * Driver-side math (OLS on a collected series); Spark parallelizes
  * across (model × fold) fits in the evaluation loop.
  */
final class Var(
    val maxlags: Option[Int] = None,
    val ic: Option[String] = None,
    val trend: String = "c") {

  var k: Int = 0              // fitted lag order
  var nVars: Int = 0
  private var coefs: Array[DenseMatrix[Double]] = Array.empty // A_1..A_k
  private var trendCoefs: DenseMatrix[Double] = null // per-eq trend terms
  private var sigmaU: DenseMatrix[Double] = null
  private var data: Array[Array[Double]] = Array.empty // row-major [t][var]
  var aic: Double = Double.NaN
  var bic: Double = Double.NaN

  private def nTrend: Int = trend match {
    case "n" | "nc" => 0
    case "c" => 1
    case "ct" => 2
    case "ctt" => 3
    case t => throw new IllegalArgumentException(s"unknown trend: $t")
  }

  def fit(rows: Array[Array[Double]]): Var = {
    data = rows
    nVars = rows.head.length
    val n = rows.length
    val maxL = maxlags.getOrElse((12 * math.pow(n / 10.0, 0.5)).toInt)
    k = ic match {
      case Some("magic") =>
        val sels = Seq("aic", "bic", "hqic", "fpe").map(c => selectOrder(maxL, c))
        sels.sum / sels.length
      case Some(c) => selectOrder(maxL, c)
      case None => maxL
    }
    olsFit(k)
    this
  }

  /** statsmodels select_order: argmin of the criterion over lags 0..maxL
    * (all fitted on the same maxL-truncated sample). */
  private def selectOrder(maxL: Int, crit: String): Int =
    (0 to maxL).map(l => l -> icValue(l, maxL, crit)).minBy(_._2)._1

  private def icValue(lags: Int, sameSample: Int, crit: String): Double = {
    val (sigma, nobs) = olsSigma(lags, sameSample)
    val detOm = breeze.linalg.det(sigma)
    val kTot = nVars * (nVars * lags + nTrend)
    val ldet = if (detOm <= 0) Double.PositiveInfinity else math.log(detOm)
    crit match {
      case "aic" => ldet + 2.0 * kTot / nobs
      case "bic" => ldet + math.log(nobs.toDouble) * kTot / nobs
      case "hqic" => ldet + 2.0 * math.log(math.log(nobs.toDouble)) * kTot / nobs
      case "fpe" =>
        val m = nVars * lags + nTrend
        detOm * math.pow((nobs + m).toDouble / (nobs - m), nVars)
      case c => throw new IllegalArgumentException(s"unknown ic: $c")
    }
  }

  private def designMatrix(lags: Int, startAt: Int): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val n = data.length
    val rowsN = n - startAt
    val p = nVars * lags + nTrend
    val X = DenseMatrix.zeros[Double](rowsN, p)
    val Y = DenseMatrix.zeros[Double](rowsN, nVars)
    for (t <- startAt until n) {
      val r = t - startAt
      var c = 0
      // statsmodels trend ordering: [const, t, t²] prepended
      if (nTrend >= 1) { X(r, c) = 1.0; c += 1 }
      if (nTrend >= 2) { X(r, c) = (r + 1).toDouble; c += 1 }
      if (nTrend >= 3) { X(r, c) = (r + 1).toDouble * (r + 1); c += 1 }
      for (l <- 1 to lags; v <- 0 until nVars) {
        X(r, c) = data(t - l)(v); c += 1
      }
      for (v <- 0 until nVars) Y(r, v) = data(t)(v)
    }
    (X, Y)
  }

  private def olsSigma(lags: Int, sameSample: Int): (DenseMatrix[Double], Int) = {
    val (x, y) = designMatrix(lags, sameSample)
    val beta = x \ y
    val resid = y - x * beta
    val nobs = x.rows
    // statsmodels ic uses the ML (denominator-n) covariance
    ((resid.t * resid) / nobs.toDouble, nobs)
  }

  private def olsFit(lags: Int): Unit = {
    val (x, y) = designMatrix(lags, lags)
    val beta = x \ y // p × nVars
    val resid = y - x * beta
    val nobs = x.rows
    val dfResid = nobs - (nVars * lags + nTrend)
    sigmaU = (resid.t * resid) / dfResid.toDouble
    trendCoefs = beta(0 until nTrend, ::).copy
    coefs = (0 until lags).map { l =>
      // A_l rows: per-equation coefficients of lag l
      val m = DenseMatrix.zeros[Double](nVars, nVars)
      for (eq <- 0 until nVars; v <- 0 until nVars)
        m(eq, v) = beta(nTrend + l * nVars + v, eq)
      m
    }.toArray
    val kTot = nVars * (nVars * lags + nTrend)
    val sigmaMl = (resid.t * resid) / nobs.toDouble
    val ldet = math.log(breeze.linalg.det(sigmaMl))
    aic = ldet + 2.0 * kTot / nobs
    bic = ldet + math.log(nobs.toDouble) * kTot / nobs
  }

  /** Distributed fit for series too LONG to collect — the billion-row
    * VAR: each of the `nVars` equations is an OLS on the lagged columns,
    * solved by [[DistributedOls]] (normal-equation aggregation — only
    * k(k+3)/2 scalar sums per equation reach the driver), and the
    * residual covariance Σᵤ comes from ONE more aggregation over the
    * residual products at the fitted coefficients. Driver state after
    * fitting is the coefficient matrices plus the LAST `lags` rows (the
    * forecast seed) — nothing row-wise is ever collected. [[predict]]/
    * [[forecast]]/[[mseDiag]] run unchanged; [[fittedValues]] returns
    * empty (in-sample values stay distributed — materialize them with a
    * select over the same lag columns if needed). Contrast [[fit]]:
    * collected Breeze OLS + IC order selection, the reference semantics
    * for bounded series ([[PerSeries]] fans it out across many series);
    * here the order is caller-fixed. Default 'c' trend only. */
  def fitDistributed(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      orderCol: String, lags: Int): Var = {
    import org.apache.spark.sql.functions._
    require(trend == "c", "fitDistributed supports the default 'c' trend")
    require(lags >= 1, "need at least one lag")
    nVars = cols.size
    k = lags
    val base = df.select(col(orderCol).as("__ord") +:
      cols.map(c => col(c).cast("double").as(c)): _*)
    // lag design matrix via the range-partitioned boundary carry — a
    // global Window.orderBy would funnel the whole series through ONE
    // task, exactly the bottleneck this path exists to avoid
    val regNames = for (l <- 1 to lags; v <- cols) yield s"__l${l}_$v"
    val (laggedRaw, releaseLagCache) = graft.ops.RangeWindow.lagColumnsManaged(
      base, Seq(col("__ord")), cols, lags)
    val lagged = laggedRaw.na.drop(cols ++ regNames)

    val fits = cols.map(y => DistributedOls.fit(lagged, y, regNames))
    coefs = (0 until lags).map { l =>
      DenseMatrix.tabulate(nVars, nVars)((eq, v) => fits(eq).beta(l * nVars + v))
    }.toArray
    trendCoefs = DenseMatrix.tabulate(1, nVars)((_, eq) => fits(eq).intercept)

    // Σᵤ: one aggregation of residual products at the fitted parameters
    val residCols = cols.zipWithIndex.map { case (y, eq) =>
      val pred = regNames.zipWithIndex.foldLeft(lit(fits(eq).intercept)) {
        case (acc, (r, j)) => acc + lit(fits(eq).beta(j)) * col(r)
      }
      (col(y) - pred).as(s"__e$eq")
    }
    val prods = for (i <- 0 until nVars; j <- i until nVars)
      yield sum(col(s"__e$i") * col(s"__e$j")).as(s"__s${i}_$j")
    val sr = lagged.select(residCols: _*).agg(prods.head, prods.tail: _*).head()
    releaseLagCache() // all jobs over the lag columns have run
    val nobs = fits.head.n
    val dfResid = nobs - (nVars * lags + nTrend)
    sigmaU = DenseMatrix.zeros[Double](nVars, nVars)
    var idx = 0
    for (i <- 0 until nVars; j <- i until nVars) {
      val v = sr.getDouble(idx) / dfResid.toDouble; idx += 1
      sigmaU(i, j) = v; sigmaU(j, i) = v
    }
    // forecast seed: ONLY the last `lags` rows cross to the driver
    // (collect after orderBy preserves the global sort; reverse → asc)
    data = base.orderBy(col("__ord").desc).limit(lags).collect().reverse
      .map(r => Array.tabulate(nVars)(i => r.getDouble(1 + i)))
    this
  }

  /** Fit at FIXED coefficients (A₁..Aₚ, trend constants): skips the OLS
    * and takes the parameter matrices as given, computing only the
    * residual covariance Σᵤ = (e'e)/dfResid over the full sample — the
    * same downstream state `fit` produces, so [[predict]]/[[mseDiag]]/
    * [[fittedValues]] run unchanged. This makes the entire VAR predict
    * surface (residuals → Σᵤ → forecast recursion → Ψ-matrix CI
    * accumulation, `models.py:393-402`) deterministic and SQL-expressible
    * for the DuckDB oracle (gate q45) — mirroring `Arima.fitFixed`/q43,
    * which hash-checks everything downstream of the non-SQL MLE. */
  def fitFixed(rows: Array[Array[Double]],
      a: Array[DenseMatrix[Double]],
      trendConst: Array[Double]): Var = {
    require(trend == "c", "fitFixed supports the default 'c' trend")
    data = rows
    nVars = rows.head.length
    k = a.length
    coefs = a
    trendCoefs = DenseMatrix.zeros[Double](1, nVars)
    for (v <- 0 until nVars) trendCoefs(0, v) = trendConst(v)
    val fv = fittedValues()
    val n = data.length
    val nobs = n - k
    val dfResid = nobs - (nVars * k + nTrend)
    val s = DenseMatrix.zeros[Double](nVars, nVars)
    for (t <- k until n) {
      val e = DenseVector.tabulate(nVars)(i => data(t)(i) - fv(t - k)(i))
      var i = 0
      while (i < nVars) {
        var j = 0
        while (j < nVars) { s(i, j) += e(i) * e(j); j += 1 }
        i += 1
      }
    }
    sigmaU = s / dfResid.toDouble
    this
  }

  /** Plain-scalar mat-vec / mat-mat used on every predict surface instead
    * of BLAS: native gemv/gemm may fuse multiply-add (FMA), which rounds
    * differently from the oracle SQL's separate `*` then `+` — with
    * thousands of per-key rounded outputs (q87) the ulp drift flips 6dp
    * roundings. Explicit left-to-right loops are bit-reproducible against
    * the recursive-CTE oracles on any JVM/BLAS combination. */
  private def matVec(a: DenseMatrix[Double], x: DenseVector[Double]): DenseVector[Double] =
    DenseVector.tabulate(a.rows) { i =>
      var s = 0.0
      var j = 0
      while (j < a.cols) { s += a(i, j) * x(j); j += 1 }
      s
    }

  private def matMul(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] =
    DenseMatrix.tabulate(a.rows, b.cols) { (i, j) =>
      var s = 0.0
      var l = 0
      while (l < a.cols) { s += a(i, l) * b(l, j); l += 1 }
      s
    }

  /** Fitted lag matrices A₁..A_k as [lag][equation][variable] (statsmodels
    * `VARResults.coefs` layout). Read-only view for cross-checking the OLS
    * against an independent normal-equations path (GoldenIndependenceSpec —
    * closes the q32 golden circularity flagged in VERDICT r6). */
  def coefMatrices: Array[Array[Array[Double]]] =
    coefs.map(m => Array.tabulate(m.rows)(i => Array.tabulate(m.cols)(j => m(i, j))))

  /** Per-equation trend constants (zero vector when trend='n'). */
  def trendConstants: Array[Double] =
    if (trendCoefs == null || trendCoefs.rows == 0) Array.fill(nVars)(0.0)
    else Array.tabulate(nVars)(v => trendCoefs(0, v))

  /** Forecast recursion from the last k observations
    * (statsmodels `VARResults.forecast`). */
  def forecast(steps: Int): Array[Array[Double]] = {
    val hist = data.takeRight(k).map(r => DenseVector(r)).toBuffer
    val nobsFit = data.length - k
    (0 until steps).map { h =>
      val out = DenseVector.zeros[Double](nVars)
      var c = 0
      if (nTrend >= 1) { out += trendCoefs(c, ::).t; c += 1 }
      if (nTrend >= 2) { out += trendCoefs(c, ::).t * (nobsFit + h + 1).toDouble; c += 1 }
      if (nTrend >= 3) {
        out += trendCoefs(c, ::).t * math.pow(nobsFit + h + 1.0, 2); c += 1
      }
      for (l <- 1 to k) out += matVec(coefs(l - 1), hist(hist.length - l))
      hist.append(out)
      out.toArray
    }.toArray
  }

  /** MA representation Φ_i and forecast mse(h) = Σ_{i<h} Φ_i Σ_u Φ_i'. */
  def mseDiag(steps: Int): Array[Array[Double]] = {
    val phis = Array.fill(steps)(DenseMatrix.zeros[Double](nVars, nVars))
    phis(0) = DenseMatrix.eye[Double](nVars)
    for (i <- 1 until steps) {
      for (j <- 1 to math.min(i, k))
        phis(i) += matMul(phis(i - j), coefs(j - 1))
    }
    val acc = DenseMatrix.zeros[Double](nVars, nVars)
    (0 until steps).map { i =>
      acc += matMul(matMul(phis(i), sigmaU), phis(i).t)
      diag(acc).toArray.clone()
    }.toArray
  }

  /** (forecast, lo, hi) per step per variable (`models.py:393-402`). */
  def predict(steps: Int, alpha: Double = 0.05)
      : (Array[Array[Double]], Array[Array[Double]], Array[Array[Double]]) = {
    val fc = forecast(steps)
    val mse = mseDiag(steps)
    val z = Arima.zQuantile(alpha)
    val lo = fc.zip(mse).map { case (f, m) =>
      f.zip(m).map { case (v, s) => v - z * math.sqrt(math.abs(s)) } }
    val hi = fc.zip(mse).map { case (f, m) =>
      f.zip(m).map { case (v, s) => v + z * math.sqrt(math.abs(s)) } }
    (fc, lo, hi)
  }

  /** In-sample fitted values (rows k..n-1). */
  def fittedValues(): Array[Array[Double]] = {
    val n = data.length
    (k until n).map { t =>
      val out = DenseVector.zeros[Double](nVars)
      var c = 0
      if (nTrend >= 1) { out += trendCoefs(c, ::).t; c += 1 }
      if (nTrend >= 2) { out += trendCoefs(c, ::).t * (t - k + 1).toDouble; c += 1 }
      if (nTrend >= 3) { out += trendCoefs(c, ::).t * math.pow(t - k + 1.0, 2); c += 1 }
      for (l <- 1 to k) out += matVec(coefs(l - 1), DenseVector(data(t - l)))
      out.toArray
    }.toArray
  }
}
