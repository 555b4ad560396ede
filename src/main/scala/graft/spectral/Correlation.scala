package graft.spectral

import graft.core.{RangeScan, TimeseriesFrame}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Autocorrelation analytics — the Spark re-expression of the reference's
  * `autocorrelation` / `partial_autocorrelation`
  * (`orangecontrib/timeseries/functions.py:192-246`).
  *
  * ACF uses the statsmodels default estimator: demean by the full-series
  * mean, denominator `n·var` (biased / denominator-n). The distributed plan
  * is ONE window pass producing all K lag columns over the series order
  * (a single sort/exchange), then ONE hash aggregate of the K product sums
  * (map-side partials) — no self-join, no K passes. K is the number of
  * *requested* lags (the reference GUI plots a bounded correlogram), so the
  * lag-column width stays modest even when the table is huge.
  */
object Correlation {

  /** ACF values for lags 0..maxLag as a local array (the ACF vector itself
    * is tiny — K+1 doubles — regardless of table size).
    *
    * Implementation: parallel range sort, then one sequential pass with a
    * K-deep ring buffer accumulating all K+1 product sums — the same terms
    * in the same (time-ascending) order as the window formulation
    * ([[acfVectorWindow]], kept as the differential-test twin), so results
    * are bit-identical, but without WindowExec's K separate lag frames
    * (~3× faster at 600k×48). */
  def acfVector(tsf: TimeseriesFrame, xCol: String, maxLag: Int): Array[Double] =
    acfVectorWithCount(tsf, xCol, maxLag)._1

  /** [[acfVector]] plus the frame's row count, nulls included (the `n` of
    * [[acfConfint]]). The count rides the mean aggregate the ACF already
    * runs, so it costs no job of its own. */
  def acfVectorWithCount(tsf: TimeseriesFrame, xCol: String,
      maxLag: Int): (Array[Double], Long) = {
    val sp = tsf.df.sparkSession
    import sp.implicits._
    val stats = tsf.df.agg(avg(col(xCol).cast("double")), count(lit(1))).head()
    val mu = stats.getDouble(0)
    val sums = tsf.df
      .orderBy(tsf.orderCols: _*)
      .select(col(xCol).cast("double"))
      .coalesce(1) // concatenates the range-sorted partitions in order
      .mapPartitions { it =>
        val K = maxLag
        val ring = new Array[Double](math.max(K, 1))
        val s = new Array[Double](K + 1)
        var n = 0L
        while (it.hasNext) {
          val row = it.next()
          val x = if (row.isNullAt(0)) Double.NaN else row.getDouble(0) - mu
          if (!x.isNaN) {
            s(0) += x * x
            val lim = math.min(K.toLong, n)
            var k = 1
            while (k <= lim) {
              val prev = ring(((n - k) % K).toInt)
              if (!prev.isNaN) s(k) += x * prev
              k += 1
            }
          }
          if (K > 0) ring((n % K).toInt) = x
          n += 1
        }
        Iterator.single(s)
      }
      .collect()
      .foldLeft(new Array[Double](maxLag + 1)) { (acc, part) =>
        var i = 0
        while (i <= maxLag) { acc(i) += part(i); i += 1 }
        acc
      }
    val denom = sums(0)
    (Array(1.0) ++ (1 to maxLag).map(k => sums(k) / denom), stats.getLong(1))
  }

  /** The K-lag-columns window formulation of [[acfVector]] — the original
    * semantic spec, kept for differential testing. */
  def acfVectorWindow(tsf: TimeseriesFrame, xCol: String, maxLag: Int): Array[Double] = {
    val df = tsf.df
    val x = col(xCol).cast("double")
    val mu = df.agg(avg(x)).head().getDouble(0)
    val xc = x - mu
    val w = tsf.window
    val lagCols = (1 to maxLag).map(k => (xc * (lag(xc, k).over(w))).as(s"p$k"))
    val sums =
      df.select((xc * xc).as("p0") +: lagCols: _*)
        .agg(sum(col("p0")).as("s0"),
          (1 to maxLag).map(k => sum(col(s"p$k")).as(s"s$k")): _*)
        .head()
    val denom = sums.getDouble(0)
    Array(1.0) ++ (1 to maxLag).map { k =>
      val v = sums.get(k)
      if (v == null) Double.NaN else v.asInstanceOf[Double] / denom
    }
  }

  /** Horizontally-scalable ACF: instead of K lag columns over a
    * single-partition global window, range-sort in parallel, then fold
    * each partition once with a maxLag-deep ring buffer; products that
    * straddle a partition boundary are completed by appending the
    * FOLLOWING partitions' first maxLag values — a [[graft.core.RangeScan]]
    * whose summary is each partition's head (P·K doubles) and whose
    * carry chains the heads backward (`scanRight`). One sort shuffle, one
    * O(n) pass, no exploded join — every stage partition-parallel: the
    * 100 TB path. Null and NaN values are NaN slots whose products are
    * skipped, as in [[acfVector]], to which it is numerically identical
    * up to summation order. */
  def acfVectorDistributed(tsf: TimeseriesFrame, xCol: String, maxLag: Int): Array[Double] = {
    val mu = tsf.df.agg(avg(col(xCol).cast("double"))).head().getDouble(0)
    val sorted = Bridge.catalystRows(tsf.df
      .orderBy(tsf.orderCols: _*)                 // range-partitioned parallel sort
      .select(col(xCol).cast("double")))
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0) - mu)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // carry(p) = the first maxLag centered values AFTER partition p,
    // concatenated across as many following partitions as needed so a
    // short (or empty) neighbor cannot starve it
    val carries = RangeScan.summaries(sorted)(_.take(maxLag).toArray)
      .scanRight(Array.empty[Double])((head, after) => (head ++ after).take(maxLag))
      .tail
    val ringLen = math.max(maxLag, 1)
    val partials = RangeScan.withCarry(sorted, carries) { (after, it) =>
      val sums = Array.ofDim[Double](maxLag + 1) // [0] = denom Σxc²
      val ring = Array.ofDim[Double](ringLen)
      var n = 0L
      // add x's products with the ring's values at lags from..maxLag
      def push(x: Double, from: Int): Unit = {
        if (!x.isNaN) {
          var k = from
          while (k <= math.min(n, maxLag.toLong)) {
            val prev = ring(((n - k) % ringLen).toInt)
            if (!prev.isNaN) sums(k) += x * prev
            k += 1
          }
        }
        ring((n % ringLen).toInt) = x
        n += 1
      }
      it.foreach { x => if (!x.isNaN) sums(0) += x * x; push(x, 1) }
      // complete straddling products: carried value j (the j-th row of
      // the following partitions) multiplies ONLY this partition's tail
      // rows — lags k ≥ j+1 reach past the other carried values, so each
      // cross product is counted exactly once, by the partition owning
      // its earlier element; carry-carry products belong to the
      // neighbor's own pass. No denom contribution from carries.
      after.iterator.zipWithIndex.foreach { case (x, j) => push(x, j + 1) }
      Iterator.single(sums)
    }.collect()
    sorted.unpersist()
    val total = Array.ofDim[Double](maxLag + 1)
    partials.foreach(s => (0 to maxLag).foreach(k => total(k) += s(k)))
    Array(1.0) ++ (1 to maxLag).map(k => total(k) / total(0))
  }

  /** Grouped multi-series ACF — the horizontal scale path the reference
    * lacks: one row per (seriesKeys, lag). All windows partition by the
    * series keys, so every series is an independent partition and the
    * whole computation is shuffle-parallel (no single-partition sort,
    * unlike the global-series formulations). Estimator identical to
    * [[acfVector]]: demean by the per-series mean, denominator-n. */
  def acfByKey(tsf: TimeseriesFrame, xCol: String, maxLag: Int): DataFrame = {
    require(tsf.seriesKeys.nonEmpty, "acfByKey needs seriesKeys")
    val keys = tsf.seriesKeys
    val keyCols = keys.map(col)
    val x = col(xCol).cast("double")
    val part = Window.partitionBy(keyCols: _*)
    val xc = x - avg(x).over(part)
    val w = tsf.window
    val prods = (xc * xc).as("p0") +:
      (1 to maxLag).map(k => (xc * lag(xc, k).over(w)).as(s"p$k"))
    val sums = tsf.df
      .select(keyCols ++ prods: _*)
      .groupBy(keyCols: _*)
      .agg(sum(col("p0")).as("s0"),
        (1 to maxLag).map(k => sum(col(s"p$k")).as(s"s$k")): _*)
    // melt the K sum columns into (keys, lag, acf) rows; constant series
    // (zero variance → s0 = 0) have no ACF and are dropped — ANSI `/`
    // would otherwise kill the whole job on one degenerate key
    val lagStructs = array((1 to maxLag).map(k =>
      struct(lit(k).cast("long").as("lag"), (col(s"s$k") / col("s0")).as("acf"))): _*)
    sums.filter(col("s0") =!= 0.0)
      .select(keyCols :+ explode(lagStructs).as("la"): _*)
      .select(keyCols :+ col("la.lag").as("lag") :+ col("la.acf").as("acf"): _*)
  }

  /** All autocovariance lag-product sums Σᵢ xc_i·xc_{i+k} at once via
    * Wiener–Khinchin: zero-pad to 2m (kills circular wrap-around), |FFT|²,
    * inverse FFT — O(m log m) for every lag together where the direct form
    * pays O(m) PER lag. */
  private def acovSumsFft(xc: Array[Double], nlags: Int): Array[Double] = {
    val m = xc.length
    val L = 2 * m
    val buf = new Array[Double](2 * L)
    System.arraycopy(xc, 0, buf, 0, m)
    val fft = new org.jtransforms.fft.DoubleFFT_1D(L)
    fft.realForwardFull(buf)
    var k = 0
    while (k < L) {
      val re = buf(2 * k); val im = buf(2 * k + 1)
      buf(2 * k) = re * re + im * im; buf(2 * k + 1) = 0.0
      k += 1
    }
    fft.complexInverse(buf, true)
    Array.tabulate(math.min(nlags, m - 1) + 1)(j => buf(2 * j))
  }

  /** Grouped ACF via gathered FFT — the FULL-LAG scale twin of
    * [[acfByKey]]. The window form is O(m·maxLag) work per series: right
    * for bounded correlogram lag counts, quadratic at the reference's
    * DEFAULT `nlags = 0.9·len(x)` (`functions.py:215-216` — which also
    * passes `fft=True` to statsmodels, so FFT is the reference's own
    * semantics, not an approximation). This form gathers each series in
    * time order (`sort_array collect_list`, the
    * [[graft.models.PerSeries]] recipe) and computes every lag's product
    * sum at once via [[acovSumsFft]]. Estimator identical to
    * [[acfByKey]]: per-series demean, denominator s0 = Σxc² (computed
    * directly, so the constant-series drop stays exact); null x rows are
    * dropped before the gather. `maxLag < 0` → the reference default
    * ⌊0.9·m⌋ per series. Output (keys..., lag, acf), gate-checked under
    * q39's oracle (q83) and differentially pinned to [[acfByKey]]. */
  def acfByKeyFft(tsf: TimeseriesFrame, xCol: String,
      maxLag: Int = -1): DataFrame =
    gatherAcf(tsf, xCol, "acfByKeyFft",
      Seq(StructField("acf", DoubleType)),
      m => if (maxLag < 0) math.min((0.9 * m).toInt, m - 1)
           else math.min(maxLag, m - 1))(
      (acf, _) => acf.map(v => Seq[Any](v)))

  /** Grouped ACF with Bartlett confidence bands — q26's surface
    * (statsmodels `acf(alpha=)`) per series: the FFT ACF plus the exact
    * [[acfConfint]] band math (se_k² = (1 + 2Σ_{j<k} r_j²)/n) computed on
    * the executors. Output (keys..., lag, acf, ci_low, ci_high);
    * hash-gated per key (q85) against a PARTITIONed replay of q26's
    * Bartlett window SQL. */
  def acfConfintByKey(tsf: TimeseriesFrame, xCol: String,
      alpha: Double = 0.05, maxLag: Int = -1): DataFrame =
    gatherAcf(tsf, xCol, "acfConfintByKey",
      Seq(StructField("acf", DoubleType), StructField("ci_low", DoubleType),
        StructField("ci_high", DoubleType)),
      m => if (maxLag < 0) math.min((0.9 * m).toInt, m - 1)
           else math.min(maxLag, m - 1))(
      (acf, m) => {
        val ci = acfConfint(acf, m, alpha)
        acf.indices.map(k => Seq[Any](acf(k), ci(k)._1, ci(k)._2)).toArray
      })

  /** Grouped PACF — the per-key form the single-series [[pacfVector]]
    * lacks, at the reference's default depth
    * nlags = min(m/2 − 1, m − 1) (`functions.py:244-245`): per-series ACF
    * via the gathered Wiener–Khinchin FFT, then Levinson–Durbin
    * executor-side on the (nl+1)-vector (the exact [[pacfVector]]
    * recursion — reused, not reimplemented). Output (keys..., lag, pacf);
    * the gate replays the recursion as a per-key recursive CTE (q84). */
  def pacfByKeyFft(tsf: TimeseriesFrame, xCol: String,
      maxLag: Int = -1): DataFrame =
    gatherAcf(tsf, xCol, "pacfByKeyFft",
      Seq(StructField("pacf", DoubleType)),
      m => if (maxLag < 0) math.min(m / 2 - 1, m - 1)
           else math.min(maxLag, m - 1))(
      (acf, _) => pacfVector(acf).map(v => Seq[Any](v)))

  /** Shared gather → per-series (FFT) ACF shell for the grouped
    * correlation family: sorts each series by (timeCol, tieBreak) into one
    * grouped row (map-side-combined shuffle), demeans, computes the
    * lag-product sums via [[acovSumsFft]], and hands the normalized ACF
    * vector (index 0 = 1.0) to `transform` for the final per-lag values.
    * Constant and sub-2-row series are dropped, as in [[acfByKey]]. */
  private def gatherAcf(tsf: TimeseriesFrame, xCol: String, opName: String,
      outFields: Seq[StructField], lagDepth: Int => Int)(
      transform: (Array[Double], Int) => Array[Seq[Any]]): DataFrame = {
    val spark = tsf.df.sparkSession
    val g = graft.core.SeriesGather.gather(tsf, Seq(xCol), opName,
      dropNulls = true)
    val outSchema = StructType(g.keySchema.fields ++
      (StructField("lag", LongType, nullable = false) +: outFields))
    val layout = g.layout
    // heavyPerSeries = false: ACF/PACF via FFT is CPU ∝ gathered bytes —
    // AQE's byte sizing already balances it; see SeriesGather.rows
    val outRdd = graft.core.SeriesGather.rows(g, heavyPerSeries = false)
      .flatMap { row =>
      val x = graft.core.SeriesGather.values(row, layout)
      val m = x.length
      if (m < 2) Iterator.empty
      else {
        val mu = x.sum / m
        val xc = x.map(_ - mu)
        val s0 = xc.map(v => v * v).sum
        val nl = lagDepth(m)
        if (s0 == 0.0 || nl < 1) Iterator.empty // constant series: no ACF
        else {
          val r = acovSumsFft(xc, nl)
          val acf = Array.tabulate(nl + 1)(k => if (k == 0) 1.0 else r(k) / s0)
          val out = transform(acf, m)
          val keyVals = graft.core.SeriesGather.keyVals(row, layout)
          (1 to nl).iterator.map(k =>
            InternalRow.fromSeq(keyVals ++ (k.toLong +: out(k))))
        }
      }
    }
    Bridge.fromCatalystRows(spark, outRdd, outSchema)
  }

  /** Local maxima of |values| with `order`-neighborhood strict dominance —
    * scipy `argrelextrema(np.greater, order)` with clipped borders
    * (`_significant_acf`, `functions.py:177-189`). Returns (index, value). */
  def significantPeaks(values: Array[Double], order: Int,
      abs: Boolean = true): Seq[(Int, Double)] = {
    val mag = if (abs) values.map(math.abs) else values
    (0 until values.length).flatMap { i =>
      val lo = math.max(0, i - order)
      val hi = math.min(values.length - 1, i + order)
      val isPeak = (lo to hi).forall(j => j == i || mag(i) > mag(j)) &&
        (lo until i).nonEmpty && (i until hi).nonEmpty // borders can't peak (clip)
      if (isPeak) Some(i -> values(i)) else None
    }
  }

  private def normPpf(p: Double): Double =
    new org.apache.commons.math3.distribution.NormalDistribution(0, 1)
      .inverseCumulativeProbability(p)

  /** Bartlett-formula ACF confidence intervals — statsmodels
    * `acf(x, alpha=)` (`stattools.acf`; surfaced by the reference's
    * `autocorrelation(..., alpha=)`, `functions.py:212-218`):
    * `var(0)=0`, `var(1)=1/n`,
    * `var(k≥2)=(1+2·Σ_{j=1}^{k-1} acf_j²)/n`; the interval is
    * `acf_k ± z_{1-α/2}·sqrt(var(k))`. Returns (low, high) per lag
    * 0..maxLag. */
  def acfConfint(acfVec: Array[Double], n: Long, alpha: Double): Array[(Double, Double)] = {
    val z = normPpf(1 - alpha / 2)
    var cum = 0.0
    acfVec.zipWithIndex.map { case (a, k) =>
      val v =
        if (k == 0) 0.0
        else if (k == 1) 1.0 / n
        else {
          cum += acfVec(k - 1) * acfVec(k - 1)
          (1 + 2 * cum) / n
        }
      val iv = z * math.sqrt(v)
      (a - iv, a + iv)
    }
  }

  /** PACF confidence intervals — statsmodels `pacf(x, alpha=)`:
    * constant `var=1/n` for every lag ≥ 1; lag 0 is pinned to the value
    * itself (`confint[0] = ret[0]`). */
  def pacfConfint(pacfVec: Array[Double], n: Long, alpha: Double): Array[(Double, Double)] = {
    val iv = normPpf(1 - alpha / 2) * math.sqrt(1.0 / n)
    pacfVec.zipWithIndex.map { case (p, k) =>
      if (k == 0) (p, p) else (p - iv, p + iv)
    }
  }

  /** The correlogram's dashed significance band — `owcorrelogram.py:64-72`:
    * `1.96·sqrt((1 + 2·Σ peaks²)/n)` over the PLOTTED (peaks-only) acf
    * values, n = series length. */
  def correlogramBand(peakVals: Seq[Double], n: Long): Double =
    1.96 * math.sqrt((1 + 2 * peakVals.map(v => v * v).sum) / n)

  private def peaksFrame(spark: SparkSession, valueName: String,
      vec: Array[Double], n: Long,
      confint: Option[Array[(Double, Double)]]): DataFrame = {
    val peaks = significantPeaks(vec, order = 3).filter(_._1 > 0)
    confint match {
      case None =>
        val rows = peaks.map { case (i, v) => Row(i.toLong, v) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("lag", LongType),
            StructField(valueName, DoubleType))))
      case Some(ci) =>
        val rows = peaks.map { case (i, v) =>
          Row(i.toLong, v, ci(i)._1, ci(i)._2)
        }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("lag", LongType),
            StructField(valueName, DoubleType),
            StructField("ci_low", DoubleType),
            StructField("ci_high", DoubleType))))
    }
  }

  /** ACF peaks as a DataFrame (lag, acf[, ci_low, ci_high]) — reference
    * default `nlags = 0.9·n`, |acf| local maxima with order=3. With
    * `alpha` set, the Bartlett confint columns are attached, selected at
    * the same peak rows (`_significant_acf`, `functions.py:177-189`). */
  def acf(spark: SparkSession, tsf: TimeseriesFrame, xCol: String,
      maxLag: Option[Int] = None, alpha: Option[Double] = None): DataFrame = {
    val n = tsf.df.count()
    val k = maxLag.getOrElse((0.9 * n).toInt)
    val vec = acfVectorAuto(tsf, xCol, k)
    peaksFrame(spark, "acf", vec, n, alpha.map(a => acfConfint(vec, n, a)))
  }

  /** ACF vector with depth-based routing: the ring-buffer fold is O(n·k)
    * — right for bounded correlogram depths, quadratic at the reference
    * defaults (0.9·n for ACF, n/2−1 for PACF) on a long series. Past a
    * bounded depth, gather the (single) series under a constant key and
    * take the O(n log n) Wiener–Khinchin path instead (statsmodels acf's
    * own fft=True route); estimator identical, differential-pinned. */
  private def acfVectorAuto(tsf: TimeseriesFrame, xCol: String,
      k: Int): Array[Double] =
    if (k <= 4096) acfVector(tsf, xCol, k)
    else {
      val keyed = tsf.copy(
        df = tsf.df.withColumn("__k", org.apache.spark.sql.functions.lit(1)),
        seriesKeys = Seq("__k"))
      val rows = acfByKeyFft(keyed, xCol, k).collect()
      val out = new Array[Double](k + 1)
      out(0) = 1.0
      rows.foreach(r => out(r.getLong(1).toInt) = r.getDouble(2))
      out
    }

  /** Levinson–Durbin recursion over the biased ACF — statsmodels
    * `pacf(method='ldb')` (`functions.py:221-246`). Driver-side on the tiny
    * ACF vector; the data-sized work happened in [[acfVector]]. */
  def pacfVector(acfVec: Array[Double]): Array[Double] = {
    val nlags = acfVec.length - 1
    val pacf = new Array[Double](nlags + 1)
    pacf(0) = 1.0
    var prevPhi = new Array[Double](0)
    var prevE = acfVec(0) // = 1
    // primitive while-loops, same left-to-right summation order as the
    // original Range.map(...).sum form (bit-identical results): this now
    // runs per series on the executors (pacfByKeyFft), where the boxed
    // collection per recursion step was the entire cost — 57s → 9s for
    // 2000 × 10k-point series at default depth
    var k = 1
    while (k <= nlags) {
      var s = 0.0
      var j = 1
      while (j < k) { s += prevPhi(j - 1) * acfVec(k - j); j += 1 }
      val phiKK = (acfVec(k) - s) / prevE
      val phi = new Array[Double](k)
      var idx = 0
      while (idx < k - 1) {
        phi(idx) = prevPhi(idx) - phiKK * prevPhi(k - 2 - idx); idx += 1
      }
      phi(k - 1) = phiKK
      prevE = prevE * (1 - phiKK * phiKK)
      prevPhi = phi
      pacf(k) = phiKK
      k += 1
    }
    pacf
  }

  /** PACF peaks (lag, pacf[, ci_low, ci_high]); reference default
    * `nlags = min(n//2 - 1, n - 1)`. With `alpha` set, the constant-
    * variance confint columns are attached at the peak rows. */
  def pacf(spark: SparkSession, tsf: TimeseriesFrame, xCol: String,
      maxLag: Option[Int] = None, alpha: Option[Double] = None): DataFrame = {
    val n = tsf.df.count()
    val k = maxLag.getOrElse(math.min(n.toInt / 2 - 1, n.toInt - 1))
    // deep depths route the ACF through the FFT (acfVectorAuto); the
    // Levinson–Durbin solve stays O(k²) local — statsmodels 'ldb' pays
    // the same, and it is primitive-loop arithmetic after the de-boxing
    val vec = pacfVector(acfVectorAuto(tsf, xCol, k))
    peaksFrame(spark, "pacf", vec, n, alpha.map(a => pacfConfint(vec, n, a)))
  }
}
