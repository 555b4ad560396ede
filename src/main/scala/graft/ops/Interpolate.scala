package graft.ops

import graft.agg.AggRegistry.nanToNull
import graft.core.TimeseriesFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Missing-value interpolation against the time axis —
  * `interpolate_timeseries` (`orangecontrib/timeseries/functions.py:249-345`).
  *
  * Distributed gap-fill: for every null row, the previous/next known
  * (value, time) pair comes from `last(..., ignoreNulls)` /
  * `first(..., ignoreNulls)` over mirrored unbounded frames — two window
  * passes over the same sort order, no self-join. Out-of-range rows clamp
  * to the first/last known value (`functions.py:334-342`); `mean` fills
  * with the whole-series NaN-mean (`:329-331`); `nearest` picks the closer
  * neighbor in time, ties → the previous one (scipy interp1d 'nearest'
  * rounds half down). Columns with fewer than 2 known values are left
  * untouched (`:323-327`).
  *
  * Cubic spline interpolation needs the global tridiagonal solve; it is
  * deliberately driver-side per series (documented size bound) and lives in
  * [[graft.models]]' Breeze layer — not here.
  */
object Interpolate {

  /** One interpolated column expression. `method`: linear | nearest | mean. */
  def expr(tsf: TimeseriesFrame, c: String, method: String): Column = {
    // no time column → positional index abscissa, like the reference's
    // implicit `np.arange(len(self))` axis (`timeseries.py:241-247`)
    val t = tsf.timeCol match {
      case Some(tc) => col(tc).cast("double")
      case None => row_number().over(tsf.window).cast("double")
    }
    val x = nanToNull(col(c))
    val wAll = tsf.window.rowsBetween(Long.MinValue, Long.MaxValue)
    val wPrev = tsf.window.rowsBetween(Long.MinValue, 0L)
    // "next known" = "last known over the REVERSED order" — an incremental
    // O(n) running frame; the forward unbounded-FOLLOWING formulation is
    // recomputed per row by Spark (O(n²) — see TimeseriesFrame.windowDesc)
    val wNextRun = tsf.windowDesc.rowsBetween(Long.MinValue, 0L)

    val knownCount = count(x).over(wAll)
    val prevV = last(x, ignoreNulls = true).over(wPrev)
    val prevT = last(when(x.isNotNull, t), ignoreNulls = true).over(wPrev)
    val nextV = last(x, ignoreNulls = true).over(wNextRun)
    val nextT = last(when(x.isNotNull, t), ignoreNulls = true).over(wNextRun)

    val filled = method match {
      case "linear" =>
        when(prevV.isNull, nextV)     // before first known → clamp
          .when(nextV.isNull, prevV)  // after last known → clamp
          .when(nextT === prevT, prevV)
          .otherwise(prevV + (nextV - prevV) * (t - prevT) / (nextT - prevT))
      case "nearest" =>
        when(prevV.isNull, nextV)
          .when(nextV.isNull, prevV)
          .when(t - prevT <= nextT - t, prevV) // tie → previous
          .otherwise(nextV)
      case "mean" => avg(x).over(wAll)
      case m => throw new IllegalArgumentException(s"unknown method: $m")
    }
    when(knownCount < 2, x).otherwise(coalesce(x, filled))
  }

  /** Interpolate the given columns in place ('linear'|'nearest'|'mean'|
    * 'cubic' — cubic delegates to the driver-side spline solve). */
  def apply(tsf: TimeseriesFrame, cols: Seq[String], method: String = "linear"): DataFrame =
    cols.foldLeft(tsf.df) { (d, c) =>
      if (method == "cubic") CubicSpline.interpolate(tsf.copy(df = d), c)
      else d.withColumn(c, expr(tsf.copy(df = d), c, method))
    }

  /** Discrete (categorical) columns: NaN → global mode
    * (`functions.py:281-298`: `np.argmax(np.bincount)` — smallest most-
    * frequent value wins ties), or nearest-in-time when method='nearest'. */
  def discrete(tsf: TimeseriesFrame, c: String, method: String = "mode"): DataFrame =
    method match {
      case "mode" =>
        val modeRow = tsf.df.filter(col(c).isNotNull)
          .groupBy(col(c)).count()
          .orderBy(col("count").desc, col(c))
          .limit(1).collect()
        val m = if (modeRow.isEmpty) null else modeRow.head.get(0)
        tsf.df.withColumn(c, coalesce(col(c), lit(m)))
      case "nearest" =>
        val t = tsf.timeCol.map(col(_).cast("double")).getOrElse(
          row_number().over(tsf.window).cast("double"))
        val wPrev = tsf.window.rowsBetween(Long.MinValue, 0L)
        val wNextRun = tsf.windowDesc.rowsBetween(Long.MinValue, 0L)
        val x = col(c)
        val prevV = last(x, ignoreNulls = true).over(wPrev)
        val prevT = last(when(x.isNotNull, t), ignoreNulls = true).over(wPrev)
        val nextV = last(x, ignoreNulls = true).over(wNextRun)
        val nextT = last(when(x.isNotNull, t), ignoreNulls = true).over(wNextRun)
        val filled = when(prevV.isNull, nextV).when(nextV.isNull, prevV)
          .when(t - prevT <= nextT - t, prevV).otherwise(nextV)
        tsf.df.withColumn(c, coalesce(x, filled))
      case m => throw new IllegalArgumentException(s"unknown discrete method: $m")
    }

  /** Multivariate 2-D pre-pass (`functions.py:300-318`), 'nearest'
    * variant: each NaN cell of the selected continuous columns is filled
    * with the value of the nearest non-NaN cell in (row, column) INDEX
    * space — scipy `griddata(method='nearest')` over the matrix grid
    * (ties → smallest row index, then smallest column index, matching
    * cKDTree's first-found order on our scan). Requires ≥3 columns and
    * ≥3 rows like the reference; a univariate pass should follow, as the
    * reference always runs one afterwards.
    *
    * Driver-side by nature — the reference formulates this as an
    * in-memory whole-matrix operation (the interpolant couples every row
    * with every column), bounded by `maxCells` TOTAL cells across all
    * series. With `seriesKeys` set, each series is its own matrix (the
    * fill join carries the key columns, so fills never cross series);
    * series with fewer than 3 rows are left untouched, as in the
    * reference. */
  def multivariateNearest(tsf: TimeseriesFrame, cols: Seq[String],
      maxCells: Long = 10L * 1000 * 1000): DataFrame =
    multivariate(tsf, cols, "nearest", maxCells)

  /** scipy-griddata-'linear' analog (`functions.py:300-318`,
    * `method='linear'`): Delaunay-triangulate the known cells of each
    * series' (row, column) matrix ([[Delaunay]] — exact integer
    * predicates, immune to the grid's pervasive cocircularity) and
    * barycentric-interpolate the NaN cells inside the hull; cells
    * outside the hull stay NaN for the univariate per-column pass, same
    * as the reference's "do the 1d interpolation anyway" step. */
  def multivariateLinear(tsf: TimeseriesFrame, cols: Seq[String],
      maxCells: Long = 10L * 1000 * 1000): DataFrame =
    multivariate(tsf, cols, "linear", maxCells)

  /** scipy-griddata-'cubic' analog (`functions.py:300-318`,
    * `method='cubic'` → `CloughTocher2DInterpolator`): the same Delaunay
    * pre-pass, filled with the C¹ reduced Hsieh–Clough–Tocher cubic
    * ([[CloughTocher]] — the gradient-estimator divergence from scipy is
    * documented there); out-of-hull cells stay NaN for the univariate
    * pass. */
  def multivariateCubic(tsf: TimeseriesFrame, cols: Seq[String],
      maxCells: Long = 10L * 1000 * 1000): DataFrame =
    multivariate(tsf, cols, "cubic", maxCells)

  /** Per-series executor fan-out of the multivariate pre-pass — the
    * many-series scale path: the driver variants above collect EVERY
    * series' cells and triangulate serially (the reference's
    * single-table semantics, measured ~5s at 5k cells — a wall at 10k
    * series), while this one streams each series' full rows in time
    * order through the [[graft.core.SeriesGather]] sorted stream (ONE
    * exchange, one input scan) and triangulates/fills on the executors, emitting the filled rows directly
    * ([[graft.core.SeriesGather.fillSeries]] — no join-back, no second
    * scan). Per-series matrices must fit an executor task
    * (`maxCellsPerSeries`), the same bound every keyed gather in this
    * library carries. */
  def multivariateByKey(tsf: TimeseriesFrame, cols: Seq[String],
      method: String = "linear",
      maxCellsPerSeries: Long = 10L * 1000 * 1000): DataFrame = {
    require(cols.size >= 3, "reference skips multivariate below 3 continuous columns")
    require(tsf.seriesKeys.nonEmpty, "multivariateByKey needs seriesKeys " +
      "(use multivariateNearest/Linear/Cubic for a single series)")
    graft.core.SeriesGather.fillSeries(tsf, cols, "multivariateByKey",
      maxCellsPerSeries)((_, vals) => fillMatrix(vals, method).iterator)
  }

  /** [[multivariateByKey]] with the griddata-'linear' fill — the keyed
    * twin of [[multivariateLinear]]. */
  def multivariateLinearByKey(tsf: TimeseriesFrame, cols: Seq[String],
      maxCellsPerSeries: Long = 10L * 1000 * 1000): DataFrame =
    multivariateByKey(tsf, cols, "linear", maxCellsPerSeries)

  /** Fill one series' (row × column) matrix: NaN cells → Some fill value
    * per `method` ('nearest' | 'linear' | 'cubic'), returned as
    * (rowIdx, fills) with nulls where the method leaves the cell (e.g.
    * outside the Delaunay hull). Empty when nothing is fillable (fewer
    * than 3 rows, no known cells, or no NaN cells) — pure matrix → fills,
    * shared by the driver path and the per-series executor fan-out. */
  private[ops] def fillMatrix(vals: Array[Array[Double]],
      method: String): Seq[(Int, Array[java.lang.Double])] = {
    val n = vals.length
    if (n < 3) return Nil // reference skips matrices below 3 rows
    val k = vals(0).length
    val known = (for {
      i <- (0 until n).iterator; j <- (0 until k).iterator
      if !vals(i)(j).isNaN
    } yield (i, j)).toArray
    if (known.isEmpty || known.length == n * k) return Nil
    val fillAt: (Int, Int) => Double = method match {
      case "nearest" => (i, j) => {
        var best = Long.MaxValue
        var bv = Double.NaN
        known.foreach { case (ii, jj) =>
          val d = (ii - i).toLong * (ii - i) + (jj - j).toLong * (jj - j)
          if (d < best) { best = d; bv = vals(ii)(jj) }
        }
        bv
      }
      case "linear" =>
        val zs = known.map { case (ii, jj) => vals(ii)(jj) }
        val tris = Delaunay.triangulate(known)
        val interp = Delaunay.interpolator(known, zs, tris)
        (i, j) => interp((i, j)).getOrElse(Double.NaN)
      case "cubic" =>
        val zs = known.map { case (ii, jj) => vals(ii)(jj) }
        val tris = Delaunay.triangulate(known)
        val eval = CloughTocher.evaluator(known, zs, tris)
        (i, j) => eval((i, j)).getOrElse(Double.NaN)
      case m => throw new IllegalArgumentException(s"unknown method: $m")
    }
    (0 until n).flatMap { i =>
      val fills = Array.ofDim[java.lang.Double](k)
      var any = false
      (0 until k).foreach { j =>
        if (vals(i)(j).isNaN) {
          val v = fillAt(i, j)
          // NaN = not fillable by this method (e.g. outside the Delaunay
          // hull) → leave null for the univariate pass
          if (!v.isNaN) { fills(j) = v; any = true }
        }
      }
      if (any) Some((i, fills)) else None
    }
  }

  private def multivariate(tsf: TimeseriesFrame, cols: Seq[String],
      method: String, maxCells: Long): DataFrame = {
    require(cols.size >= 3, "reference skips multivariate below 3 continuous columns")
    val keys = tsf.seriesKeys
    // `__rn` is a row index WITHIN its series (tsf.window partitions by the
    // series keys), so each series gets its own matrix; the fill join below
    // carries the key columns so fills never cross series.
    val rn = row_number().over(tsf.window).cast("long").as("__rn")
    val base = tsf.df.withColumn("__rn", rn)
    val mat = base
      .select(keys.map(col) ++ (col("__rn") +: cols.map(c => nanToNull(col(c)))): _*)
      .orderBy(keys.map(col) :+ col("__rn"): _*).collect()
    val total = mat.length
    require(total.toLong * cols.size <= maxCells,
      s"multivariate interpolation is a whole-matrix driver-side op; " +
        s"${total.toLong * cols.size} cells exceeds maxCells=$maxCells")
    val k = cols.size
    val nk = keys.size
    // contiguous groups of identical key prefixes (rows are sorted by keys)
    val groups = mat.toSeq.groupBy(r => (0 until nk).map(r.get)).toSeq
    val fillRows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    groups.foreach { case (keyVals, rows) =>
      val n = rows.length
      val vals = Array.tabulate(n, k)((i, j) =>
        if (rows(i).isNullAt(nk + 1 + j)) Double.NaN else rows(i).getDouble(nk + 1 + j))
      fillMatrix(vals, method).foreach { case (i, fills) =>
        fillRows += org.apache.spark.sql.Row.fromSeq(
          keyVals ++ (rows(i).getLong(nk) +: fills.toSeq))
      }
    }
    if (fillRows.isEmpty) return tsf.df
    val sp = tsf.df.sparkSession
    val keyFields = keys.map(kn => base.schema(kn))
    val schema = org.apache.spark.sql.types.StructType(
      keyFields ++
        (org.apache.spark.sql.types.StructField("__rn", org.apache.spark.sql.types.LongType) +:
          cols.map(c => org.apache.spark.sql.types.StructField(
            s"__fill_$c", org.apache.spark.sql.types.DoubleType))))
    val fillDf = sp.createDataFrame(sp.sparkContext.parallelize(fillRows.toSeq, 1), schema)
    val joined = base.join(broadcast(fillDf), keys :+ "__rn", "left")
    cols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(nanToNull(col(c)), col(s"__fill_$c")))
    }.drop("__rn" +: cols.map(c => s"__fill_$c"): _*)
  }
}
