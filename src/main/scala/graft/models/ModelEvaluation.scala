package graft.models

import graft.core.TimeseriesFrame
import graft.ops.Interpolate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A fit/predict façade matching the reference `_BaseModel` contract
  * (`models.py:19-276`) over a collected univariate series, plus the
  * rolling-origin evaluation loop (`model_evaluation`,
  * `functions.py:495-582`).
  *
  * Spark's role (SURVEY §3.3): data prep (interpolation, ordered collect)
  * is distributed; the per-(model × fold) fits are independent driver-side
  * tasks executed in parallel (a Scala parallel collection here — on a
  * cluster the same loop parallelizes over a job per fold).
  */
object ModelEvaluation {

  sealed trait Spec { def name: String }
  final case class ArimaSpec2(p: Int, d: Int, q: Int) extends Spec {
    def name = s"AR${if (d > 0) "I" else ""}MA($p,$d,$q)"
  }
  final case class VarSpec(lags: Int) extends Spec {
    def name = s"VAR($lags)"
  }

  /** Collect the target (and feature) series in time order. */
  def collectSeries(tsf: TimeseriesFrame, cols: Seq[String]): Array[Array[Double]] = {
    val ordered = tsf.df.orderBy(tsf.orderCols: _*)
      .select(cols.map(c => col(c).cast("double")): _*)
      .collect()
    ordered.map(r => cols.indices.map(i =>
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i)).toArray)
  }

  private def fitPredict(spec: Spec, series: Array[Array[Double]], steps: Int)
      : Array[Double] = spec match {
    case a: ArimaSpec2 =>
      new Arima(a.p, a.d, a.q).fit(series.map(_.head)).predict(steps)._1
    case v: VarSpec =>
      new Var(Some(v.lags)).fit(series).predict(steps)._1.map(_.head)
  }

  /** Rolling-origin evaluation: returns a DataFrame
    * (model, rmse, mae, mape, pocid, r2, aic, bic) with an extra
    * "(in-sample)" row per model, mirroring `functions.py:495-582`. */
  def evaluate(
      spark: SparkSession,
      tsf: TimeseriesFrame,
      targetCols: Seq[String],
      models: Seq[Spec],
      nFolds: Int,
      forecastSteps: Int): DataFrame = {
    val interp = tsf.copy(df = Interpolate(tsf, targetCols, "linear"))
    val series = collectSeries(interp, targetCols)
    val trueY = collectSeries(tsf, targetCols.take(1)).map(_.head)
    val n = series.length

    def scoreRow(name: String, t: Array[Double], p: Array[Double],
        aic: Double, bic: Double): Row = {
      val defined = t.zip(p).filter(!_._1.isNaN)
      val (td, pd) = (defined.map(_._1), defined.map(_._2))
      Row(name, Metrics.rmse(td, pd), Metrics.mae(td, pd), Metrics.mape(td, pd),
        Metrics.pocid(td, pd), Metrics.r2(td, pd), aic, bic)
    }

    // the (model × fold) fits are independent — run them as ONE Spark job
    // over the broadcast series (SURVEY §3.3: on a cluster each fit is a
    // task; the collected series is tiny next to the frame it came from)
    val sc = spark.sparkContext
    val bSeries = sc.broadcast(series)
    val tasks = for { si <- models.indices; fold <- 1 to nFolds } yield (si, fold)
    val modelsArr = models.toArray
    val steps = forecastSteps
    val foldPreds: Map[(Int, Int), Array[Double]] = sc
      .parallelize(tasks, math.max(tasks.size, 1))
      .map { case (si, fold) =>
        val trainEnd = bSeries.value.length - fold * steps
        val pred =
          try fitPredict(modelsArr(si), bSeries.value.take(trainEnd), steps)
          catch { case _: Exception => Array.empty[Double] }
        ((si, fold), pred)
      }
      .collect().toMap

    val rows = models.zipWithIndex.flatMap { case (spec, si) =>
      val folds = (1 to nFolds).flatMap { fold =>
        val trainEnd = n - fold * forecastSteps
        val pred = foldPreds((si, fold))
        if (pred.isEmpty) Nil
        else trueY.slice(trainEnd, trainEnd + forecastSteps).zip(pred)
      }
      val (aic, bic) = fitFull(spec, series)
      val cvRow = scoreRow(spec.name, folds.map(_._1).toArray,
        folds.map(_._2).toArray, aic, bic)
      val inSample = inSampleRow(spec, series, trueY, aic, bic)
      Seq(cvRow, inSample)
    }

    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("model", StringType), StructField("rmse", DoubleType),
        StructField("mae", DoubleType), StructField("mape", DoubleType),
        StructField("pocid", DoubleType), StructField("r2", DoubleType),
        StructField("aic", DoubleType), StructField("bic", DoubleType))))
  }

  /** Rolling-origin naive/drift evaluation PER SERIES — the grouped scale
    * form of the fixed-prediction scoring surface (gate q47's pooling and
    * the five reference metrics, `functions.py:21-49`): each series is
    * gathered in time order ([[PerSeries]] recipe), its nFolds×steps fold
    * pairs pooled in the same (fold, h) order as [[evaluate]], and the
    * metrics computed on the executors. naive predicts the train fold's
    * last value; drift extrapolates the first→last slope. Output one row
    * per (keys..., model). Series shorter than nFolds·steps + 2 are
    * skipped (drift needs a ≥2-point train fold). Gate q86 replays the
    * whole pipeline per user in SQL. */
  def evaluateNaiveDriftByKey(tsf: TimeseriesFrame, xCol: String,
      nFolds: Int = 3, steps: Int = 3): DataFrame =
    graft.core.SeriesGather.byKey(tsf, Seq(xCol), "evaluateNaiveDriftByKey",
      Seq(StructField("model", StringType),
        StructField("rmse", DoubleType), StructField("mae", DoubleType),
        StructField("mape", DoubleType), StructField("pocid", DoubleType),
        StructField("r2", DoubleType)), dropNulls = true) { cols =>
      val y = cols(0)
      val m = y.length
      if (m - nFolds * steps < 2) Iterator.empty
      else {
        def pool(pred: (Int, Int) => Double): (Array[Double], Array[Double]) = {
          val t = new Array[Double](nFolds * steps)
          val p = new Array[Double](nFolds * steps)
          var i = 0
          for (fold <- 1 to nFolds; h <- 0 until steps) {
            val te = m - fold * steps
            t(i) = y(te + h); p(i) = pred(te, h); i += 1
          }
          (t, p)
        }
        val specs = Seq(
          "naive" -> ((te: Int, h: Int) => y(te - 1)),
          "drift" -> ((te: Int, h: Int) =>
            y(te - 1) + (h + 1) * (y(te - 1) - y(0)) / (te - 1)))
        specs.iterator.map { case (name, pred) =>
          val (t, p) = pool(pred)
          Seq[Any](UTF8String.fromString(name),
            Metrics.rmse(t, p), Metrics.mae(t, p), Metrics.mape(t, p),
            Metrics.pocid(t, p), Metrics.r2(t, p))
        }
      }
    }

  private def fitFull(spec: Spec, series: Array[Array[Double]]): (Double, Double) =
    try {
      spec match {
        case a: ArimaSpec2 =>
          val m = new Arima(a.p, a.d, a.q).fit(series.map(_.head))
          (m.aic, m.bic)
        case v: VarSpec =>
          val m = new Var(Some(v.lags)).fit(series)
          (m.aic, m.bic)
      }
    } catch { case _: Exception => (Double.NaN, Double.NaN) }

  private def inSampleRow(spec: Spec, series: Array[Array[Double]],
      trueY: Array[Double], aic: Double, bic: Double): Row =
    try {
      val fitted: Array[Double] = spec match {
        case a: ArimaSpec2 =>
          new Arima(a.p, a.d, a.q).fit(series.map(_.head)).fittedValues()
        case v: VarSpec =>
          new Var(Some(v.lags)).fit(series).fittedValues().map(_.head)
      }
      val defined = trueY.takeRight(fitted.length).zip(fitted).filter(!_._1.isNaN)
      val (t, p) = (defined.map(_._1), defined.map(_._2))
      Row(s"${spec.name} (in-sample)", Metrics.rmse(t, p), Metrics.mae(t, p),
        Metrics.mape(t, p), Metrics.pocid(t, p), Metrics.r2(t, p), aic, bic)
    } catch {
      case _: Exception =>
        Row(s"${spec.name} (in-sample)", Double.NaN, Double.NaN, Double.NaN,
          Double.NaN, Double.NaN, aic, bic)
    }
}
