package graft.models

import graft.SparkSpec
import graft.core.TimeseriesFrame
import org.apache.spark.sql.functions._

/** Executor-side per-series model fitting: grouped forecasts must equal
  * fitting each series independently on the driver. */
class PerSeriesSpec extends SparkSpec {

  private def twoArSeries = {
    import spark.implicits._
    def gen(seed: Int, phi: Double, mu: Double, n: Int): Seq[Double] = {
      val rnd = new scala.util.Random(seed)
      val out = Array.fill(n)(0.0)
      for (i <- 1 until n) out(i) = phi * out(i - 1) + rnd.nextGaussian()
      out.map(_ + mu).toSeq
    }
    val a = gen(1, 0.7, 10.0, 80).zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
    val b = gen(2, -0.4, 50.0, 60).zipWithIndex.map { case (v, i) => ("b", i.toLong, v) }
    (a ++ b).toDF("k", "t", "x")
  }

  test("grouped ARIMA forecasts == independent per-key driver fits") {
    val df = twoArSeries
    val tsf = TimeseriesFrame(df, Some("t"), Nil, Seq("k"))
    val grouped = PerSeries.arimaForecastByKey(tsf, "x", p = 1, d = 0, q = 0,
      steps = 5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(grouped.size == 10) // 2 series × 5 steps
    for (key <- Seq("a", "b")) {
      val series = df.filter(col("k") === key).orderBy("t")
        .select(col("x")).collect().map(_.getDouble(0))
      val (fo, lo, _) = new Arima(1, 0, 0).fit(series).predict(5)
      (0 until 5).foreach { h =>
        val (gf, gl) = grouped((key, h + 1L))
        assert(math.abs(gf - fo(h)) < 1e-8, s"$key step $h: $gf vs ${fo(h)}")
        assert(math.abs(gl - lo(h)) < 1e-8)
      }
    }
    // the two series genuinely differ (different AR dynamics and level)
    assert(math.abs(grouped(("a", 1L))._1 - grouped(("b", 1L))._1) > 10)
  }

  test("a null value skips its series through the skip path; the others are unchanged") {
    val df = twoArSeries
    val withNull = df.withColumn("x",
      when(col("k") === "a" && col("t") === 7L, lit(null)).otherwise(col("x")))
    def arima(d: org.apache.spark.sql.DataFrame) = PerSeries.arimaForecastByKey(
        TimeseriesFrame(d, Some("t"), Nil, Seq("k")), "x", 1, 0, 0, steps = 5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val clean = arima(df)
    val got = arima(withNull)
    assert(got.keySet.map(_._1) == Set("b"))
    assert(got == clean.filter(_._1._1 == "b"))
    // the multivariate shell takes the same path
    def varKeys(d: org.apache.spark.sql.DataFrame) = PerSeries.varForecastFixedByKey(
        TimeseriesFrame(d.withColumn("y", col("x") * 0.5), Some("t"), Nil, Seq("k")),
        Seq("x", "y"), breeze.linalg.DenseMatrix((0.4, 0.02), (0.05, 0.35)),
        Array(6.0, 3.0), steps = 2)
      .collect().map(_.getString(0)).toSet
    assert(varKeys(df) == Set("a", "b"))
    assert(varKeys(withNull) == Set("b"))
  }

  test("series shorter than minRows are skipped, not failed") {
    import spark.implicits._
    val df = (0 until 5).map(i => ("tiny", i.toLong, i * 1.0)).toDF("k", "t", "x")
    val tsf = TimeseriesFrame(df, Some("t"), Nil, Seq("k"))
    val out = PerSeries.arimaForecastByKey(tsf, "x", 1, 0, 0, steps = 3)
    assert(out.count() == 0)
  }

  test("varForecastFixedByKey == independent per-key fitFixed runs") {
    import spark.implicits._
    val rows = (0 until 40).flatMap { i =>
      Seq(("a", i.toLong, 10.0 + math.sin(i * 0.4) * 3 + (i % 5) * 0.2,
            4.0 + math.cos(i * 0.3)),
          ("b", i.toLong, 50.0 - i * 0.1, 7.0 + (i % 3) * 0.5))
    }.toDF("k", "t", "y1", "y2")
    val tsf = TimeseriesFrame(rows, Some("t"), Nil, Seq("k"))
    val a1 = breeze.linalg.DenseMatrix((0.4, 0.02), (0.05, 0.35))
    val cVec = Array(6.0, 3.0)
    val grouped = PerSeries.varForecastFixedByKey(tsf, Seq("y1", "y2"),
        a1, cVec, steps = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (0 until 6).map(j => r.getDouble(2 + j))).toMap
    assert(grouped.size == 8) // 2 series × 4 steps
    for (key <- Seq("a", "b")) {
      val m = rows.filter(col("k") === key).orderBy("t")
        .select(col("y1"), col("y2")).collect()
        .map(r => Array(r.getDouble(0), r.getDouble(1)))
      val (fo, lo, hi) = new Var().fitFixed(m, Array(a1), cVec).predict(4)
      (0 until 4).foreach { h =>
        val got = grouped((key, h + 1L))
        val expected = Seq(fo(h)(0), lo(h)(0), hi(h)(0), fo(h)(1), lo(h)(1), hi(h)(1))
        got.zip(expected).foreach { case (g, e) =>
          assert(math.abs(g - e) < 1e-9, s"$key step ${h + 1}: $g vs $e")
        }
      }
    }
    // short series skipped
    val tiny = (0 until 5).map(i => ("t5", i.toLong, 1.0, 2.0))
      .toDF("k", "t", "y1", "y2")
    assert(PerSeries.varForecastFixedByKey(
      TimeseriesFrame(tiny, Some("t"), Nil, Seq("k")), Seq("y1", "y2"),
      a1, cVec, steps = 2).count() == 0)
  }

  test("arimaxTimeRegForecastFixedByKey == independent per-key fitFixed runs") {
    import spark.implicits._
    val rows = (0 until 30).flatMap { i =>
      Seq(("a", i.toLong, 40.0 + 0.3 * i + math.sin(i * 0.8) * 2),
          ("b", i.toLong, 10.0 + 0.1 * i + math.cos(i * 0.5)))
    }.toDF("k", "t", "x")
    val tsf = TimeseriesFrame(rows, Some("t"), Nil, Seq("k"))
    val (beta, phi, mu) = (0.25, 0.4, 42.0)
    val grouped = PerSeries.arimaxTimeRegForecastFixedByKey(
        tsf, "x", beta, phi, mu, steps = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(grouped.size == 8)
    for (key <- Seq("a", "b")) {
      val y = rows.filter(col("k") === key).orderBy("t")
        .select(col("x")).collect().map(_.getDouble(0))
      val n = y.length
      val exog = Array.tabulate(n)(i => Array(i.toDouble))
      val (fo, lo, hi) = new Arimax(1, 0, 0)
        .fitFixed(y, exog, Array(beta), Array(phi), Array(), mu)
        .predict(Array.tabulate(4)(h => Array((n + h).toDouble)))
      (0 until 4).foreach { h =>
        val (gf, gl, gh) = grouped((key, h + 1L))
        assert(math.abs(gf - fo(h)) < 1e-9, s"$key step ${h + 1} forecast")
        assert(math.abs(gl - lo(h)) < 1e-9, s"$key step ${h + 1} ci_low")
        assert(math.abs(gh - hi(h)) < 1e-9, s"$key step ${h + 1} ci_high")
      }
    }
  }

  test("evaluateNaiveDriftByKey == independent per-key fold pooling") {
    import spark.implicits._
    val df = twoArSeries
    val tsf = TimeseriesFrame(df, Some("t"), Nil, Seq("k"))
    val grouped = ModelEvaluation.evaluateNaiveDriftByKey(tsf, "x",
        nFolds = 3, steps = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(grouped.size == 4) // 2 series × {naive, drift}
    for (key <- Seq("a", "b")) {
      val y = df.filter(col("k") === key).orderBy("t")
        .select(col("x")).collect().map(_.getDouble(0))
      val m = y.length
      def pool(pred: (Int, Int) => Double) = {
        val pairs = for (fold <- 1 to 3; h <- 0 until 3) yield {
          val te = m - fold * 3
          (y(te + h), pred(te, h))
        }
        (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
      }
      for ((name, pred) <- Seq[(String, (Int, Int) => Double)](
          "naive" -> ((te, _) => y(te - 1)),
          "drift" -> ((te, h) => y(te - 1) + (h + 1) * (y(te - 1) - y(0)) / (te - 1)))) {
        val (t, p) = pool(pred)
        val expected = Seq(Metrics.rmse(t, p), Metrics.mae(t, p),
          Metrics.mape(t, p), Metrics.pocid(t, p), Metrics.r2(t, p))
        grouped((key, name)).zip(expected).zipWithIndex.foreach {
          case ((got, exp), i) =>
            assert(math.abs(got - exp) < 1e-9, s"$key/$name metric $i: $got vs $exp")
        }
      }
    }
    // a 10-row series cannot host 3×3 folds with a 2-point train floor
    val tiny = (0 until 10).map(i => ("t10", i.toLong, i * 1.0)).toDF("k", "t", "x")
    assert(ModelEvaluation.evaluateNaiveDriftByKey(
      TimeseriesFrame(tiny, Some("t"), Nil, Seq("k")), "x").count() == 0)
  }
}
