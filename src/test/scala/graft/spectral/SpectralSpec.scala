package graft.spectral

import graft.SparkSpec
import graft.core.TimeseriesFrame
import graft.ingest.OrangeCsv
import graft.ops.SeasonalDecompose
import org.apache.spark.sql.functions._

/** End-to-end spectral/seasonal goldens on the canonical airpassengers
  * fixture, transcribed from `tests/test_correlation.py:11-18`,
  * `tests/test_periodogram.py:11-18`, `tests/test_seasonal.py:11-22`. */
class SpectralSpec extends SparkSpec {

  private lazy val air: TimeseriesFrame = {
    val path = getClass.getResource("/airpassengers.csv").getPath
    OrangeCsv.read(spark, path)
  }

  test("fixture loads: 144 monthly rows, time column detected") {
    assert(air.df.count() == 144)
    assert(air.timeCol.contains("Month"))
    val td = air.timeDelta
    // mixed month lengths → not equispaced on raw deltas (`timeseries.py:44-47`),
    // but classified to a single calendar step with gcd = min = (1, month)
    assert(!td.isEquispaced)
    assert(td.deltas == Seq(Right((1, "month"))))
    assert(td.gcd.contains(Right((1, "month"))))
  }

  test("ACF peaks at lags 12/24/36/48, positive (test_correlation.py:12-15)") {
    val peaks = Correlation.acf(spark, air, "Air passengers")
      .orderBy("lag").limit(4).collect()
    assert(peaks.map(_.getLong(0)).toSeq == Seq(12L, 24L, 36L, 48L))
    assert(peaks.forall(_.getDouble(1) > 0))
  }

  test("distributed ACF: partitions far shorter than maxLag (multi-hop carry)") {
    import spark.implicits._
    val xs = (0 until 100).map(i => math.sin(i * 0.35) * 10 + (i % 7))
    // 25 partitions of ~4 rows with maxLag 20: every partition's carry
    // must concatenate heads from several following partitions
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("i", "x").repartition(25)
    val tsf = TimeseriesFrame(df, None, Seq("i"))
    val dist = atShufflePartitions(25)(Correlation.acfVectorDistributed(tsf, "x", maxLag = 20))
    val ref = Correlation.acfVector(tsf, "x", maxLag = 20)
    dist.zip(ref).zipWithIndex.foreach { case ((d, r), k) =>
      assert(math.abs(d - r) < 1e-10, s"lag $k: $d vs $r")
    }
  }

  test("all three ACF formulations agree (ring-pass, window, explode-join)") {
    val a = Correlation.acfVector(air, "Air passengers", 30)
    val w = Correlation.acfVectorWindow(air, "Air passengers", 30)
    val b = Correlation.acfVectorDistributed(air, "Air passengers", 30)
    a.zip(w).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"ring vs window must be bit-identical, lag $i: $x vs $y")
    }
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(math.abs(x - y) < 1e-10, s"lag $i: $x vs $y")
    }
  }

  test("PACF peaks at lags 9/13/25 (test_correlation.py:17-19)") {
    val peaks = Correlation.pacf(spark, air, "Air passengers")
      .orderBy("lag").limit(3).collect()
    assert(peaks.map(_.getLong(0)).toSeq == Seq(9L, 13L, 25L))
    assert(peaks.head.getDouble(1) > 0)
  }

  test("ACF Bartlett confint matches statsmodels acf(alpha=.05) on airpassengers") {
    // transcribed goldens (statsmodels.tsa.stattools.acf(x, alpha=.05),
    // cross-checked closed-form in DuckDB): acf1=0.9480473, interval at
    // lag 1 = z/sqrt(144), at lag 2 = z*sqrt((1+2*acf1^2)/144)
    val vec = Correlation.acfVector(air, "Air passengers", 3)
    assert(math.abs(vec(1) - 0.9480473407524919) < 1e-9)
    val ci = Correlation.acfConfint(vec, 144, 0.05)
    assert(math.abs(ci(1)._1 - 0.7847170087074874) < 1e-9, ci(1).toString)
    assert(math.abs(ci(1)._2 - 1.1113776727974964) < 1e-9)
    assert(math.abs(ci(2)._1 - 0.6023886799107703) < 1e-9, ci(2).toString)
    assert(math.abs(ci(2)._2 - 1.1487609903399305) < 1e-9)
    // lag 0 variance is pinned to 0: interval collapses to the value
    assert(ci(0) == ((1.0, 1.0)))
  }

  test("PACF confint: constant width z/sqrt(n), lag 0 pinned (statsmodels pacf(alpha=))") {
    val pv = Correlation.pacfVector(Correlation.acfVector(air, "Air passengers", 10))
    val ci = Correlation.pacfConfint(pv, 144, 0.05)
    val iv = 1.959963984540054 / 12 // z(0.975)*sqrt(1/144)
    (1 to 10).foreach { k =>
      assert(math.abs((ci(k)._2 - ci(k)._1) / 2 - iv) < 1e-12)
      assert(math.abs((ci(k)._1 + ci(k)._2) / 2 - pv(k)) < 1e-12)
    }
    assert(ci(0) == ((pv(0), pv(0))))
  }

  test("acf(alpha=) DataFrame carries ci columns at peak rows; correlogram band") {
    val df = Correlation.acf(spark, air, "Air passengers", alpha = Some(0.05))
    assert(df.columns.toSeq == Seq("lag", "acf", "ci_low", "ci_high"))
    val rows = df.orderBy("lag").collect()
    assert(rows.map(_.getLong(0)).take(4).toSeq == Seq(12L, 24L, 36L, 48L))
    rows.foreach { r =>
      assert(r.getDouble(2) < r.getDouble(1) && r.getDouble(1) < r.getDouble(3))
    }
    // owcorrelogram.py:64-72 band over the plotted (peaks-only) values
    val peaks = rows.map(_.getDouble(1)).toSeq
    val band = Correlation.correlogramBand(peaks, 144)
    assert(band == 1.96 * math.sqrt((1 + 2 * peaks.map(v => v * v).sum) / 144))
    assert(band > 0 && band < 1)
    // pacf variant too
    val pdf = Correlation.pacf(spark, air, "Air passengers", alpha = Some(0.05))
    assert(pdf.columns.toSeq == Seq("lag", "pacf", "ci_low", "ci_high"))
    assert(pdf.collect().forall(r => r.getDouble(2) < r.getDouble(3)))
  }

  test("periodogram: max scaled power 1 at period ≈ 6 (test_periodogram.py:11-14)") {
    val p = Periodogram.periodogram(air, "Air passengers").collect()
    val top = p.maxBy(_.getDouble(1))
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-9)
    assert(math.round(top.getDouble(0)) == 6)
  }

  test("Lomb-Scargle on epoch times: max scaled power 1 (test_periodogram.py:16-18)") {
    val withEpoch = air.copy(df =
      air.df.withColumn("t", col("Month").cast("double")), timeCol = Some("t"))
    val p = Periodogram.lombScargle(withEpoch, "Air passengers", detrend = "diff")
      .collect()
    assert(p.nonEmpty)
    assert(math.abs(p.map(_.getDouble(1)).max - 1.0) < 1e-9)
  }

  test("Lomb-Scargle peaks: ssTau = 0 at one ω gives a partly-NaN spectrum and no peaks, as the window twin") {
    import spark.implicits._
    // the five tau sums of an irregular series over a 40-ω grid
    val ts = (0 until 60).map(i => i + 0.3 * math.sin(i * 1.7))
    val xs = ts.map(t => math.sin(2 * math.Pi * t / 9.0) + 0.2 * math.cos(t))
    val omegas = (1 to 40).map(j => 2 * math.Pi / (2.0 + 0.5 * j))
    val sums = omegas.map { w =>
      val cs = ts.map(t => (math.cos(w * t), math.sin(w * t)))
      Array(xs.zip(cs).map { case (x, (c, _)) => x * c }.sum,
        xs.zip(cs).map { case (x, (_, s)) => x * s }.sum,
        cs.map { case (c, _) => c * c }.sum, cs.map { case (_, s) => s * s }.sum,
        cs.map { case (c, s) => s * c }.sum)
    }
    val variance = { val m = xs.sum / xs.size; xs.map(x => (x - m) * (x - m)).sum / xs.size }
    def spectrum(ss: Seq[Array[Double]]) = omegas.zip(ss).map { case (w, s) =>
      (2 * math.Pi / w, Periodogram.lombPower(s, xs.size.toLong, variance))
    }
    def windowTwin(spec: Seq[(Double, Double)]) =
      Periodogram.scaleAndPeaks(spec.toDF("period", "power"), order = 5)
        .orderBy("period").as[(Double, Double)].collect().toSeq
    val clean = spectrum(sums)
    assert(clean.forall(!_._2.isNaN))
    val cleanPeaks = Periodogram.driverPeaks(clean)
    assert(cleanPeaks.nonEmpty)
    assert(cleanPeaks == windowTwin(clean))
    // every sin(ω(t−τ)) term zero at ω_20: ss = cs = 0 makes τ = 0, so
    // ssTau = 0 and xsTau = 0 — a 0/0 power
    val holed = sums.updated(20, Array(sums(20)(0), 0.0, sums(20)(2), 0.0, 0.0))
    val partial = spectrum(holed)
    assert(partial.count(_._2.isNaN) == 1)
    assert(Periodogram.driverPeaks(partial).isEmpty)
    assert(windowTwin(partial).isEmpty)
  }

  test("Lomb-Scargle peaks: a zero-variance series gives a NaN spectrum and no peaks") {
    assert(Periodogram.lombPower(Array(0.0, 0.0, 3.0, 2.0, 0.5), 5L, 0.0).isNaN)
    val df = spark.createDataFrame((0 until 40).map(i => (i + 0.25 * (i % 3), 5.0)))
      .toDF("t", "x")
    val tsf = TimeseriesFrame(df, Some("t"))
    for (detrend <- Seq("constant", "linear"))
      assert(Periodogram.lombScargle(tsf, "x", detrend = detrend).count() == 0, detrend)
  }

  test("acfVectorWithCount: n counts null rows too, the vector is acfVector's") {
    val df = seriesDF(d(1, 3, 2) ++ Seq(NA) ++ d(5, 4, 6) ++ Seq(NA, NA) ++ d(7, 2))
    val tsf = TimeseriesFrame(df, None, Seq("i"))
    val (vec, n) = Correlation.acfVectorWithCount(tsf, "x", maxLag = 4)
    assert(n == df.count())
    assert(n == 11L)
    assert(vec.toSeq == Correlation.acfVector(tsf, "x", maxLag = 4).toSeq)
  }

  test("distributed ACF matches acfVector on a null row and at maxLag = 0") {
    // 40-row sine over 4 shuffle partitions; row 7 null is a NaN slot
    // whose products both formulations skip
    val xs = (0 until 40).map(i => if (i == 7) NA else Some(math.sin(i * 0.5) * 10))
    val tsf = TimeseriesFrame(seriesDF(xs), None, Seq("i"))
    for (maxLag <- Seq(0, 1, 9)) {
      val dist = atShufflePartitions(4)(Correlation.acfVectorDistributed(tsf, "x", maxLag))
      val ref = Correlation.acfVector(tsf, "x", maxLag)
      assert(dist.length == maxLag + 1 && ref.length == maxLag + 1)
      dist.zip(ref).zipWithIndex.foreach { case ((a, e), k) =>
        assert(math.abs(a - e) < 1e-10, s"maxLag $maxLag lag $k: $a vs $e")
      }
    }
    assert(Correlation.acfVectorDistributed(tsf, "x", 0).toSeq == Seq(1.0))
  }

  test("distributed ACF == the window formulation across partition counts, ties and nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // (t, k, x): t repeats three times and k orders each tie against the
    // generating index; x is cents-like (exact sums), one in six null;
    // rows arrive shuffled. 32 partitions of 20 rows leave some empty.
    for (n <- Seq(20, 301)) {
      val rnd = new scala.util.Random(29 + n)
      val rows = rnd.shuffle((0 until n).toList).map { i =>
        Row((i / 3).toLong, (n - i).toLong,
          if (rnd.nextInt(6) == 0) null else Double.box(rnd.nextInt(1000) / 8.0))
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("t", LongType), StructField("k", LongType),
          StructField("x", DoubleType))))
      val tsf = TimeseriesFrame(df, Some("t"), Seq("k"))
      for (maxLag <- Seq(0, 3, 12)) {
        val want = Correlation.acfVectorWindow(tsf, "x", maxLag)
        for (p <- Seq(2, 7, 32)) {
          val got = atShufflePartitions(p)(Correlation.acfVectorDistributed(tsf, "x", maxLag))
          assert(got.length == want.length)
          got.zip(want).zipWithIndex.foreach { case ((a, e), k) =>
            assert(math.abs(a - e) < 1e-10, s"n=$n P=$p maxLag=$maxLag lag $k: $a vs $e")
          }
        }
      }
    }
  }

  test("ACF of an all-null column is the all-NaN series' vector; an empty frame fails by name") {
    val nulls = TimeseriesFrame(seriesDF(Seq.fill(12)(NA)), None, Seq("i"))
    val nans = TimeseriesFrame(seriesDF(Seq.fill(12)(Some(Double.NaN))), None, Seq("i"))
    def same(a: Array[Double], b: Array[Double]) = a.length == b.length &&
      a.zip(b).forall { case (x, y) => x == y || (x.isNaN && y.isNaN) }
    for (maxLag <- Seq(0, 3)) {
      val want = Correlation.acfVector(nans, "x", maxLag)
      assert(want.head == 1.0 && want.tail.forall(_.isNaN), want.toSeq)
      assert(same(Correlation.acfVector(nulls, "x", maxLag), want), s"maxLag $maxLag")
      // the distributed form on 4 partitions: the summary job's mean
      val dist = (t: TimeseriesFrame) =>
        atShufflePartitions(4)(Correlation.acfVectorDistributed(t, "x", maxLag))
      assert(same(dist(nulls), want), s"maxLag $maxLag")
      assert(same(dist(nans), want), s"maxLag $maxLag")
    }
    assert(Correlation.acfVectorWithCount(nulls, "x", 3)._2 == 12L)
    val empty = TimeseriesFrame(seriesDF(Nil), None, Seq("i"))
    for (acf <- Seq[TimeseriesFrame => Any](Correlation.acfVectorWithCount(_, "x", 3),
        t => atShufflePartitions(4)(Correlation.acfVectorDistributed(t, "x", 3)))) {
      val e = intercept[IllegalArgumentException](acf(empty))
      assert(e.getMessage.contains("ACF of an empty series"), e.getMessage)
    }
  }

  test("a negative ACF depth fails by name on the driver, before any job; PACF of one row too") {
    val one = TimeseriesFrame(seriesDF(d(5)), None, Seq("i"))
    // the single-series entries check the depth before they build a job
    for (acf <- Seq[TimeseriesFrame => Any](Correlation.acfVector(_, "x", -1),
        Correlation.acfVectorWithCount(_, "x", -1),
        Correlation.acfVectorDistributed(_, "x", -1))) {
      val (e, jobs) = jobsLaunchedBy(intercept[IllegalArgumentException](acf(one)))
      assert(e.getMessage.contains("maxLag must be >= 0, got -1"), e.getMessage)
      assert(jobs == 0, s"$jobs job(s) before the depth check")
    }
    // a one-row series: the default PACF depth min(n/2 - 1, n - 1) is -1;
    // the ACF at depth 0 is still defined
    val e = intercept[IllegalArgumentException](Correlation.pacf(spark, one, "x"))
    assert(e.getMessage.contains("maxLag must be >= 0, got -1"), e.getMessage)
    assert(Correlation.acfVector(one, "x", 0).toSeq == Seq(1.0))
  }

  test("quadratic/cubic detrend matches numpy polyfit residuals on airpassengers") {
    // transcribed goldens: np.polyfit(arange(144), x, order) residuals
    val gold = Map(
      "quadratic" -> Map(0 -> -2.02804086, 1 -> 2.309939393,
        71 -> -37.86218853, 143 -> -62.00533971),
      "cubic" -> Map(0 -> -6.250781654, 1 -> -1.55844553,
        71 -> -37.81632332, 143 -> -57.782598916))
    gold.foreach { case (method, pts) =>
      val out = Periodogram.detrended(air, "Air passengers", method)
        .orderBy("i").collect()
      assert(out.length == 144)
      // residuals of an OLS fit sum to ~0 (intercept column present)
      assert(math.abs(out.map(_.getDouble(0)).sum) < 1e-6)
      pts.foreach { case (i, v) =>
        assert(math.abs(out(i).getDouble(0) - v) < 1e-6,
          s"$method at $i: ${out(i).getDouble(0)} vs $v")
      }
    }
  }

  test("cubic detrend annihilates an exact cubic; periodogram still peaks under poly detrend") {
    // y = cubic(i) + seasonal(period 8): cubic detrend removes the trend
    // exactly, so the spectrum's top peak sits at period 8
    val n = 160
    val df = spark.createDataFrame((0 until n).map { i =>
      val t = i.toDouble
      (i.toLong, 0.001 * t * t * t - 0.2 * t * t + 3 * t + 10 +
        5 * math.sin(2 * math.Pi * i / 8.0))
    }).toDF("i", "y")
    val tsf = TimeseriesFrame(df, None, Seq("i"))
    val pureCubic = spark.createDataFrame((0 until n).map { i =>
      val t = i.toDouble
      (i.toLong, 0.001 * t * t * t - 0.2 * t * t + 3 * t + 10)
    }).toDF("i", "y")
    val resid = Periodogram.detrended(
      TimeseriesFrame(pureCubic, None, Seq("i")), "y", "cubic")
      .collect().map(_.getDouble(0))
    assert(resid.forall(v => math.abs(v) < 1e-6), resid.max.toString)
    val top = Periodogram.periodogram(tsf, "y", detrend = "cubic")
      .collect().maxBy(_.getDouble(1))
    assert(math.abs(top.getDouble(0) - 8.0) < 0.5, top.toString)
  }

  test("multiplicative decomposition identities (test_seasonal.py:12-22)") {
    val out = SeasonalDecompose(air, Seq("Air passengers"), period = 12)
    val rows = out.orderBy("Month").select(
      col("Air passengers"), col("Air passengers_adjusted"),
      col("Air passengers_seasonal"), col("Air passengers_trend"),
      col("Air passengers_residual")).collect()
    assert(rows.length == 144)
    rows.foreach { r =>
      val Seq(x, adj, sea, tr, res) = (0 until 5).map(r.getDouble).toSeq
      assert(math.abs(adj - tr * res) < 1e-8 * math.abs(adj),
        s"adjusted != trend*residual: $adj vs ${tr * res}")
      assert(math.abs(x - adj * sea) < 1e-8 * math.abs(x),
        s"observed != adjusted*seasonal: $x vs ${adj * sea}")
    }
  }
}
