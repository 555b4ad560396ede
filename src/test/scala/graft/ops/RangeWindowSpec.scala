package graft.ops

import graft.SparkSpec
import graft.core.{RangeScan, TimeseriesFrame}
import org.apache.spark.sql.functions._

/** Differential test: the range-partitioned sliding-window runner must
  * reproduce the single-partition global-Window plan exactly. */
class RangeWindowSpec extends SparkSpec {

  /** `p` shuffle partitions and no small-input rule, so these small
    * fixtures take the range sort of `RangeScan.sorted` into `p`. */
  private def atP[A](p: Int)(body: => A): A =
    atShufflePartitions(p)(RangeScan.smallInputBound.withValue(0L)(body))

  test("range-partitioned sliding window == global window (with NaN gaps)") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(500)(
      if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(1000) / 8.0))
    val tsf = TimeseriesFrame(seriesDF(xs), None, Seq("i"))
    val w = 7

    val global = tsf.df
      .withColumn("g_mean", avg(col("x")).over(tsf.trailing(w)))
      .withColumn("g_sum", coalesce(sum(col("x")).over(tsf.trailing(w)), lit(0.0)))
      .withColumn("g_min", min(col("x")).over(tsf.trailing(w)))
      .withColumn("g_max", max(col("x")).over(tsf.trailing(w)))

    val ranged = atP(7)(RangeWindow.slidingWindow(tsf, "x",
      Seq("mean", "sum", "min", "max"), w))

    val joined = global.alias("g").join(ranged.alias("r"), "i")
    for ((g, r) <- Seq("g_mean" -> "x_mean", "g_sum" -> "x_sum",
        "g_min" -> "x_min", "g_max" -> "x_max")) {
      val gv = col1(joined, g)
      val rv = col1(joined, r)
      assertSeqAlmost(rv, gv, tol = 1e-9)
    }
  }

  test("empty-ish partitions: correctness with more partitions than rows") {
    val xs = d(1, 2, 3, 4, 5)
    val tsf = TimeseriesFrame(seriesDF(xs), None, Seq("i"))
    val out = atP(12)(RangeWindow.slidingWindow(tsf, "x", Seq("sum"), 3))
    assertSeqAlmost(col1(out, "x_sum"), d(1, 3, 6, 9, 12))
  }

  test("width < 1 is rejected at the call, not inside an executor task") {
    val tsf = TimeseriesFrame(seriesDF(d(1, 2, 3)), None, Seq("i"))
    for (w <- Seq(0, -2)) {
      val e = intercept[IllegalArgumentException](
        atP(2)(RangeWindow.slidingWindow(tsf, "x", Seq("sum"), w)))
      assert(e.getMessage.contains(s"width must be positive: $w"))
    }
  }

  test("widened agg set == AggRegistry.windowed differentially (NaN rules included)") {
    // positive-only values so harmonic/geometric have defined goldens;
    // planted NaN gaps and a zero exercise the registry edge rules
    val rnd = new scala.util.Random(23)
    val xs = Seq.tabulate(400) { i =>
      if (i == 57) Some(0.0)
      else if (rnd.nextInt(7) == 0) None
      else Some((1 + rnd.nextInt(1000)) / 8.0)
    }
    val tsf = TimeseriesFrame(seriesDF(xs), None, Seq("i"))
    val w = 6
    val aggs = Seq("mean", "sum", "min", "max", "span", "std", "var",
      "nonzero", "defined", "harmonic", "geometric")
    val declarative = aggs.foldLeft(tsf.df) { (df, a) =>
      df.withColumn(s"g_$a",
        graft.agg.AggRegistry.windowed(a, col("x"), tsf.window, w).cast("double"))
    }
    val ranged = atP(9)(RangeWindow.slidingWindow(tsf, "x", aggs, w))
    val joined = declarative.join(ranged.select(
      col("i") +: aggs.map(a => col(s"x_$a")): _*), "i")
    aggs.foreach { a =>
      assertSeqAlmost(col1(joined, s"x_$a"), col1(joined, s"g_$a"), tol = 1e-9)
    }
  }

  test("lagColumns == global-window lag, across boundaries and null values") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val rows = (0L until 400L).map { i =>
      (i,
        if (rnd.nextInt(11) == 0) None else Some(rnd.nextInt(1000) / 8.0),
        Some(rnd.nextInt(500) / 4.0))
    }
    val df = rows.toDF("t", "a", "b")
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
    val global = (for (l <- 1 to 3; c <- Seq("a", "b")) yield (l, c))
      .foldLeft(df) { case (d, (l, c)) =>
        d.withColumn(s"g_l${l}_$c", lag(col(c), l).over(w)) }
    val (ranged, relRanged) = atP(7)(RangeWindow.lagColumnsManaged(df, Seq(col("t")),
      Seq("a", "b"), lags = 3))
    val joined = global.join(ranged.select(
      col("t") +: (for (l <- 1 to 3; c <- Seq("a", "b"))
        yield col(s"__l${l}_$c")): _*), "t").orderBy("t").collect()
    relRanged()
    joined.foreach { r =>
      for (l <- 1 to 3; c <- Seq("a", "b")) {
        val g = r.getAs[Any](s"g_l${l}_$c")
        val p = r.getAs[Any](s"__l${l}_$c")
        assert(g == p, s"t=${r.getLong(0)} lag $l $c: global $g vs ranged $p")
      }
    }
    // more partitions than rows: the carry chain still lines up
    val (lagged, relTiny) = atP(12)(RangeWindow.lagColumnsManaged(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("t", "a"),
      Seq(col("t")), Seq("a"), 2))
    val out = lagged.orderBy("t").collect()
    relTiny()
    assert(out.map(r => Option(r.getAs[Any]("__l1_a"))).toSeq ==
      Seq(None, Some(1.0), Some(2.0)))
    assert(out.map(r => Option(r.getAs[Any]("__l2_a"))).toSeq ==
      Seq(None, None, Some(1.0)))
  }

  test("typed getters: integer and decimal value columns work without string decode") {
    val df = spark.createDataFrame(Seq((1L, 10), (2L, 20), (3L, 30))).toDF("i", "x")
    val out = atP(3)(RangeWindow.slidingWindow(
      TimeseriesFrame(df, None, Seq("i")), "x", Seq("sum", "max"), 2))
    assertSeqAlmost(col1(out, "x_sum"), d(10, 30, 50))
    assertSeqAlmost(col1(out, "x_max"), d(10, 20, 30))
  }
}
