package graft.core

import graft.SparkSpec
import graft.ops.{MovingTransform, RangeWindow}
import graft.pipeline.{Packing, Sampling}
import graft.spectral.Correlation
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every [[RangeScan]] caller against its declarative twin, across
  * partition counts that leave partitions empty (more partitions than
  * rows) and shorter than the carry (width or lags above the rows per
  * partition), on time keys with ties broken by a second column. */
class RangeScanSpec extends SparkSpec {

  private val Ps = Seq(1, 2, 7, 32)

  /** (t, k, x): time `t` repeats three times and `k` orders each tie
    * AGAINST the generating index; `x` is cents-like (exact sums) with
    * nulls. Rows arrive shuffled. */
  private def series(n: Int, seed: Int, x: scala.util.Random => Double
      = r => r.nextInt(1000) / 8.0): TimeseriesFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = rnd.shuffle((0 until n).toList).map { i =>
      Row((i / 3).toLong, (n - i).toLong,
        if (rnd.nextInt(6) == 0) null else Double.box(x(rnd)))
    }
    val schema = StructType(Seq(StructField("t", LongType),
      StructField("k", LongType), StructField("x", DoubleType)))
    TimeseriesFrame(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema),
      Some("t"), Seq("k"))
  }

  private def byKey(df: DataFrame, cols: Seq[String]): Map[Long, Seq[Any]] =
    df.select(col("k") +: cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> (1 to cols.size).map(r.get)).toMap

  private def close(a: Any, b: Any, tol: Double): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= tol * math.max(1.0, math.abs(y))
    case _ => a == b
  }

  test("RangeWindow.slidingWindow == the MovingTransform window on complete windows") {
    val aggs = Seq("mean", "sum", "min", "max", "std", "defined")
    for (n <- Seq(20, 301); p <- Ps; w <- Seq(1, 4, 9)) {
      val tsf = series(n, 5 + n)
      val twin = MovingTransform.slidingWindow(tsf, aggs.map("x" -> _), w,
        MovingTransform.KeepComplete)
      val got = atRangePartitions(p)(byKey(RangeWindow.slidingWindow(tsf, "x", aggs, w), aggs.map("x_" + _)))
      val want = byKey(twin, aggs.map("x_" + _))
      assert(got.size == n && want.size == math.max(0, n - w + 1), s"n=$n P=$p w=$w")
      want.foreach { case (k, vs) =>
        vs.zip(got(k)).zip(aggs).foreach { case ((e, a), agg) =>
          assert(close(a, e, 1e-9), s"n=$n P=$p w=$w k=$k $agg: $a vs $e")
        }
      }
    }
  }

  test("RangeWindow.lagColumnsManaged == lag() over the total order") {
    for (n <- Seq(20, 301); p <- Ps; lags <- Seq(1, 9)) {
      val tsf = series(n, 7 + n)
      val twin = (1 to lags).foldLeft(tsf.df) { (d, l) =>
        d.withColumn(s"g$l", lag(col("x"), l).over(tsf.window)) }
      val (lagged, release) = atRangePartitions(p)(RangeWindow.lagColumnsManaged(tsf.df, tsf.orderCols,
        Seq("x"), lags))
      try {
        val got = byKey(lagged, (1 to lags).map(l => s"__l${l}_x"))
        val want = byKey(twin, (1 to lags).map(l => s"g$l"))
        assert(got == want, s"n=$n P=$p lags=$lags")
      } finally release()
    }
  }

  test("stridedRangePart cumulatives == strided") {
    val specs = Seq("x" -> "cumsum", "x" -> "cumprod")
    for (n <- Seq(20, 301); p <- Ps; (w, shift) <- Seq((4, 3), (9, 1))) {
      // values near 1 keep long products finite
      val tsf = series(n, 11 + n, r => 0.9 + r.nextInt(200) / 1000.0)
      atRangePartitions(p) {
        val (got, release) = MovingTransform.stridedRangePartManaged(tsf, specs, w, shift)
        try {
          val want = MovingTransform.strided(tsf, specs, w, shift)
          def rows(d: DataFrame) = d.select("window_index", "x_cumsum", "x_cumprod")
            .collect().map(r => r.getLong(0) -> Seq(r.get(1), r.get(2))).toMap
          val (a, e) = (rows(got), rows(want))
          assert(a.keySet == e.keySet, s"n=$n P=$p ($w,$shift)")
          e.foreach { case (j, vs) =>
            vs.zip(a(j)).foreach { case (x, y) =>
              assert(close(y, x, 1e-9), s"n=$n P=$p ($w,$shift) window $j: $y vs $x")
            }
          }
        } finally release()
      }
    }
  }

  test("Packing.packSequences == packSequencesWindow") {
    import spark.implicits._
    for (n <- Seq(20, 301); p <- Ps) {
      val rnd = new scala.util.Random(n)
      val docs = rnd.shuffle((0 until n).toList)
        .map(i => (i.toLong, if (i % 5 == 0) 0L else rnd.nextInt(700).toLong))
        .toDF("doc_id", "tok")
      def canon(d: DataFrame) =
        d.collect().map(r => (0 to 4).map(r.getLong).mkString(",")).sorted.toSeq
      atRangePartitions(p) {
        assert(canon(Packing.packSequences(docs, "doc_id", "tok", 256)) ==
          canon(Packing.packSequencesWindow(docs, "doc_id", "tok", 256)), s"n=$n P=$p")
      }
    }
  }

  test("Correlation.acfVectorDistributed == acfVector, nulls included") {
    for (n <- Seq(20, 301); p <- Ps; maxLag <- Seq(0, 3, 12)) {
      val tsf = series(n, 13 + n)
      atRangePartitions(p) {
        val got = Correlation.acfVectorDistributed(tsf, "x", maxLag)
        val want = Correlation.acfVector(tsf, "x", maxLag)
        assert(got.length == want.length)
        got.zip(want).zipWithIndex.foreach { case ((a, e), k) =>
          assert(math.abs(a - e) < 1e-10, s"n=$n P=$p maxLag=$maxLag lag $k: $a vs $e")
        }
      }
    }
  }

  test("TimeDelta.infer keyless == the keyed deltaFrame path on one key") {
    val steps = Array(0L, 0L, 60L, 120L, 3600L, 86400L, 2592000L, 2678400L)
    for (n <- Seq(20, 301); p <- Ps; cap <- Seq(2, 64)) {
      val rnd = new scala.util.Random(17 + n)
      val ts = (0 until n).scanLeft(1000L)((t, _) => t + steps(rnd.nextInt(steps.length)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rnd.shuffle(ts.toList).map(t => Row(t, 0)), 3),
        StructType(Seq(StructField("t", LongType), StructField("g", IntegerType))))
      atRangePartitions(p) {
        assert(TimeDelta.infer(df, "t", Nil, cap) == TimeDelta.infer(df, "t", Seq("g"), cap),
          s"n=$n P=$p cap=$cap")
      }
    }
  }

  /** (doc_id, score with ties, tok with nulls, payload) */
  private def corpus(n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = rnd.shuffle((0 until n).toList).map { i =>
      Row(i.toLong, rnd.nextInt(5).toLong,
        if (i % 11 == 0) null else Long.box(rnd.nextInt(50).toLong), s"p$i")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("doc_id", LongType), StructField("score", LongType),
      StructField("tok", LongType), StructField("payload", StringType))))
  }

  test("Sampling.selectByBudget == a running-sum window cut") {
    for (n <- Seq(20, 301); p <- Ps) {
      val docs = corpus(n, 19 + n)
      val total = docs.agg(sum("tok")).head().getLong(0)
      val w = Window.orderBy(col("score").desc, col("doc_id"))
      for (budget <- Seq(0L, total / 3, total + 1)) {
        val want = docs.filter(col("tok").isNotNull)
          .withColumn("rank", row_number().over(w) - 1)
          .withColumn("cum_before", coalesce(
            sum("tok").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .filter(col("cum_before") < budget)
        def canon(d: DataFrame) = d.select("doc_id", "payload", "rank", "cum_before")
          .collect().map(_.toSeq.mkString(",")).sorted.toSeq
        atRangePartitions(p) {
          val got = Sampling.selectByBudget(docs, "doc_id", "tok", "score", budget)
          assert(canon(got) == canon(want), s"n=$n P=$p budget=$budget")
        }
      }
    }
  }

  test("Sampling.shuffleShards == row_number() over the md5 order") {
    for (n <- Seq(20, 301); p <- Ps) {
      val docs = corpus(n, 23 + n)
      val w = Window.orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      val want = docs.withColumn("__r", row_number().over(w) - 1)
        .withColumn("shard", col("__r") % 6).withColumn("pos", floor(col("__r") / 6))
      def canon(d: DataFrame) = d.select("doc_id", "payload", "shard", "pos")
        .collect().map(_.toSeq.mkString(",")).sorted.toSeq
      atRangePartitions(p) {
        assert(canon(Sampling.shuffleShards(docs, "doc_id", 6)) == canon(want), s"n=$n P=$p")
      }
    }
  }
}
