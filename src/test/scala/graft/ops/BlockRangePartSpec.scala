package graft.ops

import graft.SparkSpec
import graft.core.TimeseriesFrame
import org.apache.spark.sql.functions._

/** Differential specs for the range-partitioned (no-global-WindowExec)
  * block/strided scale paths against the declarative forms — same
  * reference semantics (`owmovingtransform.py:446-498`,
  * `aggregate.py:31-38`), different physical plan.
  */
class BlockRangePartSpec extends SparkSpec {

  private def gappy(n: Int): Seq[Option[Double]] = {
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      if (rnd.nextInt(6) == 0) None else Some(rnd.nextDouble() * 100 - 50)
    }
  }

  /** `body` at P ∈ {1, 2, 7} (see [[atRangePartitions]]): one-partition
    * sort at 1, the range sort of `RangeScan.sorted` into P above, and at
    * 7 the row offsets cross short partitions. */
  private def atEachP(body: => Unit): Unit =
    for (p <- Seq(1, 2, 7)) atRangePartitions(p)(body)

  private val aggs = Seq("x" -> "sum", "x" -> "min", "x" -> "max",
    "x" -> "mean", "x" -> "defined", "x" -> "std")

  test("sequentialBlocksRangePart == sequentialBlocks (incl. partial tail drop)") {
    atEachP {
      for (width <- Seq(1, 7, 50)) {
        val tsf = TimeseriesFrame(seriesDF(gappy(403)), None, Seq("i"))
        val a = MovingTransform.sequentialBlocks(tsf, aggs, width)
        val b = MovingTransform.sequentialBlocksRangePart(tsf, aggs, width)
        assert(a.columns.toSeq == b.columns.toSeq, s"schema drift at width $width")
        aggs.foreach { case (c, k) =>
          assertSeqAlmost(col1(b, s"${c}_$k", "block"), col1(a, s"${c}_$k", "block"),
            tol = 1e-9)
        }
      }
    }
  }

  test("ref modes (KeepFirst/Middle/Last) join the same reference rows") {
    atEachP {
      val tsf = TimeseriesFrame(seriesDF(gappy(120)), None, Seq("i"))
      for (ref <- Seq(MovingTransform.KeepFirst, MovingTransform.KeepMiddle,
          MovingTransform.KeepLast)) {
        val a = MovingTransform.sequentialBlocks(tsf, Seq("x" -> "mean"), 9, ref)
        val b = MovingTransform.sequentialBlocksRangePart(tsf, Seq("x" -> "mean"), 9, ref)
        assertSeqAlmost(col1(b, "i", "block"), col1(a, "i", "block"))
        assertSeqAlmost(col1(b, "x_mean", "block"), col1(a, "x_mean", "block"), tol = 1e-9)
      }
    }
  }

  test("stridedRangePart == strided for overlapping, tumbling and gapped strides") {
    atEachP {
      for ((width, shift) <- Seq((6, 2), (5, 5), (4, 7), (10, 3))) {
        val tsf = TimeseriesFrame(seriesDF(gappy(211)), None, Seq("i"))
        val a = MovingTransform.strided(tsf,
          Seq("x" -> "sum", "x" -> "min", "x" -> "defined"), width, shift)
        val b = MovingTransform.stridedRangePart(tsf,
          Seq("x" -> "sum", "x" -> "min", "x" -> "defined"), width, shift)
        assert(a.count() == b.count(), s"row count drift at ($width,$shift)")
        Seq("x_sum", "x_min", "x_defined").foreach { c =>
          assertSeqAlmost(col1(b, c, "window_index"), col1(a, c, "window_index"),
            tol = 1e-9)
        }
      }
    }
  }

  test("stridedRangePart covers the FULL 18-agg registry == strided (r6 task 3)") {
    atEachP {
      import graft.agg.AggRegistry
      // positive corpus with nulls AND exact zeros: exercises the NaN
      // renormalization of the weighted MAs, the zero/negative rules of
      // harmonic/geometric, and zero-absorption of cumprod
      val rnd = new scala.util.Random(11)
      val xs = (0 until 211).map { _ =>
        if (rnd.nextInt(7) == 0) None
        else if (rnd.nextInt(11) == 0) Some(0.0)
        else Some(rnd.nextDouble() * 100)
      }
      val specs = AggRegistry.keys.map(k => "x" -> k)
      for ((width, shift) <- Seq((6, 2), (5, 5), (4, 7))) {
        val tsf = TimeseriesFrame(seriesDF(xs), None, Seq("i"))
        val a = MovingTransform.strided(tsf, specs, width, shift)
        val (b, release) = MovingTransform.stridedRangePartManaged(tsf, specs, width, shift)
        try {
          assert(a.count() == b.count(), s"row count drift at ($width,$shift)")
          AggRegistry.keys.foreach { k =>
            assertSeqAlmost(col1(b, s"x_$k", "window_index"),
              col1(a, s"x_$k", "window_index"), tol = 1e-9)
          }
        } finally release()
      }
    }
  }

  test("cumulative-only specs: prefix scan alone, no explode branch") {
    atEachP {
      // values near 1 keep long products finite across partition boundaries
      val rnd = new scala.util.Random(3)
      val xs = (0 until 300).map { _ =>
        if (rnd.nextInt(9) == 0) None else Some(0.9 + rnd.nextDouble() * 0.2)
      }
      val tsf = TimeseriesFrame(seriesDF(xs), None, Seq("i"))
      val specs = Seq("x" -> "cumsum", "x" -> "cumprod")
      val a = MovingTransform.strided(tsf, specs, 4, 3)
      val (b, release) = MovingTransform.stridedRangePartManaged(tsf, specs, 4, 3)
      try {
        assert(a.count() == b.count())
        Seq("x_cumsum", "x_cumprod").foreach { c =>
          assertSeqAlmost(col1(b, c, "window_index"), col1(a, c, "window_index"),
            tol = 1e-9)
        }
      } finally release()
    }
  }

  test("width > n yields empty output on both paths") {
    atEachP {
      val tsf = TimeseriesFrame(seriesDF(gappy(10)), None, Seq("i"))
      assert(MovingTransform.sequentialBlocksRangePart(tsf, Seq("x" -> "sum"), 11).count() == 0)
      assert(MovingTransform.stridedRangePart(tsf, Seq("x" -> "sum"), 11, 3).count() == 0)
    }
  }

  test("seriesKeys rejected: the keyed path is already parallel") {
    val df = seriesDF(gappy(10)).withColumn("k", lit("a"))
    val tsf = TimeseriesFrame(df, None, Seq("i"), Seq("k"))
    intercept[IllegalArgumentException] {
      MovingTransform.sequentialBlocksRangePart(tsf, Seq("x" -> "sum"), 2)
    }
  }
}
