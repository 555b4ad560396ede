package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Single-column series fixture: (i: long sequence id, x: double|null). */
  def seriesDF(xs: Seq[Option[Double]]): DataFrame = {
    val rows = xs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.map(Double.box).orNull)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("i", LongType), StructField("x", DoubleType))))
  }

  /** Jobs `body` launches on this thread, counted by a listener on a job
    * group (AQE stage jobs inherit it). A sentinel job run afterwards is
    * awaited, so every earlier job start has reached the listener by then. */
  def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .filter(_ != null).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = body
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!seen.contains(s"$group-sentinel") && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-sentinel"), "sentinel job never reached the listener")
      (out, seen.toArray.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run `body` with `p` shuffle partitions that AQE may not coalesce, so
    * a range sort of a small fixture keeps `p` partitions. */
  def atShufflePartitions[A](p: Int)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), p.toString)
    spark.conf.set(keys(1), "false")
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[atShufflePartitions]] for a `RangeScan` caller: at `p` >= 2 the
    * small-input rule is off, so a small fixture takes the range sort of
    * `RangeScan.sorted` into `p` and not its one-partition sort. */
  def atRangePartitions[A](p: Int)(body: => A): A =
    atShufflePartitions(p)(graft.core.RangeScan.smallInputBound.withValue(
      if (p == 1) graft.core.RangeScan.SmallInputBytes else 0L)(body))

  def d(xs: Double*): Seq[Option[Double]] = xs.map(x => Some(x))
  val NA: Option[Double] = None

  /** Collect one double column ordered by `i`, null→None. */
  def col1(df: DataFrame, c: String, order: String = "i"): Seq[Option[Double]] =
    df.orderBy(order).select(c).collect().toSeq.map { r =>
      if (r.isNullAt(0)) None
      else r.get(0) match {
        case x: java.lang.Double => Some(x.doubleValue)
        case x: java.lang.Long   => Some(x.doubleValue)
        case x: java.lang.Integer => Some(x.doubleValue)
        case x => Some(x.toString.toDouble)
      }
    }

  def assertSeqAlmost(actual: Seq[Option[Double]], expected: Seq[Option[Double]],
      tol: Double = 1e-6): Unit = {
    assert(actual.size == expected.size,
      s"size mismatch: ${actual.size} vs ${expected.size}\n$actual\n$expected")
    actual.zip(expected).zipWithIndex.foreach {
      case ((Some(a), Some(e)), i) =>
        assert(math.abs(a - e) <= tol * math.max(1.0, math.abs(e)),
          s"at $i: $a != $e\n$actual\n$expected")
      case ((a, e), i) =>
        assert(a.isDefined == e.isDefined, s"at $i: $a vs $e\n$actual\n$expected")
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
