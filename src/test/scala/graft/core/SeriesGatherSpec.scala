package graft.core

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** [[SeriesGather.byKey]]'s sorted stream against a driver twin (collect,
  * group by key, sort by (time, tieBreak, values) ascending with nulls
  * first), at pinned counts that leave partitions empty, and the gather's
  * plan on the gate tables: one exchange, a kernel task per pinned
  * partition. */
class SeriesGatherSpec extends SparkSpec {

  private val Ps = Seq(1, 2, 7)

  /** (k, g, t, tb, a, b): string key `k`, second key `g`, time `t` with
    * ties broken by `tb` — and some (t, tb) ties left for the values to
    * order — two value columns with nulls in series 3 and 7 only, and one
    * one-row series. Rows arrive shuffled. */
  private def frame(): DataFrame = {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 9).flatMap { s =>
      val n = if (s == 4) 1 else 3 + s % 5
      (0 until n).map { i =>
        val a: java.lang.Double =
          if ((s == 3 && i == 1) || (s == 7 && i == 0)) null else Double.box(rnd.nextInt(50) / 4.0)
        val b: java.lang.Double = if (s == 7 && i == 2) null else Double.box(rnd.nextInt(9).toDouble)
        Row(s"s${"x" * (s % 4)}-${s % 5}", (s / 5).toLong, (i / 2).toLong, (i % 3 / 2).toLong, a, b)
      }
    }
    val schema = StructType(Seq(StructField("k", StringType), StructField("g", LongType),
      StructField("t", LongType), StructField("tb", LongType),
      StructField("a", DoubleType), StructField("b", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows), 3), schema)
  }

  private val out = Seq(StructField("i", LongType), StructField("va", DoubleType),
    StructField("vb", DoubleType))

  private def asc(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (p: java.lang.Long, q: java.lang.Long) => p.compareTo(q)
    case (p: java.lang.Double, q: java.lang.Double) => p.compareTo(q)
  }

  /** The driver twin of `kernel` over `keys`: what `byKey` must emit. */
  private def twin(df: DataFrame, keys: Seq[String], dropNulls: Boolean): Set[Seq[Any]] = {
    val rows = df.collect().toSeq.filter(r => !dropNulls || !r.isNullAt(r.fieldIndex("a")))
    rows.groupBy(r => keys.map(r.getAs[Any])).toSeq.flatMap { case (key, rs) =>
      val sorted = rs.map(r => Seq("t", "tb", "a", "b").map(r.getAs[Any](_))).sortWith { (x, y) =>
        x.zip(y).map { case (p, q) => asc(p, q) }.find(_ != 0).getOrElse(0) < 0
      }
      if (sorted.exists(v => v(2) == null || v(3) == null)) Nil
      else sorted.zipWithIndex.map { case (v, i) => key ++ Seq[Any](i.toLong, v(2), v(3)) }
    }.toSet
  }

  for (keys <- Seq(Seq("k"), Seq("k", "g")); dropNulls <- Seq(false, true); p <- Ps)
    test(s"byKey == driver twin: keys ${keys.mkString(",")}, dropNulls $dropNulls, P=$p") {
      val df = frame()
      val tsf = TimeseriesFrame(df, Some("t"), Seq("tb"), keys)
      atShufflePartitions(p) {
        val got = SeriesGather.byKey(tsf, Seq("a", "b"), "spec", out, dropNulls)(
          SeriesGatherSpec.kernel)
        assert(got.rdd.getNumPartitions == math.max(p, spark.sparkContext.defaultParallelism))
        assert(got.schema.fieldNames.toSeq == keys ++ Seq("i", "va", "vb"))
        val want = twin(df, keys, dropNulls)
        assert(got.collect().map(_.toSeq).toSet == want)
        val series = want.map(_.take(keys.size))
        // the null series are skipped whole (dropNulls off: 3 and 7; on:
        // 7 still holds a null b), the one-row series runs, ties count
        assert(series.size == (if (dropNulls) 8 else 7), series)
        assert(want.exists(r => r(keys.size) == 0L && !want.exists(o =>
          o.take(keys.size) == r.take(keys.size) && o(keys.size) == 1L)))
      }
    }

  test("q108 on the gate's sf0.01 tables: one exchange, a kernel task per pinned partition") {
    // q108 is fillSeries (griddata-cubic per user) over a window that
    // already hash-partitions on user_id; the gather adds no second
    // shuffle, and its kernel stage keeps the pinned partition count
    val gateDir = "perfbench/gate_sf0.01"
    graft.SparkEntry.tbl(spark, gateDir, "events")
    val q = graft.SparkEntry.queries("q108_griddata_cubic_by_key")(spark, gateDir)
    val rdd = q.rdd
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Int =
      r.dependencies.map {
        case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
        case d => shuffles(d.rdd)
      }.sum
    assert(shuffles(rdd) == 1, rdd.toDebugString)
    assert(rdd.getNumPartitions == math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism))
    assert(q.count() > 0)
  }
}

object SeriesGatherSpec {
  /** The kernel of every case: one row per series position. */
  val kernel: Array[Array[Double]] => Iterator[Seq[Any]] = cols =>
    cols(0).indices.iterator.map(i => Seq[Any](i.toLong, cols(0)(i), cols(1)(i)))
}
