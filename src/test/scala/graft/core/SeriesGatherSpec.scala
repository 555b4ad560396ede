package graft.core

import graft.SparkSpec

/** The cost-class discriminator on [[SeriesGather.rows]] (r9 VERDICT
  * task 2): heavy per-series kernels rebalance an AQE-under-partitioned
  * gather to core count; cheap (CPU ∝ bytes) kernels trust AQE's byte
  * sizing and skip the guard stage. Differential — both paths over the
  * SAME gathered frame. */
class SeriesGatherSpec extends SparkSpec {

  test("rows: heavy path fans out to core count, cheap path keeps AQE layout") {
    import spark.implicits._
    // 200 tiny series: a few KB gathered, so AQE coalesces the gather's
    // shuffle output below defaultParallelism (the q108 shape)
    val df = (0 until 200).flatMap(k => (0 until 10).map(i =>
      (k.toLong, i.toLong, k * 10.0 + i))).toDF("k", "t", "x")
    val tsf = TimeseriesFrame(df, Some("t")).withSeriesKeys("k")
    val g = SeriesGather.gather(tsf, Seq("x"), "spec")
    val par = spark.sparkContext.defaultParallelism
    val aqePartitions = g.df.rdd.getNumPartitions
    assert(aqePartitions < par,
      s"fixture must under-partition: AQE gave $aqePartitions >= $par")
    val heavy = SeriesGather.rows(g, heavyPerSeries = true)
    assert(heavy.getNumPartitions == par,
      s"heavy path must rebalance: ${heavy.getNumPartitions} != $par")
    // the rebalance actually spreads the series, not just renames partitions
    val perPart = heavy.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.count(_ > 0) > 1, perPart.toSeq.toString)
    val cheap = SeriesGather.rows(g, heavyPerSeries = false)
    assert(cheap.getNumPartitions == aqePartitions,
      s"cheap path must not add a stage: ${cheap.getNumPartitions} != $aqePartitions")
    // both paths carry the identical series set
    def keys(r: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) =
      r.map(_.getLong(0)).collect().sorted.toSeq
    assert(keys(heavy) == keys(cheap))
  }

  test("rows: an already-wide gather is left untouched on both paths") {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val df = (0 until 50).map(i => (i.toLong, i.toLong, i.toDouble))
      .toDF("k", "t", "x")
    val tsf = TimeseriesFrame(df, Some("t")).withSeriesKeys("k")
    val wide = SeriesGather.gather(tsf, Seq("x"), "spec").df
      .repartition(par * 2)
    assert(SeriesGather.rows(wide, heavyPerSeries = true)
      .getNumPartitions == par * 2)
    assert(SeriesGather.rows(wide, heavyPerSeries = false)
      .getNumPartitions == par * 2)
  }

  test("string keys: heavy and cheap paths hand every series intact to its kernel") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    import spark.implicits._
    // 60 series of 3..9 rows under string keys of different byte lengths:
    // AQE coalesces the tiny gather, so every partition holds many series
    // and the gather's iterator reuses one row object for all of them
    val df = (0 until 60).flatMap { k =>
      (0 until 3 + k % 7).map(i => (s"s${"x" * (k % 5)}-$k", i.toLong, k * 100.0 + i * i))
    }.toDF("k", "t", "x")
    val tsf = TimeseriesFrame(df, Some("t")).withSeriesKeys("k")
    val g = SeriesGather.gather(tsf, Seq("x"), "spec")
    val layout = g.layout
    // driver twin: each key's values in time order
    val twin = df.collect().groupBy(_.getString(0)).map { case (k, rs) =>
      k -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
    }
    val outSchema = StructType(g.keySchema.fields ++ Seq(
      StructField("i", LongType), StructField("v", DoubleType)))
    for (heavy <- Seq(true, false)) {
      val rows = SeriesGather.rows(g, heavyPerSeries = heavy)
      assert(rows.mapPartitions(it => Iterator(it.size)).collect().exists(_ > 1),
        s"heavy=$heavy: fixture must put several series in one partition")
      // the kernel emits one row per value, keys passed through internally
      val emitted = rows.flatMap { row =>
        val keyVals = SeriesGather.keyVals(row, layout)
        SeriesGather.values(row, layout).iterator.zipWithIndex.map { case (v, i) =>
          InternalRow.fromSeq(keyVals ++ Seq[Any](i.toLong, v))
        }
      }
      val got = Bridge.fromCatalystRows(spark, emitted, outSchema).collect()
        .groupBy(_.getString(0)).map { case (k, rs) =>
          k -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
        }
      assert(got == twin, s"heavy=$heavy")
    }
  }
}
