package graft.ingest

import graft.SparkSpec
import graft.core.TimeseriesFrame
import graft.ops.TimeSlice
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TIMESTAMP-layout matrix for the one gate-table loader (r7 verdict
  * task 6).
  *
  * The driver's events.parquet has shipped in two different physical
  * timestamp layouts over the build's lifetime — TIMESTAMP(NANOS) through
  * round 6, plain TIMESTAMP_MICROS from round 7 — and the r7 round was
  * lost to the loader hardcoding the first. This spec freezes the
  * contract: `SparkEntry.tbl` must yield the SAME logical table (ts:
  * TimestampType, same instants, same TimeSlice rows, still-sargable
  * slice predicates) for every physical layout the environment can
  * plausibly hand it:
  *
  *  - INT64 with no logical annotation (what a NANOS file reads as under
  *    `nanosAsLong=true` — a plain-long fixture exercises the identical
  *    LongType branch);
  *  - TIMESTAMP_MICROS `isAdjustedToUTC=false` (NTZ — the current
  *    testdata layout; pandas/pyarrow default);
  *  - TIMESTAMP_MICROS `isAdjustedToUTC=true` (what Spark itself writes
  *    for TimestampType under outputTimestampType=TIMESTAMP_MICROS).
  *
  * Reference anchor: the reference accepts whatever Orange hands it
  * (`orangecontrib/timeseries/timeseries.py:183-191`) — layout
  * robustness is the Spark-side equivalent of that contract.
  */
class IngestLayoutMatrixSpec extends SparkSpec {

  // 8 events, µs-aligned, spanning 2024-01-10T00:00Z .. +7h, one per hour
  private val baseUs: Long = 1704844800L * 1000000L
  private val hourUs: Long = 3600L * 1000000L
  private val n = 8

  private def writeFixture(layout: String, dir: String): Unit = {
    val ids = (0 until n).map(_.toLong)
    val us = ids.map(baseUs + _ * hourUs)
    val df: DataFrame = layout match {
      case "int64-nanos" =>
        val rows = ids.zip(us).map { case (id, u) =>
          Row(id, u * 1000L, id % 3, s"t$id", id * 1.25 + 0.5, "{}")
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("event_id", LongType), StructField("ts", LongType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType), StructField("props", StringType))))
      case "micros-ntz" | "micros-utc" =>
        val tsType = if (layout == "micros-ntz") TimestampNTZType else TimestampType
        val rows = ids.zip(us).map { case (id, u) =>
          val t: Any =
            if (layout == "micros-ntz")
              java.time.LocalDateTime.ofEpochSecond(
                u / 1000000L, ((u % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
            else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
              u / 1000000L, (u % 1000000L) * 1000L))
          Row(id, t, id % 3, s"t$id", id * 1.25 + 0.5, "{}")
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("event_id", LongType), StructField("ts", tsType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType), StructField("props", StringType))))
    }
    // TIMESTAMP_MICROS (not the INT96 legacy default) so the UTC fixture's
    // physical layout matches what a modern writer produces
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private val layouts = Seq("int64-nanos", "micros-ntz", "micros-utc")

  private lazy val loaded: Map[String, DataFrame] = {
    val root = java.nio.file.Files.createTempDirectory("graft-layout-matrix")
    root.toFile.deleteOnExit()
    layouts.map { l =>
      val dir = s"$root/$l"
      writeFixture(l, dir)
      l -> graft.SparkEntry.tbl(spark, dir, "events")
    }.toMap
  }

  test("every layout loads ts as TimestampType") {
    for (l <- layouts)
      assert(loaded(l).schema("ts").dataType == TimestampType,
        s"$l: ts read as ${loaded(l).schema("ts").dataType}")
  }

  test("all three layouts decode to identical instants") {
    val expected = (0 until n).map(i => baseUs + i * hourUs)
    for (l <- layouts) {
      val got = loaded(l).select(unix_micros(col("ts")))
        .orderBy(col("event_id")).collect().map(_.getLong(0)).toSeq
      assert(got == expected, s"$l: $got")
    }
  }

  test("a layout rewritten at the same path in the same session loads as the new layout") {
    // the schema catalog caches the first file listing's schema; the
    // overwrite changes the listing, so tbl must infer the new layout
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-rewrite").toString
    val expected = (0 until n).map(i => baseUs + i * hourUs)
    def instants(df: DataFrame) = df.select(unix_micros(col("ts")))
      .orderBy(col("event_id")).collect().map(_.getLong(0)).toSeq
    writeFixture("int64-nanos", dir)
    val before = graft.SparkEntry.tbl(spark, dir, "events")
    assert(before.columns.contains("ts_ns_raw"))
    assert(instants(before) == expected)
    for (l <- Seq("micros-ntz", "micros-utc")) {
      writeFixture(l, dir)
      val after = graft.SparkEntry.tbl(spark, dir, "events")
      assert(after.schema("ts").dataType == TimestampType, s"$l: ${after.schema}")
      assert(!after.columns.contains("ts_ns_raw"), l)
      assert(instants(after) == expected, l)
    }
  }

  test("TimeSlice returns the same rows on every layout") {
    // half-open [base+2h, base+5h) in epoch seconds → events 2,3,4
    val lo = (baseUs + 2 * hourUs) / 1e6
    val hi = (baseUs + 5 * hourUs) / 1e6
    for (l <- layouts) {
      val t = TimeseriesFrame.fromColumn(loaded(l), "ts", Seq("event_id"))
      val got = TimeSlice(t, lo, hi).select("event_id")
        .orderBy("event_id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(2L, 3L, 4L), s"$l: $got")
    }
  }

  test("TimeSlice predicate reaches the parquet scan on every layout") {
    // int64 layout pushes the raw-long range (the scan-level column is
    // still named `ts` — ts_ns_raw is the post-scan rename — and the
    // literal is in nanos); micros layouts push the native-timestamp
    // range. Either way PushedFilters must carry the range bound, or a
    // layout drift has silently turned the slice into a full-table read.
    val lo = (baseUs + 2 * hourUs) / 1e6
    val hi = (baseUs + 5 * hourUs) / 1e6
    for (l <- layouts) {
      val t = TimeseriesFrame.fromColumn(loaded(l), "ts", Seq("event_id"))
      val plan = TimeSlice(t, lo, hi).queryExecution.executedPlan.toString
      val pushed = plan.linesIterator
        .filter(_.contains("PushedFilters")).mkString("\n")
      val wanted =
        if (l == "int64-nanos") s"GreaterThanOrEqual(ts,${(baseUs + 2 * hourUs) * 1000L})"
        else "GreaterThanOrEqual(ts,2024-01-10 02:00:00"
      assert(pushed.contains(wanted),
        s"$l: no pushed range bound [$wanted] in:\n$pushed\nfull plan:\n$plan")
    }
  }
}
