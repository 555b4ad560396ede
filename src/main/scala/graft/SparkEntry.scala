package graft

import graft.agg.Quantiles
import graft.core.TimeseriesFrame
import graft.dedup.Dedup
import graft.ops._
import graft.models.{Arima, Arimax, Granger, Metrics, ModelEvaluation, PerSeries, Var}
import graft.multimodal.Multimodal
import graft.pipeline.{Dsir, Packing, Sampling}
import graft.similarity.{IvfIndex, Similarity}
import graft.spectral.{Correlation, Periodogram}
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Driver contract — one [[SparkEntry.registry]] entry per implemented
  * operator from SURVEY.md §2 (+ the training-data-pipeline operators):
  * a `GateQuery` holds the query's name, its Spark body and, directly below
  * it, the ANSI-SQL oracle the driver runs in DuckDB on the same parquet
  * tables. `queries` and `oracleSql` are name-keyed views of the registry.
  * Oracle SQL shared by several queries (and the SQL pieces they compose)
  * lives in private helpers after the registry. The query bodies stay in
  * this object: the perfbench ledger charges a job to `entry` by its
  * `graft.SparkEntry` stack frames.
  *
  * Determinism design (the driver hash-compares values across engines):
  *  - all orderings are total: (ts, event_id) / doc_id / vec_id;
  *  - `value` and all monetary columns are exact 2-decimal doubles, so any
  *    summed quantity goes through integer cents (`round(x*100)`), which
  *    doubles sum exactly in ANY aggregation order on BOTH engines — means
  *    are then a single identical division chain;
  *  - raw timestamps are exported as microsecond longs (`unix_micros` /
  *    `epoch_us`), truncated period keys as epoch seconds;
  *  - remaining float expressions use the same operation order on both
  *    sides and are rounded at a precision far above the cross-engine
  *    noise floor.
  */
object SparkEntry {

  /** Single gate-table loader — EVERY read of the driver's parquet goes
    * through here (tests included), so a physical-layout change in the
    * environment shows up in exactly one place.
    *
    * The events table has shipped in two physical timestamp layouts over
    * the build's lifetime (TIMESTAMP(NANOS), then plain TIMESTAMP_MICROS),
    * so the loader sniffs the type it actually read instead of assuming
    * one:
    *  - `LongType` (nanos read under `nanosAsLong`, or a bare INT64
    *    column): keep the raw long as `ts_ns_raw` — range predicates on it
    *    are pushed to parquet row-group stats — and derive the µs-aligned
    *    TimestampType `ts` (`div 1000` is lossless integer arithmetic).
    *  - native `TimestampType`: use the column directly; predicates on a
    *    plain timestamp attribute are already sargable (see TimeSlice), so
    *    no raw long twin is needed.
    * NTZ inference is disabled for the read so a µs column reads as
    * session-tz TimestampType either way; with the UTC session pin this is
    * value-identical to DuckDB's naive read of the same file.
    *
    * Schema inference (a Spark job that reads parquet footers) runs once
    * per session per file listing: [[tableSchema]] keeps the inferred
    * schema in a per-session catalog, and every call reads with it as an
    * explicit schema. The data files are still scanned by every query;
    * only the footer job is skipped. */
  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val path = s"$dir/$name.parquet"
    val df = s.read.schema(tableSchema(s, path)).parquet(path)
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns_raw")
          .withColumn("ts", timestamp_micros(expr("ts_ns_raw div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        // A Spark-written NTZ file carries its catalyst schema in the
        // footer, which overrides the inference flag. Re-read with an
        // explicit user schema pinning ts to session-tz TimestampType
        // (value-identity under the engine's UTC pin): the column stays a
        // genuine scan attribute — predicates on it still push down —
        // instead of becoming a non-sargable cast alias.
        val fixed = StructType(df.schema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        s.read.schema(fixed).parquet(path)
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other — extend SparkEntry.tbl")
    } else df
  }

  /** Per-session schema catalog: table path → (listing fingerprint,
    * inferred schema). Weak keys, so a session's entries go with it. */
  private val schemaCatalog = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]]()

  /** The schema `s.read.parquet(path)` infers, inferred once per session
    * while the listing of `path` — its sorted (name, length, modification
    * time) entries — stays the same. Rewriting the file or the table
    * directory changes the listing, and the next call infers again. */
  private[graft] def tableSchema(s: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fingerprint = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
    val tables = schemaCatalog.synchronized {
      schemaCatalog.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
    }
    Option(tables.get(path)).collect { case (fp, schema) if fp == fingerprint => schema }
      .getOrElse {
        val schema = s.read.parquet(path).schema
        tables.put(path, (fingerprint, schema))
        schema
      }
  }

  /** events as a TimeseriesFrame: time = ts, tie-break = event_id; adds an
    * exact integer-cents view of `value` for order-independent sums. */
  private def ev(s: SparkSession, dir: String): TimeseriesFrame =
    TimeseriesFrame.fromColumn(
      tbl(s, dir, "events").withColumn("value_cents", round(col("value") * 100)),
      "ts", Seq("event_id"))

  /** events with value nulled on a deterministic subset — interpolation
    * fixture (the raw table has no missing values). */
  private def evGappy(s: SparkSession, dir: String): TimeseriesFrame = {
    val df = tbl(s, dir, "events")
      .withColumn("value",
        when(col("event_id") % 37 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
    TimeseriesFrame.fromColumn(df, "ts", Seq("event_id"))
  }

  /** Daily aggregate series (deterministic exact-cents means): one row per
    * day with (d, v = daily mean value, c = daily event count). */
  private[graft] def daily(s: SparkSession, dir: String): TimeseriesFrame = {
    val t = ev(s, dir)
    val df = MovingTransform.timePeriods(t, "days", Seq("value_cents" -> "sum"))
      .select(col("days").as("d"),
        (col("value_cents_sum") / 100.0 / col("instance_count")).as("v"),
        col("instance_count").cast("double").as("c"))
    TimeseriesFrame(df, Some("d"))
  }

  private val tsOrder = "ORDER BY ts, event_id"
  private val centsSql = "CAST(round(value*100) AS BIGINT)"

  /** Planted closed-form media corpus shared by the q79/q91/q95 gates
    * (folded from three inline copies, VERDICT r8 task 7): even doc_ids
    * carry a PCM16 WAV, odd a PPM P6 image; every parameter and byte is a
    * pure integer function of doc_id, so the DuckDB oracles replay the
    * DECODED surfaces with integer arithmetic end to end. `parity`
    * restricts to even (Some(0): WAVs) or odd (Some(1): PPMs) ids. */
  private[graft] def plantedMedia(s: SparkSession, dir: String,
      parity: Option[Int]): DataFrame = {
    import s.implicits._
    val base = tbl(s, dir, "documents")
    val ids = parity.fold(base)(p => base.filter(col("doc_id") % 2 === p))
      .select(col("doc_id").cast("long").as("id")).as[Long]
    ids.mapPartitions(_.map { id =>
      val payload = if (id % 2 == 0) {
        val rate = 8000 + (id % 3).toInt * 4000
        val ch = if (id % 4 == 0) 2 else 1
        val frames = 100 + (id % 50).toInt
        val samples = Array.tabulate[Short](frames * ch)(k =>
          (((id * 31 + k.toLong * 7) % 65536) - 32768).toShort)
        Multimodal.encodeWavPcm16(rate, ch, samples)
      } else {
        val w = 4 + (id % 8).toInt
        val h = 3 + (id % 5).toInt
        val pix = Array.tabulate[Byte](w * h * 3)(k =>
          ((id + k.toLong * 13) % 256).toByte)
        Multimodal.encodePpmP6(w, h, 255, pix)
      }
      Multimodal.MediaRow(id, payload)
    }).toDF()
  }

  /** Flagship query (the registry's first, q01) on sf=0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.head.run(spark, "/root/testdata/sf0.001")

  // ==================================================================== //

  /** One gate query: `run` builds the Spark result from a gate SF dir,
    * `oracleSql` is the DuckDB SQL the driver compares it with, run on the
    * same parquet tables. */
  final case class GateQuery(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String)

  /** The gate registry: every query with its oracle directly below it.
    * Lazy, so the loads that only touch [[tbl]] build no SQL. */
  lazy val registry: Seq[GateQuery] = Seq(
    // ---- §2.4 sliding-window aggregation (Moving Transform) ----------
    GateQuery("q01_sliding_basic", (s, dir) => {
      val t = ev(s, dir)
      MovingTransform.slidingWindow(t,
          Seq("value_cents" -> "sum", "value" -> "min",
            "value" -> "max", "value" -> "defined"),
          width = 7, keep = MovingTransform.KeepComplete)
        .select(col("event_id"),
          round(col("value_cents_sum") / 100.0 / 7, 6).as("value_mean"),
          round(col("value_cents_sum") / 100.0, 6).as("value_sum"),
          col("value_min"), col("value_max"), col("value_defined"))
    }, oracleSql =
      s"""SELECT event_id,
         | round(sum($centsSql) OVER w / 100.0 / 7, 6) AS value_mean,
         | round(sum($centsSql) OVER w / 100.0, 6) AS value_sum,
         | min(value) OVER w AS value_min,
         | max(value) OVER w AS value_max,
         | count(value) OVER w AS value_defined
         |FROM events
         |${winSql("6 PRECEDING")}
         |QUALIFY row_number() OVER ($tsOrder) >= 7""".stripMargin),
    GateQuery("q02_sliding_stats", (s, dir) => {
      val t0 = ev(s, dir)
      val t = t0.copy(df = t0.df.withColumn("value_cents2",
        col("value_cents") * col("value_cents")))
      // population var/std via exact integer sums (bit-identical on both
      // engines); the registry's own std/var are pinned by ScalaTest goldens
      val out = MovingTransform.slidingWindow(t,
          Seq("value" -> "median", "value_cents" -> "sum", "value_cents2" -> "sum",
            "value" -> "span", "value" -> "nonzero", "value_cents" -> "cumsum"),
          width = 5, keep = MovingTransform.KeepComplete)
      val mu = col("value_cents_sum") / 5
      val varCents = col("value_cents2_sum") / 5 - mu * mu
      out.select(col("event_id"),
          round(col("value_median"), 6).as("value_median"),
          round(sqrt(varCents) / 100.0, 6).as("value_std"),
          round(varCents / 10000.0, 6).as("value_var"),
          col("value_span"),
          col("value_nonzero"),
          round(col("value_cents_cumsum") / 100.0, 6).as("value_cumsum"))
    }, oracleSql =
      s"""SELECT event_id,
         | round(median(value) OVER w, 6) AS value_median,
         | round(sqrt(sum($centsSql*$centsSql) OVER w / 5
         |   - (sum($centsSql) OVER w / 5) * (sum($centsSql) OVER w / 5)) / 100.0, 6) AS value_std,
         | round((sum($centsSql*$centsSql) OVER w / 5
         |   - (sum($centsSql) OVER w / 5) * (sum($centsSql) OVER w / 5)) / 10000.0, 6) AS value_var,
         | max(value) OVER w - min(value) OVER w AS value_span,
         | count(CASE WHEN value != 0 THEN 1 END) OVER w AS value_nonzero,
         | round(sum($centsSql) OVER ($tsOrder ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 6) AS value_cumsum
         |FROM events
         |${winSql("4 PRECEDING")}
         |QUALIFY row_number() OVER ($tsOrder) >= 5""".stripMargin),
    GateQuery("q03_sliding_ma", (s, dir) => {
      val t = ev(s, dir)
      MovingTransform.slidingWindow(t,
          Seq("value" -> "lin_ma", "value" -> "exp_ma", "value" -> "geometric",
            "value" -> "harmonic", "value" -> "product"),
          width = 4, keep = MovingTransform.KeepComplete)
        .select(col("event_id"),
          round(col("value_lin_ma"), 6).as("value_lin_ma"),
          round(col("value_exp_ma"), 6).as("value_exp_ma"),
          round(col("value_geometric"), 6).as("value_geometric"),
          round(col("value_harmonic"), 6).as("value_harmonic"),
          // products reach ~1e7; DuckDB's segment-tree window product
          // reassociates (≈1e-13 relative), so 2-decimal rounding flips
          // ~1/600k rows — integer rounding leaves 100x margin
          round(col("value_product"), 0).as("value_product"))
    }, oracleSql = {
      // closed forms valid because events.value has no nulls
      val w = 4
      val alpha = 2.0 / (w + 1.0)
      val expw = (0 until w).map(i => alpha * math.pow(1 - alpha, w - 1.0 - i))
      val linw = (1 to w).map(_.toDouble)
      val linLit = linw.mkString("[", ", ", "]")
      val expLit = expw.mkString("[", ", ", "]")
      s"""WITH t AS (
         | SELECT event_id, value,
         |  row_number() OVER ($tsOrder) AS rn,
         |  list(value) OVER w AS vals,
         |  count(CASE WHEN value = 0 THEN 1 END) OVER w AS zeros,
         |  avg(ln(nullif(value, 0))) OVER w AS mean_ln,
         |  sum(1.0/value) OVER w AS inv_sum,
         |  product(value) OVER w AS prod
         | FROM events
         | ${winSql("3 PRECEDING")})
         |SELECT event_id,
         | round(list_inner_product(vals, $linLit) / ${linw.sum}, 6) AS value_lin_ma,
         | round(list_inner_product(vals, $expLit) / ${expw.sum}, 6) AS value_exp_ma,
         | round(CASE WHEN zeros > 0 THEN 0 ELSE exp(mean_ln) END, 6) AS value_geometric,
         | round(CASE WHEN zeros > 0 THEN 0 ELSE $w / inv_sum END, 6) AS value_harmonic,
         | round(prod, 0) AS value_product
         |FROM t WHERE rn >= $w""".stripMargin
    }),
    // ---- §2.6 difference family --------------------------------------
    GateQuery("q04_difference", (s, dir) => {
      val t = ev(s, dir)
      import Difference._
      val d = Difference(t, Seq(
        (Delta, "value"), (Delta2, "value"), (Quotient, "value"),
        (PercentChange, "value")))
      Difference(t.copy(df = d), Seq((Delta, "value")), shift = 3)
        .select(col("event_id"), col("delta_value"), col("delta2_value"),
          round(col("quot_value"), 6).as("quot_value"),
          round(col("pct_value"), 6).as("pct_value"),
          col("delta_value_3"))
    }, oracleSql =
      s"""SELECT event_id,
         | value - lag(value, 1) OVER wo AS delta_value,
         | value - 2*lag(value, 1) OVER wo + lag(value, 2) OVER wo AS delta2_value,
         | round(value / nullif(lag(value, 1) OVER wo, 0), 6) AS quot_value,
         | round((value / nullif(lag(value, 1) OVER wo, 0) - 1) * 100, 6) AS pct_value,
         | value - lag(value, 3) OVER wo AS delta_value_3
         |FROM events
         |WINDOW wo AS ($tsOrder)""".stripMargin),
    // ---- §2.4 sequential blocks --------------------------------------
    GateQuery("q05_seq_blocks", (s, dir) => {
      val t = ev(s, dir)
      MovingTransform.sequentialBlocks(t,
          Seq("value_cents" -> "sum", "value" -> "min",
            "value" -> "max", "value" -> "defined"),
          width = 50)
        .select(col("block"),
          round(col("value_cents_sum") / 100.0 / 50, 6).as("value_mean"),
          round(col("value_cents_sum") / 100.0, 6).as("value_sum"),
          col("value_min"), col("value_max"), col("value_defined"))
    }, oracleSql = seqBlocksSql),
    // ---- §2.4 time-period aggregation (truncation + periodic) --------
    GateQuery("q06_period_day", (s, dir) => {
      val t = ev(s, dir)
      MovingTransform.timePeriods(t, "days",
          Seq("value_cents" -> "sum", "value" -> "min", "value" -> "max"))
        .select(unix_seconds(col("days")).as("day_s"), col("instance_count"),
          round(col("value_cents_sum") / 100.0 / col("instance_count"), 6)
            .as("value_mean"),
          col("value_min"), col("value_max"))
    }, oracleSql =
      s"""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
         | count(*) AS instance_count,
         | round(sum($centsSql) / 100.0 / count(*), 6) AS value_mean,
         | min(value) AS value_min, max(value) AS value_max
         |FROM events GROUP BY 1""".stripMargin),
    GateQuery("q07_period_hour_of_day", (s, dir) => {
      val t = ev(s, dir)
      MovingTransform.timePeriods(t, "hour_of_day",
          Seq("value_cents" -> "sum", "value" -> "median"))
        .select(col("hour_of_day").cast("long").as("hour_of_day"),
          col("instance_count"),
          round(col("value_cents_sum") / 100.0 / col("instance_count"), 6)
            .as("value_mean"),
          round(col("value_median"), 6).as("value_median"))
    }, oracleSql =
      s"""SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
         | count(*) AS instance_count,
         | round(sum($centsSql) / 100.0 / count(*), 6) AS value_mean,
         | round(median(value), 6) AS value_median
         |FROM events GROUP BY 1""".stripMargin),
    // ---- §2.5 spiralogram (2-D categorical aggregation) --------------
    GateQuery("q08_spiralogram", (s, dir) => {
      val t = ev(s, dir)
      Spiralogram(t,
          Spiralogram.PeriodComponent("day_of_week"),
          Some(Spiralogram.PeriodComponent("hour_of_day")),
          Some("value_cents" -> "sum"))
        .select(col("angular").cast("long").as("angular"),
          col("radial").cast("long").as("radial"), col("count"),
          round(col("value_cents_sum") / 100.0 / col("count"), 6).as("value_mean"))
    }, oracleSql =
      s"""SELECT CAST((dayofweek(ts) + 6) % 7 AS BIGINT) AS angular,
         | CAST(hour(ts) AS BIGINT) AS radial,
         | count(*) AS count,
         | round(sum($centsSql) / 100.0 / count(*), 6) AS value_mean
         |FROM events GROUP BY 1, 2""".stripMargin),
    GateQuery("q09_spiralogram_binned", (s, dir) => {
      val t = ev(s, dir)
      Spiralogram(t,
          Spiralogram.Categorical("event_type"),
          Some(Spiralogram.Binned("value", 0.0, 600.0, 6)),
          Some("value" -> "max"))
        .select(col("angular"), col("radial"), col("count"), col("value_max"))
    }, oracleSql =
      """WITH t AS (SELECT event_type,
        |  least(greatest(floor(value / 100.0), 0), 5) AS bi, value FROM events)
        |SELECT event_type AS angular,
        | CASE WHEN bi = 0 THEN '< ' || format('{:.4f}', 100.0)
        |      WHEN bi = 5 THEN '≥ ' || format('{:.4f}', 500.0)
        |      ELSE format('{:.4f}', bi*100.0) || ' - ' || format('{:.4f}', bi*100.0+100) END AS radial,
        | count(*) AS count, max(value) AS value_max
        |FROM t GROUP BY 1, 2""".stripMargin),
    GateQuery("q78_spiral_timebinned", (s, dir) => {
      // calendar-aware time binning on the angular axis (VERDICT r5 task
      // 7): Monday-start week buckets × weekday, exact integer-cents sum
      val t = ev(s, dir)
      Spiralogram(t,
          Spiralogram.TimeBinned("ts", "week"),
          Some(Spiralogram.PeriodComponent("day_of_week")),
          Some("value_cents" -> "sum"))
        .select(col("angular"), col("radial").cast("long").as("radial"),
          col("count"), expr("CAST(value_cents_sum AS BIGINT)").as("cents_sum"))
    }, oracleSql =
      s"""SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS angular,
         | CAST((dayofweek(ts) + 6) % 7 AS BIGINT) AS radial,
         | count(*) AS count,
         | CAST(sum($centsSql) AS BIGINT) AS cents_sum
         |FROM events GROUP BY 1, 2""".stripMargin),
    // ---- §2.2 time slice ---------------------------------------------
    GateQuery("q10_timeslice", (s, dir) => {
      val t = ev(s, dir)
      // [2024-01-10, 2024-01-20) UTC
      TimeSlice(t, 1704844800.0, 1705708800.0)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
    }, oracleSql =
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events
        |WHERE epoch(ts) >= 1704844800 AND epoch(ts) < 1705708800""".stripMargin),
    // ---- §2.7 interpolation ------------------------------------------
    GateQuery("q11_interpolate", (s, dir) => {
      val t = evGappy(s, dir)
      val lin = Interpolate.expr(t, "value", "linear")
      val near = Interpolate.expr(t, "value", "nearest")
      val wAll = t.window.rowsBetween(Long.MinValue, Long.MaxValue)
      val cents = round(col("value") * 100)
      val exactMean = sum(cents).over(wAll) / 100.0 / count(col("value")).over(wAll)
      t.df.select(col("event_id"),
        round(lin, 6).as("value_linear"),
        near.as("value_nearest"),
        round(coalesce(col("value"), exactMean), 6).as("value_meanfill"))
    }, oracleSql =
      s"""WITH s AS (
         | SELECT event_id, ts, epoch(ts) AS tt,
         |  CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS v
         | FROM events),
         |t AS (
         | SELECT event_id, tt, v,
         |  last_value(v IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS) OVER wp AS pt,
         |  first_value(v IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS) OVER wn AS nt,
         |  sum(CAST(round(v*100) AS BIGINT)) OVER () / 100.0 / count(v) OVER () AS vmean
         | FROM s
         | WINDOW wp AS ($tsOrder ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        wn AS ($tsOrder ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_id,
         | round(coalesce(v, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |   WHEN nt = pt THEN pv ELSE pv + (nv - pv) * (tt - pt) / (nt - pt) END), 6) AS value_linear,
         | coalesce(v, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |   WHEN tt - pt <= nt - tt THEN pv ELSE nv END) AS value_nearest,
         | round(coalesce(v, vmean), 6) AS value_meanfill
         |FROM t""".stripMargin),
    // ---- text analysis ------------------------------------------------
    GateQuery("q12_text_stats", (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.subwordCountEstimate(col("text")).cast("long").as("n_subwords"),
        round(TextFunctions.typeTokenRatio(col("text")), 6).as("ttr"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        round(TextFunctions.stopwordRatio(col("text"), "en"), 6).as("en_stopword_ratio"))
    }, oracleSql =
      s"""WITH t AS (SELECT doc_id, text,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS toks,
         |  list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |    x -> x != '')) AS dtoks
         | FROM documents)
         |SELECT doc_id,
         | CAST(length(text) AS BIGINT) AS n_chars_calc,
         | CAST(len(toks) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text,
         |   '[^[:space:][:punct:]]+|[[:punct:]]')) AS BIGINT) AS n_subwords,
         | round(CASE WHEN len(toks) = 0 THEN 0
         |   ELSE len(dtoks)::DOUBLE / len(toks) END, 6) AS ttr,
         | round(
         |  (CASE WHEN len(toks) = 0 THEN 0
         |    WHEN length(text)::DOUBLE / len(toks) BETWEEN 3.0 AND 10.0 THEN 1.0
         |    ELSE 0.0 END) * 0.4
         |  + (CASE WHEN length(text) = 0 THEN 0
         |     ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
         |          / length(text) END) * 0.3
         |  + (CASE WHEN len(toks) = 0 THEN 0
         |     ELSE len(dtoks)::DOUBLE / len(toks) END) * 0.3, 6) AS quality,
         | round(CASE WHEN len(dtoks) = 0 THEN 0
         |   ELSE len(list_intersect(dtoks, ${sqlList(TextFunctions.stopwords("en"))}))::DOUBLE
         |        / len(dtoks) END, 6) AS en_stopword_ratio
         |FROM t""".stripMargin),
    GateQuery("q13_langid", (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.stopwordHits(col("text"), "en").cast("long").as("en_hits"),
        TextFunctions.stopwordHits(col("text"), "de").cast("long").as("de_hits"))
    }, oracleSql = {
      val sw = TextFunctions.stopwords
      s"""WITH t AS (SELECT doc_id,
         |  list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |    x -> x != '')) AS dtoks
         | FROM documents),
         |s AS (SELECT doc_id,
         |  len(list_intersect(dtoks, ${sqlList(sw("de"))})) AS de_n,
         |  len(list_intersect(dtoks, ${sqlList(sw("en"))})) AS en_n,
         |  len(list_intersect(dtoks, ${sqlList(sw("es"))})) AS es_n,
         |  len(list_intersect(dtoks, ${sqlList(sw("fr"))})) AS fr_n
         | FROM t)
         |SELECT doc_id,
         | CASE WHEN greatest(de_n, en_n, es_n, fr_n) = 0 THEN 'und'
         |  WHEN de_n >= en_n AND de_n >= es_n AND de_n >= fr_n THEN 'de'
         |  WHEN en_n >= es_n AND en_n >= fr_n THEN 'en'
         |  WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END AS lang_pred,
         | CAST(en_n AS BIGINT) AS en_hits, CAST(de_n AS BIGINT) AS de_hits
         |FROM s""".stripMargin
    }),
    GateQuery("q14_fingerprint", (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    }, oracleSql =
      // wide fingerprint: two char chains combined (identity hashes must
      // not birthday-collide at 1e8 docs — see ShingleSpanHashesExpr)
      """SELECT doc_id,
        | CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        |   list_transform(list_filter(string_split(text, ''), c -> c != ''),
        |     c -> CAST(ascii(c) AS BIGINT)),
        |   (a, c) -> (a * 31 + c) % 1000000007) END * 1000000009
        | + CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        |   list_transform(list_filter(string_split(text, ''), c -> c != ''),
        |     c -> CAST(ascii(c) AS BIGINT)),
        |   (a, c) -> (a * 37 + c) % 1000000009) END AS fp
        |FROM documents""".stripMargin),
    // ---- dedup ---------------------------------------------------------
    GateQuery("q15_dedup_exact", (s, dir) => {
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")
    }, oracleSql =
      """SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
        | count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin),
    GateQuery("q16_dedup_normkey", (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.groupBy(Dedup.normalizedKey(col("text"), 5).as("norm_key"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
    }, oracleSql =
      """WITH t AS (SELECT doc_id,
        |  array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x != '')[1:5], ' ') AS norm_key
        | FROM documents)
        |SELECT norm_key, min(doc_id) AS canonical_id, count(*) AS n_dups
        |FROM t GROUP BY 1""".stripMargin),
    GateQuery("q17_jaccard_pairs", (s, dir) => {
      val d = tbl(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"),
        array_distinct(TextFunctions.tokensLower(col("text"))).as("toks_a"))
      val b = d.select(col("doc_id").as("id_b"),
        array_distinct(TextFunctions.tokensLower(col("text"))).as("toks_b"))
      a.join(broadcast(b), col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(Dedup.jaccard(col("toks_a"), col("toks_b")), 6).as("jaccard"))
    }, oracleSql =
      """WITH t AS (SELECT doc_id,
        |  list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x != '')) AS toks
        | FROM documents)
        |SELECT a.doc_id AS id_a,
        | round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0
        |   ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
        |        / len(list_distinct(list_concat(a.toks, b.toks))) END, 6) AS jaccard
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1""".stripMargin),
    GateQuery("q18_minhash_lsh", (s, dir) => {
      // deterministic affine minhash over polynomial shingle hashes —
      // reproduced exactly by the DuckDB oracle (same integer arithmetic)
      // null text is filtered identically on both engines (the oracle's
      // tokHashSql has WHERE text IS NOT NULL) — otherwise Spark's
      // null-intolerant hash expressions silently drop the doc while the
      // oracle's CASE gives it an all-sentinel signature
      Dedup.minhashCandidates(
        tbl(s, dir, "documents").filter(col("text").isNotNull), "doc_id", "text",
        shingleHashesOf = TextFunctions.shingleHashes(_, 3),
        numHashes = 64, bands = 8)
        .filter(col("est_jaccard") >= 0.5)
    }, oracleSql =
      s"WITH $minhashPairCtes\nSELECT * FROM scored WHERE est_jaccard >= 0.5"),
    GateQuery("q57_embedding_clusters", (s, dir) => {
      // the embedding tier of dedup clustering: cosine-threshold graph →
      // connected components. Pair generation is the triangle-inequality-
      // pruned cell join (recall 1 by geometry — the output is invariant
      // to how k-means clusters, so the DuckDB brute-force oracle still
      // hash-matches; no corpus×corpus cross join in the plan). Prune at
      // 0.41995 because the keep predicate rounds to 4dp first; sims
      // round BEFORE thresholding so both engines make identical
      // boundary decisions
      val pairs = Similarity.cosineCandidates(
          tbl(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.41995, nlist = 16, maxIter = 5)
        .filter(round(col("sim"), 4) >= 0.42)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("vec_id"), col("component"))
    }, oracleSql =
      """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a, e b
        | WHERE a.vec_id < b.vec_id
        |  AND round(list_inner_product(a.v, b.v)
        |   / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) >= 0.42),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e2.src AS id, reach.r FROM reach JOIN edges e2 ON e2.dst = reach.id)
        |SELECT CAST(id AS BIGINT) AS vec_id, CAST(min(r) AS BIGINT) AS component
        |FROM reach GROUP BY 1""".stripMargin),
    GateQuery("q56_range_join", (s, dir) => {
      // point-in-interval range join via interval bucketization: an
      // EQUI-join on (user, bin) + exact containment filter instead of the
      // BroadcastNestedLoop cross product a raw inequality join plans;
      // the oracle is the plain inequality join (DuckDB handles it fine
      // at oracle scale)
      val base = ev(s, dir).df
      val e = base.select(col("event_id"), col("user_id"),
        col("ts").cast("double").as("t"))
      val hours = base
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("h").cast("double").as("hstart"),
          (col("h").cast("double") + 3600.0).as("hend"), col("n"))
      RangeJoin.pointInInterval(e, hours, "t", "hstart", "hend",
          keys = Seq("user_id"), binWidth = 3600.0)
        .select(col("event_id"), col("n").as("hour_n"))
    }, oracleSql =
      """WITH hours AS (SELECT user_id,
        |  CAST(epoch(date_trunc('hour', ts)) AS DOUBLE) AS hstart,
        |  CAST(epoch(date_trunc('hour', ts)) AS DOUBLE) + 3600.0 AS hend,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2, 3),
        |e AS (SELECT event_id, user_id, epoch_us(ts)/1000000.0 AS t FROM events)
        |SELECT e.event_id, h.n AS hour_n
        |FROM e JOIN hours h ON e.user_id = h.user_id
        | AND e.t >= h.hstart AND e.t < h.hend""".stripMargin),
    GateQuery("q55_asof_join", (s, dir) => {
      // backward as-of enrichment: each event gets its user's latest daily
      // mean at or before the event time — one union + keyed window carry,
      // no join operator; the oracle is DuckDB's native ASOF LEFT JOIN
      val base = ev(s, dir).df
      val e = base.select(col("event_id"), col("user_id"),
        col("ts").cast("double").as("t"))
      val dailyByUser = base
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg((sum(col("value_cents")) / 100.0 / count(lit(1))).as("v"))
        .select(col("user_id"), col("d").cast("double").as("dt"), col("v"))
      AsOfJoin.backward(e, dailyByUser, "t", "dt", Seq("v"),
          keys = Seq("user_id"))
        .select(col("event_id"), round(col("v"), 6).as("asof_v"))
    }, oracleSql =
      s"""WITH dailyu AS (SELECT user_id,
         |  CAST(epoch(date_trunc('day', ts)) AS DOUBLE) AS dt,
         |  sum($centsSql)/100.0/count(*) AS v
         | FROM events GROUP BY 1, 2),
         |e AS (SELECT event_id, user_id, epoch_us(ts)/1000000.0 AS t FROM events)
         |SELECT e.event_id, round(d.v, 6) AS asof_v
         |FROM e ASOF LEFT JOIN dailyu d
         |  ON e.user_id = d.user_id AND e.t >= d.dt""".stripMargin),
    GateQuery("q65_asof_nearest", (s, dir) => {
      // nearest-direction as-of: both carries in one union pass, closer
      // side wins (exact ties backward); the oracle is two native DuckDB
      // ASOF joins + the same distance rule — an independent formulation
      val base = ev(s, dir).df
      val e = base.select(col("event_id"), col("user_id"),
        col("ts").cast("double").as("t"))
      val dailyByUser = base
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg((sum(col("value_cents")) / 100.0 / count(lit(1))).as("v"))
        .select(col("user_id"), col("d").cast("double").as("dt"), col("v"))
      AsOfJoin.join(e, dailyByUser, "t", "dt", Seq("v"),
          keys = Seq("user_id"), direction = "nearest")
        .select(col("event_id"), round(col("v"), 6).as("asof_v"))
    }, oracleSql =
      s"""WITH dailyu AS (SELECT user_id,
         |  CAST(epoch(date_trunc('day', ts)) AS DOUBLE) AS dt,
         |  sum($centsSql)/100.0/count(*) AS v
         | FROM events GROUP BY 1, 2),
         |e AS (SELECT event_id, user_id, epoch_us(ts)/1000000.0 AS t FROM events),
         |b AS (SELECT e.event_id, e.t, d.dt AS bt, d.v AS bv
         | FROM e ASOF LEFT JOIN dailyu d
         |  ON e.user_id = d.user_id AND e.t >= d.dt),
         |f AS (SELECT e.event_id, d.dt AS ft, d.v AS fv
         | FROM e ASOF LEFT JOIN dailyu d
         |  ON e.user_id = d.user_id AND e.t <= d.dt)
         |SELECT b.event_id,
         | round(CASE WHEN bt IS NOT NULL
         |    AND (ft IS NULL OR abs(t - bt) <= abs(t - ft))
         |   THEN bv ELSE fv END, 6) AS asof_v
         |FROM b JOIN f USING (event_id)""".stripMargin),
    GateQuery("q53_repetition_stats", (s, dir) => {
      // Gopher-style word-repetition quality signals; exact integer
      // character/count arithmetic, so the ratios hash cross-engine
      TextFunctions.repetitionStats(
          tbl(s, dir, "documents").filter(col("text").isNotNull),
          "doc_id", "text")
        .select(col("doc_id"),
          round(col("dup_word_frac"), 6).as("dup_word_frac"),
          round(col("dup_word_char_frac"), 6).as("dup_word_char_frac"),
          round(col("top_bigram_char_frac"), 6).as("top_bigram_char_frac"))
    }, oracleSql =
      // Word-level repetition signals (Gopher/MassiveText family): duplicate
      // word-slot fraction, duplicated-occurrence character fraction, and the
      // best single-bigram character coverage — integer count/length
      // arithmetic, one division each.
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |wl AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws
        | FROM docs),
        |w AS (SELECT doc_id, unnest(ws) AS word FROM wl),
        |wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS tot, count(*) AS dist,
        |  sum(c*len(word)) AS totchars, sum((c-1)*len(word)) AS dupchars
        | FROM wc GROUP BY 1),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
        | FROM wl),
        |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c * len(bg)) AS cover FROM bgc GROUP BY 1)
        |SELECT a.doc_id,
        | round(CAST(a.tot - a.dist AS DOUBLE) / a.tot, 6) AS dup_word_frac,
        | round(CAST(a.dupchars AS DOUBLE) / a.totchars, 6) AS dup_word_char_frac,
        | round(CAST(coalesce(t.cover, 0) AS DOUBLE) / len(d.text), 6)
        |   AS top_bigram_char_frac
        |FROM agg a
        |LEFT JOIN top t ON t.doc_id = a.doc_id
        |JOIN docs d ON d.doc_id = a.doc_id""".stripMargin),
    GateQuery("q50_dedup_clusters", (s, dir) => {
      // pairs → CLUSTERS: distributed min-label connected components over
      // the ≥0.5 minhash candidate graph; the oracle replays the closure
      // as a recursive CTE (component = min reachable id)
      val pairs = Dedup.minhashCandidates(
        tbl(s, dir, "documents").filter(col("text").isNotNull), "doc_id", "text",
        shingleHashesOf = TextFunctions.shingleHashes(_, 3),
        numHashes = 64, bands = 8)
        .filter(col("est_jaccard") >= 0.5)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
    }, oracleSql =
      // Duplicate clusters: transitive closure of the ≥0.5 minhash pair graph
      // (recursive CTE — `UNION` dedup terminates it), component = min
      // reachable id, matching `Dedup.connectedComponents`.
      s"""WITH RECURSIVE $minhashPairCtes,
         |pr AS (SELECT id_a, id_b FROM scored WHERE est_jaccard >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id)
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY 1""".stripMargin),
    GateQuery("q19_simhash", (s, dir) => {
      // word-bigram features (the standard simhash feature set; ~7x fewer
      // features than char shingles at equal near-dup sensitivity);
      // deterministic polynomial feature hashes widened to 62 bits
      val d = tbl(s, dir, "documents")
      // null text → '' → empty feature set → sig 0, matching the oracle's
      // LEFT JOIN + coalesce(sig, 0) for docs its null filter removed
      d.select(col("doc_id"),
        Dedup.simhashFromHashes(
          Dedup.widenHash62All(
            TextFunctions.shingleHashes(coalesce(col("text"), lit("")), 2))).as("sig"))
    }, oracleSql =
      s"""WITH $simhashSigCtes
         |SELECT d.doc_id, coalesce(s.sig, 0) AS sig
         |FROM documents d LEFT JOIN sigs s USING (doc_id)""".stripMargin),
    // ---- similarity search --------------------------------------------
    GateQuery("q20_cosine_pairs", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")))
      e.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        .crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.cosine(col("qv"), col("cv")), 4).as("sim"))
        .filter(col("sim") >= 0.2)
    }, oracleSql =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        | round(list_inner_product(q.v, c.v)
        |  / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 4) AS sim
        |FROM e q, e c
        |WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
        |  AND round(list_inner_product(q.v, c.v)
        |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 4) >= 0.2""".stripMargin),
    GateQuery("q21_knn_topk", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("sim"), 4).as("sim"))
    }, oracleSql = knnTopkSql),
    GateQuery("q22_lsh_topk", (s, dir) => {
      // LCG-derived hyperplanes → the bucketing is pure integer arithmetic
      // the DuckDB oracle replays exactly
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("sim"), 4).as("sim"))
    }, oracleSql =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |buck AS (SELECT e.vec_id, t.t,
        |  CAST(sum(CASE WHEN list_inner_product(e.v,
        |    list_transform(range(0, CAST(len(e.v) AS BIGINT)),
        |      i -> ((1103515245 * ((t.t*7368787 + p.p*1000003 + i) % 2147483647) + 12345)
        |            % 2147483648)::DOUBLE / 1073741824.0 - 1.0)) >= 0
        |    THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS BIGINT) AS b
        | FROM e CROSS JOIN range(0, 4) t(t) CROSS JOIN range(0, 12) p(p)
        | GROUP BY e.vec_id, t.t),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        | FROM buck q JOIN buck c ON q.t = c.t AND q.b = c.b
        | WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |  list_inner_product(qe.v, ce.v)
        |   / (sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v))) AS sim
        | FROM cand JOIN e qe ON qe.vec_id = cand.query_id
        |  JOIN e ce ON ce.vec_id = cand.neighbor_id)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(sim, 4) AS sim
        |FROM scored QUALIFY rank <= 5""".stripMargin),
    GateQuery("q58_ivf_topk", (s, dir) => {
      // IVF ANN at FULL probe (nprobe = nlist): every cell is searched, so
      // the result is exactly brute-force top-k regardless of where the
      // k-means quantizer put the centroids — the fitFixed trick applied
      // to ANN, hash-checking the whole probe/rescore/rank pipeline
      // downstream of the (non-SQL-expressible) k-means fit
      val e = tbl(s, dir, "embeddings")
      val idx = IvfIndex.build(e, "vec_id", "embedding", nlist = 8)
      IvfIndex.search(idx, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nprobe = 8)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("sim"), 4).as("sim"))
    }, oracleSql = knnTopkSql),
      // full probe ⇒ IVF degenerates to exact search: same oracle as q21
    GateQuery("q59_simhash_pairs", (s, dir) => {
      // the SimHash near-dup PAIRING tier over q19's signatures: 4×16-bit
      // band bucket-join (pigeonhole-complete to Hamming ≤ 3), exact
      // Hamming rescore, threshold 8
      val d = tbl(s, dir, "documents")
      val sigs = d.select(col("doc_id"),
        Dedup.simhashFromHashes(
          Dedup.widenHash62All(
            TextFunctions.shingleHashes(coalesce(col("text"), lit("")), 2))).as("sig"))
      Dedup.simhashCandidates(sigs, "doc_id", "sig", bandBits = 16, maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }, oracleSql =
      // Band the 64-bit signature into 4×16-bit keys, bucket-join, exact
      // Hamming rescore — integer shifts/masks DuckDB replays bit-for-bit
      // (arithmetic >> then & 65535 is sign-agnostic). Docs whose token set
      // is empty never enter `sigs` here; the Spark side drops their sig-0
      // sentinel rows, so both engines pair over the same population. The
      // QUALIFY replays the Spark tier's per-bucket flood cap (> 2000
      // members dropped) — ADVICE r14: without it a bucket crossing the
      // cap at a large SF diverges the engines.
      s"""WITH $simhashSigCtes,
         |banded AS (SELECT doc_id, sig, b.b, (sig >> (b.b * 16)) & 65535 AS bval
         | FROM sigs CROSS JOIN range(0, 4) b(b) WHERE sig != 0
         | QUALIFY count(*) OVER (PARTITION BY b.b, (sig >> (b.b * 16)) & 65535) <= 2000),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |  x.sig AS sa, y.sig AS sb
         | FROM banded x JOIN banded y ON x.b = y.b AND x.bval = y.bval
         |  AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 8""".stripMargin),
    GateQuery("q67_group_quantiles", (s, dir) => {
      // per-user quantile threshold table (the cut surface for outlier
      // trimming): exact type-7 interpolation on integer cents — engine-
      // portable bit-for-bit; Quantiles.approx is the unbounded-group path
      val e = ev(s, dir).df
        .withColumn("cents", expr("CAST(round(value*100) AS BIGINT)"))
      Quantiles.exact(e, Seq("user_id"), "cents", Seq(0.25, 0.5, 0.9, 0.99))
        .select(col("user_id"), col("p25"), col("p50"), col("p90"), col("p99"))
    }, oracleSql =
      s"""SELECT user_id,
         | quantile_cont($centsSql, 0.25) AS p25,
         | quantile_cont($centsSql, 0.5) AS p50,
         | quantile_cont($centsSql, 0.9) AS p90,
         | quantile_cont($centsSql, 0.99) AS p99
         |FROM events GROUP BY user_id""".stripMargin),
    GateQuery("q66_decontaminate", (s, dir) => {
      // eval-leakage audit: 8-token shingle collisions between the train
      // and eval slices of the corpus — only (hash, id) pairs shuffle
      val d = tbl(s, dir, "documents")
      Dedup.decontaminate(
          d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 8, minShared = 3)
    }, oracleSql =
      // same tokHash base + 8-slice left-fold shingle recurrence
      s"""WITH th AS ($wideTokHashSql),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(h1s) >= 8 THEN list_distinct(list_transform(range(1, len(h1s) - 6),
         |    i -> list_reduce(list_slice(h1s, i, i + 7),
         |      (a, b) -> (a*1000003 + b) % 1000000007) * 1000000009
         |     + list_reduce(list_slice(h2s, i, i + 7),
         |      (a, b) -> (a*1000033 + b) % 1000000009)))
         |   ELSE [] END AS sh
         | FROM th),
         |f AS (SELECT doc_id, unnest(sh) AS h FROM sh)
         |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         | count(DISTINCT t.h) AS n_shared
         |FROM f t JOIN f e ON t.h = e.h
         |WHERE t.doc_id % 10 != 0 AND e.doc_id % 10 = 0
         |GROUP BY 1, 2 HAVING count(DISTINCT t.h) >= 3""".stripMargin),
    // ---- training-data layout: packing / splitting --------------------
    GateQuery("q60_pack_sequences", (s, dir) => {
      // LLM sequence packing: lay the corpus token stream end-to-end in
      // doc_id order, cut every 256 tokens, emit the (doc, seq) spans —
      // range-partitioned prefix sum, no single-partition window
      val d = tbl(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("tok"))
      Packing.packSequences(toks, "doc_id", "tok", budget = 256)
    }, oracleSql =
      // integer cut-point arithmetic over the same whitespace tokenization
      // the q12 oracle already replays — exclusive running count, floor
      // divisions, span clamps
      """WITH t AS (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS tok
        | FROM documents),
        |p AS (SELECT doc_id, tok,
        |  CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        | FROM t WHERE tok > 0),
        |s AS (SELECT doc_id, tok, start,
        |  unnest(generate_series(start // 256, (start + tok - 1) // 256)) AS seq_id
        | FROM p)
        |SELECT doc_id, seq_id,
        | greatest(seq_id * 256, start) - start AS doc_offset,
        | greatest(seq_id * 256, start) - seq_id * 256 AS seq_offset,
        | least((seq_id + 1) * 256, start + tok) - greatest(seq_id * 256, start) AS n_tokens
        |FROM s""".stripMargin),
    GateQuery("q72_clean_corpus", (s, dir) => {
      // the WHOLE cleaning pipeline as one DataFrame program: minhash
      // near-dup clusters → keep each cluster's canonical (min id) →
      // quality filter → deterministic split of the survivors; every
      // stage is an operator gated on its own elsewhere (q18/q50/q71/
      // q61), composed here end-to-end under one oracle
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          shingleHashesOf = TextFunctions.shingleHashes(_, 3),
          numHashes = 64, bands = 8)
        .filter(col("est_jaccard") >= 0.5)
      val clusters = Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
      val canonical = docs.join(clusters, Seq("doc_id"), "left")
        .filter(col("component").isNull || col("component") === col("doc_id"))
      val verdicts = TextFunctions.qualityFilter(canonical, "doc_id", "text")
      Sampling.deterministicSplit(verdicts.filter(col("keep")), "doc_id",
          Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .select(col("doc_id"), col("split"))
    }, oracleSql =
      // composed replay: cluster closure → canonical → q71's threshold
      // rules → q61's bucket carve, one CTE chain
      s"""WITH RECURSIVE $minhashPairCtes,
         |pr AS (SELECT id_a, id_b FROM scored WHERE est_jaccard >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
         |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY 1),
         |canon AS (SELECT d.doc_id, d.text
         | FROM documents d LEFT JOIN comp c USING (doc_id)
         | WHERE d.text IS NOT NULL
         |  AND (c.component IS NULL OR c.component = d.doc_id)),
         |tq AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS toks,
         |  list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |    x -> x != '')) AS dtoks, text
         | FROM canon),
         |sq AS (SELECT doc_id, len(toks) AS ntok,
         |  CASE WHEN len(toks) = 0 THEN 0
         |   ELSE len(dtoks)::DOUBLE / len(toks) END AS ttr,
         |  round(
         |   (CASE WHEN len(toks) = 0 THEN 0
         |     WHEN length(text)::DOUBLE / len(toks) BETWEEN 3.0 AND 10.0 THEN 1.0
         |     ELSE 0.0 END) * 0.4
         |   + (CASE WHEN length(text) = 0 THEN 0
         |      ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
         |           / length(text) END) * 0.3
         |   + (CASE WHEN len(toks) = 0 THEN 0
         |      ELSE len(dtoks)::DOUBLE / len(toks) END) * 0.3, 6) AS quality
         | FROM tq)
         |SELECT doc_id,
         | CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
         |  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
         |  ELSE 'test' END AS split
         |FROM sq WHERE ntok >= 10 AND quality >= 0.5 AND ttr >= 0.3""".stripMargin),
    GateQuery("q70_vocabulary", (s, dir) => {
      // tokenizer-training vocab: global token counts (one hash agg over
      // exploded tokens), deterministic (count desc, token asc) ranking
      val d = tbl(s, dir, "documents")
      TextFunctions.topVocabulary(d, "text", k = 500)
    }, oracleSql =
      """WITH c AS (SELECT unnest(list_filter(
        |   regexp_split_to_array(lower(text), '\s+'), x -> x != '')) AS token
        | FROM documents),
        |n AS (SELECT token, count(*) AS n FROM c GROUP BY 1)
        |SELECT token, n,
        | CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
        |FROM n QUALIFY rank <= 500""".stripMargin),
    GateQuery("q71_quality_filter", (s, dir) => {
      // the end-of-pipeline keep/drop verdict with auditable reasons —
      // scan-stage threshold rules over the q12/q53 signal family
      val d = tbl(s, dir, "documents")
      TextFunctions.qualityFilter(d, "doc_id", "text")
    }, oracleSql =
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS toks,
        |  list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x != '')) AS dtoks
        | FROM documents),
        |s AS (SELECT doc_id,
        |  len(toks) AS ntok,
        |  CASE WHEN len(toks) = 0 THEN 0
        |   ELSE len(dtoks)::DOUBLE / len(toks) END AS ttr,
        |  round(
        |   (CASE WHEN len(toks) = 0 THEN 0
        |     WHEN length(text)::DOUBLE / len(toks) BETWEEN 3.0 AND 10.0 THEN 1.0
        |     ELSE 0.0 END) * 0.4
        |   + (CASE WHEN length(text) = 0 THEN 0
        |      ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |           / length(text) END) * 0.3
        |   + (CASE WHEN len(toks) = 0 THEN 0
        |      ELSE len(dtoks)::DOUBLE / len(toks) END) * 0.3, 6) AS quality
        | FROM t),
        |r AS (SELECT doc_id, list_filter([
        |   CASE WHEN ntok < 10 THEN 'too_short' END,
        |   CASE WHEN quality < 0.5 THEN 'low_quality' END,
        |   CASE WHEN ttr < 0.3 THEN 'low_diversity' END],
        |  x -> x IS NOT NULL) AS reasons
        | FROM s)
        |SELECT doc_id, len(reasons) = 0 AS keep,
        | coalesce(array_to_string(reasons, ','), '') AS reasons
        |FROM r""".stripMargin),
    GateQuery("q77_repeated_spans", (s, dir) => {
      // repeated-span removal (Lee et al.-style exact-substring dedup at
      // n-gram granularity): every token covered by a 5-gram appearing in
      // >= 2 documents is dropped; output is the surviving normalized
      // token stream + the removed-token audit count
      Dedup.removeRepeatedSpans(
        tbl(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "text", n = 5, minDf = 2)
    }, oracleSql =
      // threshold rules over the exact q12 signal replay
      // replays the positional WIDE shingle-hash stream (two independent
      // polynomial chains combined — see ShingleSpanHashesExpr), flags
      // hashes in >= 2 docs, expands coverage to token indices, anti-joins,
      // and rebuilds the surviving token stream
      s"""WITH th AS ($wideTokHashSql),
         |tk AS (SELECT doc_id, toks FROM th),
         |sh AS (SELECT doc_id, r.i - 1 AS pos,
         |  list_reduce(list_slice(h1s, r.i, r.i + 4),
         |    (a, c) -> (a * 1000003 + c) % 1000000007) * 1000000009
         |  + list_reduce(list_slice(h2s, r.i, r.i + 4),
         |    (a, c) -> (a * 1000033 + c) % 1000000009) AS h
         | FROM th, unnest(range(1, len(h1s) - 3)) r(i)),
         |rep AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT s.doc_id, u.ti
         | FROM sh s JOIN rep USING (h), unnest(range(s.pos, s.pos + 5)) u(ti)),
         |tp AS (SELECT doc_id, r.i - 1 AS ti, toks[r.i] AS tok
         | FROM tk, unnest(range(1, len(toks) + 1)) r(i)),
         |kept AS (SELECT tp.doc_id, tp.ti, tp.tok FROM tp
         | ANTI JOIN cov ON cov.doc_id = tp.doc_id AND cov.ti = tp.ti),
         |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text,
         |  count(*) AS kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(reb.clean_text, '') AS clean_text,
         | CAST(len(t.toks) - coalesce(reb.kept, 0) AS BIGINT) AS n_removed
         |FROM tk t LEFT JOIN reb USING (doc_id)""".stripMargin),
    GateQuery("q75_pii_redact", (s, dir) => {
      // PII scrub stage: the synthetic corpus carries no PII, so the gate
      // INJECTS a deterministic email/IP/phone/card per row (both engines
      // build the same string) and hash-checks the redacted text plus the
      // audit counts — the regex chain itself is what's under test
      val d = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10.2."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".77 call +1 555 01"),
        lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
        lit(" 456 card 4111 1111 1111 1111 end"))
      d.select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          TextFunctions.redactPii(col("t")).as("clean_text"),
          TextFunctions.piiCount(col("t"), "email").as("n_emails"),
          TextFunctions.piiCount(col("t"), "ip").as("n_ips"))
    }, oracleSql =
      // same injection, same four-regex chain; DuckDB regexp_replace needs
      // the 'g' flag (Spark's replaces all occurrences by default)
      """WITH inj AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@mail.example.com from 10.2.'
        |    || (doc_id % 256) || '.77 call +1 555 01'
        |    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |    || ' 456 card 4111 1111 1111 1111 end' AS t
        | FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{4}([ -]\d{4}){3}\b', '<NUMBER>', 'g'),
        |    '\+?\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{3,5}', '<PHONE>', 'g')
        |    AS clean_text,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips
        |FROM inj""".stripMargin),
    GateQuery("q68_source_mix", (s, dir) => {
      // per-source token budget + the equalizing sample weight (the data-
      // mixing knob sheet); exact integer token sums → deterministic shares
      val d = tbl(s, dir, "documents")
      Sampling.mixWeights(
          d.withColumn("tok", TextFunctions.tokenCount(col("text"))),
          "source", "tok")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("token_share"), 6).as("token_share"),
          round(col("uniform_weight"), 6).as("uniform_weight"))
    }, oracleSql =
      """WITH t AS (SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x != ''))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source HAVING n_tokens > 0),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
        |  count(*) AS k FROM t)
        |SELECT source, n_docs, n_tokens,
        | round(n_tokens::DOUBLE / tot::DOUBLE, 6) AS token_share,
        | round(tot::DOUBLE / (k::DOUBLE * n_tokens::DOUBLE), 6) AS uniform_weight
        |FROM t CROSS JOIN tot""".stripMargin),
    GateQuery("q73_pack_by_shard", (s, dir) => {
      // per-shard packing (the production shape): keyed-window prefix
      // sums — every shard an independent partition, no global order
      val d = tbl(s, dir, "documents")
      val toks = d.select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        TextFunctions.tokenCount(col("text")).as("tok"))
      Packing.packSequencesByKey(toks, "shard", "doc_id", "tok", budget = 256)
    }, oracleSql =
      // q60's cut-point arithmetic with PARTITION BY shard
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS tok
        | FROM documents),
        |p AS (SELECT shard, doc_id, tok,
        |  CAST(coalesce(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        | FROM t WHERE tok > 0),
        |s AS (SELECT shard, doc_id, tok, start,
        |  unnest(generate_series(start // 256, (start + tok - 1) // 256)) AS seq_id
        | FROM p)
        |SELECT shard, doc_id, seq_id,
        | greatest(seq_id * 256, start) - start AS doc_offset,
        | greatest(seq_id * 256, start) - seq_id * 256 AS seq_offset,
        | least((seq_id + 1) * 256, start + tok) - greatest(seq_id * 256, start) AS n_tokens
        |FROM s""".stripMargin),
    GateQuery("q61_split", (s, dir) => {
      // deterministic 80/10/10 train/val/test: md5-bucket carving —
      // scan-stage expression, stable under appends and re-partitioning
      val d = tbl(s, dir, "documents")
      Sampling.deterministicSplit(d, "doc_id",
          Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .select(col("doc_id"), col("split"))
    }, oracleSql =
      // md5 hex prefix compared as a string — engine-portable bucketing
      """SELECT doc_id,
        | CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
        |  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin),
    GateQuery("q62_stratified_sample", (s, dir) => {
      // keep a deterministic 20% of every language stratum (md5-rank
      // selection — proportions exact, reproducible, one keyed window)
      val d = tbl(s, dir, "documents")
      Sampling.stratifiedSample(d, "doc_id", Seq("lang"), 0.2)
        .select(col("doc_id"), col("lang"))
    }, oracleSql =
      """WITH s AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(doc_id::VARCHAR), 1, 2), doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n
        | FROM documents)
        |SELECT doc_id, lang FROM s WHERE rk <= ceil(n * 0.2)""".stripMargin),
    // ---- §2.8 spectral / correlation ----------------------------------
    GateQuery("q54_acf_distributed", (s, dir) => {
      // the horizontally-scalable ACF formulation (parallel range sort +
      // a RangeScan carry of the following partitions' heads — no
      // single-partition window) under the hash gate; numerically
      // identical to q26's acfVector up to summation order, so round(6)
      // hashes against the same closed form
      val t = ev(s, dir)
      val vec = Correlation.acfVectorDistributed(t, "value", maxLag = 24)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame((1 to 24).map(l => (l.toLong, r6(vec(l)))))
        .toDF("lag", "acf")
    }, oracleSql =
      s"""WITH s AS (SELECT value, row_number() OVER ($tsOrder) AS rn FROM events),
         |mu AS (SELECT avg(value) AS mu FROM s),
         |c AS (SELECT rn, value - (SELECT mu FROM mu) AS xc FROM s),
         |den AS (SELECT sum(xc*xc) AS s0 FROM c)
         |SELECT CAST(lg.lag AS BIGINT) AS lag,
         | round(sum(a.xc*b.xc) / (SELECT s0 FROM den), 6) AS acf
         |FROM range(1, 25) lg(lag)
         |JOIN c a ON a.rn > lg.lag
         |JOIN c b ON b.rn = a.rn - lg.lag
         |GROUP BY 1""".stripMargin),
    GateQuery("q26_acf", (s, dir) => {
      val t = ev(s, dir)
      val (vec, n) = Correlation.acfVectorWithCount(t, "value", maxLag = 48)
      // Bartlett 95% confint columns (statsmodels acf(alpha=.05)); the
      // oracle replays the closed form over its own ACF CTE
      val ci = Correlation.acfConfint(vec, n, 0.05)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame((1 to 48).map(l =>
        (l.toLong, r6(vec(l)), r6(ci(l)._1), r6(ci(l)._2))))
        .toDF("lag", "acf", "ci_low", "ci_high")
    }, oracleSql =
      s"""WITH s AS (SELECT value, row_number() OVER ($tsOrder) AS rn FROM events),
         |mu AS (SELECT avg(value) AS mu FROM s),
         |c AS (SELECT rn, value - (SELECT mu FROM mu) AS xc FROM s),
         |den AS (SELECT sum(xc*xc) AS s0 FROM c),
         |n AS (SELECT count(*) AS n FROM events),
         |acf AS (SELECT lg.lag AS lag, sum(a.xc*b.xc) / (SELECT s0 FROM den) AS acf
         | FROM range(1, 49) lg(lag)
         | JOIN c a ON a.rn > lg.lag
         | JOIN c b ON b.rn = a.rn - lg.lag
         | GROUP BY 1),
         |ci AS (SELECT lag, acf,
         |  1.959963984540054 * sqrt((1 + 2 * coalesce(sum(acf*acf) OVER
         |    (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
         |    / (SELECT n FROM n)) AS iv
         | FROM acf)
         |SELECT lag, round(acf, 6) AS acf,
         | round(acf - iv, 6) AS ci_low, round(acf + iv, 6) AS ci_high
         |FROM ci""".stripMargin),
    GateQuery("q27_pacf", (s, dir) => {
      // Levinson-Durbin over the ACF — mirrored by a recursive-CTE oracle
      val t = ev(s, dir)
      val vec = Correlation.pacfVector(Correlation.acfVector(t, "value", 48))
      s.createDataFrame((1 to 48).map(l =>
        (l.toLong, BigDecimal(vec(l)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))).toDF("lag", "pacf")
    }, oracleSql = {
      // kk = φ_{k+1,k+1} of the Levinson-Durbin step, spliced verbatim where
      // the recursion needs it (DuckDB recursive CTEs have no LATERAL alias)
      val kk = "((r[k+2] - list_sum(list_transform(range(1, k + 1), " +
        "j2 -> phi[j2]*r[k+2-j2]))) / e)"
      s"""WITH RECURSIVE s AS (SELECT value, row_number() OVER ($tsOrder) AS rn FROM events),
         |mu AS (SELECT avg(value) AS mu FROM s),
         |c AS (SELECT rn, value - (SELECT mu FROM mu) AS xc FROM s),
         |den AS (SELECT sum(xc*xc) AS s0 FROM c),
         |acfv AS (SELECT list_prepend(1.0, list(a ORDER BY lag)) AS r FROM (
         | SELECT lg.lag AS lag, sum(a.xc*b.xc) / (SELECT s0 FROM den) AS a
         | FROM range(1, 49) lg(lag)
         | JOIN c a ON a.rn > lg.lag
         | JOIN c b ON b.rn = a.rn - lg.lag
         | GROUP BY 1)),
         |ld AS (
         | SELECT 1 AS k, [r[2]] AS phi, 1.0 - r[2]*r[2] AS e, r[2] AS pacf FROM acfv
         | UNION ALL
         | SELECT k + 1,
         |  list_append(list_transform(range(1, k + 1),
         |    j -> phi[j] - $kk * phi[k + 1 - j]), $kk),
         |  e * (1.0 - $kk * $kk),
         |  $kk
         | FROM ld, acfv WHERE k < 48)
         |SELECT CAST(k AS BIGINT) AS lag, round(pacf, 6) AS pacf FROM ld""".stripMargin
    }),
    GateQuery("q28_periodogram", (s, dir) => {
      val d = daily(s, dir)
      Periodogram.spectrum(d, "v", detrend = "diff")
        .select(round(col("period"), 6).as("period"),
          round(col("power"), 6).as("power"))
    }, oracleSql = periodogramSql),
    GateQuery("q82_periodogram_fft", (s, dir) => {
      // single-series FFT twin under q28's DFT oracle: the gathered
      // mixed-radix FFT (constant-key spectrumByKeyFft) must reproduce
      // the cross-join DFT spectrum on the daily series
      val d = daily(s, dir)
      Periodogram.spectrumFft(d, "v", detrend = "diff")
        .select(round(col("period"), 6).as("period"),
          round(col("power"), 6).as("power"))
    }, oracleSql = periodogramSql),
    GateQuery("q29_seasonal", (s, dir) => {
      val d = daily(s, dir)
      SeasonalDecompose(d, Seq("v"), period = 7, model = "additive")
        .select(unix_seconds(col("d")).as("day_s"),
          round(col("v_adjusted"), 6).as("v_adjusted"),
          round(col("v_seasonal"), 6).as("v_seasonal"),
          round(col("v_trend"), 6).as("v_trend"),
          round(col("v_residual"), 6).as("v_residual"))
    }, oracleSql =
      s"""WITH daily AS ($dailySql),
         |idx AS (SELECT d, v, row_number() OVER (ORDER BY d) - 1 AS rn FROM daily),
         |params AS (SELECT count(*) AS n, 3 AS first, count(*) - 4 AS last,
         |  least(3 + 3, count(*) - 4) AS firstEnd,
         |  greatest(3, count(*) - 4 - 3) AS lastStart FROM idx),
         |tr AS (SELECT idx.*, CASE WHEN rn >= (SELECT first FROM params)
         |         AND rn <= (SELECT last FROM params)
         |        THEN avg(v) OVER (ORDER BY rn ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |        END AS trend0 FROM idx),
         |fit AS (SELECT
         |  regr_slope(CASE WHEN rn >= (SELECT first FROM params) AND rn < (SELECT firstEnd FROM params) THEN trend0 END,
         |             CASE WHEN rn >= (SELECT first FROM params) AND rn < (SELECT firstEnd FROM params) THEN rn END) AS k1,
         |  regr_intercept(CASE WHEN rn >= (SELECT first FROM params) AND rn < (SELECT firstEnd FROM params) THEN trend0 END,
         |                 CASE WHEN rn >= (SELECT first FROM params) AND rn < (SELECT firstEnd FROM params) THEN rn END) AS c1,
         |  regr_slope(CASE WHEN rn >= (SELECT lastStart FROM params) AND rn < (SELECT last FROM params) THEN trend0 END,
         |             CASE WHEN rn >= (SELECT lastStart FROM params) AND rn < (SELECT last FROM params) THEN rn END) AS k2,
         |  regr_intercept(CASE WHEN rn >= (SELECT lastStart FROM params) AND rn < (SELECT last FROM params) THEN trend0 END,
         |                 CASE WHEN rn >= (SELECT lastStart FROM params) AND rn < (SELECT last FROM params) THEN rn END) AS c2
         | FROM tr),
         |ph AS (SELECT rn % 7 AS phase, avg(v - trend0) AS pavg FROM tr GROUP BY 1),
         |g AS (SELECT avg(pavg) AS grand FROM ph)
         |SELECT CAST(epoch(tr.d) AS BIGINT) AS day_s,
         | round(tr.v - (ph.pavg - (SELECT grand FROM g)), 6) AS v_adjusted,
         | round(ph.pavg - (SELECT grand FROM g), 6) AS v_seasonal,
         | round(CASE WHEN tr.rn < (SELECT first FROM params)
         |         THEN tr.rn * (SELECT k1 FROM fit) + (SELECT c1 FROM fit)
         |        WHEN tr.rn > (SELECT last FROM params)
         |         THEN tr.rn * (SELECT k2 FROM fit) + (SELECT c2 FROM fit)
         |        ELSE tr.trend0 END, 6) AS v_trend,
         | round(tr.v - (ph.pavg - (SELECT grand FROM g))
         |   - (CASE WHEN tr.rn < (SELECT first FROM params)
         |         THEN tr.rn * (SELECT k1 FROM fit) + (SELECT c1 FROM fit)
         |        WHEN tr.rn > (SELECT last FROM params)
         |         THEN tr.rn * (SELECT k2 FROM fit) + (SELECT c2 FROM fit)
         |        ELSE tr.trend0 END), 6) AS v_residual
         |FROM tr JOIN ph ON tr.rn % 7 = ph.phase""".stripMargin),
    GateQuery("q30_lomb_scargle", (s, dir) => {
      // scipy-convention Lomb-Scargle peaks; the 5-sum tau identity is
      // plain trig-sum SQL, so the oracle replays it
      val t = ev(s, dir)
      val withT = t.copy(df = t.df.withColumn("tsec", col("ts").cast("double")),
        timeCol = Some("tsec"))
      Periodogram.lombScargle(withT, "value", nPeriods = 200, detrend = "linear")
        .select(round(col("period"), 6).as("period"),
          round(col("pgram"), 6).as("pgram"))
    }, oracleSql =
      """WITH base AS (SELECT epoch_us(ts)/1000000.0 AS t, value AS x FROM events),
        |ser0 AS (SELECT t, x, CAST(row_number() OVER (ORDER BY t) - 1 AS DOUBLE) AS i FROM base),
        |fit AS (SELECT regr_slope(x, i) AS k, regr_intercept(x, i) AS c FROM ser0),
        |ser AS (SELECT t, x - (i * (SELECT k FROM fit) + (SELECT c FROM fit)) AS x FROM ser0),
        |st AS (SELECT count(*) AS n, var_pop(x) AS v FROM ser),
        |dts AS (SELECT t - lag(t) OVER (ORDER BY t) AS dt FROM base QUALIFY dt IS NOT NULL),
        |pct AS (SELECT quantile_cont(dt, 0.05) AS p5,
        |  greatest(200*quantile_cont(dt, 0.05), quantile_cont(dt, 0.80)) AS ph FROM dts),
        |grid AS (SELECT 2*pi() / ((SELECT ph FROM pct)
        |   + ((SELECT p5 FROM pct) - (SELECT ph FROM pct)) * g.j / 199.0) AS omega
        | FROM range(0, 200) g(j)),
        |sums AS (SELECT omega,
        |  sum(x * cos(omega*t)) AS xc, sum(x * sin(omega*t)) AS xs,
        |  sum(cos(omega*t)*cos(omega*t)) AS cc, sum(sin(omega*t)*sin(omega*t)) AS ss,
        |  sum(sin(omega*t)*cos(omega*t)) AS cs
        | FROM ser CROSS JOIN grid GROUP BY omega),
        |tau AS (SELECT *, cos(atan2(2.0*cs, cc - ss)/2) AS ct, sin(atan2(2.0*cs, cc - ss)/2) AS st2 FROM sums),
        |spec AS (SELECT 2*pi()/omega AS period,
        |  ((ct*xc + st2*xs)*(ct*xc + st2*xs) / (ct*ct*cc + 2.0*ct*st2*cs + st2*st2*ss)
        |   + (ct*xs - st2*xc)*(ct*xs - st2*xc) / (st2*st2*cc - 2.0*ct*st2*cs + ct*ct*ss)) / 2.0
        |   * (2.0 / ((SELECT n FROM st) * (SELECT v FROM st))) AS power
        | FROM tau),
        |sc AS (SELECT period, (power - min(power) OVER ())
        |  / (max(power) OVER () - min(power) OVER ()) AS pgram FROM spec),
        |pk AS (SELECT period, pgram,
        |  lag(pgram,1) OVER w AS l1, lag(pgram,2) OVER w AS l2, lag(pgram,3) OVER w AS l3,
        |  lag(pgram,4) OVER w AS l4, lag(pgram,5) OVER w AS l5,
        |  lead(pgram,1) OVER w AS f1, lead(pgram,2) OVER w AS f2, lead(pgram,3) OVER w AS f3,
        |  lead(pgram,4) OVER w AS f4, lead(pgram,5) OVER w AS f5
        | FROM sc WINDOW w AS (ORDER BY period))
        |SELECT round(period, 6) AS period, round(pgram, 6) AS pgram FROM pk
        |WHERE l1 IS NOT NULL AND f1 IS NOT NULL
        | AND (l1 IS NULL OR pgram > l1) AND (l2 IS NULL OR pgram > l2)
        | AND (l3 IS NULL OR pgram > l3) AND (l4 IS NULL OR pgram > l4)
        | AND (l5 IS NULL OR pgram > l5)
        | AND (f1 IS NULL OR pgram > f1) AND (f2 IS NULL OR pgram > f2)
        | AND (f3 IS NULL OR pgram > f3) AND (f4 IS NULL OR pgram > f4)
        | AND (f5 IS NULL OR pgram > f5)""".stripMargin),
    // ---- §2.9 forecast models (golden-pinned gate: the iterative MLE
    // fits have no ANSI-SQL oracle, so outputs are rounded to the spec
    // tolerance and the oracle replays a checked-in expected table keyed
    // by data scale — the fit NUMERICS are independently validated
    // against statsmodels goldens in the model specs) -------------------
    GateQuery("q31_arima_forecast", (s, dir) => {
      val d = daily(s, dir)
      val y = ModelEvaluation.collectSeries(d, Seq("v")).map(_.head)
      val (fo, lo, hi) = new Arima(2, 1, 0).fit(y).predict(7)
      s.createDataFrame((0 until 7).map(i =>
        (i + 1L, fo(i), lo(i), hi(i)))).toDF("step", "forecast", "ci_low", "ci_high")
        .select(col("step"), round(col("forecast"), 4).as("forecast"),
          round(col("ci_low"), 4).as("ci_low"), round(col("ci_high"), 4).as("ci_high"))
    }, oracleSql =
      s"""SELECT CAST(step AS BIGINT) AS step, CAST(forecast AS DOUBLE) AS forecast,
         | CAST(ci_low AS DOUBLE) AS ci_low, CAST(ci_high AS DOUBLE) AS ci_high
         |FROM (VALUES
         | (1, 1, 49.5486, 42.9291, 56.1681),
         | (1, 2, 50.2096, 43.5101, 56.9091),
         | (1, 3, 48.093, 40.7769, 55.4092),
         | (1, 4, 49.5991, 41.4004, 57.7977),
         | (1, 5, 49.2258, 40.7243, 57.7274),
         | (1, 6, 48.9019, 39.8351, 57.9687),
         | (1, 7, 49.3336, 39.7817, 58.8856),
         | (2, 1, 50.1741, 48.494, 51.8543),
         | (2, 2, 50.3342, 48.564, 52.1043),
         | (2, 3, 50.1029, 48.2515, 51.9542),
         | (2, 4, 50.1845, 48.0493, 52.3198),
         | (2, 5, 50.2353, 47.9813, 52.4894),
         | (2, 6, 50.1642, 47.8001, 52.5283),
         | (2, 7, 50.1886, 47.6679, 52.7093)
         |) AS g(sf, step, forecast, ci_low, ci_high)
         |WHERE sf = $sfTagSql""".stripMargin),
    GateQuery("q32_var_forecast", (s, dir) => {
      val d = daily(s, dir)
      val m = ModelEvaluation.collectSeries(d, Seq("v", "c"))
      val (fo, lo, hi) = new Var(Some(2)).fit(m).predict(7)
      val raw = s.createDataFrame((0 until 7).map(i =>
        (i + 1L, fo(i)(0), lo(i)(0), hi(i)(0), fo(i)(1), lo(i)(1), hi(i)(1))))
        .toDF("step", "v_forecast", "v_lo", "v_hi", "c_forecast", "c_lo", "c_hi")
      raw.select((col("step") +: raw.columns.tail.toIndexedSeq.map(c =>
        round(col(c), 4).as(c))): _*)
    }, oracleSql =
      s"""SELECT CAST(step AS BIGINT) AS step,
         | CAST(v_forecast AS DOUBLE) AS v_forecast, CAST(v_lo AS DOUBLE) AS v_lo,
         | CAST(v_hi AS DOUBLE) AS v_hi, CAST(c_forecast AS DOUBLE) AS c_forecast,
         | CAST(c_lo AS DOUBLE) AS c_lo, CAST(c_hi AS DOUBLE) AS c_hi
         |FROM (VALUES
         | (1, 1, 50.0927, 44.1545, 56.0309, 340.4694, 312.9349, 368.004),
         | (1, 2, 49.8495, 43.4867, 56.2124, 327.0177, 299.3868, 354.6486),
         | (1, 3, 49.4823, 43.1163, 55.8483, 333.4822, 304.4481, 362.5164),
         | (1, 4, 49.6833, 43.3135, 56.0531, 331.8781, 302.6786, 361.0776),
         | (1, 5, 49.6134, 43.2428, 55.984, 332.0294, 302.8227, 361.2361),
         | (1, 6, 49.6276, 43.257, 55.9983, 332.1339, 302.9272, 361.3406),
         | (1, 7, 49.6282, 43.2575, 55.9989, 332.0586, 302.8518, 361.2654),
         | (2, 1, 49.7805, 48.1802, 51.3808, 3340.5989, 3226.8186, 3454.3791),
         | (2, 2, 49.8858, 48.2686, 51.503, 3338.4944, 3224.6961, 3452.2928),
         | (2, 3, 49.889, 48.2503, 51.5277, 3336.383, 3222.1752, 3450.5908),
         | (2, 4, 49.8672, 48.2274, 51.507, 3336.759, 3222.5458, 3450.9723),
         | (2, 5, 49.8685, 48.2281, 51.5088, 3336.6753, 3222.457, 3450.8935),
         | (2, 6, 49.872, 48.2316, 51.5124, 3336.5872, 3222.3688, 3450.8056),
         | (2, 7, 49.8713, 48.2309, 51.5117, 3336.5841, 3222.3655, 3450.8026)
         |) AS g(sf, step, v_forecast, v_lo, v_hi, c_forecast, c_lo, c_hi)
         |WHERE sf = $sfTagSql""".stripMargin),
    GateQuery("q33_model_eval", (s, dir) => {
      val d = daily(s, dir)
      val raw = ModelEvaluation.evaluate(s, d, Seq("v"),
        Seq(ModelEvaluation.ArimaSpec2(1, 1, 0), ModelEvaluation.VarSpec(1)),
        nFolds = 3, forecastSteps = 3)
      raw.select((col("model") +: raw.columns.tail.toIndexedSeq.map(c =>
        round(col(c), 4).as(c))): _*)
    }, oracleSql =
      s"""SELECT model, CAST(rmse AS DOUBLE) AS rmse, CAST(mae AS DOUBLE) AS mae,
         | CAST(mape AS DOUBLE) AS mape, CAST(pocid AS DOUBLE) AS pocid,
         | CAST(r2 AS DOUBLE) AS r2, CAST(aic AS DOUBLE) AS aic,
         | CAST(bic AS DOUBLE) AS bic
         |FROM (VALUES
         | (1, 'ARIMA(1,1,0)', 4.148, 3.9901, 0.0775, 62.5, -1.3897, 162.6527, 165.3873),
         | (1, 'ARIMA(1,1,0) (in-sample)', 3.6373, 2.7516, 0.0587, 31.0345, -0.6328, 162.6527, 165.3873),
         | (1, 'VAR(1)', 2.8239, 1.8661, 0.0488, 87.5, -0.1075, 2.1565, 2.2508),
         | (1, 'VAR(1) (in-sample)', 2.7436, 1.7817, 0.0435, 71.4286, 0.1016, 2.1565, 2.2508),
         | (2, 'ARIMA(1,1,0)', 1.1836, 0.6507, 0.018, 37.5, -1.5373, 84.717, 87.4516),
         | (2, 'ARIMA(1,1,0) (in-sample)', 0.953, 0.5972, 0.014, 31.0345, -0.689, 84.717, 87.4516),
         | (2, 'VAR(1)', 0.8384, 0.556, 0.0123, 62.5, -0.2731, -0.4549, -0.3606),
         | (2, 'VAR(1) (in-sample)', 0.7435, 0.5494, 0.0118, 71.4286, 0.006, -0.4549, -0.3606)
         |) AS g(sf, model, rmse, mae, mape, pocid, r2, aic, bic)
         |WHERE sf = $sfTagSql""".stripMargin),
    GateQuery("q34_granger", (s, dir) => {
      val d = daily(s, dir)
      Granger.causality(s, d, Seq("v", "c"), maxLag = 5, alpha = 0.5)
        .select(col("lag"), round(col("p_value"), 4).as("p_value"),
          col("antecedent"), col("consequent"))
    }, oracleSql =
      s"""SELECT CAST(lag AS BIGINT) AS lag, CAST(p_value AS DOUBLE) AS p_value,
         | antecedent, consequent
         |FROM (VALUES
         | (1, 1, 0.4699, 'v', 'c'),
         | (2, 5, 0.2971, 'c', 'v')
         |) AS g(sf, lag, p_value, antecedent, consequent)
         |WHERE sf = $sfTagSql""".stripMargin),
    GateQuery("q63_granger_lag1", (s, dir) => {
      // the Granger F-test core under the hash gate: daily whole-unit
      // totals and event counts are INTEGER inputs, so the ten normal-
      // equation sums are exact and the fixed-order Cramer arithmetic
      // (Granger.lag1ClosedForm ↔ the oracle's CTE chain) reproduces the
      // F-statistic bit-for-bit — converts q34's rows-only core to a
      // hash-checked surface (only the F→p CDF stays driver-side)
      val t = ev(s, dir)
      val d = MovingTransform.timePeriods(t, "days", Seq("value_cents" -> "sum"))
        .select(col("days").as("d"),
          expr("CAST(value_cents_sum AS BIGINT) div 100").as("y"),
          col("instance_count").cast("long").as("x"))
      Granger.lag1ClosedForm(d, "y", "x", "d")
        .select(col("n"),
          round(col("beta_ylag"), 6).as("beta_ylag"),
          round(col("beta_xlag"), 6).as("beta_xlag"),
          round(col("rss_r"), 2).as("rss_r"),
          round(col("rss_u"), 2).as("rss_u"),
          round(col("f_stat"), 6).as("f_stat"))
    }, oracleSql =
      // lag-1 Granger F replay: exact integer sums → fixed-order Cramer —
      // operation order mirrors Granger.lag1ClosedForm statement by statement
      s"""WITH d AS (SELECT date_trunc('day', ts) AS d,
         |  CAST(sum($centsSql) // 100 AS BIGINT) AS y, count(*) AS x
         | FROM events GROUP BY 1),
         |l AS (SELECT y, lag(y) OVER (ORDER BY d) AS u,
         |  lag(x) OVER (ORDER BY d) AS wl FROM d),
         |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(u) AS DOUBLE) AS su, CAST(sum(wl) AS DOUBLE) AS sw,
         |  CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(u*u) AS DOUBLE) AS suu,
         |  CAST(sum(wl*wl) AS DOUBLE) AS sww, CAST(sum(u*wl) AS DOUBLE) AS suw,
         |  CAST(sum(u*y) AS DOUBLE) AS suy, CAST(sum(wl*y) AS DOUBLE) AS swy,
         |  CAST(sum(y*y) AS DOUBLE) AS syy
         | FROM l WHERE u IS NOT NULL AND wl IS NOT NULL),
         |r1 AS (SELECT s.*, (n*suy - su*sy) / (n*suu - su*su) AS b_r FROM s),
         |r2 AS (SELECT r1.*, (sy - b_r*su) / n AS a_r FROM r1),
         |r3 AS (SELECT r2.*, syy - a_r*sy - b_r*suy AS rss_rv FROM r2),
         |u1 AS (SELECT r3.*,
         |  suu*(sww*n - sw*sw) - suw*(suw*n - sw*su) + su*(suw*sw - sww*su) AS dd,
         |  suy*(sww*n - sw*sw) - suw*(swy*n - sw*sy) + su*(swy*sw - sww*sy) AS d1,
         |  suu*(swy*n - sw*sy) - suy*(suw*n - sw*su) + su*(suw*sy - swy*su) AS d2,
         |  suu*(sww*sy - swy*sw) - suw*(suw*sy - swy*su) + suy*(suw*sw - sww*su) AS d3
         | FROM r3),
         |u2 AS (SELECT u1.*, d1/dd AS b1, d2/dd AS b2, d3/dd AS cc FROM u1),
         |u3 AS (SELECT u2.*, syy - b1*suy - b2*swy - cc*sy AS rss_uv FROM u2)
         |SELECT CAST(n AS BIGINT) AS n,
         | round(b1, 6) AS beta_ylag, round(b2, 6) AS beta_xlag,
         | round(rss_rv, 2) AS rss_r, round(rss_uv, 2) AS rss_u,
         | round((rss_rv - rss_uv) / (rss_uv / (n - 3)), 6) AS f_stat
         |FROM u3""".stripMargin),
    GateQuery("q64_granger_by_key", (s, dir) => {
      // per-series Granger at scale: lags → exact sums → Cramer all as
      // Column arithmetic — one keyed window + one aggregate, zero
      // driver math; "does event count lead spend" per user
      val e = tbl(s, dir, "events")
      val perUserDaily = e
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value*100) AS BIGINT)")).as("y"),
          count(lit(1)).as("x"))
      Granger.lag1ClosedFormByKey(perUserDaily, "y", "x", "d",
          Seq("user_id"), minRows = 10)
        .select(col("user_id"), col("n"),
          round(col("beta_ylag"), 6).as("beta_ylag"),
          round(col("beta_xlag"), 6).as("beta_xlag"),
          round(col("rss_r"), 2).as("rss_r"),
          round(col("rss_u"), 2).as("rss_u"),
          round(col("f_stat"), 6).as("f_stat"))
    }, oracleSql =
      // per-user replay of the same fixed-order arithmetic, keyed windows
      s"""WITH d AS (SELECT user_id, date_trunc('day', ts) AS d,
         |  CAST(sum($centsSql) AS BIGINT) AS y, count(*) AS x
         | FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, y,
         |  lag(y) OVER (PARTITION BY user_id ORDER BY d) AS u,
         |  lag(x) OVER (PARTITION BY user_id ORDER BY d) AS wl FROM d),
         |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nn,
         |  CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(u) AS DOUBLE) AS su, CAST(sum(wl) AS DOUBLE) AS sw,
         |  CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(u*u) AS DOUBLE) AS suu,
         |  CAST(sum(wl*wl) AS DOUBLE) AS sww, CAST(sum(u*wl) AS DOUBLE) AS suw,
         |  CAST(sum(u*y) AS DOUBLE) AS suy, CAST(sum(wl*y) AS DOUBLE) AS swy,
         |  CAST(sum(y*y) AS DOUBLE) AS syy
         | FROM l WHERE u IS NOT NULL AND wl IS NOT NULL
         | GROUP BY user_id HAVING count(*) >= 10),
         |s2 AS (SELECT * FROM s WHERE (n*suu - su*su) != 0 AND
         |  (suu*(sww*n - sw*sw) - suw*(suw*n - sw*su) + su*(suw*sw - sww*su)) != 0),
         |r1 AS (SELECT s2.*, (n*suy - su*sy) / (n*suu - su*su) AS b_r FROM s2),
         |r2 AS (SELECT r1.*, (sy - b_r*su) / n AS a_r FROM r1),
         |r3 AS (SELECT r2.*, syy - a_r*sy - b_r*suy AS rss_rv FROM r2),
         |u1 AS (SELECT r3.*,
         |  suu*(sww*n - sw*sw) - suw*(suw*n - sw*su) + su*(suw*sw - sww*su) AS dd,
         |  suy*(sww*n - sw*sw) - suw*(swy*n - sw*sy) + su*(swy*sw - sww*sy) AS d1,
         |  suu*(swy*n - sw*sy) - suy*(suw*n - sw*su) + su*(suw*sy - swy*su) AS d2,
         |  suu*(sww*sy - swy*sw) - suw*(suw*sy - swy*su) + suy*(suw*sw - sww*su) AS d3
         | FROM r3),
         |u2 AS (SELECT u1.*, d1/dd AS b1, d2/dd AS b2, d3/dd AS cc FROM u1),
         |u3 AS (SELECT u2.*, syy - b1*suy - b2*swy - cc*sy AS rss_uv FROM u2)
         |SELECT user_id, nn AS n,
         | round(b1, 6) AS beta_ylag, round(b2, 6) AS beta_xlag,
         | round(rss_rv, 2) AS rss_r, round(rss_uv, 2) AS rss_u,
         | round((rss_rv - rss_uv) / (rss_uv / (n - 3)), 6) AS f_stat
         |FROM u3 WHERE rss_uv != 0""".stripMargin),
    // ---- multimodal / ingest / multi-series / selection ---------------
    GateQuery("q80_strided_positional_rangepart", (s, dir) => {
      // the POSITIONAL half of the 18-agg registry through the range-
      // partitioned strided path (VERDICT r6 task 3): linear-MA weights
      // are integers and value_cents is integral, so the weighted sum and
      // its denominator are exact and order-independent under the parallel
      // hash aggregate — one exact division each, hashable; cumsum rides
      // the two-phase prefix scan (integer partials, order-independent);
      // mean is the block-agg control column
      val t = ev(s, dir)
      MovingTransform.stridedRangePart(t,
          Seq("value_cents" -> "lin_ma", "value_cents" -> "cumsum",
            "value_cents" -> "mean"),
          width = 40, shift = 15)
        .select(col("window_index"),
          round(col("value_cents_lin_ma") / 100.0, 6).as("v_lin_ma"),
          round(col("value_cents_cumsum") / 100.0, 6).as("v_cumsum"),
          round(col("value_cents_mean") / 100.0, 6).as("v_mean"))
    }, oracleSql =
      // q80: windows of 40 every 15 rows over the (ts, event_id) order.
      // The membership join replays the explode (row i ∈ window j iff
      // j*15 <= i < j*15+40, position p = i - j*15); lin_ma is the exact
      // integer weighted sum over positions (weights 1..40, oldest first);
      // cumsum is the full-prefix running sum sampled at window ends
      // (np.nancumsum[width-1::shift], aggregate.py:86-92). Division order
      // mirrors the Spark side exactly: (num/den)/100, (S/40)/100.
      s"""WITH ord AS (SELECT row_number() OVER ($tsOrder) - 1 AS i,
         |  $centsSql AS v FROM events),
         |js AS (SELECT unnest(generate_series(0,
         |  CAST(((SELECT count(*) FROM ord) - 40) / 15 AS BIGINT))) AS j),
         |m AS (SELECT j, i - j * 15 AS p, v FROM js
         |  JOIN ord ON i >= j * 15 AND i < j * 15 + 40),
         |cs AS (SELECT i, sum(v) OVER (ORDER BY i
         |  ROWS UNBOUNDED PRECEDING) AS run FROM ord),
         |g AS (SELECT j AS window_index,
         |  round(sum((p + 1) * v) * 1.0 / sum(p + 1) / 100.0, 6) AS v_lin_ma,
         |  round(sum(v) / 40 / 100.0, 6) AS v_mean
         | FROM m GROUP BY j HAVING count(*) = 40)
         |SELECT g.window_index, g.v_lin_ma,
         | round(cs.run / 100.0, 6) AS v_cumsum, g.v_mean
         |FROM g JOIN cs ON cs.i = g.window_index * 15 + 39""".stripMargin),
    GateQuery("q101_orange_csv_roundtrip", (s, dir) => {
      // §2.1 file save + scan under the hash gate: write a 3-row-header
      // .tab (time/continuous/discrete columns with class/meta roles) to
      // a temp dir, read it back with the Orange reader, and project the
      // value/meta columns BY ROLE (colsWithRole) — the oracle replays
      // the derivation straight from events, so a wrong header walk,
      // role mapping, type parse, or time format breaks the hash.
      // Timestamps truncate to seconds (the interchange format's
      // resolution); the value rides as exact cents/100 so the
      // double→text→double round-trip is identity.
      import graft.ingest.OrangeCsv
      import org.apache.spark.sql.types.MetadataBuilder
      def md(role: String, tpe: String) = new MetadataBuilder()
        .putString("role", role).putString("orangeType", tpe).build()
      val base = tbl(s, dir, "events").select(
        date_trunc("second", col("ts")).as("when", md("feature", "t")),
        col("event_id").cast("double").as("eid", md("feature", "c")),
        (round(col("value") * 100) / 100.0).as("val", md("target", "c")),
        col("user_id").cast("string").as("who", md("meta", "d")))
      val tsf = TimeseriesFrame(base, Some("when"), Seq("eid"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q101_roundtrip"
      OrangeCsv.write(tsf, path, sep = "\t")
      val back = OrangeCsv.read(s, path, sep = "\t")
      val target = OrangeCsv.colsWithRole(back.df, "target")
      val metaCols = OrangeCsv.colsWithRole(back.df, "meta")
      require(target == Seq("val") && metaCols == Seq("who"),
        s"roles did not round-trip: target=$target meta=$metaCols")
      back.df.select(unix_seconds(col("when")).as("t_s"),
        col("eid").cast("long").as("event_id"),
        col(target.head).as("target_val"),
        col(metaCols.head).as("meta_who"))
    }, oracleSql =
      s"""SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t_s,
         | event_id,
         | CAST(round(value*100) AS BIGINT) / 100.0 AS target_val,
         | CAST(user_id AS VARCHAR) AS meta_who
         |FROM events""".stripMargin),
    GateQuery("q102_finance_ohlcv", (s, dir) => {
      // §2.1 Yahoo/Quandl-shaped OHLCV ingest under the hash gate via the
      // pluggable file:// transport: derive a deterministic daily OHLCV
      // CSV from orders, read it back through readOhlcv (header infer,
      // Date→time, Close→target role), and project by role — the oracle
      // replays the daily aggregation straight from orders. min/max/count
      // involve no float summation, so the CSV round-trip is exact.
      import graft.ingest.{Finance, OrangeCsv}
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q102_ohlcv"
      tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").as("Date"))
        .agg(count(lit(1)).cast("double").as("Open"),
          max(col("o_totalprice")).as("High"),
          min(col("o_totalprice")).as("Low"),
          ((max(col("o_totalprice")) + min(col("o_totalprice"))) / 2).as("Close"),
          count(lit(1)).cast("double").as("Volume"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      val back = Finance.readOhlcv(s, path)
      val target = OrangeCsv.colsWithRole(back.df, "target")
      require(target == Seq("Close"), s"target role: $target")
      back.df.select(unix_seconds(col("Date")).as("t_s"),
        col(target.head).as("close_target"),
        col("High").as("high"), col("Low").as("low"),
        col("Volume").cast("long").as("volume"))
    }, oracleSql =
      s"""SELECT CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS t_s,
         | (max(o_totalprice) + min(o_totalprice)) / 2 AS close_target,
         | max(o_totalprice) AS high, min(o_totalprice) AS low,
         | count(*) AS volume
         |FROM orders GROUP BY o_orderdate""".stripMargin),
    GateQuery("q103_discrete_fill", (s, dir) => {
      // §2.7 discrete fill under the hash gate, both methods applied in
      // sequence on twin columns: global-mode fill (tie-free by
      // construction — 'major' holds a strict majority over the m0..m4
      // minority on the dense event_id set, so DuckDB's arbitrary-tie
      // mode agrees with the smallest-tie rule) and nearest-in-time fill
      // (q11's window replay).
      val t0 = ev(s, dir)
      val dcat = when(col("event_id") % 3 === 0, lit(null).cast("string"))
        .when(col("event_id") % 2 === 0, lit("major"))
        .otherwise(concat(lit("m"), col("event_id") % 5))
      val d = t0.df.withColumn("dcat", dcat).withColumn("dcat2", dcat)
      val modeFilled = Interpolate.discrete(t0.copy(df = d), "dcat", "mode")
      val bothFilled = Interpolate.discrete(t0.copy(df = modeFilled), "dcat2", "nearest")
      bothFilled.select(col("event_id"),
        col("dcat").as("dcat_mode"), col("dcat2").as("dcat_nearest"))
    }, oracleSql =
      s"""WITH s AS (SELECT event_id, ts, epoch(ts) AS tt,
         |  CASE WHEN event_id % 3 = 0 THEN NULL
         |       WHEN event_id % 2 = 0 THEN 'major'
         |       ELSE 'm' || CAST(event_id % 5 AS VARCHAR) END AS dcat
         | FROM events),
         |m AS (SELECT dcat FROM s WHERE dcat IS NOT NULL
         | GROUP BY 1 ORDER BY count(*) DESC, dcat LIMIT 1),
         |t AS (SELECT event_id, tt, dcat,
         |  last_value(dcat IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN dcat IS NOT NULL THEN tt END IGNORE NULLS) OVER wp AS pt,
         |  first_value(dcat IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN dcat IS NOT NULL THEN tt END IGNORE NULLS) OVER wn AS nt
         | FROM s
         | WINDOW wp AS ($tsOrder ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        wn AS ($tsOrder ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_id,
         | coalesce(dcat, (SELECT dcat FROM m)) AS dcat_mode,
         | coalesce(dcat, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |   WHEN tt - pt <= nt - tt THEN pv ELSE nv END) AS dcat_nearest
         |FROM t""".stripMargin),
    GateQuery("q104_timedelta_infer", (s, dir) => {
      // §2.2/§2.10 TimeDelta inference under the hash gate: two
      // constructed series over the customer key order — 'cycling'
      // (600/900/1500s steps: not equispaced, min 600, gcd 300, no
      // legacy delta) and 'daily' (constant 86400s: equispaced, and the
      // legacy backwards_compatible_delta shim maps {86400} to the
      // (1, day) tuple). The oracle DERIVES the same fields in SQL from
      // the same construction (distinct diffs; DuckDB gcd over the
      // 3-element distinct set via min/median/max). Scalars come off the
      // distributed one-pass infer; the output frame is 2 rows.
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("c_custkey")
      val rn = row_number().over(w)
      val step = when(rn % 3 === 0, 600).when(rn % 3 === 1, 900).otherwise(1500)
      val base = tbl(s, dir, "customer")
        .select(col("c_custkey"), rn.as("rn"), step.as("step"))
      val cyc = base.withColumn("t",
        lit(1000000.0) + sum(col("step")).over(
          Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)))
      val dly = base.withColumn("t", lit(1000000.0) + col("rn") * 86400.0)
      def enc(e: Either[Double, (Int, String)]): String = e match {
        case Left(sec) => sec.toString
        case Right((n, u)) => s"$n $u"
      }
      def rowOf(name: String, df: DataFrame) = {
        val td = graft.core.TimeDelta.infer(df, "t")
        (name, td.isEquispaced, td.timeInterval.map(Double.box).orNull,
          td.min.map(enc).orNull, td.gcd.map(enc).orNull,
          td.backwardsCompatibleDelta.map(enc).orNull)
      }
      s.createDataFrame(Seq(rowOf("cycling", cyc), rowOf("daily", dly)))
        .toDF("series", "is_equispaced", "time_interval", "min_delta",
          "gcd_delta", "legacy_delta")
    }, oracleSql =
      s"""WITH r AS (SELECT row_number() OVER (ORDER BY c_custkey) AS rn
         |  FROM customer),
         |cycd AS (SELECT DISTINCT CASE CAST(rn % 3 AS INT)
         |   WHEN 0 THEN 600 WHEN 1 THEN 900 ELSE 1500 END AS dd
         | FROM r WHERE rn > 1),
         |cg AS (SELECT count(*) AS n, min(dd) AS mn,
         |  gcd(gcd(CAST(min(dd) AS BIGINT), CAST(median(dd) AS BIGINT)),
         |      CAST(max(dd) AS BIGINT)) AS g FROM cycd)
         |SELECT 'cycling' AS series, (SELECT n = 1 FROM cg) AS is_equispaced,
         | CAST(NULL AS DOUBLE) AS time_interval,
         | CAST((SELECT mn FROM cg) AS VARCHAR) || '.0' AS min_delta,
         | CAST((SELECT g FROM cg) AS VARCHAR) || '.0' AS gcd_delta,
         | CAST(NULL AS VARCHAR) AS legacy_delta
         |UNION ALL
         |SELECT 'daily', TRUE, 86400.0, '86400.0', '86400.0', '1 day'""".stripMargin),
    GateQuery("q105_timeslice_playback", (s, dir) => {
      // §2.2 Time Slice playback under the hash gate: the widget's window
      // enumeration (start < hi stepping by stepSec, end clamped to hi)
      // drives ONE broadcast range join + aggregate over events — every
      // window's row count and exact-cents sum, empty windows included
      // (left join keeps them at count 0). The oracle replays the
      // enumeration with generate_series over the same integer-second
      // bounds. Production range joins use ops.RangeJoin bucketing; the
      // ~120-window broadcast NLJ here is the gate shape.
      val t = ev(s, dir)
      val b = t.df.agg(min(unix_seconds(col("ts"))).as("lo"),
        max(unix_seconds(col("ts"))).as("hi")).head
      val lo = b.getLong(0); val hi = b.getLong(1) + 1
      val wins = TimeSlice.playback(lo.toDouble, hi.toDouble,
          widthSec = 604800.0, stepSec = 259200.0)
        .map { case (a, z) => (a.toLong, z.toLong) }.toSeq
      val winDf = s.createDataFrame(wins).toDF("win_lo", "win_hi")
      val ev2 = t.df.select(unix_seconds(col("ts")).as("es"),
        col("value_cents"))
      // inner join with the WINDOW side broadcast (a left-outer BNLJ from
      // winDf would force broadcasting the events side), then re-attach
      // empty windows with a tiny equi left join on the aggregate
      val counted = ev2.join(broadcast(winDf),
          col("es") >= col("win_lo") && col("es") < col("win_hi"))
        .groupBy("win_lo", "win_hi")
        .agg(count(col("es")).as("n"), (sum(col("value_cents")) / 100.0).as("v"))
      winDf.join(counted, Seq("win_lo", "win_hi"), "left")
        .select(col("win_lo"), col("win_hi"),
          coalesce(col("n"), lit(0L)).as("n_rows"),
          coalesce(col("v"), lit(0.0)).as("v_sum"))
    }, oracleSql =
      s"""WITH b AS (SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
         |  max(CAST(floor(epoch(ts)) AS BIGINT)) + 1 AS hi FROM events),
         |w AS (SELECT unnest(generate_series((SELECT lo FROM b),
         |    (SELECT hi FROM b) - 1, 259200)) AS win_lo),
         |w2 AS (SELECT win_lo,
         |  least(win_lo + 604800, (SELECT hi FROM b)) AS win_hi FROM w),
         |e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, $centsSql AS vc
         | FROM events)
         |SELECT w2.win_lo, w2.win_hi, count(e.es) AS n_rows,
         | coalesce(sum(e.vc), 0) / 100.0 AS v_sum
         |FROM w2 LEFT JOIN e ON e.es >= w2.win_lo AND e.es < w2.win_hi
         |GROUP BY 1, 2""".stripMargin),
    GateQuery("q99_mode_blocks", (s, dir) => {
      // gate row for the `mode` registry agg (VERDICT r8 missing #1). The
      // discrete fixture is majority-by-CONSTRUCTION, not realized-data
      // luck: 2 of every 3 rows in the (ts, event_id) total order carry
      // the block-dependent sentinel block%7, so every width-50 block has
      // a ≥33/50 strict majority over minority values (rn%5 + 10,
      // disjoint range) — DuckDB's arbitrary-tie mode() then agrees with
      // the scipy smallest-tie rule trivially; the tie rule itself stays
      // pinned by the AggRegistry spec.
      val t0 = ev(s, dir)
      val rn = row_number().over(t0.window)
      val t = t0.copy(df = t0.df.withColumn("dmode",
        when(rn % 3 =!= 0, floor((rn - lit(1)) / 50) % 7)
          .otherwise(rn % 5 + 10).cast("double")))
      MovingTransform.sequentialBlocks(t, Seq("dmode" -> "mode"), width = 50)
        .select(col("block"), col("dmode_mode"))
    }, oracleSql =
      s"""WITH s AS (SELECT row_number() OVER ($tsOrder) AS rn FROM events),
         |d AS (SELECT (rn - 1) // 50 AS block,
         |  CAST(CASE WHEN rn % 3 <> 0 THEN ((rn - 1) // 50) % 7
         |       ELSE rn % 5 + 10 END AS DOUBLE) AS dmode
         | FROM s)
         |SELECT block, mode(dmode) AS dmode_mode
         |FROM d GROUP BY 1 HAVING count(*) = 50""".stripMargin),
    GateQuery("q100_cumprod_by_key", (s, dir) => {
      // gate row for the `cumprod` registry agg (VERDICT r8 missing #1).
      // The factor column is an exact power of two (2.0 / 0.5 / 1.0 keyed
      // off event_id divisibility), so the per-user running product is
      // exactly 2^(a−b), |a−b| ≪ 1024 — bit-exact and order-independent
      // in BOTH engines, hashable with no rounding at all; the oracle
      // replays it as power(2, running sum of the exponent). cumsum rides
      // along as the integral control column.
      val t0 = ev(s, dir)
      val t = t0.copy(df = t0.df.withColumn("f",
        when(col("event_id") % 17 === 0, lit(2.0))
          .when(col("event_id") % 23 === 0, lit(0.5))
          .otherwise(lit(1.0)))).withSeriesKeys("user_id")
      MovingTransform.slidingWindow(t,
          Seq("f" -> "cumprod", "value_cents" -> "cumsum"),
          width = 1, keep = MovingTransform.KeepAll)
        .select(col("event_id"), col("user_id"), col("f_cumprod"),
          round(col("value_cents_cumsum") / 100.0, 6).as("v_cumsum"))
    }, oracleSql =
      s"""SELECT event_id, user_id,
         | power(2.0, sum(CASE WHEN event_id % 17 = 0 THEN 1
         |   WHEN event_id % 23 = 0 THEN -1 ELSE 0 END)
         |   OVER w) AS f_cumprod,
         | round(sum($centsSql) OVER w / 100.0, 6) AS v_cumsum
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS UNBOUNDED PRECEDING)""".stripMargin),
    GateQuery("q106_cubic_spline_by_key", (s, dir) => {
      // §2.7 cubic interpolation under the hash gate, on the per-series
      // executor fan-out (the scale path; the driver path is pinned equal
      // by CubicAndContractSpec). Exactness by construction: each user's
      // series lies on a cubic polynomial in x = rn/16 (binary-exact:
      // k^3/4096 with k <= ~100), and the not-a-knot spline through >= 4
      // points of a cubic IS that cubic, so the executor-side solve must
      // reproduce the closed form the oracle computes directly. All exact
      // values are multiples of 2^-12, whose residues mod 1e-4 lie on a
      // 3.90625e-7 lattice that contains the 0.5e-4 HALF_UP boundaries —
      // the q81 decimal-landing class — so the shared quantization is
      // round(v + lattice/2, 4): every value sits 1.953125e-7 from the
      // nearest boundary BY ARITHMETIC, ~1e5 x the measured solve error.
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("rn", row_number().over(wU))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      val x = col("rn") / lit(16.0)
      val a = col("user_id") % 5
      val b = col("user_id") % 7
      val vExact = x * x * x + a * x * x + b * x + lit(100.0)
      // cnt >= 5 keeps every gapped series at >= 4 knots (the spline's
      // minimum); shorter series get NO gaps, pass through exactly, and
      // still match the oracle's closed form — so the gate is robust to
      // testdata with tiny users, not reliant on this corpus's ~67
      val gap = col("rn") % 4 === 2 && col("rn") < col("cnt") && col("cnt") >= 5
      val df = base.withColumn("t", x)
        .withColumn("v", when(gap, lit(null).cast("double")).otherwise(vExact))
      val tsf = graft.core.TimeseriesFrame(df, Some("t"), Seq("event_id"), Seq("user_id"))
      CubicSpline.interpolateByKey(tsf, "v")
        .select(col("event_id"), col("user_id"),
          round(col("v") + lit(1.953125e-7), 4).as("v_cubic"))
    }, oracleSql =
      s"""WITH s AS (SELECT event_id, user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         | FROM events)
         |SELECT event_id, user_id,
         | round((rn/16.0)*(rn/16.0)*(rn/16.0)
         |   + (user_id % 5)*(rn/16.0)*(rn/16.0)
         |   + (user_id % 7)*(rn/16.0) + 100.0 + 1.953125e-7, 4) AS v_cubic
         |FROM s""".stripMargin),
    GateQuery("q107_griddata_linear_by_key", (s, dir) => {
      // §2.7 multivariate griddata-'linear' under the hash gate, per-series
      // executor fan-out (driver path pinned equal by its differential
      // spec). Each user's 4-column matrix carries an AFFINE field in
      // (row, col) index space — barycentric interpolation over ANY valid
      // Delaunay triangulation reproduces affine fields exactly, so the
      // gate is triangulation-choice-free; the fully-known border makes
      // the hull the whole rectangle, so every null cell is filled. All
      // values are small integers: max-margin at 6dp, no boundary shift.
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("rn", row_number().over(wU))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      val i = col("rn") - 1
      val p = col("user_id") % 4 + 1
      val q = col("user_id") % 6 + 2
      def vAt(j: Int) = (p * i + q * lit(j) + lit(10)).cast("double")
      def gapAt(j: Int) = // interior cells of columns 1..2 only: border known
        col("rn") > 1 && col("rn") < col("cnt") &&
          (col("rn") + lit(7 * j)) % 5 === 2
      val df = (0 until 4).foldLeft(base) { (d, j) =>
        val v = if (j == 0 || j == 3) vAt(j)
        else when(gapAt(j), lit(null).cast("double")).otherwise(vAt(j))
        d.withColumn(s"c$j", v)
      }
      val tsf = graft.core.TimeseriesFrame(df, Some("ts"), Seq("event_id"), Seq("user_id"))
      Interpolate.multivariateLinearByKey(tsf, Seq("c0", "c1", "c2", "c3"))
        .select(col("event_id") +: col("user_id") +:
          (0 until 4).map(j => round(col(s"c$j"), 6).as(s"c$j")): _*)
    }, oracleSql =
      s"""WITH s AS (SELECT event_id, user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         | FROM events)
         |SELECT event_id, user_id,
         | CAST((user_id % 4 + 1)*(rn-1) + 10 AS DOUBLE) AS c0,
         | CAST((user_id % 4 + 1)*(rn-1) + (user_id % 6 + 2) + 10 AS DOUBLE) AS c1,
         | CAST((user_id % 4 + 1)*(rn-1) + (user_id % 6 + 2)*2 + 10 AS DOUBLE) AS c2,
         | CAST((user_id % 4 + 1)*(rn-1) + (user_id % 6 + 2)*3 + 10 AS DOUBLE) AS c3
         |FROM s""".stripMargin),
    GateQuery("q108_griddata_cubic_by_key", (s, dir) => {
      // §2.7 multivariate griddata-'cubic' under the hash gate: the same
      // matrix shape with a QUADRATIC field in (row, col) index space —
      // the reduced-HCT element with LS-estimated gradients reproduces
      // quadratics exactly (CloughTocherSpec), distinguishing this path
      // from 'linear' (barycentric would NOT reproduce the i^2 terms).
      // Values are multiples of 2^-6, whose residues mod 1e-4 lie on a
      // 2.5e-5 lattice containing the 0.5e-4 boundaries, so the shared
      // quantization is round(v + 1.25e-5, 4): margin 1.25e-5 by
      // arithmetic, ~100x the spec-pinned estimated-gradient error.
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("rn", row_number().over(wU))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      val i = (col("rn") - 1).cast("double")
      val p = (col("user_id") % 3 + 1).cast("double")
      val q = (col("user_id") % 5 + 1).cast("double")
      def vAt(j: Int) =
        p * i * i / 64.0 + i * lit(j) / 16.0 + lit(j * j) / 4.0 +
          q * i / 8.0 + lit(j) / 2.0 + lit(20.0)
      // cnt >= 8 keeps every gapped matrix comfortably inside the
      // spec-pinned quadratic-exactness regime of the LS-gradient HCT;
      // shorter series get no gaps and pass through exactly (q106 note)
      def gapAt(j: Int) =
        col("rn") > 1 && col("rn") < col("cnt") && col("cnt") >= 8 &&
          (col("rn") + lit(3 * j)) % 4 === 1
      val df = (0 until 4).foldLeft(base) { (d, j) =>
        val v = if (j == 0 || j == 3) vAt(j)
        else when(gapAt(j), lit(null).cast("double")).otherwise(vAt(j))
        d.withColumn(s"c$j", v)
      }
      val tsf = graft.core.TimeseriesFrame(df, Some("ts"), Seq("event_id"), Seq("user_id"))
      Interpolate.multivariateByKey(tsf, Seq("c0", "c1", "c2", "c3"), "cubic")
        .select(col("event_id") +: col("user_id") +:
          (0 until 4).map(j => round(col(s"c$j") + lit(1.25e-5), 4).as(s"c$j")): _*)
    }, oracleSql =
      s"""WITH s AS (SELECT event_id, user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |  (user_id % 3 + 1) AS p, (user_id % 5 + 1) AS q
         | FROM events)
         |SELECT event_id, user_id,
         | round(p*(rn-1)*(rn-1)/64.0 + (rn-1)*0/16.0 + 0.0/4.0
         |   + q*(rn-1)/8.0 + 0/2.0 + 20.0 + 1.25e-5, 4) AS c0,
         | round(p*(rn-1)*(rn-1)/64.0 + (rn-1)*1/16.0 + 1.0/4.0
         |   + q*(rn-1)/8.0 + 1/2.0 + 20.0 + 1.25e-5, 4) AS c1,
         | round(p*(rn-1)*(rn-1)/64.0 + (rn-1)*2/16.0 + 4.0/4.0
         |   + q*(rn-1)/8.0 + 2/2.0 + 20.0 + 1.25e-5, 4) AS c2,
         | round(p*(rn-1)*(rn-1)/64.0 + (rn-1)*3/16.0 + 9.0/4.0
         |   + q*(rn-1)/8.0 + 3/2.0 + 20.0 + 1.25e-5, 4) AS c3
         |FROM s""".stripMargin),
    GateQuery("q109_griddata_nearest_by_key", (s, dir) => {
      // §2.7 multivariate griddata-'nearest' under the hash gate: cell
      // values are distinct integers, fills COPY a known cell's value, so
      // the hash is exact with no rounding; the oracle replays the
      // squared-Euclidean argmin in (row, col) index space with the
      // smallest-row-then-column tie rule (cKDTree first-found order).
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("rn", row_number().over(wU))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      def vAt(j: Int) =
        ((col("rn") - 1) * 4 + lit(j) + (col("user_id") % 10) * 1000).cast("double")
      def gapAt(j: Int) =
        col("rn") > 1 && col("rn") < col("cnt") &&
          (col("rn") + lit(3 * j)) % 7 === 3
      val df = (0 until 4).foldLeft(base) { (d, j) =>
        val v = if (j == 0 || j == 3) vAt(j)
        else when(gapAt(j), lit(null).cast("double")).otherwise(vAt(j))
        d.withColumn(s"c$j", v)
      }
      val tsf = graft.core.TimeseriesFrame(df, Some("ts"), Seq("event_id"), Seq("user_id"))
      Interpolate.multivariateByKey(tsf, Seq("c0", "c1", "c2", "c3"), "nearest")
        .select(col("event_id") +: col("user_id") +:
          (0 until 4).map(j => col(s"c$j")): _*)
    }, oracleSql =
      s"""WITH s AS (SELECT event_id, user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS cnt
         | FROM events),
         |cells AS (
         | SELECT s.event_id, s.user_id, s.rn, s.j,
         |  CASE WHEN s.j IN (1,2) AND s.rn > 1 AND s.rn < s.cnt
         |        AND (s.rn + 3*s.j) % 7 = 3 THEN NULL
         |   ELSE CAST((s.rn-1)*4 + s.j + (s.user_id % 10)*1000 AS DOUBLE)
         |  END AS v
         | FROM (SELECT s.*, j.j FROM s
         |   CROSS JOIN (VALUES (0),(1),(2),(3)) AS j(j)) s),
         |f AS (
         | SELECT c.event_id, c.user_id, c.j,
         |  coalesce(c.v,
         |   (SELECT k.v FROM cells k
         |    WHERE k.user_id = c.user_id AND k.v IS NOT NULL
         |    ORDER BY (k.rn-c.rn)*(k.rn-c.rn) + (k.j-c.j)*(k.j-c.j), k.rn, k.j
         |    LIMIT 1)) AS v
         | FROM cells c)
         |SELECT event_id, user_id,
         | max(CASE WHEN j=0 THEN v END) AS c0,
         | max(CASE WHEN j=1 THEN v END) AS c1,
         | max(CASE WHEN j=2 THEN v END) AS c2,
         | max(CASE WHEN j=3 THEN v END) AS c3
         |FROM f GROUP BY event_id, user_id""".stripMargin),
    GateQuery("q79_media_decode", (s, dir) => {
      // REAL pure-JVM codecs under the hash gate (VERDICT r5 task 2):
      // even doc_ids carry a planted PCM16 WAV, odd a PPM P6 image;
      // parameters and content are closed-form in doc_id, so the DuckDB
      // oracle replays the DECODED surface with integer arithmetic end
      // to end — a wrong header walk, byte order, or sign convention in
      // the decoder breaks the hash
      Multimodal.decodeMedia(plantedMedia(s, dir, parity = None), "id", "payload").toDF()
        .select(col("id").as("doc_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("frames"),
          expr("CASE WHEN sampleRate > 0 THEN CAST((frames * 1000000) DIV sampleRate AS BIGINT) ELSE CAST(0 AS BIGINT) END")
            .as("duration_us"),
          col("contentSum").as("content_sum"))
    }, oracleSql =
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
        |wav AS (SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sample_rate,
        |  CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS channels,
        |  100 + (doc_id % 50) AS frames
        |  FROM d WHERE doc_id % 2 = 0),
        |wavs AS (SELECT doc_id, 'wav' AS kind, 0 AS width, 0 AS height,
        |  channels, sample_rate, frames,
        |  (frames * 1000000) // sample_rate AS duration_us,
        |  list_sum(list_transform(range(0, frames * channels),
        |    i -> ((doc_id * 31 + i * 7) % 65536) - 32768)) AS content_sum
        |  FROM wav),
        |ppm AS (SELECT doc_id, 4 + (doc_id % 8) AS width, 3 + (doc_id % 5) AS height
        |  FROM d WHERE doc_id % 2 = 1),
        |ppms AS (SELECT doc_id, 'ppm' AS kind, width, height, 3 AS channels,
        |  0 AS sample_rate, width * height AS frames, 0 AS duration_us,
        |  list_sum(list_transform(range(0, width * height * 3),
        |    i -> (doc_id + i * 13) % 256)) AS content_sum
        |  FROM ppm)
        |SELECT doc_id, kind, CAST(width AS BIGINT) AS width,
        | CAST(height AS BIGINT) AS height, CAST(channels AS BIGINT) AS channels,
        | CAST(sample_rate AS BIGINT) AS sample_rate, CAST(frames AS BIGINT) AS frames,
        | CAST(duration_us AS BIGINT) AS duration_us,
        | CAST(content_sum AS BIGINT) AS content_sum
        |FROM (SELECT * FROM wavs UNION ALL SELECT * FROM ppms)""".stripMargin),
    GateQuery("q35_multimodal_decode", (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeImages(d, "doc_id", "payload").toDF()
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          round(element_at(col("histogram"), 7), 6).as("hist6"))
    }, oracleSql =
      """WITH t AS (SELECT doc_id,
        |  list_transform(list_filter(string_split(text, ''), c -> c != ''),
        |    c -> CAST(ascii(c) AS BIGINT)) AS codes
        | FROM documents),
        |h AS (SELECT doc_id, codes,
        |  list_reduce(list_prepend(CAST(17 AS BIGINT), codes),
        |    (a, b) -> (31 * a + b) % 2147483647) AS hh
        | FROM t)
        |SELECT doc_id AS id, 16 + hh % 625 AS width,
        | 16 + (hh // 625) % 465 AS height, CAST(3 AS BIGINT) AS channels,
        | round(len(list_filter(codes, c -> c // 16 = 6))::DOUBLE
        |   / greatest(len(codes), 1), 6) AS hist6
        |FROM h""".stripMargin),
    GateQuery("q74_frame_sample", (s, dir) => {
      // strided frame sampling over binary payloads (video-frame-style
      // plumbing on the deterministic stub): 256-byte frames, stride 2 —
      // partition-local explode, no shuffle; hist bin 6 hash-checked
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(d, "doc_id", "payload",
          frameBytes = 256, stride = 2).toDF()
        .select(col("id"), col("frameIndex").cast("long").as("frame_index"),
          round(element_at(col("features"), 7), 6).as("hist6"))
    }, oracleSql =
      // same char-code arithmetic as q35, per 256-byte chunk
      """WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |f AS (SELECT doc_id, text,
        |  unnest(generate_series(0, (L - 1) // 256)) AS fi
        | FROM t WHERE L > 0),
        |sel AS (SELECT doc_id, fi,
        |  substr(text, CAST(fi * 256 + 1 AS INT), 256) AS chunk
        | FROM f WHERE fi % 2 = 0)
        |SELECT doc_id AS id, CAST(fi AS BIGINT) AS frame_index,
        | round(len(list_filter(
        |   list_transform(list_filter(string_split(chunk, ''), c -> c != ''),
        |    c -> ascii(c)), a -> a // 16 = 6))::DOUBLE
        |  / greatest(length(chunk), 1), 6) AS hist6
        |FROM sel""".stripMargin),
    GateQuery("q36_sequence_calendar", (s, dir) => {
      // implied-sequence synthesis with month-end clamping (leap year):
      // start 2020-01-31, monthly steps over customers in key order
      val c = tbl(s, dir, "customer")
      TimeseriesFrame.fromSequence(c, Seq("c_custkey"),
          startEpochSec = 1580428800.0, stepCount = 1, unit = "month").df
        .select(col("c_custkey"), unix_seconds(col("t")).as("t_s"))
    }, oracleSql =
      """SELECT c_custkey,
        | CAST(epoch(TIMESTAMP '2020-01-31 00:00:00'
        |   + to_months((row_number() OVER (ORDER BY c_custkey) - 1)::INT)) AS BIGINT) AS t_s
        |FROM customer""".stripMargin),
    GateQuery("q37_multiseries_sliding", (s, dir) => {
      // the scale path: one independent window per user_id partition
      val t = ev(s, dir).withSeriesKeys("user_id")
      MovingTransform.slidingWindow(t,
          Seq("value_cents" -> "sum", "value" -> "max"),
          width = 5, keep = MovingTransform.KeepComplete)
        .select(col("event_id"), col("user_id"),
          round(col("value_cents_sum") / 100.0 / 5, 6).as("value_mean"),
          col("value_max"))
    }, oracleSql =
      s"""SELECT event_id, user_id,
         | round(sum($centsSql) OVER w / 100.0 / 5, 6) AS value_mean,
         | max(value) OVER w AS value_max
         |FROM events
         |WINDOW w AS (PARTITION BY user_id $tsOrder ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |QUALIFY row_number() OVER (PARTITION BY user_id $tsOrder) >= 5""".stripMargin),
    GateQuery("q38_spiral_select", (s, dir) => {
      val t = ev(s, dir)
      val selected = s.createDataFrame(
        Seq((5, 0), (5, 1), (5, 2), (5, 3))).toDF("angular", "radial")
      Spiralogram.selectRows(t,
          Spiralogram.PeriodComponent("day_of_week"),
          Some(Spiralogram.PeriodComponent("hour_of_day")), selected)
        .select(col("event_id"), col("user_id"), col("value"))
    }, oracleSql =
      """SELECT event_id, user_id, value FROM events
        |WHERE (dayofweek(ts) + 6) % 7 = 5 AND hour(ts) <= 3""".stripMargin),
    GateQuery("q39_acf_by_key", (s, dir) => {
      // grouped multi-series ACF — the shuffle-parallel spectral scale path
      // (every series an independent partition; no global sort anywhere)
      val t = ev(s, dir).withSeriesKeys("user_id")
      Correlation.acfByKey(t, "value", maxLag = 6)
        .select(col("user_id"), col("lag"), round(col("acf"), 6).as("acf"))
    }, oracleSql = acfByKeySql),
    GateQuery("q83_acf_by_key_fft", (s, dir) => {
      // the full-lag ACF scale twin under the hash gate: gathered
      // Wiener–Khinchin FFT (every lag's product sum at once, O(m log m))
      // must reproduce the windowed-lag acfByKey estimator exactly — same
      // oracle SQL as q39 (DuckDB replays the direct lag self-join, so
      // the FFT is checked cross-engine AND cross-algorithm)
      val t = ev(s, dir).withSeriesKeys("user_id")
      Correlation.acfByKeyFft(t, "value", maxLag = 6)
        .select(col("user_id"), col("lag"), round(col("acf"), 6).as("acf"))
    }, oracleSql = acfByKeySql),
    GateQuery("q85_acf_confint_by_key", (s, dir) => {
      // q26's ACF+Bartlett-band surface per series: FFT ACF + executor-
      // side acfConfint; the oracle partitions q26's Bartlett window SQL
      // by user
      val t = ev(s, dir).withSeriesKeys("user_id")
      Correlation.acfConfintByKey(t, "value", alpha = 0.05, maxLag = 6)
        .select(col("user_id"), col("lag"), round(col("acf"), 6).as("acf"),
          round(col("ci_low"), 6).as("ci_low"),
          round(col("ci_high"), 6).as("ci_high"))
    }, oracleSql =
      // q26's Bartlett confidence bands partitioned per user: the band
      // window (cumulative Σ acf² over earlier lags) runs PER KEY, n is the
      // per-user row count.
      """WITH s AS (SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  avg(value) OVER (PARTITION BY user_id) AS mu
        | FROM events),
        |c AS (SELECT user_id, rn, value - mu AS xc FROM s),
        |den AS (SELECT user_id, sum(xc*xc) AS s0 FROM c GROUP BY 1),
        |nn AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |acf AS (SELECT a.user_id, lg.lag AS lag,
        |  sum(a.xc*b.xc) / max(d.s0) AS acf
        | FROM range(1, 7) lg(lag)
        | JOIN c a ON a.rn > lg.lag
        | JOIN c b ON b.user_id = a.user_id AND b.rn = a.rn - lg.lag
        | JOIN den d ON d.user_id = a.user_id
        | WHERE d.s0 != 0
        | GROUP BY 1, 2),
        |ci AS (SELECT acf.user_id, lag, acf,
        |  1.959963984540054 * sqrt((1 + 2 * coalesce(sum(acf*acf) OVER
        |    (PARTITION BY acf.user_id ORDER BY lag
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) / nn.n) AS iv
        | FROM acf JOIN nn USING (user_id))
        |SELECT user_id, lag, round(acf, 6) AS acf,
        | round(acf - iv, 6) AS ci_low, round(acf + iv, 6) AS ci_high
        |FROM ci""".stripMargin),
    GateQuery("q84_pacf_by_key_fft", (s, dir) => {
      // grouped PACF under the hash gate: gathered FFT ACF + the exact
      // pacfVector Levinson–Durbin per key on the executors; the oracle
      // replays the recursion as a PER-KEY recursive CTE over the direct
      // lag self-join ACF (q27's single-series oracle, partitioned)
      val t = ev(s, dir).withSeriesKeys("user_id")
      Correlation.pacfByKeyFft(t, "value", maxLag = 8)
        .select(col("user_id"), col("lag"), round(col("pacf"), 6).as("pacf"))
    }, oracleSql = {
      // q27's Levinson–Durbin recursive CTE, partitioned per user: the
      // recursion state (phi list, innovation variance e) advances one row
      // per key per step, over the per-key direct lag self-join ACF.
      val kk = "((r[k+2] - list_sum(list_transform(range(1, k + 1), " +
        "j2 -> phi[j2]*r[k+2-j2]))) / e)"
      s"""WITH RECURSIVE s AS (SELECT user_id, value,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |  avg(value) OVER (PARTITION BY user_id) AS mu
         | FROM events),
         |c AS (SELECT user_id, rn, value - mu AS xc FROM s),
         |den AS (SELECT user_id, sum(xc*xc) AS s0 FROM c GROUP BY 1),
         |acfv AS (SELECT user_id, list_prepend(1.0, list(a ORDER BY lag)) AS r FROM (
         | SELECT a.user_id, lg.lag AS lag, sum(a.xc*b.xc) / max(d.s0) AS a
         | FROM range(1, 9) lg(lag)
         | JOIN c a ON a.rn > lg.lag
         | JOIN c b ON b.user_id = a.user_id AND b.rn = a.rn - lg.lag
         | JOIN den d ON d.user_id = a.user_id
         | WHERE d.s0 != 0
         | GROUP BY 1, 2) GROUP BY user_id),
         |ld AS (
         | SELECT user_id, 1 AS k, [r[2]] AS phi, 1.0 - r[2]*r[2] AS e, r[2] AS pacf
         | FROM acfv
         | UNION ALL
         | SELECT ld.user_id, k + 1,
         |  list_append(list_transform(range(1, k + 1),
         |    j -> phi[j] - $kk * phi[k + 1 - j]), $kk),
         |  e * (1.0 - $kk * $kk),
         |  $kk
         | FROM ld JOIN acfv USING (user_id) WHERE k < 8)
         |SELECT user_id, CAST(k AS BIGINT) AS lag, round(pacf, 6) AS pacf FROM ld""".stripMargin
    }),
    GateQuery("q48_periodogram_by_key", (s, dir) => {
      // grouped periodogram — per-series frequency grids, per-key DFT as
      // one hash aggregate, no single-partition stage; the oracle replays
      // the per-user DFT (spectrum checked; peak-picking is covered by
      // the single-series gate q28 + the SpectralByKeySpec differential).
      // Power uses the boundary-shifted 3dp quantization (see
      // [[powerShiftByKey]]): at exact-angle harmonics (period 2/4) the
      // cent-valued diffs make powers TERMINATE in decimal exactly ON 6dp
      // rounding boundaries (within 1 ulp), where cross-algorithm /
      // cross-build sum orders flip the rounded digit — the r8 q81 flake.
      val t = ev(s, dir).withSeriesKeys("user_id")
      Periodogram.spectrumByKey(t, "value", "diff")
        .select(col("user_id"), round(col("period"), 6).as("period"),
          round(col("power") + powerShiftByKey, 3).as("power"))
    }, oracleSql = periodogramByKeySql),
    GateQuery("q81_periodogram_by_key_fft", (s, dir) => {
      // the LONG-series spectral scale path under the hash gate: per-key
      // sorted-stream gather + executor-side mixed-radix real
      // FFT — O(m log m) per series vs the explode-DFT's O(m²/2) — must
      // reproduce q48's spectrum exactly (same oracle SQL: the DuckDB DFT
      // replay checks the FFT cross-engine AND cross-algorithm); same
      // boundary-shifted quantization as q48 (BoundaryMarginSpec pins the
      // margin: min 3.5e-7 vs a 5e-9 worst measured FFT-vs-DFT deviation)
      val t = ev(s, dir).withSeriesKeys("user_id")
      Periodogram.spectrumByKeyFft(t, "value", "diff")
        .select(col("user_id"), round(col("period"), 6).as("period"),
          round(col("power") + powerShiftByKey, 3).as("power"))
    }, oracleSql = periodogramByKeySql),
    GateQuery("q76_periodogram_by_key_poly", (s, dir) => {
      // grouped periodogram with the per-key QUADRATIC detrend — the
      // moment-aggregate + executor-solve path (no single-series collect);
      // the oracle replays the s∈[−1,1] conditioning and solves the 3×3
      // normal equations by Cramer — both engines use the boundary-shifted
      // 3dp power quantization, absorbing solve-method and sum-order
      // differences with a spec-pinned margin
      val t = ev(s, dir).withSeriesKeys("user_id")
      Periodogram.spectrumByKey(t, "value", "quadratic")
        .select(col("user_id"), round(col("period"), 6).as("period"),
          round(col("power") + powerShiftPoly, 3).as("power"))
    }, oracleSql =
      // Per-user periodogram with per-key quadratic detrend: index mapped to
      // s∈[−1,1] per key, 3×3 normal equations solved by Cramer on the
      // per-key moment sums, residual DFT as in [[periodogramByKeySql]].
      """WITH s0 AS (SELECT user_id, value AS x,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
        |    AS DOUBLE) AS i,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM events),
        |sc AS (SELECT user_id, x, i,
        |  CASE WHEN n > 1 THEN i * 2.0 / (n - 1.0) - 1.0 ELSE 0.0 END AS s
        | FROM s0),
        |mom AS (SELECT user_id,
        |  sum(pow(s, 0)) AS m0, sum(pow(s, 1)) AS m1, sum(pow(s, 2)) AS m2,
        |  sum(pow(s, 3)) AS m3, sum(pow(s, 4)) AS m4,
        |  sum(x * pow(s, 0)) AS c0, sum(x * pow(s, 1)) AS c1,
        |  sum(x * pow(s, 2)) AS c2
        | FROM sc GROUP BY 1),
        |coef AS (SELECT user_id,
        |  m0*(m2*m4 - m3*m3) - m1*(m1*m4 - m3*m2) + m2*(m1*m3 - m2*m2) AS det,
        |  c0*(m2*m4 - m3*m3) - m1*(c1*m4 - m3*c2) + m2*(c1*m3 - m2*c2) AS d0,
        |  m0*(c1*m4 - c2*m3) - c0*(m1*m4 - m3*m2) + m2*(m1*c2 - m2*c1) AS d1,
        |  m0*(m2*c2 - m3*c1) - m1*(m1*c2 - c1*m2) + c0*(m1*m3 - m2*m2) AS d2
        | FROM mom),
        |xd AS (SELECT sc.user_id,
        |  sc.x - (f.d0/f.det + sc.s*(f.d1/f.det) + sc.s*sc.s*(f.d2/f.det)) AS x,
        |  CAST(row_number() OVER (PARTITION BY sc.user_id ORDER BY sc.i) - 1
        |    AS DOUBLE) AS i
        | FROM sc JOIN coef f USING (user_id)),
        |params AS (SELECT user_id, count(*) AS m, count(*) // 2 AS half,
        |  greatest(count(*) // 1000, 1) AS lo FROM xd GROUP BY 1),
        |ks AS (SELECT unnest(generate_series(1, (SELECT max(half) FROM params))) AS k),
        |spec AS (
        | SELECT x.user_id, k.k,
        |  sum(x.x * cos(2*pi() * k.k * x.i / p.m)) AS re,
        |  sum(x.x * sin(2*pi() * k.k * x.i / p.m)) AS im,
        |  max(p.m) AS m, max(p.half) AS half
        | FROM xd x JOIN params p USING (user_id)
        | JOIN ks k ON k.k BETWEEN p.lo AND p.half
        | GROUP BY 1, 2)
        |SELECT user_id, round(m / CAST(k AS DOUBLE), 6) AS period,
        | round((re*re + im*im) / m
        |   * (CASE WHEN k = half AND m % 2 = 0 THEN 1.0 ELSE 2.0 END)
        |   + 0.000559, 3) AS power
        |FROM spec""".stripMargin),
    GateQuery("q49_lomb_by_key", (s, dir) => {
      // grouped Lomb-Scargle — per-key Δt-percentile frequency grids and
      // the 5-sum tau identity as one keyed hash aggregate
      val t0 = ev(s, dir)
      val t = t0.copy(df = t0.df.withColumn("tsec", col("ts").cast("double")),
        timeCol = Some("tsec")).withSeriesKeys("user_id")
      Periodogram.lombSpectrumByKey(t, "value", nPeriods = 60)
        .select(col("user_id"), round(col("period"), 6).as("period"),
          round(col("power"), 6).as("power"))
    }, oracleSql =
      // Per-user Lomb–Scargle spectrum (linear detrend, per-user Δt
      // percentile grid of 60 frequencies, 5-sum tau identity).
      """WITH base AS (SELECT user_id, epoch_us(ts)/1000000.0 AS t, value AS x
        | FROM events),
        |ser0 AS (SELECT user_id, t, x,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY t) - 1 AS DOUBLE) AS i
        | FROM base),
        |fit AS (SELECT user_id, regr_slope(x, i) AS k, regr_intercept(x, i) AS c
        | FROM ser0 GROUP BY 1),
        |ser AS (SELECT s.user_id, s.t, s.x - (s.i * f.k + f.c) AS x
        | FROM ser0 s JOIN fit f USING (user_id)),
        |st AS (SELECT user_id, count(*) AS n, var_pop(x) AS v FROM ser GROUP BY 1),
        |dts AS (SELECT user_id,
        |  t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS dt
        | FROM base QUALIFY dt IS NOT NULL),
        |pct AS (SELECT user_id, quantile_cont(dt, 0.05) AS p5,
        |  greatest(200*quantile_cont(dt, 0.05), quantile_cont(dt, 0.80)) AS ph
        | FROM dts GROUP BY 1),
        |grid AS (SELECT p.user_id,
        |  2*pi() / (p.ph + (p.p5 - p.ph) * g.j / 59.0) AS omega
        | FROM pct p, range(0, 60) g(j)),
        |sums AS (SELECT s.user_id, g.omega,
        |  sum(s.x * cos(g.omega*s.t)) AS xc, sum(s.x * sin(g.omega*s.t)) AS xs,
        |  sum(cos(g.omega*s.t)*cos(g.omega*s.t)) AS cc,
        |  sum(sin(g.omega*s.t)*sin(g.omega*s.t)) AS ss,
        |  sum(sin(g.omega*s.t)*cos(g.omega*s.t)) AS cs
        | FROM ser s JOIN grid g USING (user_id) GROUP BY 1, 2),
        |tau AS (SELECT *, cos(atan2(2.0*cs, cc - ss)/2) AS ct,
        |  sin(atan2(2.0*cs, cc - ss)/2) AS st2 FROM sums)
        |SELECT t.user_id, round(2*pi()/t.omega, 6) AS period,
        | round(((t.ct*t.xc + t.st2*t.xs)*(t.ct*t.xc + t.st2*t.xs)
        |    / (t.ct*t.ct*t.cc + 2.0*t.ct*t.st2*t.cs + t.st2*t.st2*t.ss)
        |  + (t.ct*t.xs - t.st2*t.xc)*(t.ct*t.xs - t.st2*t.xc)
        |    / (t.st2*t.st2*t.cc - 2.0*t.ct*t.st2*t.cs + t.ct*t.ct*t.ss)) / 2.0
        |  * (2.0 / (s.n * s.v)), 6) AS power
        |FROM tau t JOIN st s USING (user_id)""".stripMargin),
    GateQuery("q42_sliding_rangepart", (s, dir) => {
      // the single-series SCALE path under the hash gate: range-partitioned
      // sliding windows with chained boundary carry (no global sort) must
      // reproduce the declarative window semantics exactly
      val t = ev(s, dir)
      RangeWindow.slidingWindow(t, "value_cents",
          Seq("sum", "min", "max", "defined"), width = 7)
        .select(col("event_id"),
          round(col("value_cents_sum") / 100.0, 6).as("v_sum"),
          (col("value_cents_min") / 100.0).as("v_min"),
          (col("value_cents_max") / 100.0).as("v_max"),
          col("value_cents_defined").cast("long").as("v_defined"))
    }, oracleSql =
      s"""SELECT event_id,
         | round(sum($centsSql) OVER w / 100.0, 6) AS v_sum,
         | min($centsSql) OVER w / 100.0 AS v_min,
         | max($centsSql) OVER w / 100.0 AS v_max,
         | count(value) OVER w AS v_defined
         |FROM events
         |${winSql("6 PRECEDING")}""".stripMargin),
    GateQuery("q44_seq_blocks_rangepart", (s, dir) => {
      // sequential blocks WITHOUT the global row_number WindowExec: block
      // ids from a RangeScan row index + the same hash aggregate; must
      // reproduce q05's declarative semantics exactly (same oracle)
      val t = ev(s, dir)
      MovingTransform.sequentialBlocksRangePart(t,
          Seq("value_cents" -> "sum", "value" -> "min",
            "value" -> "max", "value" -> "defined"),
          width = 50)
        .select(col("block"),
          round(col("value_cents_sum") / 100.0 / 50, 6).as("value_mean"),
          round(col("value_cents_sum") / 100.0, 6).as("value_sum"),
          col("value_min"), col("value_max"), col("value_defined"))
    }, oracleSql = seqBlocksSql),
    GateQuery("q45_var_forecast_fixed", (s, dir) => {
      // the VAR predict surface at FIXED (A1, c): residual covariance,
      // forecast recursion, and Ψ-matrix CI accumulation are all linear,
      // so the DuckDB oracle replays them as recursive CTEs in the same
      // accumulation order as the Breeze fold — hash-checking everything
      // downstream of the (non-SQL-expressible) OLS/order selection
      val d = daily(s, dir)
      val m = ModelEvaluation.collectSeries(d, Seq("v", "c"))
      val a1 = breeze.linalg.DenseMatrix((0.5, 0.01), (0.1, 0.3))
      val fit = new Var().fitFixed(m, Array(a1), Array(20.0, 5.0))
      val (fo, lo, hi) = fit.predict(7)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame((0 until 7).map(i =>
        (i + 1L, r6(fo(i)(0)), r6(lo(i)(0)), r6(hi(i)(0)),
          r6(fo(i)(1)), r6(lo(i)(1)), r6(hi(i)(1)))))
        .toDF("step", "v_forecast", "v_lo", "v_hi",
          "c_forecast", "c_lo", "c_hi")
    }, oracleSql =
      // VAR(1) k=2 forecast/CI at fixed (A₁, c): residuals and their
      // covariance accumulate along the series in a recursive CTE (same fold
      // order as the Breeze loop, so the floats are bit-identical), then the
      // forecast difference equation and the Ψ-matrix diagonal accumulation
      // (Φ₀=I, Φₕ=Φₕ₋₁A₁, mse += ΦΣᵤΦ') run as a second recursion.
      // Mirrors `Var.fitFixed(...).predict(7)` (`models.py:393-402`).
      s"""WITH RECURSIVE daily AS ($dailySql),
         |params AS (SELECT CAST(0.5 AS DOUBLE) AS a11, CAST(0.01 AS DOUBLE) AS a12,
         |  CAST(0.1 AS DOUBLE) AS a21, CAST(0.3 AS DOUBLE) AS a22,
         |  CAST(20.0 AS DOUBLE) AS c1, CAST(5.0 AS DOUBLE) AS c2),
         |idx AS (SELECT CAST(v AS DOUBLE) AS y1, CAST(c AS DOUBLE) AS y2,
         |  row_number() OVER (ORDER BY d) AS rn FROM daily),
         |n AS (SELECT count(*) AS n FROM idx),
         |res AS (
         |  SELECT 1 AS rn, CAST(0 AS DOUBLE) AS s11, CAST(0 AS DOUBLE) AS s12,
         |    CAST(0 AS DOUBLE) AS s22, i.y1 AS py1, i.y2 AS py2
         |  FROM idx i WHERE i.rn = 1
         |  UNION ALL
         |  SELECT i.rn,
         |    r.s11 + (i.y1 - (p.c1 + (p.a11*r.py1 + p.a12*r.py2)))
         |          * (i.y1 - (p.c1 + (p.a11*r.py1 + p.a12*r.py2))),
         |    r.s12 + (i.y1 - (p.c1 + (p.a11*r.py1 + p.a12*r.py2)))
         |          * (i.y2 - (p.c2 + (p.a21*r.py1 + p.a22*r.py2))),
         |    r.s22 + (i.y2 - (p.c2 + (p.a21*r.py1 + p.a22*r.py2)))
         |          * (i.y2 - (p.c2 + (p.a21*r.py1 + p.a22*r.py2))),
         |    i.y1, i.y2
         |  FROM res r JOIN idx i ON i.rn = r.rn + 1 CROSS JOIN params p
         |),
         |sig AS (SELECT s11/((SELECT n FROM n) - 4) AS s11,
         |  s12/((SELECT n FROM n) - 4) AS s12,
         |  s22/((SELECT n FROM n) - 4) AS s22,
         |  py1 AS ylast1, py2 AS ylast2
         | FROM res WHERE rn = (SELECT n FROM n)),
         |fc AS (
         |  SELECT 1 AS step,
         |    p.c1 + (p.a11*s.ylast1 + p.a12*s.ylast2) AS f1,
         |    p.c2 + (p.a21*s.ylast1 + p.a22*s.ylast2) AS f2,
         |    CAST(1 AS DOUBLE) AS phi11, CAST(0 AS DOUBLE) AS phi12,
         |    CAST(0 AS DOUBLE) AS phi21, CAST(1 AS DOUBLE) AS phi22,
         |    s.s11 AS m1, s.s22 AS m2
         |  FROM sig s CROSS JOIN params p
         |  UNION ALL
         |  SELECT f.step + 1,
         |    p.c1 + (p.a11*f.f1 + p.a12*f.f2),
         |    p.c2 + (p.a21*f.f1 + p.a22*f.f2),
         |    f.phi11*p.a11 + f.phi12*p.a21, f.phi11*p.a12 + f.phi12*p.a22,
         |    f.phi21*p.a11 + f.phi22*p.a21, f.phi21*p.a12 + f.phi22*p.a22,
         |    f.m1 + ((f.phi11*p.a11 + f.phi12*p.a21)*s.s11
         |            + (f.phi11*p.a12 + f.phi12*p.a22)*s.s12)
         |             *(f.phi11*p.a11 + f.phi12*p.a21)
         |         + ((f.phi11*p.a11 + f.phi12*p.a21)*s.s12
         |            + (f.phi11*p.a12 + f.phi12*p.a22)*s.s22)
         |             *(f.phi11*p.a12 + f.phi12*p.a22),
         |    f.m2 + ((f.phi21*p.a11 + f.phi22*p.a21)*s.s11
         |            + (f.phi21*p.a12 + f.phi22*p.a22)*s.s12)
         |             *(f.phi21*p.a11 + f.phi22*p.a21)
         |         + ((f.phi21*p.a11 + f.phi22*p.a21)*s.s12
         |            + (f.phi21*p.a12 + f.phi22*p.a22)*s.s22)
         |             *(f.phi21*p.a12 + f.phi22*p.a22)
         |  FROM fc f CROSS JOIN sig s CROSS JOIN params p WHERE f.step < 7
         |)
         |SELECT CAST(step AS BIGINT) AS step,
         | round(f1, 6) AS v_forecast,
         | round(f1 - 1.959963984540054*sqrt(m1), 6) AS v_lo,
         | round(f1 + 1.959963984540054*sqrt(m1), 6) AS v_hi,
         | round(f2, 6) AS c_forecast,
         | round(f2 - 1.959963984540054*sqrt(m2), 6) AS c_lo,
         | round(f2 + 1.959963984540054*sqrt(m2), 6) AS c_hi
         |FROM fc""".stripMargin),
    GateQuery("q88_arimax_forecast_by_key", (s, dir) => {
      // q51's regression-with-AR(1)-errors predict surface fanned out per
      // user: exog is the per-user 0-based day index (future exog known),
      // the residual Kalman/forecast/CI recursions run executor-side; the
      // oracle steps q51's CTE chain for every user simultaneously.
      // Long-decimal params + 4dp rounding (the q87 boundary rule).
      val t = ev(s, dir).withSeriesKeys("user_id")
      val dailyByUser = MovingTransform.timePeriods(t, "days",
          Seq("value_cents" -> "sum"))
        .select(col("user_id"), col("days").as("d"),
          (col("value_cents_sum") / 100.0 / col("instance_count")).as("v"))
      val byUser = TimeseriesFrame(dailyByUser, Some("d"), Nil, Seq("user_id"))
      PerSeries.arimaxTimeRegForecastFixedByKey(byUser, "v",
          beta = 0.0213467291, phi = 0.4871236459, mu = 47.3182937, steps = 5)
        .select(col("user_id"), col("step"),
          round(col("forecast"), 4).as("forecast"),
          round(col("ci_low"), 4).as("ci_low"),
          round(col("ci_high"), 4).as("ci_high"))
    }, oracleSql =
      // q51's fixed-(β, φ, μ) ARIMAX recursions (residual centering, AR(1)
      // Kalman, u-forecast, time-index regression contribution, CI) with
      // every user stepped simultaneously; per-user n and day index. Users
      // with < 8 days are skipped (the Spark minRows guard).
      """WITH RECURSIVE daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |  sum(CAST(round(value*100) AS BIGINT))/100.0/count(*) AS v
        | FROM events GROUP BY 1, 2),
        |params AS (SELECT CAST(0.4871236459 AS DOUBLE) AS phi,
        |  CAST(0.0213467291 AS DOUBLE) AS beta,
        |  CAST(47.3182937 AS DOUBLE) AS mu),
        |idx AS (SELECT user_id, CAST(v AS DOUBLE) AS y,
        |  row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM daily),
        |n AS (SELECT user_id, count(*) AS n FROM idx
        |  GROUP BY 1 HAVING count(*) >= 8),
        |cent AS (SELECT i.user_id, i.rn,
        |  (i.y - pr.beta*CAST(i.rn - 1 AS DOUBLE)) - pr.mu AS x
        | FROM idx i JOIN n ON n.user_id = i.user_id CROSS JOIN params pr),
        |kf AS (
        |  SELECT n.user_id, 0 AS rn, CAST(0 AS DOUBLE) AS a,
        |    1/(1 - pr.phi*pr.phi) AS p,
        |    CAST(0 AS DOUBLE) AS cumv2f, CAST(0 AS DOUBLE) AS lastx
        |  FROM n CROSS JOIN params pr
        |  UNION ALL
        |  SELECT kf.user_id, i.rn,
        |    pr.phi*kf.a + ((pr.phi*kf.p)/kf.p)*(i.x - kf.a),
        |    ((pr.phi*kf.p)*pr.phi + 1)
        |      - (((pr.phi*kf.p)/kf.p)*((pr.phi*kf.p)/kf.p))*kf.p,
        |    kf.cumv2f + ((i.x - kf.a)*(i.x - kf.a))/kf.p,
        |    i.x
        |  FROM kf JOIN cent i ON i.user_id = kf.user_id AND i.rn = kf.rn + 1
        |  CROSS JOIN params pr
        |),
        |fin AS (SELECT kf.user_id, kf.p, kf.lastx, kf.cumv2f/n.n AS s2
        | FROM kf JOIN n ON n.user_id = kf.user_id AND kf.rn = n.n),
        |fc AS (
        |  SELECT f.user_id, 1 AS step, pr.phi*f.lastx AS fw, f.p AS ph
        |  FROM fin f CROSS JOIN params pr
        |  UNION ALL
        |  SELECT f.user_id, f.step + 1, pr.phi*f.fw, (pr.phi*f.ph)*pr.phi + 1
        |  FROM fc f CROSS JOIN params pr WHERE f.step < 5
        |),
        |out AS (SELECT f.user_id, f.step,
        |  f.fw + pr.mu AS uf,
        |  ((f.fw + pr.mu + 1.959963984540054*sqrt(fi.s2*f.ph))
        |   - (f.fw + pr.mu)) / 1.959963984540054 AS se,
        |  pr.beta * CAST(n.n + f.step - 1 AS DOUBLE) AS reg
        | FROM fc f JOIN fin fi ON fi.user_id = f.user_id
        | JOIN n ON n.user_id = f.user_id CROSS JOIN params pr)
        |SELECT user_id, CAST(step AS BIGINT) AS step,
        | round(reg + uf, 4) AS forecast,
        | round((reg + uf) - 1.959963984540054*se, 4) AS ci_low,
        | round((reg + uf) + 1.959963984540054*se, 4) AS ci_high
        |FROM out""".stripMargin),
    GateQuery("q87_var_forecast_by_key", (s, dir) => {
      // q45's fixed-parameter VAR predict surface fanned out per user:
      // per-user daily bivariate series (exact-cents mean, count), one
      // executor-side fitFixed+predict per key; the oracle steps q45's
      // residual-covariance and Ψ-CI recursions for every user
      // simultaneously (the q52 pattern)
      val t = ev(s, dir).withSeriesKeys("user_id")
      val dailyByUser = MovingTransform.timePeriods(t, "days",
          Seq("value_cents" -> "sum"))
        .select(col("user_id"), col("days").as("d"),
          (col("value_cents_sum") / 100.0 / col("instance_count")).as("v"),
          col("instance_count").cast("double").as("c"))
      val byUser = TimeseriesFrame(dailyByUser, Some("d"), Nil, Seq("user_id"))
      // long-decimal coefficients + 4dp rounding: short coefficients (0.5,
      // 0.1, …) times exact-cents data TERMINATE at ≤8 decimals, so step-3
      // forecasts land exactly ON 6dp rounding boundaries (…x5 halves),
      // where the engines' round() systematically disagree — observed on
      // 2–3 of 150 users. 10-decimal coefficients push the first possible
      // boundary hit to ~1e-10 probability per value.
      val a1 = breeze.linalg.DenseMatrix(
        (0.4973181273, 0.0127348291), (0.0981734629, 0.3016428751))
      PerSeries.varForecastFixedByKey(byUser, Seq("v", "c"), a1,
          Array(19.3741829, 4.8123467), steps = 5)
        .select(col("user_id") +: col("step") +:
          Seq("v_forecast", "v_lo", "v_hi", "c_forecast", "c_lo", "c_hi")
            .map(c => round(col(c), 4).as(c)): _*)
    }, oracleSql =
      // q45's fixed-(A₁,c) VAR recursions with every user stepped
      // simultaneously: the residual-covariance scan walks each user's
      // per-day bivariate series (one row per user per recursion step), the
      // forecast/Ψ-CI recursion steps all users together, per-user n in the
      // covariance divisor. Users with < 8 days are skipped (the Spark
      // minRows guard).
      """WITH RECURSIVE daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |  sum(CAST(round(value*100) AS BIGINT))/100.0/count(*) AS v,
        |  CAST(count(*) AS DOUBLE) AS c
        | FROM events GROUP BY 1, 2),
        |params AS (SELECT CAST(0.4973181273 AS DOUBLE) AS a11,
        |  CAST(0.0127348291 AS DOUBLE) AS a12,
        |  CAST(0.0981734629 AS DOUBLE) AS a21,
        |  CAST(0.3016428751 AS DOUBLE) AS a22,
        |  CAST(19.3741829 AS DOUBLE) AS c1, CAST(4.8123467 AS DOUBLE) AS c2),
        |idx AS (SELECT user_id, CAST(v AS DOUBLE) AS y1, CAST(c AS DOUBLE) AS y2,
        |  row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM daily),
        |n AS (SELECT user_id, count(*) AS n FROM idx
        |  GROUP BY 1 HAVING count(*) >= 8),
        |res AS (
        |  SELECT i.user_id, 1 AS rn, CAST(0 AS DOUBLE) AS s11,
        |    CAST(0 AS DOUBLE) AS s12, CAST(0 AS DOUBLE) AS s22,
        |    i.y1 AS py1, i.y2 AS py2
        |  FROM idx i JOIN n ON n.user_id = i.user_id WHERE i.rn = 1
        |  UNION ALL
        |  SELECT i.user_id, i.rn,
        |    r.s11 + (i.y1 - (p.c1 + (p.a11*r.py1 + p.a12*r.py2)))
        |          * (i.y1 - (p.c1 + (p.a11*r.py1 + p.a12*r.py2))),
        |    r.s12 + (i.y1 - (p.c1 + (p.a11*r.py1 + p.a12*r.py2)))
        |          * (i.y2 - (p.c2 + (p.a21*r.py1 + p.a22*r.py2))),
        |    r.s22 + (i.y2 - (p.c2 + (p.a21*r.py1 + p.a22*r.py2)))
        |          * (i.y2 - (p.c2 + (p.a21*r.py1 + p.a22*r.py2))),
        |    i.y1, i.y2
        |  FROM res r JOIN idx i ON i.user_id = r.user_id AND i.rn = r.rn + 1
        |  CROSS JOIN params p
        |),
        |sig AS (SELECT r.user_id, r.s11/(n.n - 4) AS s11, r.s12/(n.n - 4) AS s12,
        |  r.s22/(n.n - 4) AS s22, r.py1 AS ylast1, r.py2 AS ylast2
        | FROM res r JOIN n ON n.user_id = r.user_id AND r.rn = n.n),
        |fc AS (
        |  SELECT s.user_id, 1 AS step,
        |    p.c1 + (p.a11*s.ylast1 + p.a12*s.ylast2) AS f1,
        |    p.c2 + (p.a21*s.ylast1 + p.a22*s.ylast2) AS f2,
        |    CAST(1 AS DOUBLE) AS phi11, CAST(0 AS DOUBLE) AS phi12,
        |    CAST(0 AS DOUBLE) AS phi21, CAST(1 AS DOUBLE) AS phi22,
        |    s.s11 AS m1, s.s22 AS m2
        |  FROM sig s CROSS JOIN params p
        |  UNION ALL
        |  SELECT f.user_id, f.step + 1,
        |    p.c1 + (p.a11*f.f1 + p.a12*f.f2),
        |    p.c2 + (p.a21*f.f1 + p.a22*f.f2),
        |    f.phi11*p.a11 + f.phi12*p.a21, f.phi11*p.a12 + f.phi12*p.a22,
        |    f.phi21*p.a11 + f.phi22*p.a21, f.phi21*p.a12 + f.phi22*p.a22,
        |    f.m1 + ((f.phi11*p.a11 + f.phi12*p.a21)*s.s11
        |            + (f.phi11*p.a12 + f.phi12*p.a22)*s.s12)
        |             *(f.phi11*p.a11 + f.phi12*p.a21)
        |         + ((f.phi11*p.a11 + f.phi12*p.a21)*s.s12
        |            + (f.phi11*p.a12 + f.phi12*p.a22)*s.s22)
        |             *(f.phi11*p.a12 + f.phi12*p.a22),
        |    f.m2 + ((f.phi21*p.a11 + f.phi22*p.a21)*s.s11
        |            + (f.phi21*p.a12 + f.phi22*p.a22)*s.s12)
        |             *(f.phi21*p.a11 + f.phi22*p.a21)
        |         + ((f.phi21*p.a11 + f.phi22*p.a21)*s.s12
        |            + (f.phi21*p.a12 + f.phi22*p.a22)*s.s22)
        |             *(f.phi21*p.a12 + f.phi22*p.a22)
        |  FROM fc f JOIN sig s ON s.user_id = f.user_id CROSS JOIN params p
        |  WHERE f.step < 5
        |)
        |SELECT user_id, CAST(step AS BIGINT) AS step,
        | round(f1, 4) AS v_forecast,
        | round(f1 - 1.959963984540054*sqrt(m1), 4) AS v_lo,
        | round(f1 + 1.959963984540054*sqrt(m1), 4) AS v_hi,
        | round(f2, 4) AS c_forecast,
        | round(f2 - 1.959963984540054*sqrt(m2), 4) AS c_lo,
        | round(f2 + 1.959963984540054*sqrt(m2), 4) AS c_hi
        |FROM fc""".stripMargin),
    GateQuery("q47_eval_metrics_fixed", (s, dir) => {
      // the model-evaluation SCORING half at fixed predictions: rolling-
      // origin naive and drift forecasts are SQL-expressible, so the
      // pooled (true, pred) fold pairs — same fold order and alignment as
      // ModelEvaluation.evaluate — and all five reference metrics
      // (functions.py:21-49, incl. the nonstandard median-MAE and
      // mean-normalized MAPE) hash-check end to end
      val d0 = daily(s, dir)
      val y = ModelEvaluation.collectSeries(d0, Seq("v")).map(_.head)
      val steps = 3; val nFolds = 3
      def pool(pred: (Int, Int) => Double): (Array[Double], Array[Double]) = {
        val pairs = for {
          fold <- 1 to nFolds
          te = y.length - fold * steps
          h <- 0 until steps
        } yield (y(te + h), pred(te, h))
        (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
      }
      val specs = Seq(
        "naive" -> ((te: Int, h: Int) => y(te - 1)),
        "drift" -> ((te: Int, h: Int) =>
          y(te - 1) + (h + 1) * (y(te - 1) - y(0)) / (te - 1)))
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame(specs.map { case (name, p) =>
        val (t, pr) = pool(p)
        (name, r6(Metrics.rmse(t, pr)), r6(Metrics.mae(t, pr)),
          r6(Metrics.mape(t, pr)), r6(Metrics.pocid(t, pr)),
          r6(Metrics.r2(t, pr)))
      }).toDF("model", "rmse", "mae", "mape", "pocid", "r2")
    }, oracleSql =
      // Evaluation metrics at fixed (naive / drift) rolling-origin
      // predictions: pooled fold pairs in the same order as
      // `ModelEvaluation.evaluate`, scored with the reference's definitions
      // (`functions.py:21-49`) — RMSE, MEDIAN absolute error, mean-normalized
      // MAPE, POCID over pooled direction changes, R².
      s"""WITH daily AS ($dailySql),
         |idx AS (SELECT CAST(v AS DOUBLE) AS y,
         |  row_number() OVER (ORDER BY d) AS rn FROM daily),
         |n AS (SELECT count(*) AS n FROM idx),
         |folds AS (SELECT fold, (SELECT n FROM n) - fold*3 AS te
         |  FROM (VALUES (1),(2),(3)) t(fold)),
         |hs AS (SELECT h FROM (VALUES (0),(1),(2)) t(h)),
         |base AS (
         |  SELECT fo.fold, hs.h, (fo.fold-1)*3 + hs.h AS seq,
         |    ty.y AS yt, tr.y AS ylast, fo.te
         |  FROM folds fo CROSS JOIN hs
         |  JOIN idx ty ON ty.rn = fo.te + hs.h + 1
         |  JOIN idx tr ON tr.rn = fo.te),
         |pairs AS (
         |  SELECT 'naive' AS model, seq, yt, ylast AS yp FROM base
         |  UNION ALL
         |  SELECT 'drift', seq, yt,
         |    ylast + (h+1) * (ylast - (SELECT y FROM idx WHERE rn = 1)) / (te - 1)
         |  FROM base),
         |scored AS (
         |  SELECT model,
         |    sqrt(sum((yt-yp)*(yt-yp))/9) AS rmse,
         |    median(abs(yt-yp)) AS mae,
         |    (sum(abs(yt-yp))/9) / (sum(abs(yt))/9) AS mape,
         |    sum(yt)/9 AS mu,
         |    sum((yt-yp)*(yt-yp)) AS sse
         |  FROM pairs GROUP BY model),
         |r2t AS (
         |  SELECT p.model, 1 - s.sse / sum((p.yt - s.mu)*(p.yt - s.mu)) AS r2
         |  FROM pairs p JOIN scored s USING (model) GROUP BY p.model, s.sse),
         |pocidt AS (
         |  SELECT model,
         |    100.0 * sum(CASE WHEN (ytn - yt)*(ypn - yp) > 0 THEN 1 ELSE 0 END)
         |      / count(*) AS pocid
         |  FROM (SELECT model, seq, yt, yp,
         |          lead(yt) OVER (PARTITION BY model ORDER BY seq) AS ytn,
         |          lead(yp) OVER (PARTITION BY model ORDER BY seq) AS ypn
         |        FROM pairs)
         |  WHERE ytn IS NOT NULL GROUP BY model)
         |SELECT s.model, round(s.rmse, 6) AS rmse, round(s.mae, 6) AS mae,
         | round(s.mape, 6) AS mape, round(p.pocid, 6) AS pocid,
         | round(r.r2, 6) AS r2
         |FROM scored s JOIN r2t r ON r.model = s.model
         |JOIN pocidt p ON p.model = s.model""".stripMargin),
    GateQuery("q86_eval_naive_drift_by_key", (s, dir) => {
      // the model-evaluation scoring surface per series: rolling-origin
      // naive/drift fold pools + all five reference metrics computed
      // executor-side per user; the oracle replays q47's whole pipeline
      // PARTITIONed by user (per-user n, folds, pooled windows)
      // 4dp + scanned boundary shift (the q48 recipe): the metrics are
      // ratios of exact-cents sums, whose terminating decimals land ON
      // 6dp AND unshifted-4dp boundaries (measured: an sf0.01 mae sits
      // 1.7e-9 from its 6dp boundary, 23.06425 exactly on 4dp; an sf0.1
      // rmse actually flipped). δ = metricShift maximizes the scanned
      // min margin: 3.8e-7 over all 1500 gate values ≈ 3800× the
      // cross-engine deviation. BoundaryMarginSpec asserts it stays so.
      val t = ev(s, dir).withSeriesKeys("user_id")
      val raw = ModelEvaluation.evaluateNaiveDriftByKey(t, "value",
        nFolds = 3, steps = 3)
      raw.select(col("user_id") +: col("model") +:
        Seq("rmse", "mae", "mape", "pocid", "r2").map(c =>
          round(col(c) + lit(metricShift), 4).as(c)): _*)
    }, oracleSql =
      // q47's rolling-origin naive/drift scoring pipeline partitioned per
      // user: per-user n and fold origins, pooled (yt, yp) pairs in the same
      // (fold, h) order, and the five metrics grouped by (user, model).
      """WITH s AS (SELECT user_id, CAST(value AS DOUBLE) AS y,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |n AS (SELECT user_id, count(*) AS n FROM s GROUP BY 1),
        |y1 AS (SELECT user_id, y AS y0 FROM s WHERE rn = 1),
        |folds AS (SELECT n.user_id, fold, n.n - fold*3 AS te
        |  FROM n CROSS JOIN (VALUES (1),(2),(3)) t(fold)
        |  WHERE n.n - 9 >= 2),
        |hs AS (SELECT h FROM (VALUES (0),(1),(2)) t(h)),
        |base AS (
        |  SELECT fo.user_id, fo.fold, hs.h, (fo.fold-1)*3 + hs.h AS seq,
        |    ty.y AS yt, tr.y AS ylast, fo.te
        |  FROM folds fo CROSS JOIN hs
        |  JOIN s ty ON ty.user_id = fo.user_id AND ty.rn = fo.te + hs.h + 1
        |  JOIN s tr ON tr.user_id = fo.user_id AND tr.rn = fo.te),
        |pairs AS (
        |  SELECT user_id, 'naive' AS model, seq, yt, ylast AS yp FROM base
        |  UNION ALL
        |  SELECT b.user_id, 'drift', seq, yt,
        |    ylast + (h+1) * (ylast - y1.y0) / (te - 1)
        |  FROM base b JOIN y1 ON y1.user_id = b.user_id),
        |scored AS (
        |  SELECT user_id, model,
        |    sqrt(sum((yt-yp)*(yt-yp))/9) AS rmse,
        |    median(abs(yt-yp)) AS mae,
        |    (sum(abs(yt-yp))/9) / (sum(abs(yt))/9) AS mape,
        |    sum(yt)/9 AS mu,
        |    sum((yt-yp)*(yt-yp)) AS sse
        |  FROM pairs GROUP BY 1, 2),
        |r2t AS (
        |  SELECT p.user_id, p.model,
        |    1 - s.sse / sum((p.yt - s.mu)*(p.yt - s.mu)) AS r2
        |  FROM pairs p
        |  JOIN scored s ON s.user_id = p.user_id AND s.model = p.model
        |  GROUP BY p.user_id, p.model, s.sse),
        |pocidt AS (
        |  SELECT user_id, model,
        |    100.0 * sum(CASE WHEN (ytn - yt)*(ypn - yp) > 0 THEN 1 ELSE 0 END)
        |      / count(*) AS pocid
        |  FROM (SELECT user_id, model, seq, yt, yp,
        |          lead(yt) OVER (PARTITION BY user_id, model ORDER BY seq) AS ytn,
        |          lead(yp) OVER (PARTITION BY user_id, model ORDER BY seq) AS ypn
        |        FROM pairs)
        |  WHERE ytn IS NOT NULL GROUP BY 1, 2)
        |SELECT s.user_id, s.model,
        | round(s.rmse + 0.000023367, 4) AS rmse,
        | round(s.mae + 0.000023367, 4) AS mae,
        | round(s.mape + 0.000023367, 4) AS mape,
        | round(p.pocid + 0.000023367, 4) AS pocid,
        | round(r.r2 + 0.000023367, 4) AS r2
        |FROM scored s
        |JOIN r2t r ON r.user_id = s.user_id AND r.model = s.model
        |JOIN pocidt p ON p.user_id = s.user_id AND p.model = s.model""".stripMargin),
    GateQuery("q52_arma_forecast_by_key", (s, dir) => {
      // the millions-of-models fan-out under the HASH gate: one
      // fixed-parameter ARMA(1,1) per user, fitted and forecast entirely
      // on the executors (sorted-stream gather + per-series kernel); the
      // oracle runs q43's scalar Kalman/forecast/CI recursion with every
      // user stepped simultaneously in one recursive CTE
      val t = ev(s, dir).withSeriesKeys("user_id")
      PerSeries.armaForecastFixedByKey(t, "value",
          Array(0.6), Array(0.3), mu = 50.0, steps = 3)
        .select(col("user_id"), col("step"),
          round(col("forecast"), 6).as("forecast"),
          round(col("ci_low"), 6).as("ci_low"),
          round(col("ci_high"), 6).as("ci_high"))
    }, oracleSql =
      // Per-user ARMA(1,1) forecast/CI at fixed (φ=0.6, θ=0.3, μ=50): the
      // q43 scalar (a1, p11) Kalman recursion and forecast/CI iteration with
      // every user stepped simultaneously (the recursion carries user_id).
      // Users shorter than 8 rows are dropped on both engines.
      s"""WITH RECURSIVE s AS (SELECT user_id, value,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         | FROM events),
         |params AS (SELECT CAST(0.6 AS DOUBLE) AS phi, CAST(0.3 AS DOUBLE) AS theta,
         |  CAST(50.0 AS DOUBLE) AS mu),
         |idx AS (SELECT user_id,
         |  CAST(value AS DOUBLE) - (SELECT mu FROM params) AS x, rn FROM s),
         |n AS (SELECT user_id, count(*) AS n FROM idx
         | GROUP BY 1 HAVING count(*) >= 8),
         |kf AS (
         |  SELECT n.user_id, 0 AS rn, CAST(0.0 AS DOUBLE) AS a1,
         |    (1 + 2*p.phi*p.theta + p.theta*p.theta)/(1 - p.phi*p.phi) AS p11,
         |    CAST(0.0 AS DOUBLE) AS v, CAST(0.0 AS DOUBLE) AS cumv2f,
         |    CAST(0.0 AS DOUBLE) AS lastx
         |  FROM n CROSS JOIN params p
         |  UNION ALL
         |  SELECT kf.user_id, i.rn,
         |    p.phi*kf.a1 + ((p.phi*kf.p11 + p.theta)/kf.p11)*(i.x - kf.a1),
         |    p.phi*p.phi*kf.p11 + 2*p.phi*p.theta + p.theta*p.theta + 1
         |      - ((p.phi*kf.p11 + p.theta)/kf.p11)*((p.phi*kf.p11 + p.theta)/kf.p11)*kf.p11,
         |    i.x - kf.a1,
         |    kf.cumv2f + (i.x - kf.a1)*(i.x - kf.a1)/kf.p11,
         |    i.x
         |  FROM kf JOIN idx i ON i.user_id = kf.user_id AND i.rn = kf.rn + 1
         |  CROSS JOIN params p
         |),
         |fin AS (SELECT kf.*, kf.cumv2f/n.n AS s2
         |  FROM kf JOIN n ON n.user_id = kf.user_id AND kf.rn = n.n),
         |fc AS (
         |  SELECT f.user_id, 1 AS step,
         |    p.phi*f.lastx + p.theta*f.v AS fw, f.p11 AS p11f, f.s2
         |  FROM fin f CROSS JOIN params p
         |  UNION ALL
         |  SELECT f.user_id, f.step + 1, p.phi*f.fw,
         |    p.phi*p.phi*f.p11f + 2*p.phi*p.theta + p.theta*p.theta + 1, f.s2
         |  FROM fc f CROSS JOIN params p WHERE f.step < 3
         |)
         |SELECT user_id, CAST(step AS BIGINT) AS step,
         | round(fw + (SELECT mu FROM params), 6) AS forecast,
         | round(fw + (SELECT mu FROM params)
         |   - 1.959963984540054*sqrt(s2*p11f), 6) AS ci_low,
         | round(fw + (SELECT mu FROM params)
         |   + 1.959963984540054*sqrt(s2*p11f), 6) AS ci_high
         |FROM fc""".stripMargin),
    GateQuery("q51_arimax_forecast_fixed", (s, dir) => {
      // the ARIMAX predict surface at FIXED (β, φ, μ): regression
      // residuals, their AR(1) Kalman filter, the u-forecast, the exog
      // contribution (time-index regressor, so future exog is known), and
      // the CI all replay as recursive CTEs — extends q43/q46's coverage
      // to the regression-with-ARMA-errors path
      val d0 = daily(s, dir)
      val y = ModelEvaluation.collectSeries(d0, Seq("v")).map(_.head)
      val n = y.length
      val exog = Array.tabulate(n)(i => Array(i.toDouble))
      val m = new Arimax(1, 0, 0).fitFixed(y, exog,
        Array(0.02), Array(0.5), Array(), 48.0)
      val future = Array.tabulate(7)(h => Array((n + h).toDouble))
      val (fo, lo, hi) = m.predict(future)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame((0 until 7).map(i =>
        (i + 1L, r6(fo(i)), r6(lo(i)), r6(hi(i)))))
        .toDF("step", "forecast", "ci_low", "ci_high")
    }, oracleSql =
      // ARIMAX(1,0,0) k=1 forecast/CI at fixed (β, φ, μ): centered residuals
      // `(v − β·i) − μ` run the same scalar AR(1) Kalman recursion as q46;
      // the forecast adds the known future exog contribution `β·(n+step−1)`,
      // and the d=0 CI half-width round-trips through z exactly as
      // `Arimax.predict` derives it (se = (uHi − uF)/z).
      s"""WITH RECURSIVE daily AS ($dailySql),
         |params AS (SELECT CAST(0.5 AS DOUBLE) AS phi, CAST(0.02 AS DOUBLE) AS beta,
         |  CAST(48.0 AS DOUBLE) AS mu),
         |idx AS (SELECT CAST(v AS DOUBLE) AS y,
         |  row_number() OVER (ORDER BY d) AS rn FROM daily),
         |n AS (SELECT count(*) AS n FROM idx),
         |cent AS (SELECT rn,
         |  (y - (SELECT beta FROM params)*CAST(rn - 1 AS DOUBLE))
         |    - (SELECT mu FROM params) AS x
         | FROM idx),
         |kf AS (
         |  SELECT 0 AS rn, CAST(0 AS DOUBLE) AS a,
         |    1/(1 - p.phi*p.phi) AS p,
         |    CAST(0 AS DOUBLE) AS cumv2f, CAST(0 AS DOUBLE) AS lastx
         |  FROM params p
         |  UNION ALL
         |  SELECT i.rn,
         |    p.phi*kf.a + ((p.phi*kf.p)/kf.p)*(i.x - kf.a),
         |    ((p.phi*kf.p)*p.phi + 1)
         |      - (((p.phi*kf.p)/kf.p)*((p.phi*kf.p)/kf.p))*kf.p,
         |    kf.cumv2f + ((i.x - kf.a)*(i.x - kf.a))/kf.p,
         |    i.x
         |  FROM kf JOIN cent i ON i.rn = kf.rn + 1 CROSS JOIN params p
         |),
         |fin AS (SELECT kf.p, kf.lastx, kf.cumv2f/(SELECT n FROM n) AS s2
         | FROM kf WHERE rn = (SELECT n FROM n)),
         |fc AS (
         |  SELECT 1 AS step, p.phi*(SELECT lastx FROM fin) AS fw,
         |    (SELECT p FROM fin) AS ph
         |  FROM params p
         |  UNION ALL
         |  SELECT f.step + 1, p.phi*f.fw, (p.phi*f.ph)*p.phi + 1
         |  FROM fc f CROSS JOIN params p WHERE f.step < 7
         |),
         |out AS (SELECT step,
         |  fw + (SELECT mu FROM params) AS uf,
         |  ((fw + (SELECT mu FROM params)
         |     + 1.959963984540054*sqrt((SELECT s2 FROM fin)*ph))
         |   - (fw + (SELECT mu FROM params))) / 1.959963984540054 AS se,
         |  (SELECT beta FROM params)
         |    * CAST((SELECT n FROM n) + step - 1 AS DOUBLE) AS reg
         | FROM fc)
         |SELECT CAST(step AS BIGINT) AS step,
         | round(reg + uf, 6) AS forecast,
         | round((reg + uf) - 1.959963984540054*se, 6) AS ci_low,
         | round((reg + uf) + 1.959963984540054*se, 6) AS ci_high
         |FROM out""".stripMargin),
    GateQuery("q46_arima_d1_forecast_fixed", (s, dir) => {
      // the ARIMA d=1 predict surface at FIXED φ: differencing, the m=1
      // Kalman filter, σ², the AR forecast recursion, the running-sum
      // level integration (typ='levels', `models.py:324-328`), and the
      // augmented-state SE recursion all replay as recursive CTEs —
      // extends q43's hash coverage to the integration path
      val d = daily(s, dir)
      val y = ModelEvaluation.collectSeries(d, Seq("v")).map(_.head)
      val m = new Arima(1, 1, 0).fitFixed(y, Array(0.55), Array())
      val (fo, lo, hi) = m.predict(7)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame((0 until 7).map(i =>
        (i + 1L, r6(fo(i)), r6(lo(i)), r6(hi(i)))))
        .toDF("step", "forecast", "ci_low", "ci_high")
    }, oracleSql =
      // ARIMA(1,1,0) forecast/CI at fixed φ: with q=0 the state is scalar,
      // so the exact-likelihood Kalman filter is a (a, p) recursion with
      // P₀ = 1/(1-φ²); the forecast is fwₕ = φ·fwₕ₋₁ integrated onto the
      // last level by a running sum (typ='levels'), and the d=1 standard
      // errors propagate the 2×2 augmented [state; level-offset] covariance
      // (`Arima.forecastSe` d=1 branch). Every multiply/add mirrors the
      // Breeze op order so the floats are bit-identical.
      s"""WITH RECURSIVE daily AS ($dailySql),
         |params AS (SELECT CAST(0.55 AS DOUBLE) AS phi),
         |lvl AS (SELECT CAST(v AS DOUBLE) AS y,
         |  row_number() OVER (ORDER BY d) AS rn FROM daily),
         |w AS (SELECT y - lag(y) OVER (ORDER BY rn) AS x,
         |  row_number() OVER (ORDER BY rn) - 1 AS rn
         | FROM lvl QUALIFY x IS NOT NULL),
         |n AS (SELECT count(*) AS nw FROM w),
         |kf AS (
         |  SELECT 0 AS rn, CAST(0 AS DOUBLE) AS a,
         |    1/(1 - p.phi*p.phi) AS p,
         |    CAST(0 AS DOUBLE) AS cumv2f, CAST(0 AS DOUBLE) AS lastx
         |  FROM params p
         |  UNION ALL
         |  SELECT i.rn,
         |    p.phi*kf.a + ((p.phi*kf.p)/kf.p)*(i.x - kf.a),
         |    ((p.phi*kf.p)*p.phi + 1)
         |      - (((p.phi*kf.p)/kf.p)*((p.phi*kf.p)/kf.p))*kf.p,
         |    kf.cumv2f + ((i.x - kf.a)*(i.x - kf.a))/kf.p,
         |    i.x
         |  FROM kf JOIN w i ON i.rn = kf.rn + 1 CROSS JOIN params p
         |),
         |fin AS (SELECT kf.a, kf.p, kf.lastx,
         |  kf.cumv2f/(SELECT nw FROM n) AS s2
         | FROM kf WHERE rn = (SELECT nw FROM n)),
         |ylast AS (SELECT y FROM lvl WHERE rn = (SELECT nw FROM n) + 1),
         |fc AS (
         |  SELECT 1 AS step,
         |    p.phi*(SELECT lastx FROM fin) AS fw,
         |    (SELECT y FROM ylast) + p.phi*(SELECT lastx FROM fin) AS level,
         |    (SELECT p FROM fin) AS q11, (SELECT p FROM fin) AS q01,
         |    (SELECT p FROM fin) AS q10, (SELECT p FROM fin) AS q22
         |  FROM params p
         |  UNION ALL
         |  SELECT f.step + 1, p.phi*f.fw, f.level + p.phi*f.fw,
         |    (p.phi*f.q11)*p.phi + 1,
         |    ((p.phi*f.q11)*p.phi + p.phi*f.q01) + 1,
         |    ((p.phi*f.q11 + f.q10)*p.phi) + 1,
         |    ((p.phi*f.q11 + f.q10)*p.phi + (p.phi*f.q01 + f.q22)) + 1
         |  FROM fc f CROSS JOIN params p WHERE f.step < 7
         |)
         |SELECT CAST(step AS BIGINT) AS step,
         | round(level, 6) AS forecast,
         | round(level - 1.959963984540054*sqrt((SELECT s2 FROM fin)*q22), 6)
         |   AS ci_low,
         | round(level + 1.959963984540054*sqrt((SELECT s2 FROM fin)*q22), 6)
         |   AS ci_high
         |FROM fc""".stripMargin),
    GateQuery("q43_arma_forecast_fixed", (s, dir) => {
      // the ARMA predict surface at FIXED (phi, theta, mu): the Kalman
      // filter for ARMA(1,1) reduces to a scalar (a1, p11) recursion
      // (p12=theta, p22=theta^2 are invariant), so the DuckDB oracle
      // replays the filter, sigma2 = sum(v^2/F)/n, the forecast
      // difference-equation iteration, and the forward P(0,0)
      // propagation for the CI as recursive CTEs — hash-checking
      // everything downstream of the (non-SQL-expressible) MLE
      val d = daily(s, dir)
      val y = ModelEvaluation.collectSeries(d, Seq("v")).map(_.head)
      val m = new Arima(1, 0, 1).fitFixed(y, Array(0.6), Array(0.3), 50.0)
      val (fo, lo, hi) = m.predict(7)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.createDataFrame((0 until 7).map(i =>
        (i + 1L, r6(fo(i)), r6(lo(i)), r6(hi(i)))))
        .toDF("step", "forecast", "ci_low", "ci_high")
    }, oracleSql =
      // ARMA(1,1) d=0 forecast/CI at fixed (φ=0.6, θ=0.3, μ=50): the Kalman
      // filter collapses to a scalar (a1, p11) recursion — p12=θ and p22=θ²
      // are invariant under both the filter update and the forecast
      // propagation — so the whole predict path (filter → σ²=Σv²/F/n →
      // difference-equation forecast → forward P(0,0) CI) is two recursive
      // CTEs. Mirrors `Arima.fitFixed(...).predict(7)`.
      s"""WITH RECURSIVE daily AS ($dailySql),
         |params AS (SELECT CAST(0.6 AS DOUBLE) AS phi, CAST(0.3 AS DOUBLE) AS theta,
         |  CAST(50.0 AS DOUBLE) AS mu),
         |idx AS (SELECT CAST(v AS DOUBLE) - (SELECT mu FROM params) AS x,
         |  row_number() OVER (ORDER BY d) AS rn FROM daily),
         |n AS (SELECT count(*) AS n FROM idx),
         |kf AS (
         |  SELECT 0 AS rn, CAST(0.0 AS DOUBLE) AS a1,
         |    (1 + 2*p.phi*p.theta + p.theta*p.theta)/(1 - p.phi*p.phi) AS p11,
         |    CAST(0.0 AS DOUBLE) AS v, CAST(0.0 AS DOUBLE) AS cumv2f,
         |    CAST(0.0 AS DOUBLE) AS lastx
         |  FROM params p
         |  UNION ALL
         |  SELECT i.rn,
         |    p.phi*kf.a1 + ((p.phi*kf.p11 + p.theta)/kf.p11)*(i.x - kf.a1),
         |    p.phi*p.phi*kf.p11 + 2*p.phi*p.theta + p.theta*p.theta + 1
         |      - ((p.phi*kf.p11 + p.theta)/kf.p11)*((p.phi*kf.p11 + p.theta)/kf.p11)*kf.p11,
         |    i.x - kf.a1,
         |    kf.cumv2f + (i.x - kf.a1)*(i.x - kf.a1)/kf.p11,
         |    i.x
         |  FROM kf JOIN idx i ON i.rn = kf.rn + 1 CROSS JOIN params p
         |),
         |fin AS (SELECT kf.*, kf.cumv2f/(SELECT n FROM n) AS s2
         |  FROM kf WHERE rn = (SELECT n FROM n)),
         |fc AS (
         |  SELECT 1 AS step,
         |    (SELECT phi FROM params)*(SELECT lastx FROM fin)
         |      + (SELECT theta FROM params)*(SELECT v FROM fin) AS fw,
         |    (SELECT p11 FROM fin) AS p11f
         |  UNION ALL
         |  SELECT step + 1, (SELECT phi FROM params)*fw,
         |    (SELECT phi FROM params)*(SELECT phi FROM params)*p11f
         |      + 2*(SELECT phi FROM params)*(SELECT theta FROM params)
         |      + (SELECT theta FROM params)*(SELECT theta FROM params) + 1
         |  FROM fc WHERE step < 7
         |)
         |SELECT CAST(step AS BIGINT) AS step,
         | round(fw + (SELECT mu FROM params), 6) AS forecast,
         | round(fw + (SELECT mu FROM params)
         |   - 1.959963984540054*sqrt((SELECT s2 FROM fin)*p11f), 6) AS ci_low,
         | round(fw + (SELECT mu FROM params)
         |   + 1.959963984540054*sqrt((SELECT s2 FROM fin)*p11f), 6) AS ci_high
         |FROM fc""".stripMargin),
    GateQuery("q69_resample", (s, dir) => {
      // regular-grid resampling per user: hourly buckets (exact-cents
      // means), COMPLETE grid via per-series sequence explode, linear
      // fill through the O(n) window carries; n_events=0 marks
      // interpolated points
      val t = ev(s, dir).withSeriesKeys("user_id")
      // explicit floor-based half-up rounding: small-bucket means land on
      // exact .5-at-6dp boundaries where Spark round (HALF_UP) and DuckDB
      // round (banker's) disagree; floor(x·1e6 + 0.5)/1e6 is the same
      // IEEE op sequence in both engines
      Resample.meanGrid(t, "value_cents", everySeconds = 3600)
        .select(col("user_id"), col("bucket_s"),
          (floor(col("value_mean") * 1e6 + 0.5) / 1e6).as("value_mean"),
          col("n_events"))
    }, oracleSql =
      // bucket agg → generate_series grid → q41-style carry interpolation
      s"""WITH a AS (SELECT user_id,
         |  (epoch_us(ts) // 1000000 // 3600) * 3600 AS bucket_s,
         |  CAST(sum($centsSql) AS BIGINT) AS cs, count(*) AS n_ev
         | FROM events GROUP BY 1, 2),
         |b AS (SELECT user_id, min(bucket_s) AS lo, max(bucket_s) AS hi
         | FROM a GROUP BY 1),
         |g AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket_s
         | FROM b),
         |j AS (SELECT g.user_id, g.bucket_s,
         |  coalesce(a.n_ev, 0) AS n_events,
         |  a.cs::DOUBLE / 100.0 / a.n_ev AS m
         | FROM g LEFT JOIN a USING (user_id, bucket_s)),
         |t AS (SELECT user_id, bucket_s, n_events, m,
         |  count(m) OVER (PARTITION BY user_id) AS kn,
         |  last_value(m IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN m IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER wp AS pt,
         |  first_value(m IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN m IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER wn AS nt
         | FROM j
         | WINDOW wp AS (PARTITION BY user_id ORDER BY bucket_s
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY user_id ORDER BY bucket_s
         |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, bucket_s,
         | floor((CASE WHEN kn < 2 THEN m ELSE
         |  coalesce(m, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |   WHEN nt = pt THEN pv
         |   ELSE pv + (nv - pv) * (bucket_s - pt) / (nt - pt) END) END)
         |  * 1000000 + 0.5) / 1000000 AS value_mean,
         | CAST(n_events AS BIGINT) AS n_events
         |FROM t""".stripMargin),
    GateQuery("q41_interpolate_by_key", (s, dir) => {
      // per-series gap fill — seriesKeys exercise of the O(n) reversed-
      // window lookahead (each user an independent partition)
      val t0 = evGappy(s, dir)
      val t = t0.withSeriesKeys("user_id")
      val lin = Interpolate.expr(t, "value", "linear")
      val near = Interpolate.expr(t, "value", "nearest")
      t.df.select(col("event_id"), col("user_id"),
        round(lin, 6).as("value_linear"),
        near.as("value_nearest"))
    }, oracleSql =
      s"""WITH s AS (
         | SELECT event_id, user_id, ts, epoch(ts) AS tt,
         |  CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS v
         | FROM events),
         |t AS (
         | SELECT event_id, user_id, tt, v,
         |  count(v) OVER (PARTITION BY user_id) AS kn,
         |  last_value(v IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS) OVER wp AS pt,
         |  first_value(v IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS) OVER wn AS nt
         | FROM s
         | WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_id, user_id,
         | round(CASE WHEN kn < 2 THEN v ELSE
         |  coalesce(v, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |   WHEN nt = pt THEN pv ELSE pv + (nv - pv) * (tt - pt) / (nt - pt) END) END, 6)
         |  AS value_linear,
         | CASE WHEN kn < 2 THEN v ELSE
         |  coalesce(v, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |   WHEN tt - pt <= nt - tt THEN pv ELSE nv END) END AS value_nearest
         |FROM t""".stripMargin),
    GateQuery("q40_seasonal_by_key", (s, dir) => {
      // per-series seasonal decomposition (edge regressions and phase
      // means all per-key — fully distributed, no driver collects)
      val t = ev(s, dir).withSeriesKeys("user_id")
      SeasonalDecompose(t, Seq("value"), period = 7, model = "additive")
        .select(col("user_id"), col("event_id"),
          round(col("value_adjusted"), 6).as("value_adjusted"),
          round(col("value_seasonal"), 6).as("value_seasonal"),
          round(col("value_trend"), 6).as("value_trend"),
          round(col("value_residual"), 6).as("value_residual"))
    }, oracleSql =
      // Per-user additive decomposition, period 7 over the row order —
      // mirrors SeasonalDecompose's per-series windows/fits exactly.
      """WITH idx AS (SELECT user_id, event_id, value AS v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM events),
        |tr AS (SELECT *, CASE WHEN rn >= 3 AND rn <= n - 4
        |  THEN avg(v) OVER (PARTITION BY user_id ORDER BY rn
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) END AS trend0
        | FROM idx),
        |fit AS (SELECT user_id,
        |  regr_slope(CASE WHEN rn >= 3 AND rn < least(6, n-4) THEN trend0 END,
        |             CASE WHEN rn >= 3 AND rn < least(6, n-4) THEN rn END) AS k1,
        |  regr_intercept(CASE WHEN rn >= 3 AND rn < least(6, n-4) THEN trend0 END,
        |                 CASE WHEN rn >= 3 AND rn < least(6, n-4) THEN rn END) AS c1,
        |  avg(CASE WHEN rn >= 3 AND rn < least(6, n-4) THEN trend0 END) AS m1,
        |  regr_slope(CASE WHEN rn >= greatest(3, n-7) AND rn < n-4 THEN trend0 END,
        |             CASE WHEN rn >= greatest(3, n-7) AND rn < n-4 THEN rn END) AS k2,
        |  regr_intercept(CASE WHEN rn >= greatest(3, n-7) AND rn < n-4 THEN trend0 END,
        |                 CASE WHEN rn >= greatest(3, n-7) AND rn < n-4 THEN rn END) AS c2,
        |  avg(CASE WHEN rn >= greatest(3, n-7) AND rn < n-4 THEN trend0 END) AS m2
        | FROM tr GROUP BY 1),
        |ph AS (SELECT user_id, rn % 7 AS phase, avg(v - trend0) AS pavg
        | FROM tr GROUP BY 1, 2),
        |g AS (SELECT user_id, phase, pavg,
        |  avg(pavg) OVER (PARTITION BY user_id) AS grand FROM ph)
        |SELECT tr.user_id, tr.event_id,
        | round(tr.v - (g.pavg - g.grand), 6) AS value_adjusted,
        | round(g.pavg - g.grand, 6) AS value_seasonal,
        | round(CASE WHEN tr.rn < 3
        |    THEN tr.rn * coalesce(f.k1, 0) + coalesce(f.c1, f.m1)
        |   WHEN tr.rn > tr.n - 4
        |    THEN tr.rn * coalesce(f.k2, 0) + coalesce(f.c2, f.m2)
        |   ELSE tr.trend0 END, 6) AS value_trend,
        | round((tr.v - (g.pavg - g.grand))
        |  - (CASE WHEN tr.rn < 3
        |      THEN tr.rn * coalesce(f.k1, 0) + coalesce(f.c1, f.m1)
        |     WHEN tr.rn > tr.n - 4
        |      THEN tr.rn * coalesce(f.k2, 0) + coalesce(f.c2, f.m2)
        |     ELSE tr.trend0 END), 6) AS value_residual
        |FROM tr JOIN g ON g.user_id = tr.user_id AND g.phase = tr.rn % 7
        | JOIN fit f ON f.user_id = tr.user_id""".stripMargin),
    // ---- relational / scale demos ------------------------------------
    GateQuery("q23_lineitem_pricing", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      def cents(c: Column) = round(c * 100).cast("long")
      li.filter(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("sum_disc_c4"),
          count(lit(1)).as("n"))
    }, oracleSql =
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |     * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
        | count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2""".stripMargin),
    GateQuery("q24_nation_revenue", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    }, oracleSql =
      """SELECT n_name,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin),
    GateQuery("q25_sessionize", (s, dir) => {
      val t = ev(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
      val newSession = when(gap.isNull || gap > 1800L * 1000000L, 1L).otherwise(0L)
      t.df.withColumn("session_id",
          sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
    }, oracleSql =
      """WITH t AS (
        | SELECT user_id, event_id, ts, epoch_us(ts) AS tus,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER wo IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER wo > 1800000000
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |u AS (SELECT user_id, tus,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM t)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(tus) AS start_us, max(tus) AS end_us
        |FROM u GROUP BY 1, 2""".stripMargin),
    GateQuery("q89_pq_adc_topk", (s, dir) => {
      // product-quantized ANN, hash-gated END-TO-END: the fromRows
      // codebook (the 16 lowest-id normalized vectors) is a filter+slice
      // in SQL, so encode → LUT → ADC → rank replays exactly in DuckDB —
      // the pluggable-trainer analogue of q58's full-probe trick (k-means
      // codebooks are the production path, spec-covered). Determinism:
      // normalized vectors round to 6dp BEFORE encoding (bit-identical
      // argmin inputs across engines; distances of distinct centroids
      // never tie within float noise, exact duplicates tie exactly and
      // break on centroid id) and ADC scores round to 4dp BEFORE ranking
      // (q57's boundary-decision rule)
      import graft.functions.VectorFunctions
      import graft.similarity.ProductQuantizer
      val e = tbl(s, dir, "embeddings")
      val v = col("embedding").cast("array<double>")
      val nv = e.select(col("vec_id"),
        transform(VectorFunctions.arrayDiv(v, Similarity.norm(v)),
          x => round(x, 6)).as("v"))
      val cb = ProductQuantizer.fromRows(nv, "vec_id", "v", m = 8, ksub = 16)
      val enc = nv.select(col("vec_id").as("neighbor_id"),
        ProductQuantizer.encode(col("v"), cb).as("code"))
      val q = nv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          ProductQuantizer.lut(col("v"), cb).as("lut"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      // 10-query LUT table broadcast against the encoded scan — the ADC
      // scan shape (candidate side never touches raw floats)
      enc.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("score",
          round(ProductQuantizer.adc(col("lut"), col("code"), cb), 4))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
    }, oracleSql =
      // q89: the full PQ pipeline in SQL — normalize+round 6dp, codebook =
      // subvector slices of vec_id < 16, encode = row_number argmin over
      // per-subspace squared distances (tie → lowest centroid id, matching
      // the kernel's strict `<`), LUT = partial inner products, ADC = the
      // m-term LUT sum rounded to 4dp before ranking.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS r FROM embeddings),
        |u AS (SELECT vec_id,
        |  list_transform(r, x -> round(x / sqrt(list_inner_product(r, r)), 6)) AS v
        | FROM e),
        |sub AS (SELECT vec_id, m, v[(m*8+1):(m*8+8)] AS sv
        | FROM u, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < 16),
        |dist AS (SELECT s.vec_id, s.m, c.cid,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d
        | FROM sub s JOIN cb c USING (m)),
        |enc AS (SELECT vec_id, m, cid AS code FROM (
        |  SELECT vec_id, m, cid,
        |   row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rk
        |  FROM dist) WHERE rk = 1),
        |lut AS (SELECT s.vec_id AS query_id, c.m, c.cid,
        |  list_inner_product(s.sv, c.cv) AS pd
        | FROM sub s JOIN cb c USING (m) WHERE s.vec_id < 10),
        |score AS (SELECT l.query_id, en.vec_id AS neighbor_id,
        |  round(sum(l.pd), 4) AS score
        | FROM enc en JOIN lut l ON en.m = l.m AND en.code = l.cid
        | WHERE en.vec_id != l.query_id
        | GROUP BY 1, 2)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, score
        |FROM score
        |QUALIFY rank <= 5""".stripMargin),
    GateQuery("q90_lm_perplexity", (s, dir) => {
      // CCNet-style bigram-LM quality signal, self-trained on the corpus:
      // two map-side-combined counts (unigrams, pruned bigrams), then
      // scoring joins that never collect the model — stupid backoff
      // (Brants et al. 2007) keeps every probability a pure count ratio,
      // so the whole train+score pipeline replays as SQL counts and joins
      val d = tbl(s, dir, "documents")
      val model = graft.text.NgramLm.train(d, "text", minBigramCount = 2)
      graft.text.NgramLm.perplexity(d, "doc_id", "text", model)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 4).as("avg_logp"),
          round(col("ppl"), 4).as("ppl"))
    }, oracleSql =
      // q90: the bigram-LM train+score pipeline in SQL — the q70 tokenizer
      // idiom, unigram/pruned-bigram counts, and the stupid-backoff CASE
      // mirroring NgramLm.perplexity's `when` exactly.
      """WITH tk AS (SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
        | FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM tk),
        |u AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM u),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        | FROM tk, unnest(range(1, len(t))) r(i) WHERE len(t) >= 2),
        |b AS (SELECT w1, w2, count(*) AS c2 FROM bg
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT g.doc_id,
        |  CASE WHEN b.c2 IS NOT NULL AND u1.c1 IS NOT NULL
        |   THEN ln(b.c2 / u1.c1)
        |   ELSE ln(0.4 * coalesce(u2.c1, 1) / (SELECT n FROM tot)) END AS logp
        | FROM bg g LEFT JOIN b USING (w1, w2)
        | LEFT JOIN u u1 ON g.w1 = u1.w
        | LEFT JOIN u u2 ON g.w2 = u2.w)
        |SELECT doc_id, count(*) AS n_bigrams,
        | round(avg(logp), 4) AS avg_logp,
        | round(exp(-avg(logp)), 4) AS ppl
        |FROM sc GROUP BY 1""".stripMargin),
    GateQuery("q114_clean_corpus_v2", (s, dir) => {
      // integration gate for the r9 curation additions (the q72 pattern):
      // constructed pages → corpus-wide paragraph dedup (EDITS pages) →
      // C4 line+page rules on the deduped text → deterministic split of
      // the survivors, one DataFrame program under one oracle. Branch
      // spread by construction: the first doc owns the shared header but
      // carries lorem (%9 veto); %4 docs lose their promo paragraph to
      // dedup and fall under the 4-sentence floor; everyone loses the
      // cross-doc "tiny." paragraph to dedup — and its single owner
      // loses it to C4's word minimum instead.
      val d = tbl(s, dir, "documents")
      val l0 = lit("shared boilerplate header for every page.")
      val l1 = concat(substring(col("text"), 1, 40), lit(" content."))
      val l2 = when(col("doc_id") % 4 === 0,
        lit("recurring promo paragraph today."))
        .otherwise(concat(substring(col("text"), 45, 35), lit(" more.")))
      val l3 = lit("tiny.")
      val l4 = concat(substring(col("text"), 85, 30), lit(" closing words here."))
      val l5 = when(col("doc_id") % 9 === 0,
        lit("hidden lorem ipsum footer text."))
        .otherwise(concat(substring(col("text"), 120, 25), lit(" final line!")))
      val pages = d.select(col("doc_id"),
        concat_ws("\n", l0, l1, l2, l3, l4, l5).as("text"))
      val pd = Dedup.dedupParagraphs(pages, "doc_id", "text")
      val c4 = TextFunctions.c4Rules(pd, "doc_id", "text_dedup",
        minSentences = 4L, passThrough = Seq("n_removed"))
      val kept = c4.filter(col("keep"))
      graft.pipeline.Sampling.deterministicSplit(kept, "doc_id",
        Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .select(col("doc_id"), col("n_removed"), col("n_sentences"),
          col("split"))
    }, oracleSql =
      // q114: the v2 pipeline replayed end-to-end — page construction,
      // string-keyed paragraph first-wins, the C4 line filter + sentence
      // floor + lorem veto over the deduped text, and the md5-bucket split
      // (q61's bounds for 204/26/26).
      """WITH pages AS (SELECT doc_id,
        |  'shared boilerplate header for every page.' AS p0,
        |  substr(text, 1, 40) || ' content.' AS p1,
        |  CASE WHEN doc_id % 4 = 0 THEN 'recurring promo paragraph today.'
        |       ELSE substr(text, 45, 35) || ' more.' END AS p2,
        |  'tiny.' AS p3,
        |  substr(text, 85, 30) || ' closing words here.' AS p4,
        |  CASE WHEN doc_id % 9 = 0 THEN 'hidden lorem ipsum footer text.'
        |       ELSE substr(text, 120, 25) || ' final line!' END AS p5
        | FROM documents),
        |parts AS (SELECT doc_id, v.pos,
        |  CASE v.pos WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
        |   WHEN 3 THEN p3 WHEN 4 THEN p4 ELSE p5 END AS p
        | FROM pages, (VALUES (0), (1), (2), (3), (4), (5)) v(pos)),
        |j AS (
        | SELECT doc_id, pos, p,
        |  row_number() OVER (PARTITION BY p ORDER BY doc_id, pos) = 1 AS keep
        | FROM parts WHERE length(trim(p)) >= 1
        | UNION ALL
        | SELECT doc_id, pos, p, TRUE AS keep
        | FROM parts WHERE length(trim(p)) < 1),
        |pd AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN keep THEN p END, chr(10) ORDER BY pos),
        |    '') AS text_dedup
        | FROM j GROUP BY 1),
        |c4 AS (SELECT doc_id, n_removed, text_dedup,
        |  array_to_string(list_filter(list_transform(
        |    string_split(text_dedup, chr(10)),
        |    x -> trim(x, ' ' || chr(9) || chr(13) || chr(12) || chr(11))),
        |   x -> len(x) > 0 AND right(x, 1) IN ('.', '!', '?', '"')
        |    AND len(list_filter(regexp_split_to_array(x, '[ \t\f\v\r]+'),
        |          w -> w != '')) >= 3
        |    AND NOT contains(lower(x), 'javascript')), chr(10)) AS clean
        | FROM pd),
        |v AS (SELECT doc_id, n_removed,
        |  CAST(length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g'))
        |    AS BIGINT) AS n_sentences,
        |  (length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g')) >= 4
        |   AND NOT contains(lower(text_dedup), 'lorem ipsum')
        |   AND NOT contains(lower(text_dedup), '{')) AS keep
        | FROM c4)
        |SELECT doc_id, n_removed, n_sentences,
        | CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
        |  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
        |  ELSE 'test' END AS split
        |FROM v WHERE keep""".stripMargin),
    GateQuery("q116_minhash_index_search", minhashIndexScreen, minhashAcrossSql),
    // q116's build, batch and screen through the SLICED screen: a scratch
    // bound of 400 batch docs carves the batch into 2 id-hash slices at
    // sf0.001 and sf0.01 (500 docs) and 13 at sf0.1 (5,000), so the
    // sliced path answers to q116's oracle at every gate SF. Each slice
    // runs its own band join and rescore, so the query costs several
    // times q116's at sf0.1.
    GateQuery("q134_minhash_index_search_chunked", (s, dir) =>
      Dedup.screenBounds.withValue(Dedup.ScreenBounds(
        scratchBytes = 400 * Dedup.ScreenScratchBytesPerDoc))(minhashIndexScreen(s, dir)),
      minhashAcrossSql),
    GateQuery("q117_split_by_cluster", (s, dir) => {
      // leakage-safe train/val/test: the split key is the near-dup
      // CLUSTER representative (q50's components), so a doc and its fuzzy
      // copies always land in the same split; singletons key on their own
      // id. Oracle = the q50 recursive-CTE closure + the q61 md5 carve on
      // coalesce(component, doc_id).
      val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          shingleHashesOf = TextFunctions.shingleHashes(_, 3),
          numHashes = 64, bands = 8)
        .filter(col("est_jaccard") >= 0.5)
      val clusters = Dedup.connectedComponents(pairs)
      graft.pipeline.Sampling.splitByCluster(docs, "doc_id", clusters,
          Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .select(col("doc_id"), col("split_key"), col("split"))
    }, oracleSql =
      // q117: q50's closure + the q61 md5 carve keyed on
      // `coalesce(component, doc_id)` — replays
      // [[graft.pipeline.Sampling.splitByCluster]].
      s"""WITH RECURSIVE $minhashPairCtes,
         |pr AS (SELECT id_a, id_b FROM scored WHERE est_jaccard >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
         |comp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         | FROM reach GROUP BY 1)
         |SELECT d.doc_id,
         | CAST(coalesce(c.component, d.doc_id) AS VARCHAR) AS split_key,
         | CASE
         |  WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS BIGINT)::VARCHAR), 1, 2) < 'cc' THEN 'train'
         |  WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS BIGINT)::VARCHAR), 1, 2) < 'e6' THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |WHERE d.text IS NOT NULL""".stripMargin),
    GateQuery("q122_html_extract", (s, dir) => {
      // main-text extraction from constructed HTML pages (per-doc markup:
      // head/style/script subtrees, nested tags, entities, a comment) —
      // the whole regexp/replace chain replays verbatim in the oracle
      val d = tbl(s, dir, "documents")
      d.select(col("doc_id"),
        TextFunctions.extractHtmlText(syntheticHtmlPage).as("text_main"))
    }, oracleSql =
      // the identical regexp/replace chain over the identically constructed
      // page — both engines run the same RE2/Java-regex-common patterns
      s"""WITH page AS (SELECT doc_id, $htmlPageSqlExpr AS page FROM documents)
         |SELECT doc_id, ${htmlExtractSqlChain("page")} AS text_main
         |FROM page""".stripMargin),
    GateQuery("q125_chunk_passages", (s, dir) => {
      // RAG/embedding-ingestion chunker: 32-token passages, 8-token
      // overlap, chunks emitted while each adds ≥1 new token — integer
      // arithmetic + space re-joins, replayed exactly by the oracle
      val d = tbl(s, dir, "documents")
      TextFunctions.chunkPassages(d, "doc_id", "text",
        chunk = 32, overlap = 8)
    }, oracleSql =
      // whitespace tokens → chunk grid (stride 24) → inclusive list_slice
      // capped at len, space re-join — the same token stream as every
      // hash oracle
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), v -> v != '') AS toks
        | FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, toks,
        |  unnest(generate_series(0,
        |    CASE WHEN len(toks) <= 32 THEN 0
        |     ELSE CAST(ceil((len(toks) - 32)::DOUBLE / 24) AS BIGINT) END)) AS chunk_id
        | FROM t WHERE len(toks) > 0)
        |SELECT doc_id, chunk_id,
        | CAST(len(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32)) AS BIGINT) AS n_tokens,
        | array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32), ' ') AS passage
        |FROM c""".stripMargin),
    GateQuery("q126_forecast_continuation", (s, dir) => {
      // the Line Chart continuation contract (`owlinechart.py:749-803` →
      // ForecastTable.continuation) under the hash gate: history rows
      // tagged 'history' with null CIs, forecast rows tagged 'forecast'
      // on a time axis extrapolated from the last observed day by the
      // INFERRED step (86400 s). The forecast itself is a deterministic
      // exact-cents drift line (vL + i·slope — single IEEE ops, bit-
      // exact cross-engine, no rounding needed), so the oracle replays
      // the WHOLE surface: q31/q43 gate the model numerics, this gates
      // the continuation. CI columns are read BY their literal contract
      // names — a naming drift fails analysis loudly.
      val d = daily(s, dir)
      val h = 5
      val st = d.df.agg(min(struct(col("d"), col("v"))).as("first"),
        max(struct(col("d"), col("v"))).as("last"),
        count(lit(1)).as("n")).head
      val v0 = st.getStruct(0).getDouble(1)
      val vL = st.getStruct(1).getDouble(1)
      val slope = (vL - v0) / (st.getLong(2) - 1).toDouble
      val fo = Array.tabulate(h)(i => vL + (i + 1) * slope)
      val lo = Array.tabulate(h)(i => fo(i) - 0.5 * (i + 1))
      val hi = Array.tabulate(h)(i => fo(i) + 0.5 * (i + 1))
      graft.models.ForecastTable.continuation(d, "v", fo, lo, hi)
        .select(col("segment"), unix_seconds(col("d")).as("t_epoch"),
          col("v"), col("v (95%CI low)").as("ci_low"),
          col("v (95%CI high)").as("ci_high"))
    }, oracleSql =
      // continuation contract: history ∪ a 5-step drift extrapolation; all
      // values are single-IEEE-op derivations of exact-cents daily means —
      // bit-exact cross-engine, hashed UNROUNDED (the q100 precedent)
      s"""WITH dly AS ($dailySql),
         |vv AS (SELECT
         |  (SELECT v FROM dly ORDER BY d LIMIT 1) AS v0,
         |  (SELECT v FROM dly ORDER BY d DESC LIMIT 1) AS vl,
         |  (SELECT count(*) FROM dly) AS n,
         |  (SELECT CAST(floor(epoch(max(d))) AS BIGINT) FROM dly) AS tl),
         |f AS (SELECT i, vl + i * ((vl - v0) / (n - 1)) AS fo,
         |  tl + i * 86400 AS te
         | FROM vv, (SELECT unnest(generate_series(1, 5)) AS i))
         |SELECT 'history' AS segment, CAST(floor(epoch(d)) AS BIGINT) AS t_epoch,
         | v, CAST(NULL AS DOUBLE) AS ci_low, CAST(NULL AS DOUBLE) AS ci_high
         |FROM dly
         |UNION ALL
         |SELECT 'forecast', te, fo, fo - 0.5 * i, fo + 0.5 * i FROM f""".stripMargin),
    GateQuery("q127_fit_on_interp_glue", (s, dir) => {
      // the scripting/widget glue chain (`_owmodel.py:71-72` →
      // api.Timeseries.ARIMA.fit): linear-interpolate the target BEFORE
      // the fit, collect in time order, fit, forecast table with the
      // reference's column-name contract. The series is daily means with
      // a deterministic subset of days nulled, so the interp step is
      // LOAD-BEARING — skipping it changes the fit and the golden
      // mismatches. Golden oracle (q31 pattern); literal contract names
      // read back so a naming drift fails analysis.
      val base = daily(s, dir)
      val gappy = base.copy(df = base.df.withColumn("v",
        when(dayofmonth(col("d")) % 5 === 2, lit(null).cast("double"))
          .otherwise(col("v"))))
      val t = graft.api.Timeseries.ARIMA((1, 1, 0)).fit(gappy, "v")
        .predictAsTable(5)
      t.select(col("step"),
        round(col("v (forecast)"), 4).as("forecast"),
        round(col("v (95%CI low)"), 4).as("ci_low"),
        round(col("v (95%CI high)"), 4).as("ci_high"))
    }, oracleSql =
      // q127 golden (q31 pattern): ARIMA(1,1,0) on the gappy daily series
      // AFTER the glue's linear interpolation. Values produced by this
      // engine at the two gate scales; the glue being load-bearing is what
      // the golden pins — fitting WITHOUT the interp step (or with a
      // different gap rule) lands on different numbers.
      s"""SELECT CAST(step AS BIGINT) AS step, CAST(forecast AS DOUBLE) AS forecast,
         | CAST(ci_low AS DOUBLE) AS ci_low, CAST(ci_high AS DOUBLE) AS ci_high
         |FROM (VALUES
         | (1, 1, 50.7425, 44.1361, 57.349),
         | (1, 2, 48.0702, 40.8228, 55.3176),
         | (1, 3, 49.5372, 40.749, 58.3254),
         | (1, 4, 48.7319, 39.1262, 58.3376),
         | (1, 5, 49.174, 38.5759, 59.772),
         | (2, 1, 50.0614, 48.5975, 51.5252),
         | (2, 2, 50.0272, 48.1645, 51.89),
         | (2, 3, 50.0345, 47.8086, 52.2604),
         | (2, 4, 50.033, 47.5022, 52.5637),
         | (2, 5, 50.0333, 47.2293, 52.8373)
         |) AS g(sf, step, forecast, ci_low, ci_high)
         |WHERE sf = $sfTagSql""".stripMargin),
    GateQuery("q128_quandl_collapse_rdiff", (s, dir) => {
      // §2.1 Quandl param matrix (`datasources.py:14-48` forwarded
      // collapse/transform to the service, which applied them
      // SERVER-side; the service is defunct, so API parity = computing
      // them engine-side): derive the q102 daily OHLCV CSV from orders,
      // read it back through readQuandl(collapse=monthly,
      // transform=rdiff) over the file:// transport. Monthly keeps each
      // month's LAST daily observation re-dated to the month's end;
      // rdiff = v/v_prev − 1 drops the first month. Every value is
      // min/max/count + one halving + one division over exactly
      // CSV-round-tripped doubles — single IEEE ops, bit-exact
      // cross-engine, hashed unrounded.
      import graft.ingest.{Finance, OrangeCsv}
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q128_quandl"
      tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").as("Date"))
        .agg(count(lit(1)).cast("double").as("Open"),
          max(col("o_totalprice")).as("High"),
          min(col("o_totalprice")).as("Low"),
          ((max(col("o_totalprice")) + min(col("o_totalprice"))) / 2).as("Close"),
          count(lit(1)).cast("double").as("Volume"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      val back = Finance.readQuandl(s, path,
        collapse = "monthly", transform = "rdiff")
      val target = OrangeCsv.colsWithRole(back.df, "target")
      require(target == Seq("Close"),
        s"target role lost through collapse/transform: $target")
      back.df.select(unix_seconds(col("Date")).as("t_s"),
        col(target.head).as("close_rdiff"), col("High").as("high_rdiff"),
        col("Volume").as("volume_rdiff"))
    }, oracleSql =
      // Quandl param matrix: monthly collapse keeps the month's LAST daily
      // row re-dated to last_day; rdiff = v/v_prev − 1 drops the first
      // month. Single IEEE ops over CSV-exact values — hashed unrounded.
      s"""WITH d AS (SELECT o_orderdate AS dt,
         |  max(o_totalprice) AS high,
         |  (max(o_totalprice) + min(o_totalprice)) / 2 AS close,
         |  CAST(count(*) AS DOUBLE) AS volume
         | FROM orders GROUP BY o_orderdate),
         |m AS (SELECT last_day(dt) AS pe,
         |  max_by(high, dt) AS high, max_by(close, dt) AS close,
         |  max_by(volume, dt) AS volume
         | FROM d GROUP BY last_day(dt)),
         |r AS (SELECT pe,
         |  close / lag(close) OVER (ORDER BY pe) - 1 AS close_rdiff,
         |  high / lag(high) OVER (ORDER BY pe) - 1 AS high_rdiff,
         |  volume / lag(volume) OVER (ORDER BY pe) - 1 AS volume_rdiff
         | FROM m)
         |SELECT CAST(epoch(CAST(pe AS TIMESTAMP)) AS BIGINT) AS t_s,
         | close_rdiff, high_rdiff, volume_rdiff
         |FROM r WHERE close_rdiff IS NOT NULL""".stripMargin),
    GateQuery("q130_quandl_quarterly_cumul", (s, dir) => {
      // §2.1 Quandl param matrix, orthogonal corner to q128 (quarterly ×
      // cumul vs q128's monthly × rdiff — pins the collapse rule that
      // re-dates to QUARTER end and the transform that keeps every row
      // with a running sum instead of dropping the first). All CSV
      // values are INTEGER-VALUED doubles (counts and floor-to-cents
      // prices), so every running sum is exact in IEEE double and the
      // hash compares unrounded — no FP-accumulation-order hazard
      // between engines.
      import graft.ingest.{Finance, OrangeCsv}
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q130_quandl"
      val cents = (c: Column) => floor(c * 100).cast("double")
      tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").as("Date"))
        .agg(count(lit(1)).cast("double").as("Open"),
          cents(max(col("o_totalprice"))).as("High"),
          cents(min(col("o_totalprice"))).as("Low"),
          (cents(max(col("o_totalprice"))) +
            cents(min(col("o_totalprice")))).as("Close"),
          count(lit(1)).cast("double").as("Volume"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      val back = Finance.readQuandl(s, path,
        collapse = "quarterly", transform = "cumul")
      val target = OrangeCsv.colsWithRole(back.df, "target")
      require(target == Seq("Close"),
        s"target role lost through collapse/transform: $target")
      back.df.select(unix_seconds(col("Date")).as("t_s"),
        col(target.head).as("close_cumul"), col("High").as("high_cumul"),
        col("Volume").as("volume_cumul"))
    }, oracleSql =
      // Quandl matrix, orthogonal corner: quarterly collapse keeps the
      // quarter's LAST daily row re-dated to quarter end; cumul = running
      // sum over the collapsed order, keeping every row. All values are
      // integer-valued doubles, so the sums are exact — hashed unrounded.
      s"""WITH d AS (SELECT o_orderdate AS dt,
         |  floor(max(o_totalprice) * 100) AS high,
         |  floor(max(o_totalprice) * 100) + floor(min(o_totalprice) * 100) AS close,
         |  CAST(count(*) AS DOUBLE) AS volume
         | FROM orders GROUP BY o_orderdate),
         |q AS (SELECT last_day(CAST(date_trunc('quarter', dt) AS DATE)
         |    + INTERVAL 2 MONTH) AS pe,
         |  max_by(high, dt) AS high, max_by(close, dt) AS close,
         |  max_by(volume, dt) AS volume
         | FROM d GROUP BY 1),
         |c AS (SELECT pe,
         |  sum(close) OVER w AS close_cumul,
         |  sum(high) OVER w AS high_cumul,
         |  sum(volume) OVER w AS volume_cumul
         | FROM q WINDOW w AS
         |  (ORDER BY pe ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(epoch(CAST(pe AS TIMESTAMP)) AS BIGINT) AS t_s,
         | close_cumul, high_cumul, volume_cumul FROM c""".stripMargin),
    GateQuery("q131_quandl_annual_normalize", (s, dir) => {
      // §2.1 Quandl param matrix, third orthogonal axis (vs q128
      // monthly×rdiff, q130 quarterly×cumul): annual collapse re-dates
      // each year's LAST daily row to Dec 31, normalize rescales every
      // data column to (v / v_first) · 100 keeping all rows. Values are
      // integer-valued doubles (counts, floor-to-cents prices), so each
      // output is two single IEEE ops (one divide, one multiply) in the
      // same order on both engines — hashed unrounded.
      import graft.ingest.{Finance, OrangeCsv}
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q131_quandl"
      val cents = (c: Column) => floor(c * 100).cast("double")
      tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").as("Date"))
        .agg(count(lit(1)).cast("double").as("Open"),
          cents(max(col("o_totalprice"))).as("High"),
          cents(min(col("o_totalprice"))).as("Low"),
          (cents(max(col("o_totalprice"))) +
            cents(min(col("o_totalprice")))).as("Close"),
          count(lit(1)).cast("double").as("Volume"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      val back = Finance.readQuandl(s, path,
        collapse = "annual", transform = "normalize")
      val target = OrangeCsv.colsWithRole(back.df, "target")
      require(target == Seq("Close"),
        s"target role lost through collapse/transform: $target")
      back.df.select(unix_seconds(col("Date")).as("t_s"),
        col(target.head).as("close_norm"), col("High").as("high_norm"),
        col("Volume").as("volume_norm"))
    }, oracleSql =
      // Quandl matrix, third orthogonal axis: annual collapse keeps the
      // year's LAST daily row re-dated to Dec 31; normalize = (v/v_first)
      // · 100 over the collapsed order, keeping every row. Two single IEEE
      // ops per value in the same order on both engines — hashed unrounded.
      s"""WITH d AS (SELECT o_orderdate AS dt,
         |  floor(max(o_totalprice) * 100) AS high,
         |  floor(max(o_totalprice) * 100) + floor(min(o_totalprice) * 100) AS close,
         |  CAST(count(*) AS DOUBLE) AS volume
         | FROM orders GROUP BY o_orderdate),
         |y AS (SELECT last_day(CAST(date_trunc('year', dt) AS DATE)
         |    + INTERVAL 11 MONTH) AS pe,
         |  max_by(high, dt) AS high, max_by(close, dt) AS close,
         |  max_by(volume, dt) AS volume
         | FROM d GROUP BY 1),
         |n AS (SELECT pe,
         |  (close / first_value(close) OVER w) * 100 AS close_norm,
         |  (high / first_value(high) OVER w) * 100 AS high_norm,
         |  (volume / first_value(volume) OVER w) * 100 AS volume_norm
         | FROM y WINDOW w AS
         |  (ORDER BY pe ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(epoch(CAST(pe AS TIMESTAMP)) AS BIGINT) AS t_s,
         | close_norm, high_norm, volume_norm FROM n""".stripMargin),
    GateQuery("q129_html_block_score", (s, dir) => {
      // the trafilatura/jusText boilerplate-block layer (the r10 verdict's
      // one documented extraction gap): wrap the q122 page in real chrome
      // (link-dense menu, mixed footer), segment at block tags, score
      // each block (text_len, link_density, stop_hits) → keep_core, plus
      // the short-near-good rescue window. link_density is one int/int
      // IEEE division rounded to the same 6dp grid on both sides; the
      // keep thresholds compare the ROUNDED value in both engines.
      val d = tbl(s, dir, "documents")
      val page = concat(
        lit("<div class=\"menu\"><a href=\"/\">Home</a> " +
          "<a href=\"/a\">News</a> <a href=\"/b\">More</a></div>"),
        syntheticHtmlPage,
        lit("<footer><a href=\"/c\">Contact</a> site footer</footer>"))
      TextFunctions.scoreHtmlBlocks(
        d.select(col("doc_id"), page.as("page")), "doc_id", "page")
    }, oracleSql = {
      // q129: block segmentation + jusText-style scoring + rescue window,
      // replayed stage-for-stage ([[graft.text.TextFunctions
      // .scoreHtmlBlocks]]); the keep thresholds compare the 6dp-ROUNDED
      // link density on both sides so boundary behavior is shared.
      val blockRe = """(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|""" +
        """section|article|main|body|header|footer|nav|aside|blockquote|br)\b[^>]*>"""
      s"""WITH page AS (SELECT doc_id,
         |  '<div class="menu"><a href="/">Home</a> <a href="/a">News</a> <a href="/b">More</a></div>'
         |  || ($htmlPageSqlExpr)
         |  || '<footer><a href="/c">Contact</a> site footer</footer>' AS page
         | FROM documents),
         |pre AS (SELECT doc_id, regexp_replace(regexp_replace(page,
         |   '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
         |   '(?s)<!--.*?-->', ' ', 'g') AS p FROM page),
         |arr AS (SELECT doc_id, regexp_split_to_array(p, '$blockRe') AS bs FROM pre),
         |blk AS (SELECT doc_id, unnest(generate_series(1, len(bs))) - 1 AS block_id,
         |  bs FROM arr),
         |raw AS (SELECT doc_id, CAST(block_id AS INT) AS block_id,
         |  bs[block_id + 1] AS r FROM blk),
         |sc AS (SELECT doc_id, block_id,
         |  ${htmlBlockStripSqlChain("r")} AS txt,
         |  ${htmlBlockStripSqlChain(
               "regexp_replace(r, '(?is)<a\\b[^>]*>.*?</a>', ' ', 'g')")} AS txta
         | FROM raw),
         |m AS (SELECT doc_id, block_id, txt AS text_block,
         |  CAST(length(txt) AS BIGINT) AS text_len,
         |  round(CASE WHEN length(txt) = 0 THEN 1.0
         |   ELSE greatest(0, length(txt) - length(txta))::DOUBLE / length(txt) END,
         |   6) AS link_density,
         |  CAST(len(list_intersect(
         |    list_filter(regexp_split_to_array(lower(txt), '\\s+'), x -> x != ''),
         |    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT)
         |   AS stop_hits
         | FROM sc WHERE length(txt) > 0),
         |k AS (SELECT *, (text_len >= 25 AND link_density <= 0.33
         |   AND stop_hits >= 1) AS keep_core FROM m)
         |SELECT doc_id, block_id, text_block, text_len, link_density, stop_hits,
         | keep_core,
         | keep_core OR (text_len >= 10 AND link_density <= 0.33 AND
         |   (coalesce(lag(keep_core) OVER w, false) OR
         |    coalesce(lead(keep_core) OVER w, false))) AS keep
         |FROM k WINDOW w AS (PARTITION BY doc_id ORDER BY block_id)""".stripMargin
    }),
    GateQuery("q124_web_pipeline", (s, dir) => {
      // the web-crawl front half END-TO-END under one oracle: raw HTML →
      // extract → normalize → quality verdict → keep → deterministic
      // split, each stage individually gated (q122/q123/q71/q61), the
      // composition here — the q72/q114 integration pattern for the web
      // ingest shape
      val d = tbl(s, dir, "documents")
      // the extraction boundary MATERIALIZES (as a real crawl pipeline's
      // ingest step would): fused, the 13-call extract chain plus the
      // quality arithmetic codegen into one method past the JIT's
      // huge-method limit and the whole scan runs INTERPRETED — measured
      // 6x on this query (5.6s -> 0.9s at sf0.1); the boundary also
      // evaluates the chain once for the filter's two consumers
      val extracted = d.select(col("doc_id"),
        TextFunctions.normalizeText(
          TextFunctions.extractHtmlText(syntheticHtmlPage)).as("text_main"))
        .localCheckpoint(true)
      val verdicts = TextFunctions.qualityFilter(extracted, "doc_id", "text_main")
      val kept = extracted.join(
        verdicts.filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
      graft.pipeline.Sampling.deterministicSplit(kept, "doc_id",
          Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text_main")).cast("long").as("n_tokens"),
          col("split"))
    }, oracleSql =
      // extract → normalize → q71's quality arithmetic over the extracted
      // text → keep → q61's carve, one CTE chain
      s"""WITH page AS (SELECT doc_id, $htmlPageSqlExpr AS page FROM documents),
         |x AS (SELECT doc_id,
         |  ${normalizeSqlChain(htmlExtractSqlChain("page"))} AS text_main
         | FROM page),
         |t AS (SELECT doc_id, text_main,
         |  list_filter(regexp_split_to_array(text_main, '\\s+'), v -> v != '') AS toks,
         |  list_distinct(list_filter(regexp_split_to_array(lower(text_main), '\\s+'),
         |    v -> v != '')) AS dtoks
         | FROM x),
         |s AS (SELECT doc_id, len(toks) AS ntok,
         |  CASE WHEN len(toks) = 0 THEN 0
         |   ELSE len(dtoks)::DOUBLE / len(toks) END AS ttr,
         |  round(
         |   (CASE WHEN len(toks) = 0 THEN 0
         |     WHEN length(text_main)::DOUBLE / len(toks) BETWEEN 3.0 AND 10.0 THEN 1.0
         |     ELSE 0.0 END) * 0.4
         |   + (CASE WHEN length(text_main) = 0 THEN 0
         |      ELSE length(regexp_replace(text_main, '[^A-Za-z]', '', 'g'))::DOUBLE
         |           / length(text_main) END) * 0.3
         |   + (CASE WHEN len(toks) = 0 THEN 0
         |      ELSE len(dtoks)::DOUBLE / len(toks) END) * 0.3, 6) AS quality
         | FROM t)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         | CASE WHEN substr(md5(t.doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
         |  WHEN substr(md5(t.doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
         |  ELSE 'test' END AS split
         |FROM t JOIN s ON t.doc_id = s.doc_id
         |WHERE s.ntok >= 10 AND s.quality >= 0.5 AND s.ttr >= 0.3""".stripMargin),
    GateQuery("q123_normalize_text", (s, dir) => {
      // ftfy-lite normalization on constructed noisy text: planted
      // control chars (BEL, NUL, VT, DEL), CRLF, runs of mixed whitespace
      val d = tbl(s, dir, "documents")
      val noisy = concat(lit("\u0001\u0007 lead\t\ttabs\r\n"),
        coalesce(col("text"), lit("")),
        lit("  \u000b mid\u0000dle   \n\n\n trail \u007f  "))
      d.select(col("doc_id"),
        TextFunctions.normalizeText(noisy).as("text_norm"))
    }, oracleSql =
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  chr(1) || chr(7) || ' lead' || chr(9) || chr(9) || 'tabs' ||
        |   chr(13) || chr(10) || coalesce(text, '') || '  ' || chr(11) ||
        |   ' mid' || chr(0) || 'dle   ' || chr(10) || chr(10) || chr(10) ||
        |   ' trail ' || chr(127) || '  ',
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        | '[ \t\n\r\f]+', ' ', 'g')) AS text_norm
        |FROM documents""".stripMargin),
    GateQuery("q121_quality_classifier", (s, dir) => {
      // linear quality classifier SCORING surface under the hash gate
      // with a constructed integer-weight model (training is iterative
      // floating point — not SQL-replayable; the q58/q92 fitFixed
      // precedent, spec-verified instead): w[j] = (j·31 mod 1009) − 504,
      // bias 7 over the 1024-bucket DSIR feature space — the logit is an
      // exact integer in double arithmetic, hashed unrounded
      val d = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val w = Array.tabulate(1024)(j => ((j * 31) % 1009 - 504).toDouble)
      val model = graft.pipeline.QualityClassifier.Model(1024, 7.0, w)
      graft.pipeline.QualityClassifier.score(d, "text", model)
        .select(col("doc_id"), col("logit").cast("long").as("logit_i"),
          col("keep"))
    }, oracleSql =
      // the DSIR feature replay (q93's bucket CTE) with integer weights:
      // logit = 7 + Σ ((bucket·31) mod 1009 − 504) over feature occurrences
      s"""WITH th AS ($tokHashSql),
         |f AS (
         | SELECT doc_id, h % 1024 AS bucket
         |  FROM (SELECT doc_id, unnest(th) AS h FROM th) z
         | UNION ALL
         | SELECT doc_id, unnest(list_transform(range(1, len(th)),
         |   i -> ((th[i]*1000003 + th[i+1]) % 1000000007) % 1024)) AS bucket
         |  FROM th),
         |sc AS (SELECT doc_id, sum((bucket*31) % 1009 - 504) AS s FROM f GROUP BY 1)
         |SELECT d.doc_id,
         | CAST(coalesce(sc.s, 0) + 7 AS BIGINT) AS logit_i,
         | coalesce(sc.s, 0) + 7 > 0 AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |WHERE d.text IS NOT NULL""".stripMargin),
    GateQuery("q120_select_by_budget", (s, dir) => {
      // budgeted best-first selection: rank docs by (n_chars DESC, id) —
      // an integral, engine-portable quality proxy — and keep while the
      // exclusive running token sum stays under the budget (the crossing
      // doc is kept). The operator computes ranks/prefix sums with a
      // RangeScan; the oracle replays them as one window.
      val d = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val toks = d.select(col("doc_id"), col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("tok"))
      graft.pipeline.Sampling.selectByBudget(
          toks, "doc_id", "tok", "n_chars", budget = 12000L)
        .select(col("doc_id"), col("rank"), col("cum_before"))
    }, oracleSql =
      // budgeted cut replayed as one window: exclusive prefix sum of
      // integer token counts in (n_chars DESC, doc_id) order
      """WITH t AS (SELECT doc_id, n_chars,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rank,
        |  CAST(coalesce(sum(tok) OVER (ORDER BY n_chars DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        | FROM t)
        |SELECT doc_id, rank, cum_before FROM s WHERE cum_before < 12000""".stripMargin),
    GateQuery("q119_decontaminate_bloom", (s, dir) => {
      // the Bloom-prefilter decontamination tier: same contract as q66
      // (here 6-gram, minShared 2, %7 eval slice) but tier 1 probes a
      // broadcast Bloom bitmap instead of broadcasting the eval shingle
      // SET — false positives die in the exact tier-2 join, so the
      // oracle is the exact-semantics replay
      val d = tbl(s, dir, "documents")
      Dedup.decontaminateBloom(
        d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 6, minShared = 2)
    }, oracleSql =
      // q66's exact-semantics replay at 6-gram / minShared 2 / %7 slice —
      // the Bloom tier is physics only, invisible to the result
      s"""WITH th AS ($wideTokHashSql),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(h1s) >= 6 THEN list_distinct(list_transform(range(1, len(h1s) - 4),
         |    i -> list_reduce(list_slice(h1s, i, i + 5),
         |      (a, b) -> (a*1000003 + b) % 1000000007) * 1000000009
         |     + list_reduce(list_slice(h2s, i, i + 5),
         |      (a, b) -> (a*1000033 + b) % 1000000009)))
         |   ELSE [] END AS sh
         | FROM th),
         |f AS (SELECT doc_id, unnest(sh) AS h FROM sh)
         |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         | count(DISTINCT t.h) AS n_shared
         |FROM f t JOIN f e ON t.h = e.h
         |WHERE t.doc_id % 7 != 0 AND e.doc_id % 7 = 0
         |GROUP BY 1, 2 HAVING count(DISTINCT t.h) >= 2""".stripMargin),
    GateQuery("q118_shuffle_shards", (s, dir) => {
      // deterministic global shuffle + balanced striping into 16 shards —
      // the final layout step of a dataset build: rank docs by md5(id),
      // shard = rank % 16, pos = rank div 16. The oracle replays the
      // permutation with one row_number window; the operator computes the
      // identical ranks via parallel range sort + partition offsets (no
      // global window).
      val d = tbl(s, dir, "documents")
      graft.pipeline.Sampling.shuffleShards(
          d.select(col("doc_id")), "doc_id", numShards = 16)
        .select(col("doc_id"), col("shard"), col("pos"))
    }, oracleSql =
      // the shuffled-order permutation replayed as one window; shard/pos
      // are integer arithmetic on the 0-based rank
      """WITH s AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS rk
        | FROM documents)
        |SELECT doc_id, rk % 16 AS shard, rk // 16 AS pos FROM s""".stripMargin),
    GateQuery("q115_temperature_sample", (s, dir) => {
      // Temperature (α=0.5) mixture sampling over the language mix — the
      // XLM-R/mT5 up/down-sampling recipe, realized deterministically via
      // md5 thresholds. α=0.5 keeps every step an IEEE correctly-rounded
      // primitive (divide, sqrt, multiply, floor), so the per-group
      // integer thresholds ⌊r·16⁶⌋ replay BIT-IDENTICALLY in the oracle —
      // no rounding grid needed — and the surviving row set is exact.
      // Measured threshold margins on all three SFs: ≥ 0.10 fractional
      // (vs ~1e-9 worst-case pow/ulp deviation had α been general).
      val d = tbl(s, dir, "documents")
      graft.pipeline.Sampling.temperatureSample(d, "doc_id", "lang")
        .select(col("doc_id"), col("lang"),
          floor(col("sample_rate") * lit(16777216.0)).as("sample_thr"))
    }, oracleSql =
      // α=0.5 temperature sampling: every arithmetic step (divide, sqrt,
      // multiply, floor) is IEEE correctly-rounded, so the integer
      // thresholds and the md5-prefix survivor set replay bit-identically
      s"""WITH per AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |tot AS (SELECT sum(n) AS nn FROM per),
         |v AS (SELECT lang,
         |   1.0 / sqrt(CAST(n AS DOUBLE) / (SELECT CAST(nn AS DOUBLE) FROM tot)) AS v
         |  FROM per),
         |r AS (SELECT lang, v / (SELECT max(v) FROM v) AS rate FROM v)
         |SELECT d.doc_id, d.lang,
         | CAST(floor(rate * 16777216.0) AS BIGINT) AS sample_thr
         |FROM documents d JOIN r USING (lang)
         |WHERE rate >= 1.0 OR substr(md5(d.doc_id::VARCHAR), 1, 6)
         |  < printf('%06x', CAST(floor(rate * 16777216.0) AS BIGINT))""".stripMargin),
    GateQuery("q113_bpe_tokens", (s, dir) => {
      // REAL trained BPE under the hash gate: the corpus is constructed
      // so the merge ORDER is forced by global frequency arithmetic —
      // pair (z,z) ≈ 6.5n > (zz,q) ≈ 4n > (m,n) ≈ 2n > (zz,z) ≈ 0.5n for
      // any doc count n — so the trained 3-merge model, every per-doc
      // token count, and the probe encoding are all closed-form. The
      // train pass is the real pipeline (distributed word counts → merge
      // loop); the oracle replays the arithmetic.
      val d = tbl(s, dir, "documents")
      val corpus = d.select(col("doc_id"), trim(concat(
        expr("repeat('zz ', cast(doc_id % 4 as int))"),
        expr("repeat('zzq ', cast(doc_id % 5 + 2 as int))"),
        expr("repeat('mn ', cast(doc_id % 3 + 1 as int))"),
        expr("repeat('zzz ', cast(doc_id % 2 as int))"))).as("text"))
      val model = graft.text.Bpe.train(corpus, "text", numMerges = 3)
      corpus.select(col("doc_id"),
        graft.text.Bpe.tokenCount(col("text"), model).cast("long").as("n_bpe"),
        array_join(graft.text.Bpe.tokens(lit("zzzq zq"), model), " ").as("probe"))
    }, oracleSql =
      // q113: the forced merge order makes BPE token counts pure modular
      // arithmetic — zz/zzq/mn collapse to 1 token, zzz to 2 ([zz, z]);
      // the probe literal "zzzq zq" encodes to [zz, z, q] [z, q]
      s"""SELECT doc_id,
         | CAST(doc_id % 4 + (doc_id % 5 + 2) + (doc_id % 3 + 1)
         |   + 2 * (doc_id % 2) AS BIGINT) AS n_bpe,
         | 'zz z q z q' AS probe
         |FROM documents""".stripMargin),
    GateQuery("q112_dedup_paragraphs", (s, dir) => {
      // Dolma-style paragraph dedupe under the hash gate. Constructed
      // 6-paragraph pages: p0 shared by ALL docs (one global survivor),
      // p2/p4 a recurring promo block on %3/%5 (cross- AND within-doc
      // dups — %15 docs carry both), p3 empty (exempt, always kept),
      // p1/p5 text-derived (dup'd only when corpus prefixes coincide —
      // the oracle replays string equality so either way agrees). All
      // outputs are exact strings and integer counts.
      val d = tbl(s, dir, "documents")
      val p0 = lit("shared header paragraph alpha")
      val p1 = substring(col("text"), 1, 50)
      val p2 = when(col("doc_id") % 3 === 0, lit("recurring promo block beta"))
        .otherwise(substring(col("text"), 20, 40))
      val p3 = lit("")
      val p4 = when(col("doc_id") % 5 === 0, lit("recurring promo block beta"))
        .otherwise(concat(lit("unique tail "), substring(col("text"), 60, 30)))
      val p5 = concat(lit("closing "), substring(col("text"), 90, 25))
      val page = concat_ws("\n", p0, p1, p2, p3, p4, p5)
      Dedup.dedupParagraphs(
        d.select(col("doc_id"), page.as("text")), "doc_id", "text")
    }, oracleSql =
      // q112: paragraph dedupe replayed over the paragraph STRING (the
      // Spark side keys on the ~60-bit fingerprint — equivalent absent
      // collisions): first occurrence by (doc_id, pos) wins, space-trimmed
      // empties are exempt, kept paragraphs re-join in position order.
      """WITH pages AS (SELECT doc_id,
        |  'shared header paragraph alpha' AS p0,
        |  substr(text, 1, 50) AS p1,
        |  CASE WHEN doc_id % 3 = 0 THEN 'recurring promo block beta'
        |       ELSE substr(text, 20, 40) END AS p2,
        |  '' AS p3,
        |  CASE WHEN doc_id % 5 = 0 THEN 'recurring promo block beta'
        |       ELSE 'unique tail ' || substr(text, 60, 30) END AS p4,
        |  'closing ' || substr(text, 90, 25) AS p5
        | FROM documents),
        |parts AS (SELECT doc_id, v.pos,
        |  CASE v.pos WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
        |   WHEN 3 THEN p3 WHEN 4 THEN p4 ELSE p5 END AS p
        | FROM pages, (VALUES (0), (1), (2), (3), (4), (5)) v(pos)),
        |j AS (
        | SELECT doc_id, pos, p,
        |  row_number() OVER (PARTITION BY p ORDER BY doc_id, pos) = 1 AS keep
        | FROM parts WHERE length(trim(p)) >= 1
        | UNION ALL
        | SELECT doc_id, pos, p, TRUE AS keep
        | FROM parts WHERE length(trim(p)) < 1)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_paragraphs,
        | CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        | coalesce(string_agg(CASE WHEN keep THEN p END, chr(10) ORDER BY pos),
        |   '') AS text_dedup
        |FROM j GROUP BY 1""".stripMargin),
    GateQuery("q110_kneser_ney_ppl", (s, dir) => {
      // interpolated Kneser–Ney twin of q90: the smoothing KenLM/CCNet
      // actually use. Every probability is a count ratio plus the fixed
      // D=0.75 discount — identical IEEE op sequence in the Spark
      // projection and the oracle's CTE replay, with ln/avg absorbed by
      // the same 4dp grid q90 rides.
      // margins measured on the gate data: avg_logp min 5.3e-8 to its 4dp
      // boundary vs ~5e-14 ln/sum-order deviation; ppl (∈[26,39]) min
      // 7.7e-10 at 4dp — too tight — vs 1.1e-5 at 2dp, hence the grids
      val d = tbl(s, dir, "documents")
      val model = graft.text.NgramLm.trainKneserNey(d, "text")
      graft.text.NgramLm.kneserNeyPerplexity(d, "doc_id", "text", model)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 4).as("avg_logp"),
          round(col("ppl"), 2).as("ppl"))
    }, oracleSql =
      // q110: interpolated KN in SQL. The op sequence inside ln() mirrors the
      // Spark projection exactly — greatest(c2−D,0)/ch + D·nf/ch·pc with
      // left-associative products — so p is bit-identical and only ln/avg
      // (libm vs Math.log, sum order) ride the 4dp grid, as in q90.
      """WITH tk AS (SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
        | FROM documents),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        | FROM tk, unnest(range(1, len(t))) r(i) WHERE len(t) >= 2),
        |b AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |f AS (SELECT w1, count(*) AS nf, CAST(sum(c2) AS DOUBLE) AS ch
        | FROM b GROUP BY 1),
        |pr AS (SELECT w2, count(*) AS np FROM b GROUP BY 1),
        |st AS (SELECT CAST((SELECT count(*) FROM b) AS DOUBLE) AS ty,
        |  (SELECT count(DISTINCT w) FROM (SELECT unnest(t) AS w FROM tk)) AS v),
        |sc AS (SELECT g.doc_id,
        |  ln(CASE WHEN f.ch IS NOT NULL
        |   THEN greatest(coalesce(b.c2, 0) - 0.75, 0.0) / f.ch
        |        + 0.75 * f.nf / f.ch *
        |          coalesce(pr.np / st.ty, 1.0 / (st.v + 1.0))
        |   ELSE coalesce(pr.np / st.ty, 1.0 / (st.v + 1.0)) END) AS logp
        | FROM bg g LEFT JOIN b USING (w1, w2) LEFT JOIN f USING (w1)
        | LEFT JOIN pr ON g.w2 = pr.w2, st)
        |SELECT doc_id, count(*) AS n_bigrams,
        | round(avg(logp), 4) AS avg_logp,
        | round(exp(-avg(logp)), 2) AS ppl
        |FROM sc GROUP BY 1""".stripMargin),
    GateQuery("q91_audio_spectrogram", (s, dir) => {
      // STFT spectrogram over planted PCM16 WAVs (q79's closed-form
      // payloads — even doc_ids, stereo when id%4=0): the executor-side
      // JTransforms FFT hash-checks against the oracle's direct DFT sums
      // over the closed-form samples — cross-engine AND cross-algorithm
      // (the q81 pattern applied to the multimodal family), and the WAV
      // chunk walk + mono mix sit inside the gated path
      Multimodal.audioSpectrogram(plantedMedia(s, dir, parity = Some(0)), "id", "payload")
        .select(col("id").as("doc_id"), col("frame").cast("long").as("frame"),
          col("bin").cast("long").as("bin"), round(col("mag"), 4).as("mag"))
    }, oracleSql =
      // q91: direct DFT over the closed-form planted samples — win 64,
      // hop 32, bins 0..32, channel-averaged normalized signal; the Spark
      // side computes the same spectrum via FFT.
      """WITH w AS (SELECT doc_id AS id,
        |  CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS ch,
        |  100 + (doc_id % 50) AS nfr
        | FROM documents WHERE doc_id % 2 = 0),
        |x AS (SELECT id, r.t,
        |  list_sum(list_transform(range(0, ch), c ->
        |    CAST((id*31 + (r.t*ch + c)*7) % 65536 - 32768 AS DOUBLE))) / ch / 32768.0 AS xv
        | FROM w, unnest(range(0, nfr)) r(t)),
        |fr AS (SELECT id, r.f FROM w, unnest(range(0, (nfr - 64) // 32 + 1)) r(f)),
        |term AS (SELECT fr.id, fr.f, b.j, x.t - fr.f*32 AS tt, x.xv
        | FROM fr JOIN x ON x.id = fr.id AND x.t >= fr.f*32 AND x.t < fr.f*32 + 64,
        | (SELECT unnest(range(0, 33)) AS j) b),
        |spec AS (SELECT id, f, j,
        |  sqrt(pow(sum(xv * cos(2*pi()*j*tt/64)), 2)
        |     + pow(sum(xv * sin(2*pi()*j*tt/64)), 2)) AS mag
        | FROM term GROUP BY 1, 2, 3)
        |SELECT id AS doc_id, f AS frame, j AS bin, round(mag, 4) AS mag
        |FROM spec""".stripMargin),
    GateQuery("q92_semdedup", (s, dir) => {
      // SemDeDup keep/drop over the embedding corpus: deterministic
      // fromRows clusterer (16 lowest-id normalized vectors — a
      // filter+slice in SQL, the q89 trick), PQ-argmin assignment, and the
      // canonical lower-id ε-ball drop rule. Normalize+round 6dp before
      // clustering (bit-identical argmin inputs, q89's rule); vectors are
      // then unit so the pair sim is a plain dot, rounded 4dp before
      // thresholding (q57's boundary rule). τ=0.35 sits in the synthetic
      // corpus's near-dup band (the data has no planted twins; nearest
      // raw sim is 3.6e-4 from the boundary)
      import graft.functions.VectorFunctions
      import graft.similarity.ProductQuantizer
      val e = tbl(s, dir, "embeddings")
      val v = col("embedding").cast("array<double>")
      val nv = e.select(col("vec_id"),
        transform(VectorFunctions.arrayDiv(v, Similarity.norm(v)),
          x => round(x, 6)).as("v"))
      val cb = graft.dedup.SemDedup.centroidsFromRows(nv, "vec_id", "v", k = 16)
      graft.dedup.SemDedup.dedup(nv, "vec_id", "v", cb,
          threshold = 0.35, normalized = true)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("kept"))
    }, oracleSql =
      // q92: SemDeDup replay — normalize+round 6dp, centroids = vec_id < 16,
      // assignment = row_number argmin over full-vector squared distances
      // (tie → lowest centroid id), dropped = distinct higher id of any
      // within-cluster pair whose dot (unit vectors) rounds ≥ 0.35 at 4dp.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS r FROM embeddings),
        |u AS (SELECT vec_id,
        |  list_transform(r, x -> round(x / sqrt(list_inner_product(r, r)), 6)) AS v
        | FROM e),
        |cb AS (SELECT vec_id AS cid, v AS cv FROM u WHERE vec_id < 16),
        |dist AS (SELECT u.vec_id, c.cid,
        |  list_sum(list_transform(generate_series(1, 64),
        |    i -> (u.v[i] - c.cv[i]) * (u.v[i] - c.cv[i]))) AS d
        | FROM u, cb c),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |  FROM dist) t WHERE rk = 1),
        |p AS (SELECT DISTINCT a2.vec_id AS dropped
        | FROM asg a1 JOIN asg a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
        | JOIN u u1 ON u1.vec_id = a1.vec_id JOIN u u2 ON u2.vec_id = a2.vec_id
        | WHERE round(list_inner_product(u1.v, u2.v), 4) >= 0.35)
        |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        | (d.dropped IS NULL) AS kept
        |FROM asg a LEFT JOIN p d ON a.vec_id = d.dropped""".stripMargin),
    GateQuery("q93_dsir", (s, dir) => {
      // DSIR importance scoring, self-contained on the documents table:
      // target = src0–src3, raw = the whole corpus. The hashed unigram+
      // bigram feature chain is the tokHash polyhash arithmetic every
      // dedup oracle replays; both log terms are subtracted inside the
      // weight row in the same written order on both engines, and the
      // per-doc sum rounds 6dp (q90's log precedent). keep = top 20% by
      // (rounded score, doc_id) — rounding BEFORE ranking makes the order
      // cross-engine total
      val d = tbl(s, dir, "documents")
      val w = Dsir.bucketWeightsWhere(d,
        col("source").isin("src0", "src1", "src2", "src3"), "text", buckets = 1024)
      val scored = Dsir.score(d, "doc_id", "text", w, buckets = 1024)
        .withColumn("dsir_logw", round(col("dsir_logw"), 6))
      Dsir.topFraction(scored, "doc_id", "dsir_logw", frac = 0.2)
        .select(col("doc_id"), col("n_feats"), col("dsir_logw"),
          col("rank"), col("keep"))
    }, oracleSql =
      // q93: DSIR replay — hashed unigram+bigram buckets over the tokHash
      // chain WITH multiplicity, add-1-smoothed log weight per bucket
      // (both totals subtracted inside the row, same written order as the
      // Spark column), per-doc Σ cnt·logw rounded 6dp, top-20% rank over
      // (rounded score desc, doc_id).
      s"""WITH th AS ($tokHashSql),
        |f AS (
        | SELECT doc_id, h % 1024 AS bucket
        |  FROM (SELECT doc_id, unnest(th) AS h FROM th) z
        | UNION ALL
        | SELECT doc_id, unnest(list_transform(range(1, len(th)),
        |   i -> ((th[i]*1000003 + th[i+1]) % 1000000007) % 1024)) AS bucket
        |  FROM th),
        |tgt AS (SELECT doc_id FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        |cr AS (SELECT bucket, count(*) AS cr FROM f GROUP BY 1),
        |ct AS (SELECT bucket, count(*) AS ct FROM f JOIN tgt USING (doc_id) GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cr) FROM cr) AS tr, (SELECT sum(ct) FROM ct) AS tt),
        |w AS (SELECT cr.bucket,
        |  (ln(coalesce(ct.ct, 0) + 1.0) - ln(tt + 1024.0))
        |   - (ln(cr.cr + 1.0) - ln(tr + 1024.0)) AS logw
        | FROM cr LEFT JOIN ct USING (bucket), tot),
        |dc AS (SELECT doc_id, bucket, count(*) AS cnt FROM f GROUP BY 1, 2),
        |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
        |  round(sum(cnt * logw), 6) AS dsir_logw
        | FROM dc JOIN w USING (bucket) GROUP BY 1),
        |k AS (SELECT CAST(ceil(count(*) * 0.2) AS BIGINT) AS k FROM sc)
        |SELECT doc_id, n_feats, dsir_logw,
        | CAST(row_number() OVER (ORDER BY dsir_logw DESC, doc_id) AS BIGINT) AS rank,
        | row_number() OVER (ORDER BY dsir_logw DESC, doc_id) <= (SELECT k FROM k) AS keep
        |FROM sc""".stripMargin),
    GateQuery("q94_bm25_topk", (s, dir) => {
      // BM25 ranked retrieval over the documents corpus, three literal
      // bag-of-terms queries: build = two map-side-combined aggregates
      // (the inverted index IS the postings frame), search = broadcast
      // query join + per-query window rank. Every count is exact integer;
      // the one float chain (idf·tfn) is written in the same order in the
      // oracle, scores round 4dp BEFORE ranking, ties break on doc_id
      import s.implicits._
      val idx = graft.text.Bm25.build(tbl(s, dir, "documents"), "doc_id", "text")
      val q = Seq(0 -> "join", 0 -> "shuffle", 0 -> "broadcast",
        1 -> "hash", 1 -> "table", 1 -> "scan",
        2 -> "window", 2 -> "sort", 2 -> "merge").toDF("query_id", "term")
      graft.text.Bm25.search(idx, q, "query_id", "term", k = 10)
        .select(col("query_id").cast("long").as("query_id"), col("rank"),
          col("doc_id"), col("score"))
    }, oracleSql = bm25TopkSql),
    GateQuery("q95_image_resize", (s, dir) => {
      // nearest-neighbor resize over q79's planted closed-form PPMs (odd
      // doc_ids, per-id dimensions): the strided index map and the pixel
      // function are pure integer arithmetic, so the oracle recomputes
      // the RESIZED per-channel sums from the closed form — a wrong
      // header walk, stride, or index rounding breaks the hash
      Multimodal.resizePpmNearest(plantedMedia(s, dir, parity = Some(1)), "id", "payload",
          outW = 4, outH = 3).toDF()
        .select(col("id").as("doc_id"),
          col("srcWidth").cast("long").as("src_w"),
          col("srcHeight").cast("long").as("src_h"),
          col("rSum").as("r_sum"), col("gSum").as("g_sum"),
          col("bSum").as("b_sum"))
    }, oracleSql =
      // q95: replay the planted pixel function v(k) = (id + 13k) mod 256 at
      // the nearest-neighbor source indices sy = (y·h) // 3, sx = (x·w) // 4
      // over the 4×3 output grid, summed per channel
      """WITH ids AS (SELECT doc_id AS id, 4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id % 2 = 1),
        |px AS (SELECT id, w, h, c.c,
        |  (id + (((y.y * h) // 3 * w + (x.x * w) // 4) * 3 + c.c) * 13) % 256 AS v
        | FROM ids, range(0, 4) x(x), range(0, 3) y(y), range(0, 3) c(c))
        |SELECT id AS doc_id, w AS src_w, h AS src_h,
        | CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
        | CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
        | CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS b_sum
        |FROM px GROUP BY 1, 2, 3""".stripMargin),
    GateQuery("q132_image_dhash_neardup", (s, dir) => {
      // the image perceptual-hash dedup tier END-TO-END under the hash
      // gate (r14: a 100 TB multimodal pipeline dedups images, not just
      // captions): planted closed-form PPMs per odd doc_id with a
      // QUADRATIC pixel term v(k) = (id + 13k + (id%7+1)·k²) mod 256 —
      // q79's linear sawtooth makes unrelated images share gradient-sign
      // patterns (measured: 19k Hamming-0 pairs at sf0.1, a quadratic
      // gate); the k² term varies the gradient with position so
      // unrelated dhashes separate. Each source gets a companion: for
      // id%4==1 a VISUALLY-IDENTICAL RE-ENCODE (same pixels behind a
      // '#'-comment header — byte-different, decode-identical, the real
      // decoder's comment walk on the hot path), for id%4==3 a
      // closed-form perturbed copy (+8 on every 7th pixel byte, mod
      // 256). Pipeline: REAL decode → dHash64 (9×8 nearest-sampled
      // integer gray gradients) → the q59 4×16-bit band tier → exact
      // Hamming ≤ 10 pairs. Every stage is integer arithmetic the
      // oracle replays bit-for-bit: re-encodes meet their source at
      // Hamming 0 through all 4 bands; perturbed/unrelated pairs appear
      // exactly when the shared arithmetic says their bands collide.
      Multimodal.imageNearDupCandidates(imageDedupCorpus(s, dir),
          "id", "payload", maxHamming = 10)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
    }, oracleSql =
      s"""WITH $imageDhashCtes
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 10""".stripMargin),
    GateQuery("q135_image_dedup_pipeline", (s, dir) => {
      // the image KEEP decision end-to-end (r15, VERDICT r14 task 2 —
      // q132 stops at candidate pairs, but a 100 TB multimodal pipeline
      // must decide which images survive): q132's decode → dHash →
      // banded candidate tier, then the SAME cluster/keep pattern the
      // text pipeline gates in q72 — connected components over the
      // pair graph, survivor = each cluster's minimum id, untouched
      // images keep themselves. The oracle replays every stage: the
      // integer decode/hash arithmetic, the banded pairing (with the
      // flood cap), the recursive closure, and the keep rule.
      val corpus = imageDedupCorpus(s, dir)
      val pairs = Multimodal.imageNearDupCandidates(corpus, "id", "payload",
        maxHamming = 10)
      val clusters = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "img_id")
      corpus.select(col("id").as("img_id"))
        .join(clusters, Seq("img_id"), "left")
        .select(col("img_id"),
          coalesce(col("component"), col("img_id")).as("cluster"),
          (col("component").isNull || col("component") === col("img_id"))
            .as("keep"))
    }, oracleSql =
      // the q50/q72 closure pattern over the image pair graph: component =
      // min reachable id, survivor = each cluster's min id, untouched
      // images keep themselves
      s"""WITH RECURSIVE $imageDhashCtes,
         |pr AS (SELECT id_a, id_b FROM cand
         | WHERE bit_count(xor(sa, sb)) <= 10),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1)
         |SELECT d.id AS img_id,
         | CAST(coalesce(c.component, d.id) AS BIGINT) AS cluster,
         | (c.component IS NULL OR c.component = d.id) AS keep
         |FROM docs d LEFT JOIN comp c ON c.id = d.id""".stripMargin),
    GateQuery("q133_image_phash", (s, dir) => {
      // the pHash integer-DCT VALUE per image under the hash gate (q132
      // gates the dhash PAIRING tier; this pins the DCT arithmetic
      // itself): planted q132-form images on a 10% id subset → real
      // decode → 32×32 nearest gray grid → fixed-point 2-D DCT-II →
      // 8×8 low block → lower-median threshold → 64-bit hash, replayed
      // end-to-end in SQL. The one non-integer ingredient is the shared
      // cos TABLE round(32768·cos(π(2k+1)j/64)): its closest entry sits
      // 4.4e-3 from a rounding boundary (checked over all 1024 entries)
      // vs ≤1e-8 cross-libm drift, so both engines round to the same
      // integers and everything downstream is exact Long arithmetic.
      import s.implicits._
      val corpus = tbl(s, dir, "documents")
        .filter(col("doc_id") % 10 === 3)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 12 + (id % 8).toInt
          val h = 9 + (id % 5).toInt
          val q = id % 7 + 1
          val pix = Array.tabulate[Byte](w * h * 3)(k =>
            ((id + 13L * k + q * k.toLong * k) % 256).toByte)
          Multimodal.MediaRow(id, Multimodal.encodePpmP6(w, h, 255, pix))
        }).toDF()
      Multimodal.imageHashes(corpus, "id", "payload").toDF()
        .select(col("id").as("doc_id"),
          col("width").cast("long").as("w"),
          col("height").cast("long").as("h"), col("phash"))
    }, oracleSql =
      // Image dHash near-dup tier: replay the planted pixel closed form
      // v(k) = (src + 13k + (src%7+1)·k² [+8 on k%7=0 for perturbed
      // copies]) mod 256 at the 9×8 nearest-sample grid (sy = r·h div 8,
      // sx = c·w div 9 — the resizePpmNearest index map), gray = channel
      // sum, 64 gradient bits.
      // Bit 63 cannot be `1::BIGINT << 63` (DuckDB raises on the overflow;
      // the q19 sig replay never hits this because widenHash62All sigs
      // are 62-bit) — it is added as the explicit two's-complement min-long
      // term, so the sum reproduces Spark's long bit pattern exactly.
      // pHash DCT replay: the cos table is the only non-integer input
      // (margin-checked, see the query comment); DCT runs as two staged
      // sum-of-products joins (A = C·G, F = A·Cᵀ) in exact BIGINT, lower
      // median = 1-based list index 32, bit 63 via the min-long term.
      s"""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 3),
         |dims AS (SELECT id, 12 + id % 8 AS w, 9 + id % 5 AS h,
         |  id % 7 + 1 AS q FROM ids),
         |g32 AS (SELECT id, y.y AS y, x.x AS x,
         |  sum((id + 13 * ((((y.y * h) // 32) * w + ((x.x * w) // 32)) * 3 + ch.ch)
         |    + q * ((((y.y * h) // 32) * w + ((x.x * w) // 32)) * 3 + ch.ch)
         |        * ((((y.y * h) // 32) * w + ((x.x * w) // 32)) * 3 + ch.ch)) % 256) AS g
         | FROM dims CROSS JOIN range(0, 32) y(y) CROSS JOIN range(0, 32) x(x)
         |  CROSS JOIN range(0, 3) ch(ch)
         | GROUP BY id, y.y, x.x),
         |ctab AS (SELECT j.j AS j, k.k AS k,
         |  CAST(round(32768 * cos(pi() * (2 * k.k + 1) * j.j / 64)) AS BIGINT) AS c
         | FROM range(0, 8) j(j) CROSS JOIN range(0, 32) k(k)),
         |a AS (SELECT g.id, c.j AS u, g.x AS x, sum(c.c * g.g) AS a
         | FROM g32 g JOIN ctab c ON c.k = g.y GROUP BY g.id, c.j, g.x),
         |f AS (SELECT a.id, a.u AS u, c.j AS v, sum(a.a * c.c) AS f
         | FROM a JOIN ctab c ON c.k = a.x GROUP BY a.id, a.u, c.j),
         |med AS (SELECT id, list(f ORDER BY f)[32] AS med FROM f GROUP BY id)
         |SELECT f.id AS doc_id,
         | CAST(max(12 + f.id % 8) AS BIGINT) AS w,
         | CAST(max(9 + f.id % 5) AS BIGINT) AS h,
         | CAST(sum(CASE WHEN f.f <= m.med THEN 0
         |  WHEN f.u * 8 + f.v = 63 THEN -9223372036854775807 - 1
         |  ELSE (CAST(1 AS BIGINT) << (f.u * 8 + f.v)) END) AS BIGINT) AS phash
         |FROM f JOIN med m USING (id) GROUP BY f.id""".stripMargin),
    GateQuery("q98_semdedup_hier", (s, dir) => {
      // SemDeDup under the TWO-LEVEL assigner, hash-gated end-to-end via
      // the data-row hier codebook (coarse = 4 lowest-id vectors, fine =
      // each cell's 4 lowest-id members — both pure filter/rank
      // constructions the oracle replays), so the codegen'd HierArgminExpr
      // and dedupHier sit inside the correctness gate; kMeansHier is the
      // production trainer (spec + probe). Same normalize/round/τ rules
      // as q92
      import graft.functions.VectorFunctions
      val e = tbl(s, dir, "embeddings")
      val v = col("embedding").cast("array<double>")
      val nv = e.select(col("vec_id"),
        transform(VectorFunctions.arrayDiv(v, Similarity.norm(v)),
          x => round(x, 6)).as("v"))
      val hcb = graft.dedup.SemDedup.centroidsHierFromRows(nv, "vec_id", "v",
        k1 = 4, k2 = 4)
      graft.dedup.SemDedup.dedupHier(nv, "vec_id", "v", hcb,
          threshold = 0.35, normalized = true)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("kept"))
    }, oracleSql =
      // q98: the two-level SemDeDup replay — coarse argmin over the 4
      // lowest-id vectors, fine centroids = each cell's 4 lowest-id members
      // (rank by vec_id), fine argmin within the assigned cell, cluster =
      // cell·4 + fine, then q92's lower-id ε-ball rule.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS r FROM embeddings),
        |u AS (SELECT vec_id,
        |  list_transform(r, x -> round(x / sqrt(list_inner_product(r, r)), 6)) AS v
        | FROM e),
        |cb AS (SELECT vec_id AS cid, v AS cv FROM u WHERE vec_id < 4),
        |cd AS (SELECT u.vec_id, c.cid,
        |  list_sum(list_transform(generate_series(1, 64),
        |    i -> (u.v[i] - c.cv[i]) * (u.v[i] - c.cv[i]))) AS d
        | FROM u, cb c),
        |casg AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT vec_id, cid,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |  FROM cd) t WHERE rk = 1),
        |fine AS (SELECT cell, CAST(rk - 1 AS BIGINT) AS fid, v FROM (
        |  SELECT a.cell, a.vec_id,
        |   row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) AS rk
        |  FROM casg a) f JOIN u USING (vec_id) WHERE rk <= 4),
        |fd AS (SELECT a.vec_id, a.cell, fn.fid,
        |  list_sum(list_transform(generate_series(1, 64),
        |    i -> (u.v[i] - fn.v[i]) * (u.v[i] - fn.v[i]))) AS d
        | FROM casg a JOIN u USING (vec_id) JOIN fine fn ON fn.cell = a.cell),
        |asg AS (SELECT vec_id, CAST(cell * 4 + fid AS BIGINT) AS cluster FROM (
        |  SELECT vec_id, cell, fid,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d, fid) AS rk
        |  FROM fd) t WHERE rk = 1),
        |p AS (SELECT DISTINCT a2.vec_id AS dropped
        | FROM asg a1 JOIN asg a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
        | JOIN u u1 ON u1.vec_id = a1.vec_id JOIN u u2 ON u2.vec_id = a2.vec_id
        | WHERE round(list_inner_product(u1.v, u2.v), 4) >= 0.35)
        |SELECT a.vec_id, a.cluster, (d.dropped IS NULL) AS kept
        |FROM asg a LEFT JOIN p d ON a.vec_id = d.dropped""".stripMargin),
    GateQuery("q97_gopher_rules", (s, dir) => {
      // the named Gopher/MassiveText Table-A1 document rules, signal by
      // signal and rule by rule: every ratio is a single IEEE division of
      // exact small integers (identical doubles on both engines, so the
      // threshold comparisons agree without pre-rounding; the emitted
      // signal columns round 6dp for the hash only)
      TextFunctions.gopherRules(tbl(s, dir, "documents"), "doc_id", "text")
    }, oracleSql =
      // q97: the Gopher Table-A1 rules — same tokenization, non-whitespace
      // char count for mean word length, literal-replace symbol counts,
      // line-lambda bullet/ellipsis fractions, alpha-word fraction, distinct
      // stop-word membership; thresholds compared on the raw single-division
      // doubles (identical on both engines), signals rounded 6dp for the
      // hash.
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS tx FROM documents),
        |b AS (SELECT doc_id, tx,
        |  list_filter(regexp_split_to_array(lower(tx), '\s+'), x -> x != '') AS tk,
        |  list_filter(string_split(tx, chr(10)), x -> x != '') AS ln
        | FROM t),
        |s AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  CASE WHEN len(tk) = 0 THEN 0.0
        |   ELSE length(regexp_replace(tx, '\s', '', 'g'))::DOUBLE / len(tk) END
        |   AS mean_word_len,
        |  CASE WHEN len(tk) = 0 THEN 0.0
        |   ELSE ((length(tx) - length(replace(tx, '#', '')))
        |       + (length(tx) - length(replace(tx, '...', ''))) // 3
        |       + (length(tx) - length(replace(tx, '…', ''))))::DOUBLE / len(tk) END
        |   AS symbol_ratio,
        |  CASE WHEN len(ln) = 0 THEN 0.0
        |   ELSE len(list_filter(ln, l -> regexp_matches(trim(l), '^[•\-\*]')))::DOUBLE
        |        / len(ln) END AS bullet_frac,
        |  CASE WHEN len(ln) = 0 THEN 0.0
        |   ELSE len(list_filter(ln, l -> regexp_matches(trim(l), '(\.\.\.|…)$')))::DOUBLE
        |        / len(ln) END AS ellipsis_frac,
        |  CASE WHEN len(tk) = 0 THEN 0.0
        |   ELSE len(list_filter(tk, w -> regexp_matches(w, '[a-z]')))::DOUBLE
        |        / len(tk) END AS alpha_word_frac,
        |  CAST(len(list_intersect(tk,
        |    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT)
        |   AS stop_hits
        | FROM b)
        |SELECT doc_id, n_words, round(s.mean_word_len, 6) AS mean_word_len,
        | round(s.symbol_ratio, 6) AS symbol_ratio,
        | round(s.bullet_frac, 6) AS bullet_frac,
        | round(s.ellipsis_frac, 6) AS ellipsis_frac,
        | round(s.alpha_word_frac, 6) AS alpha_word_frac, stop_hits,
        | (s.n_words >= 50 AND s.n_words <= 100000) AS pass_word_count,
        | -- s.-qualified: DuckDB lateral alias resolution would otherwise
        | -- bind these to the ROUNDED select-list aliases while the Spark
        | -- side thresholds the raw signals
        | (s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0) AS pass_word_len,
        | (s.symbol_ratio <= 0.1) AS pass_symbol,
        | (s.bullet_frac <= 0.9 AND s.ellipsis_frac <= 0.3) AS pass_lines,
        | (s.alpha_word_frac >= 0.8) AS pass_alpha,
        | (s.stop_hits >= 2) AS pass_stop,
        | (s.n_words >= 50 AND s.n_words <= 100000
        |   AND s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0
        |   AND s.symbol_ratio <= 0.1 AND s.bullet_frac <= 0.9
        |   AND s.ellipsis_frac <= 0.3 AND s.alpha_word_frac >= 0.8
        |   AND s.stop_hits >= 2) AS keep
        |FROM s""".stripMargin),
    GateQuery("q111_c4_rules", (s, dir) => {
      // C4 page cleaning (Raffel et al. 2020 §2.2) under the hash gate.
      // The corpus is single-line, so each doc becomes a constructed
      // 8-line page hitting every branch: kept lines (terminal . ! ? ",
      // leading whitespace trimmed), dropped lines (no terminal punct /
      // < 3 words / "JavaScript"), and doc-level vetoes keyed off doc_id
      // (%3 loses the '?' sentence → too-few-sentences, %7 plants lorem
      // ipsum, %11 a curly-brace code line). Everything is integer counts
      // and exact string edits — no rounding anywhere.
      val d = tbl(s, dir, "documents")
      val l0 = lit("one more decent sentence to start.")
      val l1 = concat(substring(col("text"), 1, 40), lit(" end."))
      val l2 = lit("short.")
      val l3 = concat(lit("  "), substring(col("text"), 8, 30), lit(" tail!"))
      val l4 = lit("no terminal punctuation here")
      val l5 = when(col("doc_id") % 3 === 0,
        lit("please enable JavaScript to view this page."))
        .otherwise(lit("a perfectly good sentence appears here?"))
      val l6 = when(col("doc_id") % 7 === 0,
        lit("hidden lorem ipsum filler text here."))
        .otherwise(lit("closing line ending with a quote\""))
      val l7 = when(col("doc_id") % 11 === 0, lit("var x = { a: 1 };"))
        .otherwise(lit("final good sentence number three."))
      val page = concat_ws("\n", l0, l1, l2, l3, l4, l5, l6, l7)
      TextFunctions.c4Rules(
        d.select(col("doc_id"), page.as("text")), "doc_id", "text")
    }, oracleSql =
      // q111: the C4 kernel replayed as DuckDB list ops — same page
      // construction, same trim set (space/tab/CR/FF/VT), same terminal-punct
      // set, word-count regex over the kernel's whitespace class, and the
      // same doc-level vetoes on the original page. Integer counts and exact
      // string edits throughout — nothing to round.
      """WITH pages AS (SELECT doc_id,
        |  'one more decent sentence to start.' || chr(10) ||
        |  substr(text, 1, 40) || ' end.' || chr(10) ||
        |  'short.' || chr(10) ||
        |  '  ' || substr(text, 8, 30) || ' tail!' || chr(10) ||
        |  'no terminal punctuation here' || chr(10) ||
        |  CASE WHEN doc_id % 3 = 0 THEN 'please enable JavaScript to view this page.'
        |       ELSE 'a perfectly good sentence appears here?' END || chr(10) ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'hidden lorem ipsum filler text here.'
        |       ELSE 'closing line ending with a quote"' END || chr(10) ||
        |  CASE WHEN doc_id % 11 = 0 THEN 'var x = { a: 1 };'
        |       ELSE 'final good sentence number three.' END AS page
        | FROM documents),
        |k AS (SELECT doc_id, page,
        |  list_filter(list_transform(string_split(page, chr(10)),
        |    x -> trim(x, ' ' || chr(9) || chr(13) || chr(12) || chr(11))),
        |   x -> len(x) > 0 AND right(x, 1) IN ('.', '!', '?', '"')
        |    AND len(list_filter(regexp_split_to_array(x, '[ \t\f\v\r]+'),
        |          w -> w != '')) >= 3
        |    AND NOT contains(lower(x), 'javascript')) AS keptl,
        |  len(string_split(page, chr(10))) AS n_lines
        | FROM pages),
        |c AS (SELECT doc_id, page, array_to_string(keptl, chr(10)) AS clean,
        |  len(keptl) AS n_kept, n_lines - len(keptl) AS n_dropped FROM k),
        |v AS (SELECT doc_id, clean, n_kept, n_dropped,
        |  length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g')) AS ns,
        |  NOT contains(lower(page), 'lorem ipsum') AS pl,
        |  NOT contains(lower(page), '{') AS pc
        | FROM c)
        |SELECT doc_id, clean AS text_clean,
        | CAST(n_kept AS BIGINT) AS n_lines_kept,
        | CAST(n_dropped AS BIGINT) AS n_lines_dropped,
        | CAST(ns AS BIGINT) AS n_sentences,
        | ns >= 5 AS pass_sentences, pl AS pass_lorem, pc AS pass_curly,
        | TRUE AS pass_blocklist,
        | (ns >= 5 AND pl AND pc) AS keep
        |FROM v""".stripMargin),
    GateQuery("q96_bm25_dfcut", (s, dir) => {
      // q94's queries under the query-time stopword cut: maxDfFrac=0.79
      // lands BETWEEN this corpus's term dfs (cut 395 drops scan@398,
      // keeps hash/join@394 …), so the pruned ranking differs from q94's
      // and the df-threshold branch is itself pinned cross-engine
      import s.implicits._
      val idx = graft.text.Bm25.build(tbl(s, dir, "documents"), "doc_id", "text")
      val q = Seq(0 -> "join", 0 -> "shuffle", 0 -> "broadcast",
        1 -> "hash", 1 -> "table", 1 -> "scan",
        2 -> "window", 2 -> "sort", 2 -> "merge").toDF("query_id", "term")
      graft.text.Bm25.search(idx, q, "query_id", "term", k = 10,
          maxDfFrac = 0.79)
        .select(col("query_id").cast("long").as("query_id"), col("rank"),
          col("doc_id"), col("score"))
    }, oracleSql = {
      val r = bm25TopkSql.replace(
        " JOIN lens l ON l.doc_id = tf.doc_id, st\n GROUP BY 1, 2)",
        " JOIN lens l ON l.doc_id = tf.doc_id, st\n" +
          " WHERE d.df <= CAST(floor(st.n_docs * 0.79) AS BIGINT)\n GROUP BY 1, 2)")
      // a reformat of bm25TopkSql would make the replace a silent no-op and
      // degenerate q96's oracle to q94's (ADVICE r8) — fail loudly instead
      require(r != bm25TopkSql, "q96 oracle: df-cut anchor not found in bm25TopkSql")
      r
    }),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(g => g.name -> g.run).toMap
  lazy val oracleSql: Map[String, String] = registry.map(g => g.name -> g.oracleSql).toMap

  /** The registry restricted to `only`, a comma-separated list of full
    * names (default `SPARK_GRAFT_ONLY`; unset = all): the dev knob of
    * Verify, Bench and PlanDump. Items are trimmed and empty ones skipped,
    * so a trailing comma is harmless; a list naming no query, or any name
    * outside the registry, fails instead of running an empty selection. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[GateQuery] =
    only.fold(registry) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- registry.map(_.name)
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$list' names no gate query")
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY: unknown gate query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      registry.filter(g => names(g.name))
    }

  // ==================================================================== //

  private def winSql(frame: String) =
    s"WINDOW w AS ($tsOrder ROWS BETWEEN $frame AND CURRENT ROW)"

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  private val dailySql: String =
    """SELECT date_trunc('day', ts) AS d,
      | sum(CAST(round(value*100) AS BIGINT))/100.0/count(*) AS v,
      | CAST(count(*) AS DOUBLE) AS c
      |FROM events GROUP BY 1""".stripMargin

  /** q31–q34 golden-output oracles: the iterative MLE cores have no
    * ANSI-SQL oracle, so the oracle replays a CHECKED-IN expected table
    * computed by this engine at the two gate scales and keyed by data
    * scale. The sniff is by EXACT events row count (10000 → tag 1 =
    * sf0.01, 100000 → tag 2 = sf0.1); any OTHER scale yields tag 0,
    * which matches no golden rows — a loud empty-oracle failure instead
    * of a confusing wrong-scale hash mismatch (ADVICE r6). The numerics
    * behind the goldens are pinned independently against statsmodels in
    * ArimaSpec / ModelSuiteSpec at ~1e-5 on canonical datasets, AND — on
    * the gate series themselves — against from-scratch CSS / normal-
    * equation estimators plus a likelihood local-max property in
    * GoldenIndependenceSpec, which re-pins these same tables (VERDICT r6
    * task 2). The Spark queries round to 4 dp (the spec-tolerance hash
    * discipline, same as q43) so the deterministic fits produce a
    * run-to-run-stable hashed surface. */
  private def sfTagSql: String =
    "(SELECT CASE count(*) WHEN 10000 THEN 1 WHEN 100000 THEN 2 ELSE 0 END FROM events)"

  /** Sequential 50-row blocks over the (ts, event_id) order — shared by
    * q05 (row_number window) and q44 (range-partitioned block ids): one
    * oracle, two algorithms. */
  private def seqBlocksSql: String =
    s"""WITH t AS (SELECT value,
       |  CAST(floor((row_number() OVER ($tsOrder) - 1) / 50) AS BIGINT) AS block
       | FROM events)
       |SELECT block,
       | round(sum($centsSql) / 100.0 / 50, 6) AS value_mean,
       | round(sum($centsSql) / 100.0, 6) AS value_sum,
       | min(value) AS value_min, max(value) AS value_max,
       | count(value) AS value_defined
       |FROM t GROUP BY block HAVING count(*) = 50""".stripMargin

  /** Direct per-user lag self-join ACF — shared by q39 (windowed-lag
    * acfByKey) and q83 (gathered-FFT acfByKeyFft): one oracle, two
    * algorithms. */
  private def acfByKeySql: String =
    """WITH s AS (SELECT user_id, value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |  avg(value) OVER (PARTITION BY user_id) AS mu
      | FROM events),
      |c AS (SELECT user_id, rn, value - mu AS xc FROM s),
      |den AS (SELECT user_id, sum(xc*xc) AS s0 FROM c GROUP BY 1)
      |SELECT a.user_id, lg.lag AS lag,
      | round(sum(a.xc*b.xc) / max(d.s0), 6) AS acf
      |FROM range(1, 7) lg(lag)
      |JOIN c a ON a.rn > lg.lag
      |JOIN c b ON b.user_id = a.user_id AND b.rn = a.rn - lg.lag
      |JOIN den d ON d.user_id = a.user_id
      |WHERE d.s0 != 0
      |GROUP BY 1, 2""".stripMargin

  private def periodogramSql: String =
    s"""WITH daily AS ($dailySql),
       |idx AS (SELECT v, row_number() OVER (ORDER BY d) - 1 AS rn FROM daily),
       |xd AS (SELECT v - lag(v) OVER (ORDER BY rn) AS x,
       |        row_number() OVER (ORDER BY rn) - 2 AS i
       |       FROM idx QUALIFY x IS NOT NULL),
       |params AS (SELECT count(*) AS m, count(*) // 2 AS half FROM xd),
       |spec AS (
       | SELECT k.k,
       |  sum(x * cos(2*pi() * k.k * i / (SELECT m FROM params))) AS re,
       |  sum(x * sin(2*pi() * k.k * i / (SELECT m FROM params))) AS im
       | FROM xd, (SELECT row_number() OVER () AS k FROM xd
       |        QUALIFY k <= (SELECT half FROM params)) k
       | GROUP BY 1)
       |SELECT round((SELECT m FROM params) / CAST(k AS DOUBLE), 6) AS period,
       | round((re*re + im*im) / (SELECT m FROM params)
       |   * (CASE WHEN k = (SELECT half FROM params)
       |            AND (SELECT m FROM params) % 2 = 0 THEN 1.0 ELSE 2.0 END), 6)
       |   AS power
       |FROM spec""".stripMargin

  /** Per-token TWO-chain hashes (doc_id, toks, h1s, h2s) — the SQL replay
    * base of the wide positional hashes (`ShingleSpanHashesExpr`): chain 1
    * is the q18 convention (31 / 1e9+7), chain 2 is 37 / 1e9+9; consumers
    * combine per-shingle as `h1·(1e9+9) + h2`. */
  private val wideTokHashSql: String =
    """SELECT doc_id,
      | list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS toks,
      | list_transform(
      |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''),
      |  t -> list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |    list_transform(list_filter(string_split(t, ''), c -> c != ''),
      |     c -> CAST(ascii(c) AS BIGINT))),
      |   (a, c) -> (a * 31 + c) % 1000000007)) AS h1s,
      | list_transform(
      |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''),
      |  t -> list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |    list_transform(list_filter(string_split(t, ''), c -> c != ''),
      |     c -> CAST(ascii(c) AS BIGINT))),
      |   (a, c) -> (a * 37 + c) % 1000000009)) AS h2s
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Per-doc token polynomial hashes — the shared base of the minhash and
    * simhash oracles (mirrors `TextFunctions.polyHash` over
    * `tokensLower`). */
  private def tokHashSqlFrom(rel: String): String =
    s"""SELECT doc_id,
       | list_transform(
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''),
       |  t -> list_reduce(
       |   list_transform(list_filter(string_split(t, ''), c -> c != ''),
       |    c -> CAST(ascii(c) AS BIGINT)),
       |   (a, c) -> (a * 31 + c) % 1000000007)) AS th
       |FROM $rel WHERE text IS NOT NULL""".stripMargin

  private val tokHashSql: String = tokHashSqlFrom("documents")

  /** CTE chain up through per-doc signatures + band keys (`sigs`, `bnd`)
    * for a 64-hash / 8-band layout over `srcSql`'s (doc_id, text). */
  private def minhashSigCtes(srcSql: String): String = {
    val paramRows = Dedup.minhashParams(64).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    s"""th AS ($srcSql),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(th) >= 3 THEN list_distinct(list_transform(range(1, len(th) - 1),
       |    i -> (((th[i]*1000003 + th[i+1]) % 1000000007) * 1000003 + th[i+2]) % 1000000007))
       |   ELSE [] END AS sh
       | FROM th),
       |params(j, a, b) AS (VALUES $paramRows),
       |slots AS (SELECT doc_id, p.j,
       |  CASE WHEN len(sh) = 0 THEN 2147483647
       |   ELSE list_min(list_transform(sh, h -> (p.a * h + p.b) % 2147483647)) END AS slot
       | FROM sh CROSS JOIN params p),
       |sigs AS (SELECT doc_id, list(slot ORDER BY j) AS sig FROM slots GROUP BY doc_id),
       |bnd AS (SELECT doc_id, b.b,
       |  list_reduce(list_prepend(CAST(b.b AS BIGINT), list_slice(sig, b.b*8 + 1, b.b*8 + 8)),
       |    (acc, s) -> (acc * 31 + s) % 2147483647) AS bkey
       | FROM sigs CROSS JOIN range(0, 8) b(b))""".stripMargin
  }

  /** The shared CTE chain producing `scored` (id_a, id_b, est_jaccard) —
    * the tail of q18's oracle and the front of q50's. */
  private def minhashPairCtes: String =
    s"""${minhashSigCtes(tokHashSql)},
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       | FROM bnd x JOIN bnd y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |scored AS (SELECT c.id_a, c.id_b,
       |  list_sum(list_transform(range(1, 65),
       |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 64 AS est_jaccard
       | FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b)""".stripMargin

  /** q116 and q134: incremental-ingestion near-dup — build a MinhashIndex
    * over the corpus as the reference, then screen a constructed arriving
    * batch against it: %3 batch docs are tail-perturbed copies of their
    * source doc (guaranteed high-Jaccard hits), the rest are 3-token
    * synthetic strings unique per doc (no shared shingles). The oracle
    * ([[minhashAcrossSql]]) replays the identical integer signature
    * arithmetic over the union corpus with the candidate join restricted
    * to batch × ref. */
  private def minhashIndexScreen(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").filter(col("text").isNotNull)
    val ref = d.select(col("doc_id"), col("text"))
    val batch = d.select((col("doc_id") + 1000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" extra trailing words here")))
        .otherwise(concat(
          lit("u"), col("doc_id").cast("string"),
          lit("x v"), col("doc_id").cast("string"),
          lit("y w"), col("doc_id").cast("string"), lit("z"))).as("text"))
    val idx = Dedup.minhashIndex(ref, "doc_id", "text")
    Dedup.minhashSearch(idx, batch, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
  }

  /** q116: the same signature arithmetic over ref ∪ shifted batch, with the
    * candidate join restricted to batch × ref — replays
    * [[Dedup.minhashSearch]] against a [[Dedup.minhashIndex]]. */
  private def minhashAcrossSql: String = {
    val corpus =
      """(SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 1000000,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' extra trailing words here'
        |   ELSE 'u' || CAST(doc_id AS VARCHAR) || 'x v' || CAST(doc_id AS VARCHAR) ||
        |        'y w' || CAST(doc_id AS VARCHAR) || 'z' END AS text
        | FROM documents WHERE text IS NOT NULL) c""".stripMargin
    s"""WITH ${minhashSigCtes(tokHashSqlFrom(corpus))},
       |cand AS (SELECT DISTINCT x.doc_id AS id_new, y.doc_id AS id_ref
       | FROM bnd x JOIN bnd y ON x.b = y.b AND x.bkey = y.bkey
       | WHERE x.doc_id >= 1000000 AND y.doc_id < 1000000),
       |scored AS (SELECT c.id_new, c.id_ref,
       |  list_sum(list_transform(range(1, 65),
       |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 64 AS est_jaccard
       | FROM cand c JOIN sigs sa ON sa.doc_id = c.id_new JOIN sigs sb ON sb.doc_id = c.id_ref)
       |SELECT * FROM scored WHERE est_jaccard >= 0.5""".stripMargin
  }

  /** The q122/q124 synthetic page: per-doc HTML wrapping the document
    * text with markup every extractor stage must handle. Every 5th doc
    * is a markup-only stub page (nav chrome, no article) so the q124
    * quality stage has real negatives to drop. */
  private def syntheticHtmlPage: org.apache.spark.sql.Column =
    when(col("doc_id") % 5 === 0, concat(
      lit("<html><head><script>var n=0;</script></head><body>"),
      lit("<!-- stub --><div class=\"nav\">Doc "), col("doc_id").cast("string"),
      lit(" stub</div></body></html>")))
    .otherwise(concat(
      lit("<html><head><title>t</title><style>body{color:red}</style>"),
      lit("<script type=\"text/js\">var x=1; if(x<2){x=3}</script></head>"),
      lit("<body><!-- nav\nchrome --><h1>Doc "), col("doc_id").cast("string"),
      lit("</h1>\n<p class=\"main\">"), coalesce(col("text"), lit("")),
      lit("</p><p>A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
      lit(" &nbsp;end</p></body></html>")))

  /** The same page as ONE SQL expression over a `documents` row. */
  private val htmlPageSqlExpr: String =
    """CASE WHEN doc_id % 5 = 0 THEN
      |  '<html><head><script>var n=0;</script></head><body>' ||
      |  '<!-- stub --><div class="nav">Doc ' || CAST(doc_id AS VARCHAR) ||
      |  ' stub</div></body></html>'
      | ELSE
      |  '<html><head><title>t</title><style>body{color:red}</style>' ||
      |  '<script type="text/js">var x=1; if(x<2){x=3}</script></head>' ||
      |  '<body><!-- nav' || chr(10) || 'chrome --><h1>Doc ' ||
      |  CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
      |  '<p class="main">' || coalesce(text, '') ||
      |  '</p><p>A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;' ||
      |  ' &nbsp;end</p></body></html>'
      | END""".stripMargin

  /** [[graft.text.TextFunctions.extractHtmlText]] as a SQL expression
    * chain over `e` — identical pattern set (Java-regex ∩ RE2). */
  private def htmlExtractSqlChain(e: String): String =
    s"""trim(regexp_replace(
       | replace(replace(replace(replace(replace(replace(
       |  regexp_replace(regexp_replace(regexp_replace($e,
       |   '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
       |   '(?s)<!--.*?-->', ' ', 'g'),
       |   '(?s)<[^>]+>', ' ', 'g'),
       |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
       |  '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
       | '[ \\t\\n\\r\\f]+', ' ', 'g'))""".stripMargin

  /** [[graft.text.TextFunctions.stripTagsAndEntities]] as a SQL chain —
    * the per-block tail of the extract chain (script/style/comments are
    * stripped page-wide BEFORE block segmentation). */
  private def htmlBlockStripSqlChain(e: String): String =
    s"""trim(regexp_replace(
       | replace(replace(replace(replace(replace(replace(
       |  regexp_replace($e, '(?s)<[^>]+>', ' ', 'g'),
       |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
       |  '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
       | '[ \\t\\n\\r\\f]+', ' ', 'g'))""".stripMargin

  /** [[graft.text.TextFunctions.normalizeText]] as a SQL chain over `e`. */
  private def normalizeSqlChain(e: String): String =
    s"""trim(regexp_replace(regexp_replace($e,
       |  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
       | '[ \\t\\n\\r\\f]+', ' ', 'g'))""".stripMargin

  /** The planted perceptual-hash corpus shared by q132 (candidate
    * pairs) and q135 (end-to-end keep decision): per odd doc_id a
    * closed-form PPM with a QUADRATIC pixel term v(k) = (id + 13k +
    * (id%7+1)·k²) mod 256 — q79's linear sawtooth makes unrelated
    * images share gradient-sign patterns (measured: 19k Hamming-0
    * pairs at sf0.1); the k² term varies the gradient with position so
    * unrelated dhashes separate. Each source gets a companion: for
    * id%4==1 a VISUALLY-IDENTICAL RE-ENCODE (same pixels behind a
    * '#'-comment header — byte-different, decode-identical, the real
    * decoder's comment walk on the hot path), for id%4==3 a
    * closed-form perturbed copy (+8 on every 7th pixel byte, mod 256).
    * Dims STRICTLY larger than the 9×8 dhash grid: at q79's 4..11 ×
    * 3..7 sizes adjacent grid cells alias the same source pixel
    * (w < 9 → zero gradients by construction), collapsing dhash
    * entropy. */
  private def imageDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tbl(s, dir, "documents")
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val w = 12 + (id % 8).toInt
        val h = 9 + (id % 5).toInt
        val q = id % 7 + 1
        def pix(pert: Boolean) = Array.tabulate[Byte](w * h * 3)(k =>
          ((id + 13L * k + q * k.toLong * k +
            (if (pert && k % 7 == 0) 8 else 0)) % 256).toByte)
        val comp =
          if (id % 4 == 1)
            Multimodal.encodePpmP6Commented(w, h, 255, pix(false),
              "re-encoded by a second writer")
          else Multimodal.encodePpmP6(w, h, 255, pix(true))
        Iterator(
          Multimodal.MediaRow(id, Multimodal.encodePpmP6(w, h, 255, pix(false))),
          Multimodal.MediaRow(id + 100000000L, comp))
      }).toDF()
  }

  /** Shared CTE chain for the image-dHash tier (q132 pairs, q135 keep
    * decision): the [[imageDedupCorpus]] plant → integer decode/gray/
    * gradient arithmetic → 64-bit dhash → the 4×16-bit band tier →
    * DISTINCT candidate pairs with both signatures attached. The banded
    * CTE applies the SAME per-bucket flood cap (> 2000 members dropped)
    * as the Spark tier's dropOverCapBuckets — ADVICE r14: without it a
    * bucket crossing the cap at a large SF would diverge the engines
    * (Spark drops the pairs, the oracle kept them). */
  private def imageDhashCtes: String =
    s"""docs AS (
       | SELECT doc_id AS id, doc_id AS src, 0 AS pert FROM documents
       |  WHERE doc_id % 2 = 1
       | UNION ALL
       | SELECT doc_id + 100000000, doc_id,
       |   CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END
       |  FROM documents WHERE doc_id % 2 = 1),
       |dims AS (SELECT id, src, pert, 12 + src % 8 AS w, 9 + src % 5 AS h
       | FROM docs),
       |cells AS (SELECT id, src, pert, w, r.r, c.c,
       |  (((r.r * h) // 8) * w + ((c.c * w) // 9)) * 3 AS k0
       | FROM dims CROSS JOIN range(0, 8) r(r) CROSS JOIN range(0, 9) c(c)),
       |gr AS (SELECT id, r, c,
       |  sum((src + 13 * (k0 + ch.ch)
       |    + (src % 7 + 1) * (k0 + ch.ch) * (k0 + ch.ch)
       |    + CASE WHEN pert = 1 AND (k0 + ch.ch) % 7 = 0 THEN 8 ELSE 0 END)
       |   % 256) AS g
       | FROM cells CROSS JOIN range(0, 3) ch(ch) GROUP BY id, r, c),
       |dh AS (SELECT a.id,
       |  CAST(sum(CASE WHEN a.g <= b.g THEN 0
       |    WHEN a.r * 8 + a.c = 63 THEN -9223372036854775807 - 1
       |    ELSE (CAST(1 AS BIGINT) << (a.r * 8 + a.c)) END) AS BIGINT) AS sig
       | FROM gr a JOIN gr b ON b.id = a.id AND b.r = a.r AND b.c = a.c + 1
       | WHERE a.c < 8 GROUP BY a.id),
       |banded AS (SELECT id, sig, b.b, (sig >> (b.b * 16)) & 65535 AS bval
       | FROM dh CROSS JOIN range(0, 4) b(b) WHERE sig != 0
       | QUALIFY count(*) OVER (PARTITION BY b.b, (sig >> (b.b * 16)) & 65535) <= 2000),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       |  x.sig AS sa, y.sig AS sb
       | FROM banded x JOIN banded y ON x.b = y.b AND x.bval = y.bval
       |  AND x.id < y.id)""".stripMargin

  /** The shared CTE chain producing `sigs` (doc_id, sig) — the simhash
    * signature replay; tail of q19's oracle, front of q59's. */
  private def simhashSigCtes: String =
    s"""th AS ($tokHashSql),
       |bh AS (SELECT doc_id,
       |  CASE WHEN len(th) >= 2 THEN list_distinct(list_transform(range(1, len(th)),
       |    i -> (th[i]*1000003 + th[i+1]) % 1000000007)) ELSE [] END AS bh
       | FROM th),
       |f AS (SELECT doc_id, unnest(bh) AS h FROM bh),
       |w AS (SELECT doc_id, ((h * 48271) % 2147483647) * 2147483648 + h AS h FROM f),
       |votes AS (SELECT doc_id, k.k,
       |  sum(CASE WHEN (h >> k.k) & 1 = 1 THEN 1 ELSE -1 END) AS v
       | FROM w CROSS JOIN range(0, 64) k(k) GROUP BY doc_id, k.k),
       |sigs AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS sig
       | FROM votes GROUP BY doc_id)""".stripMargin

  /** Boundary-shifted power quantization for the by-key periodogram gates
    * (q48/q81/q76). Why not plain round(power, 6): the events values are
    * exact cents, and at exact-angle harmonics (k = m/4, m/2 — cos/sin
    * ∈ {0,±1}) the spectrum power (2/m)·(re²+im²) TERMINATES in decimal,
    * frequently landing within 1 ulp of a 0.5e-6 HALF_UP boundary; there
    * the FFT twin's ~5e-9 cross-algorithm deviation (and DuckDB build-to-
    * build sum-order noise) flips the rounded digit — the r8 q81 flake.
    * A 1e-6 grid cannot fix this: powers reach 6e4 where 1e-12-relative
    * noise is ~5e-9 absolute, while the min boundary gap of ~5k values on
    * a 1e-6 grid is pigeonholed to ~1e-10. So the gate rounds power on a
    * 1e-3 grid shifted by a scanned constant: every gate value then sits
    * ≥3.3e-7 from its boundary (≥70× the worst measured deviation),
    * asserted by BoundaryMarginSpec. Both the Spark projection and the
    * DuckDB oracle apply the identical shift, so values stay comparable. */
  private[graft] val powerShiftByKey = 0.000569
  private[graft] val powerShiftPoly = 0.000559
  /** q86's metric-grid shift (same recipe, 4dp grid): scanned to
    * maximize the min margin over all sf0.01 rolling-origin metric
    * values — 3.8e-7, ≈3800× the measured cross-engine deviation. */
  private[graft] val metricShift = 0.000023367

  /** Per-user equispaced DFT ('diff' detrend, per-user m/half/skip). */
  private def periodogramByKeySql: String =
    """WITH s AS (SELECT user_id, value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      | FROM events),
      |xd AS (SELECT user_id,
      |  value - lag(value) OVER (PARTITION BY user_id ORDER BY rn) AS x,
      |  row_number() OVER (PARTITION BY user_id ORDER BY rn) - 2 AS i
      | FROM s QUALIFY x IS NOT NULL),
      |params AS (SELECT user_id, count(*) AS m, count(*) // 2 AS half,
      |  greatest(count(*) // 1000, 1) AS lo FROM xd GROUP BY 1),
      |ks AS (SELECT unnest(generate_series(1, (SELECT max(half) FROM params))) AS k),
      |spec AS (
      | SELECT x.user_id, k.k,
      |  sum(x.x * cos(2*pi() * k.k * x.i / p.m)) AS re,
      |  sum(x.x * sin(2*pi() * k.k * x.i / p.m)) AS im,
      |  max(p.m) AS m, max(p.half) AS half
      | FROM xd x JOIN params p USING (user_id)
      | JOIN ks k ON k.k BETWEEN p.lo AND p.half
      | GROUP BY 1, 2)
      |SELECT user_id, round(m / CAST(k AS DOUBLE), 6) AS period,
      | round((re*re + im*im) / m
      |   * (CASE WHEN k = half AND m % 2 = 0 THEN 1.0 ELSE 2.0 END)
      |   + 0.000569, 3) AS power
      |FROM spec""".stripMargin

  /** q94: BM25 replay — whitespace/lowercase tokens, postings tf, df, doc
    * lengths (null text = length 0, still in N/avgdl), Lucene-form idf,
    * the k1=1.2/b=0.75 tf normalization written in the same operation
    * order as the Spark column, scores rounded 4dp before ranking. */
  private def bm25TopkSql: String =
    """WITH toks AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
      |    x -> x != '') AS tk
      | FROM documents),
      |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len FROM toks),
      |post AS (SELECT doc_id, unnest(tk) AS term FROM toks),
      |tf AS (SELECT term, doc_id, count(*) AS tf FROM post GROUP BY 1, 2),
      |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, sum(len)::DOUBLE / count(*) AS avgdl
      | FROM lens),
      |qt(query_id, term) AS (VALUES (0, 'join'), (0, 'shuffle'), (0, 'broadcast'),
      |  (1, 'hash'), (1, 'table'), (1, 'scan'),
      |  (2, 'window'), (2, 'sort'), (2, 'merge')),
      |sc AS (SELECT q.query_id, tf.doc_id,
      |  round(sum(
      |    ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
      |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / st.avgdl))), 4)
      |   AS score
      | FROM tf JOIN qt q USING (term) JOIN dfr d USING (term)
      | JOIN lens l ON l.doc_id = tf.doc_id, st
      | GROUP BY 1, 2)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      | CAST(row_number() OVER (PARTITION BY query_id
      |   ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
      | doc_id, score
      |FROM sc
      |QUALIFY rank <= 10""".stripMargin

  private def knnTopkSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_inner_product(q.v, c.v)
      |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS sim
      | FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
      |SELECT query_id,
      | CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank,
      | neighbor_id, round(sim, 4) AS sim
      |FROM s
      |QUALIFY rank <= 5""".stripMargin
}
