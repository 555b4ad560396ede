package graft.ops

import graft.agg.AggRegistry
import graft.core.{RangeScan, TimeseriesFrame}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The three aggregation shells of the reference's Moving Transform widget
  * (`orangecontrib/timeseries/widgets/owmovingtransform.py`), re-expressed
  * as declarative window / groupBy plans.
  */
object MovingTransform {

  sealed trait KeepMode
  /** aggregates only, rows `width..n` (`owmovingtransform.py:120-133`) */
  case object Discard extends KeepMode
  /** original columns + aggregates, rows `width..n` (row-slice `[w-1:]`) */
  case object KeepComplete extends KeepMode
  /** all original rows; incomplete leading windows → null, cumulatives use
    * the full prefix (`owmovingtransform.py:403-418`) */
  case object KeepAll extends KeepMode

  /** Sliding-window aggregation, shift fixed to 1
    * (`_compute_sliding_window`, `owmovingtransform.py:380-444`).
    *
    * Output column per (column, agg) named `"<col>_<agg>"`. The plan is a
    * single `WindowExec` over the series order — every agg shares one
    * window definition, so Catalyst evaluates them in one pass.
    */
  def slidingWindow(
      tsf: TimeseriesFrame,
      specs: Seq[(String, String)], // (column, aggKey)
      width: Int,
      keep: KeepMode = KeepAll): DataFrame = {
    require(width >= 1, "width must be >= 1")
    val rn = row_number().over(tsf.window)
    val cumulative = Set("cumsum", "cumprod")
    val aggCols = specs.map { case (c, aggKey) =>
      val raw = AggRegistry.windowed(aggKey, col(c), tsf.window, width)
      // Gate incomplete leading windows — except cumulatives in KeepAll,
      // which the reference computes over the full prefix (`:413-414`).
      val gated =
        if (cumulative(aggKey) && keep == KeepAll) raw
        else when(rn >= width, raw)
      gated.as(s"${c}_$aggKey")
    }
    val base = tsf.df.withColumn("__rn", rn)
    keep match {
      case KeepAll =>
        base.select(tsf.df.columns.map(col).toSeq ++ aggCols: _*)
      case KeepComplete =>
        base.select((tsf.df.columns.map(col).toSeq :+ col("__rn")) ++ aggCols: _*)
          .filter(col("__rn") >= width).drop("__rn")
      case Discard =>
        val keyCols = (tsf.timeCol.toSeq ++ tsf.tieBreak ++ tsf.seriesKeys).map(col)
        base.select((keyCols :+ col("__rn")) ++ aggCols: _*)
          .filter(col("__rn") >= width).drop("__rn")
    }
  }

  /** Strided windows — the reference's library-level `_windowed(x, width,
    * shift)` (`aggregate.py:31-38`): windows of `width` rows every `shift`
    * rows starting at row 0, trailing partial window dropped; output count
    * `1 + (n-width)//shift`, `width > n` → empty. The widget fixes
    * shift=1 ([[slidingWindow]]) and shift=width ([[sequentialBlocks]]);
    * this is the general form. Same single-WindowExec plan plus a stride
    * filter on the window END positions. */
  def strided(
      tsf: TimeseriesFrame,
      specs: Seq[(String, String)],
      width: Int,
      shift: Int): DataFrame = {
    require(width >= 1 && shift >= 1, "width and shift must be >= 1")
    val rn = row_number().over(tsf.window)
    val aggCols = specs.map { case (c, aggKey) =>
      AggRegistry.windowed(aggKey, col(c), tsf.window, width)
        .as(s"${c}_$aggKey")
    }
    val keyCols = (tsf.timeCol.toSeq ++ tsf.tieBreak ++ tsf.seriesKeys).map(col)
    tsf.df
      .select((keyCols :+ rn.as("__rn")) ++ aggCols: _*)
      .filter(col("__rn") >= width && (col("__rn") - width) % shift === 0)
      .withColumn("window_index", ((col("__rn") - width) / shift).cast("long"))
      .drop("__rn")
  }

  /** Tumbling count-based blocks (`_compute_sequential_blocks`,
    * `owmovingtransform.py:446-498`): rows are grouped into consecutive
    * blocks of `width` in series order; the trailing partial block is
    * dropped; output one row per block with a `block` index plus
    * `block(agg)` columns.
    *
    * Scale note: the only order-dependent step is the `row_number`; the
    * aggregation itself is a hash aggregate with map-side partial
    * aggregation — no extra shuffle beyond the block-id exchange.
    */
  sealed trait BlockRef
  case object NoRef extends BlockRef
  case object KeepFirst extends BlockRef
  case object KeepMiddle extends BlockRef
  case object KeepLast extends BlockRef

  def sequentialBlocks(
      tsf: TimeseriesFrame,
      specs: Seq[(String, String)],
      width: Int,
      ref: BlockRef = NoRef): DataFrame = {
    require(width >= 1, "width must be >= 1")
    val rn = row_number().over(tsf.window)
    // materialize the block id first — a window expression can't be a
    // grouping expression directly
    val withBlock = tsf.df
      .withColumn("block", floor((rn - 1) / width))
      .withColumn("__rib", ((rn - 1) % width) + 1) // 1-based row-in-block
    aggregateBlocks(withBlock, tsf.seriesKeys, specs, width, ref)
  }

  /** Shared tail of the block shells: hash-aggregate rows carrying a
    * `block` id and a 1-based `__rib` row-in-block position, drop the
    * trailing partial block, and optionally join back the per-block
    * reference instance (`owmovingtransform.py:474-478`). */
  private def aggregateBlocks(
      withBlock: DataFrame,
      seriesKeys: Seq[String],
      specs: Seq[(String, String)],
      width: Int,
      ref: BlockRef): DataFrame = {
    val keys = (seriesKeys :+ "block").map(col)
    val aggs = specs.map { case (c, aggKey) =>
      // block-mode buffers (mode / weighted MAs) hold one block = `width`
      // rows — same executor-local bound as the windowed path, asserted
      AggRegistry.requireBufferedWidth(aggKey, width)
      AggRegistry.block(aggKey, col(c)).as(s"${c}_$aggKey")
    }
    val counts = count(lit(1)).as("__n")
    val agged = withBlock
      .drop("__rib")
      .groupBy(keys: _*)
      .agg(counts, aggs: _*)
      .filter(col("__n") === width) // trailing partial block dropped
      .drop("__n")
    ref match {
      case NoRef => agged
      case _ =>
        // per-block reference instance (Keep{First,Middle,Last} strided
        // slices, `owmovingtransform.py:474-478`): middle = width//2 + 1
        val target = ref match {
          case KeepFirst => 1
          case KeepMiddle => width / 2 + 1
          case KeepLast => width
          case NoRef => 1
        }
        val refRows = withBlock.filter(col("__rib") === target).drop("__rib")
        val joinKeys = seriesKeys :+ "block"
        refRows.join(agged, joinKeys)
    }
  }

  /** Global row index `__gidx` in `orderCols` order, without a global
    * sort bottleneck — a [[graft.core.RangeScan]]: `RangeScan.sorted`
    * (one partition sorted in place below `SmallInputBytes`, otherwise a
    * parallel range sort), per-partition row counts through
    * `carriesLeft` (no job at one partition; otherwise one job that
    * re-reads the sort's shuffle files), and a `withCarry` pass that
    * numbers each partition's rows from its exclusive offset. Every stage
    * is partition-parallel, and the pass appends `__gidx` to the sort's
    * own Catalyst rows with a `JoinedRow`, so no row is decoded.
    *
    * Measured alternative (rejected): a pure-DataFrame two-branch plan —
    * `monotonically_increasing_id` for local positions plus a count-by-
    * `spark_partition_id` branch broadcast-joined back as offsets — keeps
    * codegen but cannot share the exchange (the branches legitimately
    * prune to different scan schemas, so `ReuseExchange` never fires) and
    * scans + shuffles twice: 4.3s vs 2.7s here at 20M rows, and slower at
    * 100k too.
    *
    * NO checkpoint on the sorted frame: a K=10 bench A/B measured a lazy
    * localCheckpoint's block write+read costing more wall than the saved
    * reduce-side re-sort at every measurable scale (q80 1.50 s without vs
    * 1.66/1.87 s with, deser/ser; artifacts_r16/bench_scale10_ab_*.json).
    * Consumers needing one consistent tie order across passes pin the
    * INDEXED frame instead (stridedRangePartManaged's persist). */
  private def globallyIndexed(df: DataFrame, orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = RangeScan.sorted(df, orderCols: _*)
    val rdd = Bridge.catalystRows(sorted)
    val offsets = RangeScan.carriesLeft(rdd, 0L)(_.size.toLong)(_ + _)
    val rows = RangeScan.withCarry(rdd, offsets) { (offset, it) =>
      var i = offset
      val idx = new SpecificInternalRow(Seq(LongType))
      val out = new JoinedRow(null, idx)
      it.map { r => idx.setLong(0, i); i += 1; out.withLeft(r) }
    }
    val schema = StructType(sorted.schema.fields :+
      StructField("__gidx", LongType, nullable = false))
    Bridge.fromCatalystRows(df.sparkSession, rows, schema)
  }

  /** Range-partitioned sequential blocks — the single-series SCALE path.
    *
    * [[sequentialBlocks]] derives block ids from `row_number()` over an
    * unpartitioned window, which at cluster scale funnels the whole series
    * through one `WindowExec` partition. Block membership is just
    * `floor(globalIndex / width)`, and a global index does not need a
    * global window: [[globallyIndexed]] numbers the rows through a
    * [[graft.core.RangeScan]] with every stage partition-parallel — the
    * same escape hatch [[graft.spectral.Correlation.acfVectorDistributed]]
    * and `RangeWindow` use for their families. Downstream is the identical
    * hash aggregate (map-side partial) as the declarative form, so results
    * match [[sequentialBlocks]] exactly (same oracle, gate q44).
    */
  def sequentialBlocksRangePart(
      tsf: TimeseriesFrame,
      specs: Seq[(String, String)],
      width: Int,
      ref: BlockRef = NoRef): DataFrame = {
    require(width >= 1, "width must be >= 1")
    require(tsf.seriesKeys.isEmpty,
      "range-partitioned blocks are the single-series scale path; with " +
        "seriesKeys, sequentialBlocks is already key-parallel")
    // project BEFORE the exchange: the hash aggregate only needs the spec
    // columns (+ original row for ref modes), so the shuffle moves no dead
    // columns
    val orderNames = tsf.timeCol.toSeq ++ tsf.tieBreak
    val kept =
      if (ref == NoRef) (orderNames ++ specs.map(_._1)).distinct
      else tsf.df.columns.toSeq
    val indexed = globallyIndexed(tsf.df.select(kept.map(col): _*), tsf.orderCols)
      .withColumn("block", floor(col("__gidx") / width))
      .withColumn("__rib", (col("__gidx") % width).cast("int") + 1)
      .drop("__gidx")
    aggregateBlocks(indexed, Nil, specs, width, ref)
  }

  private val CumulativeKeys = Set("cumsum", "cumprod")
  private val WeightedKeys = Set("lin_ma", "exp_ma")

  /** Range-partitioned strided windows — the scale path for [[strided]]
    * when `shift` is within a small factor of `width`. Each global row
    * index `i` is a member of windows `j` with `j*shift <= i <
    * j*shift + width`; exploding each row into its ≤⌈width/shift⌉ window
    * memberships turns the overlapping-window aggregation into a plain
    * hash aggregate on the window id — no global `WindowExec`. For
    * `shift == width` this is [[sequentialBlocksRangePart]] with zero
    * duplication; for `shift = 1` prefer `RangeWindow` (duplication factor
    * `width`).
    *
    * FULL 18-agg registry (VERDICT r6 task 3 — the last per-operator scale
    * descope):
    *  - block-form aggs aggregate the exploded memberships directly;
    *  - the positional weighted MAs ride the SAME exploded hash aggregate:
    *    the membership row knows its slot position `i - j*shift`, so the
    *    weight is a literal-array lookup and the non-null renormalization
    *    is two plain sums ([[AggRegistry.positional]]);
    *  - the cumulatives (`np.nancumsum/nancumprod` over the FULL prefix,
    *    sampled at window-end rows — `aggregate.py:86-92`) use a two-phase
    *    range-partitioned prefix scan: one narrow job for per-partition
    *    (sum, product) carries, then a partition-parallel fold emitting
    *    only the sampled rows — a [[graft.core.RangeScan]].
    *
    * With cumulative specs the globally-indexed input backs TWO passes and
    * is persisted so both read one consistent sort (the lagColumnsManaged
    * discipline); use [[stridedRangePartManaged]] and call the release
    * handle after consuming the result. The convenience overload leaves
    * that cache to LRU eviction — fine for one-shot gate/bench calls, a
    * leak for long-lived sessions. Without cumulative specs there is no
    * cache at all and the handle is a no-op. */
  def stridedRangePart(
      tsf: TimeseriesFrame,
      specs: Seq[(String, String)],
      width: Int,
      shift: Int): DataFrame =
    stridedRangePartManaged(tsf, specs, width, shift)._1

  /** [[stridedRangePart]] plus the unpersist handle for the internally
    * cached sorted-indexed input (no-op unless cumulative specs force the
    * two-pass prefix scan). */
  def stridedRangePartManaged(
      tsf: TimeseriesFrame,
      specs: Seq[(String, String)],
      width: Int,
      shift: Int): (DataFrame, () => Unit) = {
    require(width >= 1 && shift >= 1, "width and shift must be >= 1")
    require(tsf.seriesKeys.isEmpty,
      "range-partitioned strided windows are the single-series scale path")
    specs.foreach { case (_, a) =>
      require(AggRegistry.keys.contains(a), s"unknown agg: '$a'")
    }
    val (cumSpecs, winSpecs) = specs.partition(s => CumulativeKeys(s._2))
    val orderNames = tsf.timeCol.toSeq ++ tsf.tieBreak
    val kept = (orderNames ++ specs.map(_._1)).distinct
    // restored with the r16 checkpoint revert: cumulative specs read the
    // indexed frame TWICE (carry pass + fold pass), so the indexed rows
    // are persisted to pin ONE consistent sort across both (the
    // lagColumnsManaged discipline); the caller's release handle unpins
    val indexed0 = globallyIndexed(tsf.df.select(kept.map(col): _*), tsf.orderCols)
    val (indexed, release): (DataFrame, () => Unit) =
      if (cumSpecs.isEmpty) (indexed0, () => ())
      else {
        val p = indexed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (p, () => { p.unpersist(); () })
      }

    val winAgg: Option[DataFrame] =
      if (winSpecs.isEmpty && cumSpecs.nonEmpty) None
      else {
        val i = col("__gidx")
        // window ids covering row i: ceil((i-width+1)/shift) .. floor(i/shift)
        val jMin = greatest(lit(0L), -floor((lit(width.toLong - 1) - i) / shift))
        val jMax = floor(i / shift)
        // shift > width leaves gap rows with no window: sequence() would count
        // DOWN for jMin > jMax, so emit an empty membership list instead
        val memberships = when(jMin <= jMax, sequence(jMin, jMax))
          .otherwise(array().cast("array<bigint>"))
        val exploded = indexed
          .withColumn("window_index", explode(memberships))
          // 0-based slot position (0 = oldest) for the positional MAs
          .withColumn("__pos", (i - col("window_index") * shift).cast("int"))
          .drop("__gidx")
        val aggs = winSpecs.map { case (c, aggKey) =>
          val a =
            if (WeightedKeys(aggKey))
              AggRegistry.positional(aggKey, col(c), col("__pos"), width)
            else AggRegistry.block(aggKey, col(c))
          a.as(s"${c}_$aggKey")
        }
        Some(exploded.groupBy(col("window_index"))
          .agg(count(lit(1)).as("__n"), aggs: _*)
          .filter(col("__n") === width) // trailing partial windows dropped
          .drop("__n"))
      }

    val out = (winAgg, cumSpecs) match {
      case (Some(w), Nil) => w
      case (None, _) => cumulativeAtWindowEnds(indexed, cumSpecs, width, shift)
      // complete-window sets coincide (window j is complete iff its end row
      // exists), so the inner join loses nothing
      case (Some(w), cs) =>
        w.join(cumulativeAtWindowEnds(indexed, cs, width, shift), Seq("window_index"))
    }
    (out, release)
  }

  /** `np.nancumsum`/`nancumprod` over the whole series, sampled at the
    * strided window-end rows (`aggregate.py:86-92`): two-phase prefix scan
    * over the globally-indexed frame ([[graft.core.RangeScan]]): the
    * summary job collects one (sum, product) pair per (partition, column)
    * — P·|cols| scalars; the carry pass folds each partition from its
    * exclusive offset and emits only rows where `__gidx` lands on a
    * window end. Identities match the NaN rules:
    * all-null prefix → 0 for sum (np.nancumsum), 1 for product. */
  private def cumulativeAtWindowEnds(
      indexed: DataFrame,
      specs: Seq[(String, String)],
      width: Int,
      shift: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val cols = specs.map(_._1).distinct
    val proj = indexed.select(col("__gidx") +:
      cols.map(c => AggRegistry.nanToNull(col(c)).as(c)): _*)
    val nC = cols.size
    // fold one row's non-null values into running (sum, product) arrays
    val fold = (s: Array[Double], p: Array[Double], r: InternalRow) => {
      var k = 0
      while (k < nC) {
        if (!r.isNullAt(k + 1)) { val v = r.getDouble(k + 1); s(k) += v; p(k) *= v }
        k += 1
      }
    }
    val rdd = Bridge.catalystRows(proj)
    val offsets = RangeScan.carriesLeft(rdd, (Array.fill(nC)(0.0), Array.fill(nC)(1.0))) { it =>
      val s = Array.fill(nC)(0.0); val p = Array.fill(nC)(1.0)
      it.foreach(fold(s, p, _))
      (s, p)
    } { case ((accS, accP), (s, p)) =>
      (Array.tabulate(nC)(k => accS(k) + s(k)), Array.tabulate(nC)(k => accP(k) * p(k)))
    }
    val colIdx = cols.zipWithIndex.toMap
    val outSchema = StructType(StructField("window_index", LongType) +:
      specs.map { case (c, k) => StructField(s"${c}_$k", DoubleType) })
    val w1 = width - 1L
    val outRdd = RangeScan.withCarry(rdd, offsets) { case ((s, p), it) =>
      val runS = s.clone(); val runP = p.clone()
      it.flatMap { r =>
        fold(runS, runP, r)
        val gi = r.getLong(0)
        if (gi >= w1 && (gi - w1) % shift == 0)
          Some(InternalRow.fromSeq(Long.box((gi - w1) / shift) +: specs.map { case (c, key) =>
            val ki = colIdx(c)
            Double.box(if (key == "cumsum") runS(ki) else runP(ki))
          }))
        else None
      }
    }
    Bridge.fromCatalystRows(proj.sparkSession, outRdd, outSchema)
  }

  /** Calendar period keys — the reference's `PeriodOptions` registry
    * (`aggregate.py:203-223`). Truncations keep a time-typed key
    * (`date_trunc`); periodic components yield small integers with the
    * reference's conventions (ISO week, Monday=0 weekday). */
  def periodKey(period: String, t: Column): Column = period match {
    case "years"   => date_trunc("year", t)
    case "months"  => date_trunc("month", t)
    case "days"    => date_trunc("day", t)
    case "hours"   => date_trunc("hour", t)
    case "minutes" => date_trunc("minute", t)
    case "seconds" => date_trunc("second", t)
    case "month_of_year" => month(t)
    case "week_of_year"  => weekofyear(t) // ISO week, matches isocalendar()
    case "day_of_year"   => dayofyear(t)
    case "day_of_month"  => dayofmonth(t)
    case "day_of_week"   => (dayofweek(t) + 5) % 7 // Monday=0 like weekday()
    case "hour_of_day"   => hour(t)
    case p => throw new IllegalArgumentException(s"unknown period: $p")
  }

  /** Time-period aggregation (`_compute_period_aggregation`,
    * `owmovingtransform.py:500-534` + `time_blocks` `aggregate.py:226-258`):
    * one output row per non-empty period group, ordered by key, with an
    * "Instance count" column then one column per (var, agg). Sliding-only
    * aggs (weighted MAs, cumulatives) are rejected, as in the reference.
    */
  /** English period-name tables for the two named components —
    * `calendar.month_name[1:]` / `calendar.day_name`
    * (`aggregate.py:210-221`, "Use month names" / "Use day names"). */
  private val MonthNames = Seq("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")
  private val DayNames = Seq("Monday", "Tuesday", "Wednesday", "Thursday",
    "Friday", "Saturday", "Sunday")

  def timePeriods(
      tsf: TimeseriesFrame,
      period: String,
      specs: Seq[(String, String)],
      usePeriodNames: Boolean = false): DataFrame = {
    specs.foreach { case (_, a) =>
      require(AggRegistry.blockKeys.contains(a), s"agg '$a' has no block form")
    }
    val t = col(tsf.timeCol.getOrElse(
      throw new IllegalArgumentException("time-period aggregation needs a time column")))
    val key = periodKey(period, t).as(period)
    val aggs = specs.map { case (c, aggKey) =>
      AggRegistry.block(aggKey, col(c)).as(s"${c}_$aggKey")
    }
    val grouped = tsf.df
      .groupBy((tsf.seriesKeys.map(col) :+ key): _*)
      .agg(count(lit(1)).as("instance_count"), aggs: _*)
    // named variants keep the reference's NUMERIC group order (the
    // categorical's values list is calendar-ordered, not alphabetical)
    if (usePeriodNames && period == "month_of_year")
      grouped.withColumn(period,
        element_at(array(MonthNames.map(lit): _*), col(period).cast("int")))
    else if (usePeriodNames && period == "day_of_week")
      grouped.withColumn(period,
        element_at(array(DayNames.map(lit): _*), col(period).cast("int") + 1))
    else grouped
  }
}
