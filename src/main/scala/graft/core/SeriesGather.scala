package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.RDD
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

/** The shared per-series gather shell behind the executor-side
  * "millions of models" family (PerSeries forecasts, gathered-FFT
  * spectral/ACF, grouped evaluation): each `seriesKeys` group is
  * collected IN TIME ORDER into one row via
  * `sort_array(collect_list(struct(order..., values...)))` — map-side
  * partials, ONE shuffle of the grouped values — and a narrow flatMap
  * consumes the primitive arrays. At 100 TB each series is small even
  * when the table is not; this object is that assumption made reusable
  * (it replaced five hand-rolled copies of the same shell).
  *
  * The kernels run on the gather's own Catalyst rows ([[rows]]) and hand
  * `InternalRow`s back through `Bridge.fromCatalystRows`; [[values]],
  * [[valueRows]] and [[keyVals]] read a gathered row in place. Row
  * contract: the rows are reused by their iterator, so decode them (these
  * readers do) or `copy()` them before buffering; the primitive getters
  * read a null slot as 0, so check `isNullAt`; strings are `UTF8String`,
  * and output rows must carry values in that internal form. */
object SeriesGather {

  /** How to read one gathered row — capture this in closures, not the
    * Gathered frame: the key types in key order, `xField` the slot of the
    * FIRST value column inside the `__series` struct (order columns occupy
    * slots 0 until xField) and `width` the struct's field count. */
  final case class Layout(keyTypes: Seq[DataType], xField: Int, width: Int)

  /** `df` has the key columns plus one sorted `__series` struct array. */
  final case class Gathered(df: DataFrame, keySchema: StructType, layout: Layout)

  /** @param dropNulls filter rows whose FIRST value column is null before
    *   the gather (the spectral/ACF convention); the model shells keep
    *   all rows and let per-series extraction fail into their skip path. */
  def gather(tsf: TimeseriesFrame, valueCols: Seq[String],
      opName: String, dropNulls: Boolean = false): Gathered = {
    require(tsf.seriesKeys.nonEmpty, s"$opName needs seriesKeys")
    val keys = tsf.seriesKeys
    val ordNames = tsf.timeCol.toSeq ++ tsf.tieBreak
    require(ordNames.nonEmpty, s"$opName needs a time column or tieBreak order")
    val orderStruct = struct(
      ordNames.map(c => col(c).cast("double")) ++
        valueCols.map(c => col(c).cast("double")): _*)
    val base =
      if (dropNulls) tsf.df.filter(col(valueCols.head).isNotNull) else tsf.df
    val gathered = base.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(orderStruct)).as("__series"))
    val keySchema = StructType(keys.map(k => gathered.schema(k)))
    Gathered(gathered, keySchema, Layout(keySchema.fields.map(_.dataType).toSeq,
      ordNames.size, ordNames.size + valueCols.size))
  }

  /** The gathered Catalyst rows as an RDD with at least core-count partitions.
    *
    * Every consumer of this shell follows the gather with CPU-heavy
    * per-series work (model fits, FFTs, triangulations), but AQE sizes
    * the gather's post-shuffle stage by BYTES: a few MB of gathered
    * series coalesce to ONE partition and the whole "millions of models"
    * fan-out silently serializes onto one core (measured on q108: 1500
    * per-series HCT fills in a single 3.2 s task; 0.16 s across 32
    * threads). A Catalyst-side pinned repartition cannot express this —
    * it is pruned as redundant against the gather's own hash exchange —
    * so the guard lives at the RDD layer, where AQE's final partition
    * count is already known: rebalance ONLY when AQE under-partitioned,
    * i.e. exactly when the gathered bytes are small and the extra
    * row-count-balanced shuffle is noise. Large gathers keep their
    * byte-sized partitioning untouched.
    *
    * Measured trade (r9 A/B at sf0.1, local[32]): the extra stage costs
    * ~0.09 s per gathered gate query (q83–q86 moved 0.28→0.41 s, stable
    * across passes) and buys a 20× wall drop the moment per-series work
    * is real (q108's probe).
    *
    * The discriminator is the CALLER's cost class, the one thing the
    * plan cannot see (r9 VERDICT task 2): kernels whose per-series CPU
    * is proportional to the series' BYTES (FFT spectra, ACF — streaming
    * O(n log n) numeric passes) are exactly what AQE's byte-based
    * sizing already balances, so for them the guard stage is pure
    * overhead and `heavyPerSeries = false` skips it. Kernels whose CPU
    * is disproportionate to bytes — iterative model fits, rolling-origin
    * refits, triangulations, spline solves — keep the guard: a few MB
    * of gathered series can hide minutes of CPU, and an
    * under-parallelized model fleet is the failure mode that matters at
    * 100 TB. */
  def rows(g: Gathered, heavyPerSeries: Boolean = true): RDD[InternalRow] =
    rows(g.df, heavyPerSeries)

  /** [[rows]] for gathers not built through [[gather]] (e.g. the
    * multivariate-interpolation matrix gathers). The rebalance is an RDD
    * shuffle of row objects, so the reused rows are copied into it. */
  def rows(gathered: DataFrame, heavyPerSeries: Boolean): RDD[InternalRow] = {
    val rdd = Bridge.catalystRows(gathered)
    val par = gathered.sparkSession.sparkContext.defaultParallelism
    if (heavyPerSeries && rdd.getNumPartitions < par) rdd.map(_.copy()).repartition(par)
    else rdd
  }

  /** One-shuffle per-series fill-in-place: gathers each series' FULL rows
    * in series order, hands the per-series value matrix (+ time axis) to
    * `fillFn`, and emits every original row with the returned replacements
    * coalesced in. This replaces the previous gather → fill-RDD →
    * join-back shape, which executed the input scan (and its window
    * stack) TWICE — the fill RDD's lineage re-ran the gather while the
    * join's base side re-ran the scan, with no ReusedExchange across the
    * RDD boundary — and shuffled the full table two more times for the
    * sort-merge join. Here the input is scanned ONCE and shuffled ONCE
    * (the gather itself); at 100 TB that is the difference between one
    * pass over the corpus and three.
    *
    * Value columns are emitted as nullable doubles with NaN normalized to
    * null — exactly the join path's `coalesce(nanToNull(c), fill)`
    * contract; all other columns pass through untouched. Row order within
    * the output is the series order (immaterial to DataFrame semantics).
    *
    * `fillFn(times, vals)`: `times` is the time column cast to double
    * (all-NaN when the frame has no time column), `vals` the row-major
    * matrix of the value columns with null/NaN as NaN. It returns
    * `(rowIdx, replacements)` pairs where a null entry leaves that cell's
    * (null-normalized) original value; unmentioned rows pass through. */
  def fillSeries(tsf: TimeseriesFrame, valueCols: Seq[String], opName: String,
      maxCellsPerSeries: Long)(
      fillFn: (Array[Double], Array[Array[Double]]) => Iterator[(Int, Array[java.lang.Double])]): DataFrame = {
    require(tsf.seriesKeys.nonEmpty, s"$opName needs seriesKeys")
    val df = tsf.df
    val schema = df.schema
    val keys = tsf.seriesKeys
    val ordNames = tsf.timeCol.toSeq ++ tsf.tieBreak
    require(ordNames.nonEmpty, s"$opName needs a time column or tieBreak order")
    val hasT = tsf.timeCol.isDefined
    val o = ordNames.size
    val baseSlot = o
    val valueIdx: Map[String, Int] = valueCols.zipWithIndex.toMap
    val k = valueCols.size
    // struct layout: [sort prefix (ord columns cast to double — the
    // gather() convention; exact for epoch-micro timestamps and ids
    // < 2⁵³), every schema column in order — value columns
    // null-normalized doubles]. The series is sorted JVM-SIDE on the
    // numeric prefix instead of via sort_array, so pass-through columns
    // of NON-ORDERABLE types (maps, structs of maps) gather fine — the
    // old join-back path never gathered them and a sort_array here
    // would reject the whole frame at analysis. Rows tying on the full
    // (time, tieBreak) prefix keep an unspecified relative order, the
    // same nondeterminism the row_number formulation had.
    val cellFields =
      ordNames.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__o$i") } ++
        schema.fields.toSeq.map { f =>
          if (valueIdx.contains(f.name))
            graft.agg.AggRegistry.nanToNull(col(f.name).cast("double")).as(f.name)
          else col(f.name)
        }
    val gathered = df.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(cellFields: _*)).as("__series"))
    val outSchema = StructType(schema.fields.map { f =>
      if (valueIdx.contains(f.name))
        f.copy(dataType = DoubleType, nullable = true)
      else f
    })
    val nKeys = keys.size
    val nF = schema.fields.length
    // per-output-field: value-column index, or -1 for pass-through
    val fieldValIdx: Array[Int] =
      schema.fields.map(f => valueIdx.getOrElse(f.name, -1))
    val kSafe = math.max(k, 1).toLong
    // struct slot of each value column (precomputed — not per row)
    val valSlot: Array[Int] =
      valueCols.map(c => baseSlot + schema.fieldIndex(c)).toArray
    val width = o + nF
    val types = schema.fields.map(_.dataType)
    val outRdd = rows(gathered, heavyPerSeries = true).flatMap { row =>
      val cells = row.getArray(nKeys)
      val n = cells.numElements()
      require(n * kSafe <= maxCellsPerSeries,
        s"one series has ${n * kSafe} cells > maxCellsPerSeries=$maxCellsPerSeries ($opName)")
      // series order: the double prefix, nulls first (asc nulls-first)
      val series = Array.tabulate[InternalRow](n)(cells.getStruct(_, width))
      java.util.Arrays.sort(series, new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = {
          var s = 0
          var c = 0
          while (s < o && c == 0) {
            val an = a.isNullAt(s); val bn = b.isNullAt(s)
            c = if (an && bn) 0
            else if (an) -1
            else if (bn) 1
            else java.lang.Double.compare(a.getDouble(s), b.getDouble(s))
            s += 1
          }
          c
        }
      })
      val times = Array.tabulate(n) { i =>
        if (hasT && !series(i).isNullAt(0)) series(i).getDouble(0)
        else Double.NaN
      }
      val vals = Array.tabulate(n, k) { (i, j) =>
        val slot = valSlot(j)
        if (series(i).isNullAt(slot)) Double.NaN else series(i).getDouble(slot)
      }
      val fills = new java.util.HashMap[Int, Array[java.lang.Double]]()
      fillFn(times, vals).foreach { case (i, a) => fills.put(i, a) }
      (0 until n).iterator.map { i =>
        val out = new Array[Any](nF)
        var fi = 0
        while (fi < nF) {
          val j = fieldValIdx(fi)
          if (j >= 0) {
            val f = fills.get(i)
            val repl: java.lang.Double = if (f != null) f(j) else null
            out(fi) =
              // a NaN replacement (e.g. a spline solved on NaN abscissae
              // from null times) normalizes to null like any other NaN —
              // the documented value-column contract
              if (repl != null && !repl.isNaN) repl
              else if (vals(i)(j).isNaN) null
              else Double.box(vals(i)(j))
          } else out(fi) = series(i).get(baseSlot + fi, types(fi))
          fi += 1
        }
        new GenericInternalRow(out)
      }
    }
    Bridge.fromCatalystRows(df.sparkSession, outRdd, outSchema)
  }

  /** The j-th value column of a gathered row as a primitive array, read
    * straight off the gathered array. A null value fails the read (the
    * primitive getter would return 0): the model shells call it inside
    * their per-series `try`, so such a series takes their skip path. */
  def values(row: InternalRow, layout: Layout, j: Int = 0): Array[Double] = {
    val cells = row.getArray(row.numFields - 1)
    val slot = layout.xField + j
    val arr = new Array[Double](cells.numElements())
    var i = 0
    while (i < arr.length) {
      val s = cells.getStruct(i, layout.width)
      require(!s.isNullAt(slot), "null value in a gathered series")
      arr(i) = s.getDouble(slot)
      i += 1
    }
    arr
  }

  /** All value columns of a gathered row as row-major
    * Array(time)(column) — the multivariate-model layout. Nulls fail the
    * read as in [[values]]. */
  def valueRows(row: InternalRow, layout: Layout): Array[Array[Double]] = {
    val cells = row.getArray(row.numFields - 1)
    val nv = layout.width - layout.xField
    Array.tabulate(cells.numElements()) { i =>
      val s = cells.getStruct(i, layout.width)
      Array.tabulate(nv) { j =>
        require(!s.isNullAt(layout.xField + j), "null value in a gathered series")
        s.getDouble(layout.xField + j)
      }
    }
  }

  /** The key column values of a gathered row, in key order and internal
    * form, copied out of the (reused) row. */
  def keyVals(row: InternalRow, layout: Layout): Seq[Any] =
    layout.keyTypes.indices.map(i => InternalRow.copyValue(row.get(i, layout.keyTypes(i))))
}
