package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InterpretedOrdering}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.RDD
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import scala.collection.mutable.ArrayBuilder

/** The shared per-series gather behind the executor-side "millions of
  * models" family (PerSeries forecasts, gathered-FFT spectra and ACFs,
  * grouped evaluation, the keyed interpolations): each `seriesKeys` group
  * reaches its kernel once, in time order, as a sorted stream.
  *
  * The plan is one exchange and one sort: narrow rows (keys, the order
  * columns cast to double, the value columns) are hash-partitioned on the
  * keys into a PINNED count — max(`spark.sql.shuffle.partitions`,
  * `defaultParallelism`), which AQE does not coalesce, so per-series
  * kernels whose CPU is out of proportion to their bytes (model fits,
  * triangulations) still get a task per core on a few MB of input — and
  * each partition is sorted by (keys, order…, values…) ascending, nulls
  * first: Spark's spillable Tungsten sort, the total order a
  * `sort_array` of (order…, values…) structs gives, ties included. One
  * pass over the sorted rows cuts them at each change of key and holds
  * nothing beyond the current series: no per-key aggregation buffers on
  * either side of the shuffle, no second shuffle.
  *
  * Kernels hand their rows back through `Bridge.fromCatalystRows`, so
  * output values are in Catalyst's internal form (`UTF8String`, not
  * `String`). At 100 TB each series is small even when the table is not;
  * one series must fit one task. */
object SeriesGather {

  /** Each series of `tsf` as its value columns' primitive arrays
    * (`cols(j)(i)`: value column j at series position i, in time order),
    * handed to `kernel` once; every row the kernel returns is prefixed
    * with the series' key values. Output schema: the key columns, then
    * `outFields`.
    *
    * @param dropNulls filter rows whose FIRST value column is null before
    *   the gather (the spectral/ACF convention). Otherwise a series that
    *   holds a null value skips the kernel and yields no rows — the model
    *   shells' skip path, as for a failed fit — and every other series
    *   runs. */
  def byKey(tsf: TimeseriesFrame, valueCols: Seq[String], opName: String,
      outFields: Seq[StructField], dropNulls: Boolean = false)(
      kernel: Array[Array[Double]] => Iterator[Seq[Any]]): DataFrame = {
    val keys = tsf.seriesKeys
    val ords = orderColumns(tsf, opName)
    val base =
      if (dropNulls) tsf.df.filter(col(valueCols.head).isNotNull) else tsf.df
    val narrow = base.select(keys.map(col) ++
      ords.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"__o$i") } ++
      valueCols.zipWithIndex.map { case (c, j) => col(c).cast("double").as(s"__v$j") }: _*)
    val keySchema = StructType(keys.map(k => narrow.schema(k)))
    val first = keys.size + ords.size
    val k = valueCols.size
    val outRdd = stream(narrow, keys.size,
      narrow.columns.drop(keys.size).map(col).toSeq) { (key, series) =>
      val cols = Array.fill(k)(new ArrayBuilder.ofDouble)
      var hasNull = false
      series.foreach { r =>
        var j = 0
        while (j < k) {
          if (r.isNullAt(first + j)) hasNull = true
          else cols(j) += r.getDouble(first + j)
          j += 1
        }
      }
      if (hasNull) Iterator.empty
      else kernel(cols.map(_.result())).map(v => InternalRow.fromSeq(key ++ v))
    }
    Bridge.fromCatalystRows(tsf.df.sparkSession, outRdd,
      StructType(keySchema.fields ++ outFields))
  }

  /** One-shuffle per-series fill-in-place: streams each series' FULL rows
    * in series order, hands the per-series value matrix (+ time axis) to
    * `fillFn`, and emits every original row with the returned replacements
    * coalesced in. The input is scanned once and shuffled once (the
    * gather itself), with no join back to the input.
    *
    * Value columns are emitted as nullable doubles with NaN normalized to
    * null (`coalesce(nanToNull(c), fill)`); all other columns pass through
    * untouched, maps and other types that cannot be sorted included (the
    * sort reads only keys, order and values). Row order within the output
    * is the series order (immaterial to DataFrame semantics).
    *
    * `fillFn(times, vals)`: `times` is the time column cast to double
    * (all-NaN when the frame has no time column), `vals` the row-major
    * matrix of the value columns with null/NaN as NaN. It returns
    * `(rowIdx, replacements)` pairs where a null entry leaves that cell's
    * (null-normalized) original value; unmentioned rows pass through. */
  def fillSeries(tsf: TimeseriesFrame, valueCols: Seq[String], opName: String,
      maxCellsPerSeries: Long)(
      fillFn: (Array[Double], Array[Array[Double]]) => Iterator[(Int, Array[java.lang.Double])]): DataFrame = {
    val df = tsf.df
    val schema = df.schema
    val keys = tsf.seriesKeys
    val ords = orderColumns(tsf, opName)
    val hasT = tsf.timeCol.isDefined
    val valueIdx: Map[String, Int] = valueCols.zipWithIndex.toMap
    val k = valueCols.size
    // row layout: [keys, order columns cast to double, every schema column
    // in order — value columns null-normalized doubles]
    val narrow = df.select(
      keys.zipWithIndex.map { case (c, i) => col(c).as(s"__k$i") } ++
        ords.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"__o$i") } ++
        schema.fields.toSeq.map { f =>
          if (valueIdx.contains(f.name))
            graft.agg.AggRegistry.nanToNull(col(f.name).cast("double")).as(f.name)
          else col(f.name)
        }: _*)
    val outSchema = StructType(schema.fields.map { f =>
      if (valueIdx.contains(f.name))
        f.copy(dataType = DoubleType, nullable = true)
      else f
    })
    val base = keys.size + ords.size
    val nF = schema.fields.length
    // per-output-field: value-column index, or -1 for pass-through
    val fieldValIdx: Array[Int] =
      schema.fields.map(f => valueIdx.getOrElse(f.name, -1))
    val kSafe = math.max(k, 1).toLong
    val valSlot: Array[Int] =
      valueCols.map(c => base + schema.fieldIndex(c)).toArray
    val types = schema.fields.map(_.dataType)
    val outRdd = stream(narrow, keys.size,
      ords.indices.map(i => col(s"__o$i")) ++ valueCols.map(col)) { (_, rows) =>
      val buf = Array.newBuilder[InternalRow]
      var n = 0L
      rows.foreach { r =>
        n += 1
        require(n * kSafe <= maxCellsPerSeries,
          s"one series has more than $maxCellsPerSeries cells ($opName)")
        buf += r.copy()
      }
      val series = buf.result()
      val times = series.map(r =>
        if (hasT && !r.isNullAt(keys.size)) r.getDouble(keys.size) else Double.NaN)
      val vals = series.map(r => valSlot.map(s => if (r.isNullAt(s)) Double.NaN else r.getDouble(s)))
      val fills = new java.util.HashMap[Int, Array[java.lang.Double]]()
      fillFn(times, vals).foreach { case (i, a) => fills.put(i, a) }
      series.indices.iterator.map { i =>
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
          } else out(fi) = series(i).get(base + fi, types(fi))
          fi += 1
        }
        new GenericInternalRow(out)
      }
    }
    Bridge.fromCatalystRows(df.sparkSession, outRdd, outSchema)
  }

  private def orderColumns(tsf: TimeseriesFrame, opName: String): Seq[String] = {
    require(tsf.seriesKeys.nonEmpty, s"$opName needs seriesKeys")
    val ords = tsf.timeCol.toSeq ++ tsf.tieBreak
    require(ords.nonEmpty, s"$opName needs a time column or tieBreak order")
    ords
  }

  /** The sorted stream. `df`'s first `nKeys` columns are the key; `df` is
    * hash-partitioned on the key at the pinned count and sorted by the key,
    * then `sortCols`. `perSeries(key, rows)` runs once per key:
    * `key` holds the copied key values, `rows` that key's rows in order.
    * The rows are reused, so `perSeries` decodes or copies each one before
    * it reads the next, and reads the rows it needs before it returns;
    * whatever it leaves unread is skipped. */
  private def stream(df: DataFrame, nKeys: Int, sortCols: Seq[Column])(
      perSeries: (Seq[Any], Iterator[InternalRow]) => Iterator[InternalRow])
      : RDD[InternalRow] = {
    val spark = df.sparkSession
    val n = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    val keyCols = df.columns.take(nKeys).map(col).toSeq
    val sorted = df.repartition(n, keyCols: _*)
      .sortWithinPartitions(keyCols ++ sortCols: _*)
    val keyTypes = df.schema.fields.take(nKeys).map(_.dataType).toSeq
    Bridge.catalystRows(sorted).mapPartitions { it =>
      val in = it.buffered
      val sameKey = InterpretedOrdering.forSchema(keyTypes)
      Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
        val key = keyTypes.indices.map(i => InternalRow.copyValue(in.head.get(i, keyTypes(i))))
        val keyRow = new GenericInternalRow(key.toArray)
        val rows = new Iterator[InternalRow] {
          def hasNext: Boolean = in.hasNext && sameKey.compare(keyRow, in.head) == 0
          def next(): InternalRow = in.next()
        }
        val out = perSeries(key, rows)
        rows.foreach(_ => ())
        out
      }
    }
  }
}
