package graft.ops

import graft.core.{RangeScan, TimeseriesFrame}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.RDD
import org.apache.spark.sql.types._

/** Range-partitioned sliding-window execution — the scale-out path for
  * single-series windows (SURVEY §4: "a `TimeseriesFrame` is globally
  * ordered by time; for window ops at scale, `repartitionByRange(t)` +
  * per-partition windows with boundary overlap is the standard recipe").
  *
  * A global `Window.orderBy(t)` plans a single-partition sort: correct at
  * any size but sequential — the 10⁷-row wall. This operator instead:
  *
  *  1. [[graft.core.RangeScan.sorted]] by (t, tieBreak) — each partition
  *     holds a contiguous time slice, in order (one partition sorted in
  *     place below `RangeScan.SmallInputBytes`, a range sort above it);
  *  2. collects each partition's LAST `width−1` rows (the boundary carry —
  *     P·(w−1) rows total, tiny by construction) in one narrow job;
  *  3. computes the trailing-window aggregates with the previous
  *     partitions' carry rows prepended — every partition is independent,
  *     so the whole pass is embarrassingly parallel.
  *
  * Steps 2–3 are [[graft.core.RangeScan]] with the "last k rows" carry of
  * [[trailingCarries]], shared with [[lagColumnsManaged]].
  *
  * This is the deliberate `(d) mapPartitions` case of the implementation
  * preference order: the semantics (cross-partition positional carry)
  * cannot be expressed with per-partition declarative windows, and the
  * alternative — a global sort — does not scale.
  *
  * The inner loop is O(1) amortized per row: both passes read the sorted
  * frame's own Catalyst rows, values are decoded once with a typed
  * primitive getter chosen from the schema, the output columns are
  * appended to the input row with a `JoinedRow` (no per-column copy),
  * sum/count/sumsq and friends are maintained incrementally (add
  * incoming, subtract the slot falling out of the ring), and min/max use
  * the classic monotonic-deque sliding minimum. Incremental subtraction
  * is EXACT for integer-valued doubles below 2^53 (the cents-encoded gate
  * fixtures) and drifts by at most one rounding step per window width for
  * general floats — same contract as any O(1) sliding sum.
  *
  * Supported aggregations are the [[graft.agg.AggRegistry]] keys with an
  * incremental fold: mean/sum/min/max/span/std/var/nonzero/defined/
  * harmonic/geometric (NaN rules identical to the registry). Excluded:
  * median/mode (need order statistics per row), product (division-based
  * eviction is numerically unsafe around zeros), lin_ma/exp_ma
  * (position-reweighted every row — inherently O(w)), cumsum/cumprod
  * (running, not sliding — a prefix carry, not a width−1 carry). For
  * those, use [[MovingTransform]]'s declarative window on a per-series
  * partitioning.
  */
object RangeWindow {

  val SupportedAggs: Set[String] = Set(
    "mean", "sum", "min", "max", "span", "std", "var",
    "nonzero", "defined", "harmonic", "geometric")

  /** Sliding min/max in O(1) amortized: a ring of (pushIndex, value)
    * kept monotone; head is the current extremum. */
  private final class MonoDeque(capacity: Int, isMin: Boolean) {
    private val idx = new Array[Long](capacity + 1)
    private val vs = new Array[Double](capacity + 1)
    private var head = 0
    private var tail = 0 // exclusive
    private def size = tail - head
    def push(i: Long, v: Double): Unit = {
      while (size > 0 && (if (isMin) vs((tail - 1) % (capacity + 1)) >= v
                          else vs((tail - 1) % (capacity + 1)) <= v)) tail -= 1
      idx(tail % (capacity + 1)) = i
      vs(tail % (capacity + 1)) = v
      tail += 1
      if (size > capacity) head += 1 // cannot happen with evict, safety
    }
    def evictBefore(minIdx: Long): Unit =
      while (size > 0 && idx(head % (capacity + 1)) < minIdx) head += 1
    def value: Double =
      if (size == 0) Double.NaN else vs(head % (capacity + 1))
  }

  private def typedGetter(dt: DataType, i: Int): InternalRow => Double = dt match {
    case DoubleType => r => if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    case FloatType => r => if (r.isNullAt(i)) Double.NaN else r.getFloat(i).toDouble
    case LongType => r => if (r.isNullAt(i)) Double.NaN else r.getLong(i).toDouble
    case IntegerType => r => if (r.isNullAt(i)) Double.NaN else r.getInt(i).toDouble
    case ShortType => r => if (r.isNullAt(i)) Double.NaN else r.getShort(i).toDouble
    case ByteType => r => if (r.isNullAt(i)) Double.NaN else r.getByte(i).toDouble
    case d: DecimalType => r =>
      if (r.isNullAt(i)) Double.NaN else r.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(
      s"RangeWindow needs a numeric value column, got $other")
  }

  /** A reusable row of `n` nullable doubles — the appended columns. */
  private def doubleRow(n: Int): SpecificInternalRow =
    new SpecificInternalRow(Seq.fill(n)(DoubleType))

  /** Incremental per-window state shared by all requested aggregates. */
  private final class SlideState(width: Int, needMin: Boolean, needMax: Boolean,
      needSq: Boolean, needInv: Boolean, needLog: Boolean) {
    val ring = new Array[Double](width)
    var pushed = 0L       // total values pushed (carry + partition)
    var defined = 0       // non-NaN slots in window
    var zeros = 0
    var negs = 0
    var nonzero = 0
    var sum = 0.0
    var sumsq = 0.0
    var sumInv = 0.0      // over non-null, non-zero slots
    var sumLog = 0.0      // over strictly positive slots
    val minq = if (needMin) new MonoDeque(width, isMin = true) else null
    val maxq = if (needMax) new MonoDeque(width, isMin = false) else null

    def filled: Int = math.min(pushed, width.toLong).toInt

    def push(v: Double): Unit = {
      val slot = (pushed % width).toInt
      if (pushed >= width) { // evict the value falling out of the frame
        val old = ring(slot)
        if (!old.isNaN) {
          defined -= 1
          sum -= old
          if (needSq) sumsq -= old * old
          if (old == 0.0) zeros -= 1 else nonzero -= 1
          if (old < 0.0) negs -= 1
          if (needInv && old != 0.0) sumInv -= 1.0 / old
          if (needLog && old > 0.0) sumLog -= math.log(old)
        }
      }
      ring(slot) = v
      if (!v.isNaN) {
        defined += 1
        sum += v
        if (needSq) sumsq += v * v
        if (v == 0.0) zeros += 1 else nonzero += 1
        if (v < 0.0) negs += 1
        if (needInv && v != 0.0) sumInv += 1.0 / v
        if (needLog && v > 0.0) sumLog += math.log(v)
        if (needMin) minq.push(pushed, v)
        if (needMax) maxq.push(pushed, v)
      }
      pushed += 1
      if (needMin) minq.evictBefore(pushed - width)
      if (needMax) maxq.evictBefore(pushed - width)
    }

    /** Current value of `agg` — registry NaN rules (NaN encodes null). */
    def eval(agg: String, width: Int): Double = agg match {
      case "sum" => sum // all-null window → 0 (np.nancumsum)
      case "mean" => if (defined == 0) Double.NaN else sum / defined
      case "min" => minq.value
      case "max" => maxq.value
      case "span" =>
        if (defined == 0) Double.NaN else maxq.value - minq.value
      case "std" =>
        if (defined == 0) Double.NaN
        else math.sqrt(math.max(0.0, sumsq / defined - (sum / defined) * (sum / defined)))
      case "var" =>
        if (defined == 0) Double.NaN
        else math.max(0.0, sumsq / defined - (sum / defined) * (sum / defined))
      case "nonzero" => nonzero.toDouble
      case "defined" => defined.toDouble
      case "harmonic" => // aggregate.py: incomplete/negative → null; zero → 0
        if (defined < width || negs > 0) Double.NaN
        else if (zeros > 0) 0.0
        else width / sumInv
      case "geometric" =>
        if (defined < width || negs > 0) Double.NaN
        else if (zeros > 0) 0.0
        else math.exp(sumLog / width)
      case a => throw new IllegalArgumentException(s"unsupported agg: $a")
    }
  }

  /** Each partition's last `k` decoded values, chained on the driver so
    * partition `p` gets the last `k` values of EVERYTHING before it —
    * short and empty partitions cannot starve the carry. Every row is
    * decoded into the ring as it streams by: the rows are reused, so the
    * ring cannot hold the rows themselves. */
  private def trailingCarries[A: scala.reflect.ClassTag](rdd: RDD[InternalRow],
      k: Int)(decode: InternalRow => A): Array[Array[A]] = {
    RangeScan.carriesLeft(rdd, Array.empty[A]) { it =>
      val ring = new Array[A](math.max(k, 1))
      var n = 0L
      it.foreach { r => ring((n % ring.length).toInt) = decode(r); n += 1 }
      val m = math.min(n, k.toLong).toInt
      Array.tabulate(m)(i => ring(((n - m + i) % ring.length).toInt))
    }((acc, t) => (acc ++ t).takeRight(k))
  }

  /** Range-partitioned LAG columns — the scale path for building a lag
    * design matrix over one globally ordered series (the
    * [[graft.models.Var.fitDistributed]] regression columns): appends
    * `__l{l}_{col}` for every (l ≤ lags, col), equal to
    * `lag(col, l).over(Window.orderBy(orderCols))` but without the
    * single-partition WindowExec a global window plans. Same recipe as
    * [[slidingWindow]]: `RangeScan.sorted`, one narrow job for the
    * per-partition tail carry (P·lags·|cols| values), then an
    * embarrassingly parallel mapPartitions with a ring of the previous
    * `lags` row-vectors. Rows with fewer than `l` global predecessors get
    * null, exactly like `lag()`.
    *
    * The sorted input is PERSISTED and materialized by pass 1, so pass 2
    * (and every downstream job over the result) reads the SAME cached
    * partitions: with duplicate orderCols keys, sortWithinPartitions
    * alone is not stable across jobs, and a re-sort between the passes
    * could make the boundary carry disagree with pass-2 row order. The
    * cache pins one arbitrary-but-consistent tie order (the residual
    * caveat — recomputation after executor loss could re-tie — only
    * matters for non-unique keys; Var's time index is unique). Call the
    * returned handle once every job over the returned frame has run
    * ([[graft.models.Var.fitDistributed]] does) — there is deliberately
    * NO handle-free overload: an unreleased cache per call leaks under
    * long-lived sessions (ADVICE r6). */
  def lagColumnsManaged(
      df: DataFrame,
      orderCols: Seq[org.apache.spark.sql.Column],
      valueCols: Seq[String],
      lags: Int): (DataFrame, () => Unit) = {
    require(lags >= 1, s"lags must be positive: $lags")
    val ranged = RangeScan.sorted(df, orderCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = df.sparkSession
    val schema = ranged.schema
    val getters = valueCols.map { c =>
      val i = schema.fieldIndex(c)
      typedGetter(schema(i).dataType, i)
    }.toArray
    val nV = getters.length

    val rdd = Bridge.catalystRows(ranged)
    val carries = trailingCarries(rdd, lags)(r => Array.tabulate(nV)(v => getters(v)(r)))

    // ring of the previous `lags` row-vectors, carry prepended.
    // The carry length IS the availability signal: it holds
    // min(precedingRows, lags) rows, so `pushed >= l` after prepending it
    // is exactly "this row has >= l global predecessors" — no absolute
    // row numbering needed (ring offsets are relative).
    val outSchema = StructType(schema.fields ++ (for (l <- 1 to lags; c <- valueCols)
      yield StructField(s"__l${l}_$c", DoubleType)))
    val outRdd = RangeScan.withCarry(rdd, carries) { (pre, it) =>
      val ring = Array.ofDim[Array[Double]](lags)
      var pushed = 0L
      pre.foreach { v => ring((pushed % lags).toInt) = v; pushed += 1 }
      val lagRow = doubleRow(lags * nV)
      val out = new JoinedRow(null, lagRow)
      it.map { r =>
        for (l <- 1 to lags; v <- 0 until nV) {
          val avail = pushed >= l
          val value = if (avail) ring(((pushed - l) % lags).toInt)(v) else Double.NaN
          val slot = (l - 1) * nV + v
          if (!avail || value.isNaN) lagRow.setNullAt(slot) else lagRow.setDouble(slot, value)
        }
        ring((pushed % lags).toInt) = Array.tabulate(nV)(v => getters(v)(r))
        pushed += 1
        out.withLeft(r)
      }
    }
    (Bridge.fromCatalystRows(spark, outRdd, outSchema), () => { ranged.unpersist(); () })
  }

  def slidingWindow(
      tsf: TimeseriesFrame,
      valueCol: String,
      aggs: Seq[String],
      width: Int): DataFrame = {
    require(aggs.forall(SupportedAggs), s"supported: $SupportedAggs")
    require(width >= 1, s"width must be positive: $width")
    val df = tsf.df
    val orderCols = tsf.orderCols
    // NO checkpoint on the sorted frame (r16, VERDICT r15 task 7): the
    // r15 lazy localCheckpoint pinned the post-shuffle sort so pass 2
    // read blocks instead of re-sorting, but a K=10 bench A/B (min-of-3,
    // clean sentinels, artifacts_r16/bench_scale10_ab_{on,off,ser}.json)
    // measured the block write+read costing MORE wall than the saved
    // re-sort at both gate scale and 10×: q42 0.87 s without vs 1.19 s
    // deserialized / 1.01 s serialized with. The shuffle's map files are
    // still shared across the two passes — only the reduce-side sort
    // re-runs — and tie order across passes is deterministic for this
    // operator's callers (tieBreak is part of orderCols). Reverted per
    // the measured-A/B discipline; re-visit only with cluster evidence
    // that a re-sort of a multi-TB exchange dominates the block I/O.
    val ranged = RangeScan.sorted(df, orderCols: _*)

    val schema = ranged.schema
    val valueIdx = schema.fieldIndex(valueCol)
    val getV = typedGetter(schema(valueIdx).dataType, valueIdx)

    val rdd = Bridge.catalystRows(ranged)
    val carries = trailingCarries(rdd, width - 1)(getV)

    val needMin = aggs.exists(Set("min", "span"))
    val needMax = aggs.exists(Set("max", "span"))
    val needSq = aggs.exists(Set("std", "var"))
    val needInv = aggs.contains("harmonic")
    val needLog = aggs.contains("geometric")
    val aggsArr = aggs.toArray

    // per-partition sliding aggregates with the carry pushed first
    val outSchema = StructType(schema.fields ++
      aggs.map(a => StructField(s"${valueCol}_$a", DoubleType)))
    val outRdd = RangeScan.withCarry(rdd, carries) { (pre, it) =>
      val st = new SlideState(width, needMin, needMax, needSq, needInv, needLog)
      pre.foreach(st.push)
      val aggRow = doubleRow(aggsArr.length)
      val out = new JoinedRow(null, aggRow)
      it.map { r =>
        st.push(getV(r))
        var j = 0
        while (j < aggsArr.length) {
          val res = st.eval(aggsArr(j), width)
          if (res.isNaN) aggRow.setNullAt(j) else aggRow.setDouble(j, res)
          j += 1
        }
        out.withLeft(r)
      }
    }
    Bridge.fromCatalystRows(df.sparkSession, outRdd, outSchema)
  }
}
