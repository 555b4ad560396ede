package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Inferred spacing metadata of a timeseries — the Spark re-expression of
  * the reference's `TimeDelta` (`orangecontrib/timeseries/timeseries.py:17-91`):
  * unique sorted deltas with zero-delta removal (`:37-43`), calendar
  * recognition ({2419200, 2505600, 2592000, 2678400}s → 1 month,
  * {31536000, 31622400}s → 1 year, `:50-57`).
  *
  * Field semantics follow the reference's order of operations exactly:
  *  - `isEquispaced` / `timeInterval` are decided on the RAW numeric deltas
  *    BEFORE calendar classification (`:44-47`) — a monthly series with
  *    mixed month lengths is NOT equispaced, and an all-30-day monthly
  *    series is equispaced with a *numeric* `timeInterval` of 2592000;
  *  - `deltas` holds each distinct step either as Left(seconds) or
  *    Right((count, unit)), first-occurrence deduplicated (`:49-57`);
  *  - `min` is the first (smallest-raw) classified delta (`:59`);
  *  - `gcd` (`:61-72`): all numeric → gcd of integer seconds; all calendar
  *    tuples → `min`; mixed → gcd of the numerics and one day (86400).
  */
final case class TimeDelta(
    deltas: Seq[Either[Double, (Int, String)]],
    isEquispaced: Boolean,
    timeInterval: Option[Double],
    min: Option[Either[Double, (Int, String)]],
    gcd: Option[Either[Double, (Int, String)]],
    backwardsCompatibleDelta: Option[Either[Double, (Int, String)]] = None) {

  /** Scalar seconds of the single raw step, when equispaced. */
  def intervalSeconds: Option[Double] = timeInterval

  /** Numeric gcd seconds, when the gcd is numeric. */
  def gcdSeconds: Option[Double] = gcd.flatMap {
    case Left(s) => Some(s)
    case Right(_) => None
  }
}
// `backwardsCompatibleDelta` is the legacy `_get_backwards_compatible_delta`
// (`timeseries.py:74-91`), the pre-TimeDelta single-delta API: Left(seconds)
// when the series has exactly one distinct spacing; Right((1, unit)) when
// the ≤4 distinct spacings are all year-lengths (or all month-lengths, or
// exactly one day); None otherwise. One divergence, documented: the legacy
// python path ran on deltas WITH zeros (duplicate timestamps ⇒ None); here
// zeros are dropped upstream like the modern path, so a duplicated
// timestamp does not by itself degrade the shim to None.

object TimeDelta {
  val empty: TimeDelta = TimeDelta(Nil, isEquispaced = false, None, None, None)

  private val MonthSeconds = Set(2419200.0, 2505600.0, 2592000.0, 2678400.0)
  private val YearSeconds = Set(31536000.0, 31622400.0)
  private val DaySeconds = 86400.0

  private def gcdLong(a: Long, b: Long): Long = if (b == 0) a else gcdLong(b, a % b)

  private def classify(s: Double): Either[Double, (Int, String)] =
    if (MonthSeconds(s)) Right((1, "month"))
    else if (YearSeconds(s)) Right((1, "year"))
    else Left(s)

  /** The consecutive-delta column [[infer]] aggregates over, plus the
    * cache-release handle. Exposed (beyond [[infer]]'s own use) so specs
    * can assert the GLOBAL path plans no single-partition WindowExec: the
    * keyless lag comes from [[graft.ops.RangeWindow.lagColumnsManaged]]
    * (range repartition + boundary carry), never `Window.orderBy` over the
    * whole table. The keyed path keeps a keyed window — partitioned by the
    * series keys, it parallelizes on its own. */
  def deltaFrame(df: DataFrame, timeCol: String, seriesKeys: Seq[String])
      : (DataFrame, () => Unit) = {
    val tt = col(timeCol).cast("double")
    if (seriesKeys.isEmpty) {
      val np = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
      val base = df.select(tt.as("__t")).filter(col("__t").isNotNull)
      val (lagged, release) = graft.ops.RangeWindow.lagColumnsManaged(
        base, Seq(col("__t")), Seq("__t"), 1, np)
      (lagged.select((col("__t") - col("__l1___t")).as("__d")), release)
    } else {
      val w = Window.partitionBy(seriesKeys.map(col): _*).orderBy(col(timeCol))
      (df.select((seriesKeys.map(col) :+ col(timeCol)): _*)
        .withColumn("__d", tt - lag(tt, 1).over(w))
        .select("__d"), () => ())
    }
  }

  /** Scale contract (VERDICT r6 task 4): ONE narrow stats pass over the
    * delta column — no global-window single partition, no unbounded
    * distinct collect. Each task folds its deltas into a mergeable
    * partial: (exact smallest-(k+1) distinct-delta set, overall numeric
    * gcd, calendar/numeric presence flags); the driver merges one partial
    * per partition. `equispaced`, `min` and `gcd` are therefore EXACT at
    * any delta cardinality (gcd is associative; the global minimum
    * survives the capped union; "more than one distinct delta" is decided
    * by the merged set alone). Only the `deltas` LISTING truncates: past
    * `maxDistinct` distinct values — a series the reference's widgets
    * would just render as irregular — it holds the exact `maxDistinct`
    * smallest classified deltas. Below the cap the semantics are
    * bit-identical to the reference's full `np.unique` path (`:37-43`). */
  def infer(df: DataFrame, timeCol: String, seriesKeys: Seq[String] = Nil,
      maxDistinct: Int = 64): TimeDelta = {
    require(maxDistinct >= 1, s"maxDistinct must be positive: $maxDistinct")
    val cap = maxDistinct + 1
    def foldDelta(seen: scala.collection.mutable.TreeSet[Double],
        d: Double, st: Array[Boolean], g0: Long): Long = {
      var g = g0
      if (MonthSeconds(d) || YearSeconds(d)) st(0) = true
      else { st(1) = true; g = gcdLong(g, math.max(1L, math.round(d))) }
      if (!seen.contains(d)) { seen += d; if (seen.size > cap) seen -= seen.last }
      g
    }
    val partials: Array[(Array[Double], Boolean, Boolean, Long)] =
      if (seriesKeys.isEmpty) {
        // keyless path: one range sort and the RangeScan SUMMARY job
        // alone (no carry pass, cache or broadcast) fold each partition's
        // WITHIN-partition diffs into the mergeable partial and ship its
        // first/last time alongside; the driver stitches the boundary
        // diffs in with the identical fold. The delta MULTISET is a
        // global lag column's (ties arbitrary either way), and every
        // merged quantity is order-free (TreeSet of smallest, or-flags,
        // associative gcd).
        val np = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
        val ranged = df.select(col(timeCol).cast("double").as("__t"))
          .filter(col("__t").isNotNull)
          .repartitionByRange(np, col("__t"))
          .sortWithinPartitions("__t")
        val raw = RangeScan.summaries(Bridge.catalystRows(ranged)) { it =>
          val seen = scala.collection.mutable.TreeSet.empty[Double]
          val st = Array(false, false)
          var g = 0L
          var first = Double.NaN
          var last = Double.NaN
          var any = false
          it.foreach { r =>
            val t = r.getDouble(0)
            if (!any) { first = t; any = true }
            else {
              val d = t - last
              if (d != 0.0) g = foldDelta(seen, d, st, g)
            }
            last = t
          }
          Option.when(any)((first, last, seen.toArray, st(0), st(1), g))
        }.flatten
        // stitch boundary diffs (last of partition i → first of partition
        // i+1) into the first non-empty partial with the same fold
        if (raw.isEmpty) Array.empty
        else {
          val seen = scala.collection.mutable.TreeSet.empty[Double]
          val st = Array(false, false)
          var g = 0L
          var i = 1
          while (i < raw.length) {
            val d = raw(i)._1 - raw(i - 1)._2
            if (d != 0.0) g = foldDelta(seen, d, st, g)
            i += 1
          }
          val boundary =
            if (!st(0) && !st(1)) Array.empty[(Array[Double], Boolean, Boolean, Long)]
            else Array((seen.toArray, st(0), st(1), g))
          raw.collect { case (_, _, s, hc, hn, pg) if hc || hn =>
            (s, hc, hn, pg)
          } ++ boundary
        }
      } else {
        val (deltas, release) = deltaFrame(df, timeCol, seriesKeys)
        val out = Bridge.catalystRows(deltas
          .filter(col("__d").isNotNull && col("__d") =!= 0.0))
          .mapPartitions { it =>
            val seen = scala.collection.mutable.TreeSet.empty[Double]
            val st = Array(false, false)
            var g = 0L
            it.foreach { r => g = foldDelta(seen, r.getDouble(0), st, g) }
            if (!st(0) && !st(1)) Iterator.empty
            else Iterator.single((seen.toArray, st(0), st(1), g))
          }.collect()
        release()
        out
      }
    if (partials.isEmpty) return empty
    val merged = scala.collection.mutable.TreeSet.empty[Double]
    var hasCal = false; var hasNum = false; var g = 0L
    partials.foreach { case (s, hc, hn, pg) =>
      hasCal |= hc; hasNum |= hn; g = gcdLong(g, pg)
      s.foreach { d => merged += d; if (merged.size > cap) merged -= merged.last }
    }
    if (merged.size <= maxDistinct) fromRawDeltas(merged.toIndexedSeq)
    else {
      val classified = merged.toIndexedSeq.take(maxDistinct).map(classify).distinct
      val gcd: Option[Either[Double, (Int, String)]] =
        if (!hasCal) Some(Left(g.toDouble))
        else if (!hasNum) Some(classify(merged.head)) // all-calendar → min
        else Some(Left(gcdLong(g, DaySeconds.toLong).toDouble))
      // > maxDistinct distinct deltas ⇒ the legacy shim is None by size
      TimeDelta(classified, isEquispaced = false, timeInterval = None,
        min = Some(classify(merged.head)), gcd = gcd,
        backwardsCompatibleDelta = None)
    }
  }

  /** Legacy delta of `timeseries.py:74-91` over the distinct nonzero raw
    * deltas (see the case-class note for the zero-delta divergence). */
  private def legacyDelta(rawDistinct: Seq[Double])
      : Option[Either[Double, (Int, String)]] = {
    val s = rawDistinct.toSet
    if (s.isEmpty) None
    else if (rawDistinct.size <= MonthSeconds.size && s.subsetOf(YearSeconds))
      Some(Right((1, "year")))
    else if (rawDistinct.size <= MonthSeconds.size && s.subsetOf(MonthSeconds))
      Some(Right((1, "month")))
    else if (s == Set(DaySeconds)) Some(Right((1, "day")))
    else if (rawDistinct.size == 1) Some(Left(rawDistinct.head))
    else None
  }

  /** `raw` = distinct nonzero deltas, ascending (as `np.unique` yields). */
  def fromRawDeltas(raw: Seq[Double]): TimeDelta = {
    val rawDistinct = raw.distinct.sorted
    if (rawDistinct.isEmpty) return empty
    // equispaced / time_interval use the pre-classification delta count
    // (`timeseries.py:44-47`)
    val equispaced = rawDistinct.size == 1
    val timeInterval = if (equispaced) Some(rawDistinct.head) else None
    val classified: Seq[Either[Double, (Int, String)]] =
      rawDistinct.map(classify).distinct
    val minDelta = classified.headOption
    val numeric = classified.collect { case Left(s) => s }
    val hasCalendar = classified.exists(_.isRight)
    def numGcd(xs: Seq[Double]): Double =
      xs.map(d => math.max(1L, math.round(d))).reduce(gcdLong).toDouble
    val gcd: Option[Either[Double, (Int, String)]] =
      if (!hasCalendar) Some(Left(numGcd(numeric)))
      else if (numeric.isEmpty) minDelta // all-calendar → min (`timeseries.py:66-68`)
      else Some(Left(numGcd(numeric :+ DaySeconds)))
    TimeDelta(classified, equispaced, timeInterval, minDelta, gcd,
      legacyDelta(rawDistinct))
  }
}
