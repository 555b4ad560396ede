package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.Bridge.RDD

import scala.reflect.ClassTag
import scala.util.DynamicVariable

/** Range scan with carry — the one scale path for positional operators
  * over a globally ordered series. A [[TimeseriesFrame]] is one table in
  * global time order; a global `Window.orderBy` honours that order with a
  * single-partition sort. Every single-series scale operator instead
  * range-sorts in parallel ([[sorted]], or a caller's own `orderBy` when
  * it wants the range path at every size) and restores the cross-partition
  * context in three steps:
  *
  *  1. [[summaries]] — ONE job returning one summary per partition, in
  *     partition order, empty partitions included (the last k rows, a
  *     running total, the first k values…);
  *  2. a plain driver function from that array to one carry per
  *     partition: [[carriesLeft]] for state flowing forward (prefix sums,
  *     trailing rows), `scanRight` for state flowing backward (the ACF's
  *     following-partition heads);
  *  3. [[withCarry]] — a lazy per-partition pass that hands partition `p`
  *     its carry, shipped to the executors in one broadcast so no task
  *     closure holds all P carries.
  *
  * Steps 1 and 3 must run on the same RDD, so the second pass re-reads
  * the sort's shuffle files instead of re-sorting the source. Nothing here
  * caches or pins its input: a caller whose ties could re-order between
  * the two jobs pins its own, as [[graft.ops.RangeWindow.lagColumnsManaged]]
  * does.
  *
  * Callers scan the frame's own Catalyst rows
  * ([[org.apache.spark.sql.graftbridge.Bridge.catalystRows]]) and hand
  * their output back with `Bridge.fromCatalystRows`, so no pass decodes
  * an external `Row`. The row contract that comes with it: a partition's
  * iterator reuses one row object, so `summarize` and `scan` decode what
  * they keep or `copy()` a row before they buffer it; the primitive
  * getters read a null slot as 0 (check `isNullAt`); strings are
  * `UTF8String`.
  *
  * Small inputs: on a few kilobytes the range sort's sample job, its
  * exchange and the summary job are the whole cost of the operator, so
  * [[sorted]] sorts a frame whose optimized-plan size estimate is below
  * [[SmallInputBytes]] in ONE partition in place, and at one partition
  * [[carriesLeft]] knows the carry without a job. A frame with no size
  * estimate (an RDD-backed frame reads as `spark.sql.defaultSizeInBytes`,
  * `Long.MaxValue` by default) takes the range path. */
object RangeScan {

  /** The size estimate below which [[sorted]] sorts in one partition:
    * 192 KiB, under the smallest measured crossover of one partition
    * against the range path (`local[4]`, perfbench `gen.py` copies of the
    * gate tables, estimates of each caller's sort input). q60's packing,
    * whose one task also runs the tokenizer, is faster at one partition
    * at 154 KB and slower from 231 KB on. The other callers cross later:
    * q120's budgeted selection between 555 KB and 1.4 MB, q26's ACF
    * between 2.8 and 5.7 MB, and keyless `TimeDelta.infer` on events and
    * q118's shard shuffle still favour one partition at 2.8 and 11 MB. */
  final val SmallInputBytes: Long = 192L << 10

  /** The bound [[sorted]] applies; specs lower it to 0 to run the range
    * path on their small fixtures. */
  private[graft] val smallInputBound = new DynamicVariable[Long](SmallInputBytes)

  /** `df` in `order` for a scan whose partition count the caller leaves
    * to the session: below [[SmallInputBytes]] (reading the estimate runs
    * no job) one partition sorted in place, with no exchange and no
    * range-sample job; otherwise `orderBy`, a parallel range sort. */
  def sorted(df: DataFrame, order: Column*): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < smallInputBound.value)
      df.coalesce(1).sortWithinPartitions(order: _*)
    else df.orderBy(order: _*)

  /** Step 1: one job, exactly one `summarize(partition)` per partition,
    * indexed by partition id. */
  def summaries[T, S: ClassTag](rdd: RDD[T])(summarize: Iterator[T] => S): Array[S] =
    rdd.sparkContext.runJob(rdd, summarize)

  /** Steps 1 and 2 for state flowing forward: partition 0 gets `zero`,
    * partition p + 1 gets `step(carry(p), summary(p))`. One partition's
    * carry is `zero`, so then no job runs. */
  def carriesLeft[T, S: ClassTag, C: ClassTag](rdd: RDD[T], zero: C)(
      summarize: Iterator[T] => S)(step: (C, S) => C): Array[C] =
    if (rdd.getNumPartitions == 1) Array(zero)
    else summaries(rdd)(summarize).scanLeft(zero)(step)

  /** Step 3: the lazy pass — partition `p` runs `scan(carries(p), rows)`.
    * `carries` needs an entry for every partition; extra trailing
    * entries (the last element of a `scanLeft`) are ignored. */
  def withCarry[T, C: ClassTag, U: ClassTag](rdd: RDD[T], carries: Array[C])(
      scan: (C, Iterator[T]) => Iterator[U]): RDD[U] = {
    require(carries.length >= rdd.getNumPartitions,
      s"${carries.length} carries for ${rdd.getNumPartitions} partitions")
    val bc = rdd.sparkContext.broadcast(carries)
    rdd.mapPartitionsWithIndex((p, it) => scan(bc.value(p), it))
  }
}
