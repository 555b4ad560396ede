package graft.core

import org.apache.spark.sql.graftbridge.Bridge.RDD

import scala.reflect.ClassTag

/** Range scan with carry — the one scale path for positional operators
  * over a globally ordered series. A [[TimeseriesFrame]] is one table in
  * global time order; a global `Window.orderBy` honours that order with a
  * single-partition sort. Every single-series scale operator instead
  * range-sorts in parallel and restores the cross-partition context in
  * three steps:
  *
  *  1. [[summaries]] — ONE job returning one summary per partition, in
  *     partition order, empty partitions included (the last k rows, a
  *     running total, the first k values…);
  *  2. a plain driver function from that array to one carry per
  *     partition: `scanLeft` for state flowing forward (prefix sums,
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
  * `UTF8String`. */
object RangeScan {

  /** Step 1: one job, exactly one `summarize(partition)` per partition,
    * indexed by partition id. */
  def summaries[T, S: ClassTag](rdd: RDD[T])(summarize: Iterator[T] => S): Array[S] =
    rdd.sparkContext.runJob(rdd, summarize)

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
