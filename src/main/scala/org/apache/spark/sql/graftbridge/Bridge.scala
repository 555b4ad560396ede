package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.types.StructType

/** Minimal accessor for the `private[sql]` Column↔Expression bridge —
  * needed to expose custom Catalyst expressions (e.g. graft.functions.
  * NanProduct) as user-facing Columns on Spark 4's split API. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's RDD type, named here so that this file is the only one in the
    * engine that mentions the `rdd` package: every engine RDD of frame rows
    * enters and leaves Catalyst through [[catalystRows]] and
    * [[fromCatalystRows]] (the `deadCodeSweep` rule in build.sbt). */
  type RDD[T] = org.apache.spark.rdd.RDD[T]

  /** The frame's own executed rows: its `queryExecution.toRdd`. Unlike
    * `df.rdd` this plans no second QueryExecution with a
    * `DeserializeToObject` (and its generated deserializer) on the
    * driver, and builds no external `Row` per row on the executors.
    *
    * Row contract: the iterator of a partition may hand out ONE row object
    * that it overwrites on every `next()`, so decode what you need or
    * `copy()` the row before you buffer, persist, collect or RDD-shuffle
    * it. Values are in Catalyst's internal form (`UTF8String`, `Decimal`,
    * microsecond longs for timestamps, `ArrayData`…) and the primitive
    * getters read a null slot as 0 — check `isNullAt` first. */
  def catalystRows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd

  /** A frame over rows in Catalyst's internal form: a `LogicalRDD`, with
    * none of the per-row RowEncoder pass of `createDataFrame(RDD[Row],
    * schema)`. Every row must match `schema` field by field in internal
    * form (nothing checks it, not even non-nullable fields); the scan
    * projects each row to an `UnsafeRow` as it reads it, so a kernel may
    * hand out reused rows, `JoinedRow`s or rows that point into its input
    * row. */
  def fromCatalystRows(spark: SparkSession, rows: RDD[_ <: InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows.asInstanceOf[RDD[InternalRow]], schema)

  /** Every node of an EXECUTED physical plan, descending through the
    * wrappers that `TreeNode.collect` cannot see past — the AQE nodes
    * (`AdaptiveSparkPlanExec` / `QueryStageExec` are leaf nodes whose
    * real subtrees hang off non-child fields) and `ReusedExchangeExec`
    * (also a leaf; the reused exchange's actual subtree hangs off its
    * `child` field, and a walker that skips it would falsely pass a
    * plan-shape assertion when the offending exchange hides behind
    * exchange reuse). Call after an action so the adaptive root carries
    * its final plan — plan-shape specs use this to assert exchange
    * placement under AQE ON, the configuration production queries
    * actually run with. */
  def allExecutedNodes(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    p +: (p.children ++ extra).flatMap(allExecutedNodes)
  }

  /** The ids of the shuffles a frame's executed plan wrote: every
    * shuffle exchange that [[allExecutedNodes]] reaches. Call it after the
    * action that ran the frame (an eager checkpoint of it): before that,
    * an adaptive root still holds its initial plan, whose exchanges have
    * not run. */
  def shuffleIdsOf(df: DataFrame): Set[Int] =
    allExecutedNodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s.shuffleId }.toSet

  /** Eagerly unregister + delete the given shuffles' map outputs and
    * files — the disk-reclaim lever for BLOCK-MATERIALIZED frames whose
    * plan lineage pins their build shuffles' `ShuffleDependency`s
    * forever (the GC-driven `ContextCleaner` can never fire on a
    * referenced dependency, so a pinned cache's feeder shuffles occupy
    * disk for the cache's whole lifetime). Safe in the lineage sense: a
    * later recompute (cache-block loss) hits `FetchFailed` and Spark
    * resubmits the parent map stages from the surviving lineage — the
    * cost is re-execution, never wrong data. Pass only shuffles your own
    * plans wrote ([[shuffleIdsOf]]): a diff of the map-output tracker's
    * registered ids around a materialization also takes the shuffles a
    * concurrent query of the same context registered meanwhile, and that
    * query then fails to fetch them. */
  def cleanupShuffles(sc: org.apache.spark.SparkContext,
      ids: Set[Int]): Unit =
    sc.cleaner.foreach(cl => ids.foreach(cl.doCleanupShuffle(_, blocking = true)))

  /** Eager localCheckpoint that RETURNS the materialized row count from
    * the materializing job itself. `Dataset.localCheckpoint(eager=true)`
    * followed by `.count()` costs TWO driver jobs — the count re-reads
    * the blocks the checkpoint just wrote — and at gate scale every job
    * is ~25-40 ms of pure scheduling. This mirrors
    * `classic.Dataset.checkpoint(eager=true, reliableCheckpoint=false,
    * storageLevel=None)` exactly: same executed-plan RDD, same
    * `RDD.localCheckpoint()` default storage level, same lineage
    * truncation (the count() job materializes the marked RDD and
    * `runJob` fires `doCheckpoint()` at job end, as the in-box eager
    * path does), same `LogicalRDD.fromDataset` wrapper — but the ONE
    * materializing job also returns the row count, so driver-OOM guards
    * keyed on the count (e.g. the minhash screen's size-conditional
    * broadcast) keep their exact semantics with one fewer job. */
  def localCheckpointWithCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val internalRdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    internalRdd.localCheckpoint()
    val n = internalRdd.count()
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(internalRdd, ds,
        isStreaming = false)), n)
  }
}
