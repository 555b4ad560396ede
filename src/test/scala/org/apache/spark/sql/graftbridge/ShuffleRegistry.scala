package org.apache.spark.sql.graftbridge

/** The map-output tracker's registered shuffles, for specs that check
  * what an operator leaves behind. Engine code never diffs this set: a
  * diff around a materialization also takes the shuffles a concurrent
  * query registered meanwhile, so operators reclaim only their own
  * ([[Bridge.shuffleIdsOf]]). Lives in this package for the tracker's
  * `private[spark]` members. */
object ShuffleRegistry {

  /** Registered shuffle ids (the map-output tracker's live set). */
  def shuffleIds(sc: org.apache.spark.SparkContext): Set[Int] =
    org.apache.spark.SparkEnv.get.mapOutputTracker
      .asInstanceOf[org.apache.spark.MapOutputTrackerMaster]
      .shuffleStatuses.keySet.toSet
}
