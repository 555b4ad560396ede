package graft.core

import graft.{SparkEntry, SparkSpec}
import graft.spectral.Correlation
import org.apache.spark.sql.DataFrame

/** Jobs the single-series ordered passes launch on a small input: the
  * gate queries built on the byte copy of the gate's sf0.01 tables in
  * `perfbench/gate_sf0.01`, the input of the fixed_cost benchmark. Every
  * table is read once first, so the schema catalog's inference job is
  * not counted. */
class SmallInputJobsSpec extends SparkSpec {

  private val gateDir = "perfbench/gate_sf0.01"

  private def build(query: String): (DataFrame, Int) = {
    Seq("events", "documents").foreach(SparkEntry.tbl(spark, gateDir, _))
    jobsLaunchedBy(SparkEntry.queries(query)(spark, gateDir))
  }

  private def runNoop(df: DataFrame): Int =
    jobsLaunchedBy(df.write.format("noop").mode("overwrite").save())._2

  test("q26: acfVectorWithCount is one job, the ordered pass that also takes n and the mean") {
    val (df, jobs) = build("q26_acf")
    assert(jobs == 1, s"acfVectorWithCount launched $jobs job(s)")
    assert(df.count() == 48)
  }

  test("q54: acfVectorDistributed runs no mean job of its own") {
    // the range sample, the sort's map stage and the one-task pass: AQE
    // coalesces the small sort's output into one partition
    val (_, jobs) = build("q54_acf_distributed")
    assert(jobs == 3, s"acfVectorDistributed launched $jobs job(s)")
  }

  test("q26 above the small-input bound: the range path takes its mean from the summary job") {
    val t = TimeseriesFrame.fromColumn(SparkEntry.tbl(spark, gateDir, "events"),
      "ts", Seq("event_id"))
    val ref = Correlation.acfVector(t, "value", maxLag = 48)
    // the range sample, the sort's map stage, the summary job and the
    // carry pass over the 4 sorted partitions
    val ((vec, n), jobs) = atShufflePartitions(4)(RangeScan.smallInputBound.withValue(0L)(
      jobsLaunchedBy(Correlation.acfVectorWithCount(t, "value", maxLag = 48))))
    assert(jobs == 4, s"range path launched $jobs job(s)")
    assert(n == t.df.count())
    vec.zip(ref).foreach { case (a, e) => assert(math.abs(a - e) < 1e-10, s"$a vs $e") }
  }

  test("q60: a small packSequences runs no job before its action and one with it") {
    val (df, jobs) = build("q60_pack_sequences")
    assert(jobs == 0, s"packSequences launched $jobs job(s) before its action")
    assert(runNoop(df) == 1)
  }
}
